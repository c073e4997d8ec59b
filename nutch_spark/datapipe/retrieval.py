"""Full-text retrieval over the documents table: inverted-index postings,
BM25 ranking, and DSIR importance weighting.

Nutch's whole purpose is to FEED a ranked-retrieval index (Solr/Lucene's
default similarity is BM25 — the indexing join in operators/indexing.py
produces exactly the documents these functions rank). Implementing the
ranking itself makes the engine queryable end-to-end without an external
Solr: build postings once, score any term query with two broadcast joins.

Scale shape (100 TB corpus):
- ``postings`` is the classic one-shuffle inverted index: explode tokens,
  hash-aggregate (term, doc) — map-side combine collapses within-doc
  repeats before the exchange, so shuffle volume is the distinct
  (term, doc) pairs, not the token stream.
- ``bm25_topk`` filters postings to the query's terms BEFORE any shuffle
  (a literal IN predicate that survives pushdown when postings are stored
  as a term-bucketed table), joins the per-term document frequencies and
  the global (n_docs, avgdl) scalars by broadcast, and finishes with one
  integer-sum groupBy + TakeOrderedAndProject. Nothing is quadratic; the
  only global is a 1-row aggregate.
- Scores are integer-quantized (floor(ln(x)*1e6+0.5), the same discipline
  as textstats.train_bigram_lm) so the per-doc sum is order-independent
  and bit-identical across engines and partitionings.
- ``dsir_log_ratio_weights`` is Xie et al. 2023 (DSIR): hashed-bigram
  bucket counts for the target and raw distributions (two hash-aggregates,
  bucket tables are mod-B-bounded → broadcastable), then a map-side join
  scores each document by the summed quantized log-likelihood ratio.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from nutch_spark.datapipe.textstats import bind_once, tokens
from nutch_spark.topk import top_k_per_group

# 1e6 quantization: ln values carry ~6 decimal digits into exact-integer
# arithmetic; both engines floor the SAME double (ln is the one 1-ulp risk,
# accepted repo-wide since the bigram-LM oracle).
_Q = 1_000_000.0


def _hash_bucket(key: Column, salt: str, mod: int) -> Column:
    """md5 bucket, DuckDB twin: CAST('0x'||substr(md5(salt||key),1,15) AS
    UBIGINT) %% mod (same definition as mixing._hash_bucket)."""
    return (
        F.conv(F.substring(F.md5(F.concat(F.lit(salt), key)), 1, 15), 16, 10)
        .cast("decimal(20,0)")
        % mod
    ).cast("int")


def postings(
    docs: DataFrame, *, id_col: str = "doc_id", text: str = "text"
) -> DataFrame:
    """Inverted-index postings: one row per (term, doc) with the term
    frequency and the document length. One explode + one hash-aggregate;
    at scale this is the table you'd bucket BY term so query-time lookups
    prune to the probed buckets."""
    d = docs.select(F.col(id_col), tokens(text).alias("toks")).withColumn(
        "dl", F.size("toks")
    )
    return (
        d.select(id_col, "dl", F.explode("toks").alias("term"))
        .groupBy("term", id_col, "dl")
        .agg(F.count("*").alias("tf"))
    )


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    *,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text: str = "text",
) -> DataFrame:
    """Top-k documents for a bag-of-terms query under BM25 (the Lucene
    formula: idf = ln(1 + (N - df + 0.5)/(df + 0.5)), tf-norm =
    tf*(k1+1)/(tf + k1*(1 - b + b*dl/avgdl))).

    Returns (doc_id, bm25_q, rank): bm25_q is the 1e6-quantized integer
    score (sum over matched terms of floor(idf*tfnorm*1e6 + 0.5)), so the
    cross-term sum is exact-integer and order-independent. Rank ties break
    on doc_id ascending.
    """
    post = postings(docs, id_col=id_col, text=text).filter(
        F.col("term").isin([t.lower() for t in query_terms])
    )
    # global scalars: one row, broadcast into every score expression
    stats = docs.agg(
        F.count("*").alias("n_docs"),
        F.avg(F.size(tokens(text))).alias("avgdl"),
    )
    dfreq = post.groupBy("term").agg(F.count("*").alias("df"))
    tf_norm = (F.col("tf") * (k1 + 1.0)) / (
        F.col("tf")
        + k1 * (1.0 - b + b * (F.col("dl") / F.col("avgdl")))
    )
    idf = F.log(
        1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    scored = (
        post.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            F.col(id_col),
            F.floor(idf * tf_norm * _Q + 0.5).cast("long").alias("contrib_q"),
        )
    )
    agg = scored.groupBy(id_col).agg(F.sum("contrib_q").alias("bm25_q"))
    # top-k FIRST via orderBy+limit — TakeOrderedAndProject keeps a k-row
    # heap per partition and merges k rows on the driver; the ranking
    # window then runs over k rows only. A bare global row_number window
    # would drag the whole scored corpus through ONE task.
    top = agg.orderBy(F.col("bm25_q").desc(), F.col(id_col)).limit(k)
    w = Window.orderBy(F.col("bm25_q").desc(), F.col(id_col))
    return (
        top.withColumn("rank", F.row_number().over(w))
        .select(id_col, "bm25_q", F.col("rank").cast("int").alias("rank"))
    )


def _hashed_bigrams(toks: Column, *, buckets: int, salt: str) -> Column:
    """All bigram buckets of a token array (with repeats — DSIR counts
    occurrences, not distinct grams). The token expression is bound ONCE
    per row (textstats.bind_once): inlined, the tokenizer re-ran for
    every element_at inside the lambda — measured ~10x at sf0.1."""

    def build(tk: Column) -> Column:
        n = F.size(tk)
        grams = F.when(
            n >= 2,
            F.transform(
                F.sequence(F.lit(1), n - 1),
                lambda i: F.concat_ws(
                    " ", F.element_at(tk, i), F.element_at(tk, i + 1)
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))
        return F.transform(grams, lambda g: _hash_bucket(g, salt, buckets))

    return bind_once(toks, build)


def dsir_log_ratio_weights(
    raw: DataFrame,
    target: DataFrame,
    *,
    buckets: int = 1024,
    salt: str = "dsir",
    id_col: str = "doc_id",
    text: str = "text",
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023 §3): hash each document's
    bigrams into ``buckets``, estimate add-one-smoothed bucket
    distributions for the target and the raw corpus, and weight every raw
    document by its summed log-likelihood ratio
    sum_g ln(p_target[bucket(g)] / p_raw[bucket(g)]).

    Returns (doc_id, n_grams, lr_q_sum, selected): lr_q_sum is the exact
    integer sum of the 1e6-quantized per-gram ratios; ``selected`` marks
    documents whose average gram looks more target-like than raw-like
    (lr_q_sum > 0) — the deterministic core of DSIR's resampling step
    (pair with mixing.weighted_sample for the stochastic draw).

    Both bucket tables have at most ``buckets`` rows — broadcast joins, so
    scoring 100 TB of raw text is a map stage after two hash-aggregates.

    Fully lazy: gram totals come from the (≤ ``buckets``-row) bucket-count
    aggregates via 1-row broadcast cross-joins — no eager ``count()`` jobs
    at plan-construction time, and the raw corpus is scanned twice (bucket
    distribution + scoring), not three times.
    """
    def doc_buckets(df: DataFrame) -> DataFrame:
        return (
            df.select(
                F.col(id_col),
                F.explode(
                    _hashed_bigrams(tokens(text), buckets=buckets, salt=salt)
                ).alias("bucket"),
            )
            .groupBy(id_col, "bucket")
            .agg(F.count("*").alias("n"))
        )

    # Checkpointed (round 14): the FINAL executed plan shows exchange
    # reuse never fires here — the scoring join pushes isnotnull(doc_id)
    # into its scan while the distribution/total subtrees don't, so the
    # canonicalized trees differ and the tokenize+md5+explode map stage
    # ran THREE times over the raw corpus (scoring, c_r, raw_total) and
    # twice over the target. One lazy localCheckpoint of the (doc,
    # bucket, n) aggregate (≤ docs·buckets rows, the same
    # materialize-once discipline as minhash_lsh_pairs' shingle arrays)
    # plus tiny (≤ buckets-row) checkpoints of the two count tables cuts
    # every re-run to one computation.
    raw_doc_buckets = doc_buckets(raw).localCheckpoint(eager=False)
    tgt_counts = (
        doc_buckets(target)
        .groupBy("bucket")
        .agg(F.sum("n").alias("c_t"))
        .localCheckpoint(eager=False)
    )
    raw_counts = (
        raw_doc_buckets.groupBy("bucket")
        .agg(F.sum("n").alias("c_r"))
        .localCheckpoint(eager=False)
    )
    raw_total = raw_counts.agg(
        F.coalesce(F.sum("c_r"), F.lit(0)).alias("raw_total")
    )
    tgt_total = tgt_counts.agg(
        F.coalesce(F.sum("c_t"), F.lit(0)).alias("tgt_total")
    )
    # ln of one exact double ratio per bucket; both engines evaluate the
    # identical expression tree: ((c_t+1)*(raw_total+B)) / ((c_r+1)*(tgt_total+B)).
    # The totals are 1-row aggregates of the bucket tables — broadcast
    # nested-loop cross-joins, evaluated inside the same job as the table.
    table = (
        raw_counts.join(tgt_counts, "bucket", "full_outer")
        .crossJoin(F.broadcast(raw_total))
        .crossJoin(F.broadcast(tgt_total))
        .select(
            "bucket",
            F.floor(
                F.log(
                    (
                        (F.coalesce(F.col("c_t"), F.lit(0)) + 1.0)
                        * (F.col("raw_total") + buckets)
                    )
                    / (
                        (F.coalesce(F.col("c_r"), F.lit(0)) + 1.0)
                        * (F.col("tgt_total") + buckets)
                    )
                )
                * _Q
                + 0.5
            )
            .cast("long")
            .alias("lr_q"),
        )
    )
    per_doc = (
        raw_doc_buckets.join(F.broadcast(table), "bucket")
        .groupBy(id_col)
        .agg(
            F.sum("n").alias("n_grams"),
            F.sum(F.col("n") * F.col("lr_q")).alias("lr_q_sum"),
        )
    )
    return raw.select(id_col).join(per_doc, id_col, "left").select(
        id_col,
        F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
        F.coalesce("lr_q_sum", F.lit(0)).cast("long").alias("lr_q_sum"),
        (F.coalesce("lr_q_sum", F.lit(0)) > 0).alias("selected"),
    )


def rrf_fuse(
    rankings: list[DataFrame],
    *,
    rrf_k: int = 60,
    k: int = 10,
    id_col: str = "doc_id",
    rank_col: str = "rank",
    group_by: list[str] | None = None,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Buettcher 2009) — THE
    standard way to combine a lexical and a semantic ranking into one
    hybrid result: each list contributes 1/(rrf_k + rank) per item, the
    contributions sum, and the fused order is robust to the two lists'
    incomparable score scales. Returns (group cols..., id, rrf_q,
    in_lists) for the top ``k`` fused items.

    Engine-exact by construction: each contribution quantizes to
    floor(1e9 / (rrf_k + rank)) — an exact integer — so the fused score
    is an integer SUM, order-independent across partitions/retries and
    bit-identical in any engine for ANY number of input lists (a double
    sum would be commutative for two lists but order-sensitive beyond).
    Scale shape: the inputs are already top-k lists (bounded), so fusion
    is a union + one tiny hash aggregation + a top-k window."""
    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking")
    gb = group_by or []
    contribs = None
    for r in rankings:
        c = r.select(
            *gb,
            F.col(id_col),
            F.floor(F.lit(1_000_000_000.0) / (F.lit(rrf_k) + F.col(rank_col)))
            .cast("long")
            .alias("_c"),
        )
        contribs = c if contribs is None else contribs.unionByName(c)
    fused = contribs.groupBy(*gb, id_col).agg(
        F.sum("_c").alias("rrf_q"),
        F.count(F.lit(1)).cast("int").alias("in_lists"),
    )
    return top_k_per_group(fused, gb, [F.desc("rrf_q"), F.asc(id_col)], k)
