"""Similarity search over an embedding column (ARRAY<FLOAT>).

- brute_force_topk: exact cosine top-k of each query vector against the
  corpus. The dot product is a zip_with/aggregate expression — JVM-side, no
  Python. Queries are broadcast (they are the small side by construction);
  the corpus is never shuffled. Per-partition top-k then global top-k via a
  ranking window on the (tiny) candidate set.
- lsh_topk: random-hyperplane LSH — corpus and queries are bucketed by sign
  patterns; only same-bucket pairs are scored. The 100 TB path: shuffle is
  O(rows) on bucket keys instead of a full cross product.
- text_embed_neardup_pairs: all corpus pairs above a cosine threshold via
  sign-pattern LSH bucketing of hashed text embeddings.

Hyperplanes are generated from a seeded RNG on the driver (tiny: dim x bits
floats) and inlined as literals — effectively a broadcast.
"""

from __future__ import annotations

import math
import random
from decimal import ROUND_CEILING, Decimal

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from nutch_spark.datapipe.skew import bucket_pairs
from nutch_spark.topk import top_k_per_group


def _ge_round_cut(threshold: float, scale: int) -> float:
    """Smallest double v for which ``round(v, scale) >= threshold`` under
    the rounding semantics Spark and DuckDB share for doubles: HALF_UP on
    the shortest-roundtrip decimal representation (Java
    ``BigDecimal(Double.toString(v))``; Python ``repr`` produces the same
    shortest decimal), followed by a double comparison of the result
    against the double ``threshold``.

    Because the shortest-repr decimal is strictly monotone in v, the whole
    round-then-compare decision collapses to ONE IEEE comparison
    ``v >= v_star`` — which lets a vectorized pair stage make the
    bit-identical keep/drop decision without rounding anything per pair
    (NaN handled separately: Spark orders NaN above every double, so
    ``round(NaN, s) >= t`` is true). Verified against Spark's ``round``
    over ulp-walks of every cut boundary in
    test_semantic_round_cut_matches_spark."""
    q = Decimal(1).scaleb(-scale)
    t = Decimal(repr(threshold))
    # g* = smallest rounding-grid multiple of 10^-scale whose double
    # value compares >= the double threshold
    g = (t / q).to_integral_value(rounding=ROUND_CEILING) * q
    while float(g - q) >= threshold:
        g -= q
    assert float(g) >= threshold and float(g - q) < threshold
    # HALF_UP boundary: decimal(v) >= g - q/2  <=>  v rounds to >= g*
    cut = g - q / 2
    v = float(cut)
    if Decimal(repr(v)) >= cut:
        while True:
            p = math.nextafter(v, -math.inf)
            if Decimal(repr(p)) >= cut:
                v = p
            else:
                break
    else:
        while Decimal(repr(v)) < cut:
            v = math.nextafter(v, math.inf)
    return v


def _cell_pair_dropper(threshold: float, round_sim: int):
    """Build the per-cell pandas function for semantic_dedup's within-cell
    pair sweep: emit the ids of rows with ANY earlier-ranked row whose
    rounded cosine clears ``threshold``.

    Bit-parity with the former zip_with/aggregate JVM form, term by term:
    the dot is a left fold over ascending element index (the loop below
    adds one double product per index, exactly ``acc + x_i * y_i`` in the
    fold's order), float inputs widen to double before the multiply
    (exact, as ``x.cast("double")``), the denominator multiplies the two
    prefolded norms once then divides once, and the round-then-compare
    decision is the single-compare form proven by :func:`_ge_round_cut`.
    The caller sweeps per (cell, dimension) over rows with a non-NULL
    norm, so every vector here has one length and no NULL element."""
    v_star = _ge_round_cut(threshold, round_sim)

    def dropped(pdf):
        import numpy as np
        import pandas as pd

        c = len(pdf)
        ids = pdf["id"].to_numpy()
        if c < 2:
            return pd.DataFrame({"id": ids[:0]})
        order = np.argsort(pdf["rn"].to_numpy(), kind="stable")
        ids = ids[order]
        V = np.vstack(pdf["v"].to_numpy()[order]).astype(np.float64)
        n = pdf["_n"].to_numpy(dtype=np.float64)[order]
        G = np.zeros((c, c), dtype=np.float64)
        for i in range(V.shape[1]):  # left fold over element index
            col = V[:, i]
            G += col[:, None] * col[None, :]
        with np.errstate(invalid="ignore", divide="ignore"):
            cos = G / (n[:, None] * n[None, :])
        hit = (cos >= v_star) | np.isnan(cos)  # NaN sorts above all doubles
        hit &= np.triu(np.ones((c, c), dtype=bool), 1)  # a ranked before b
        return pd.DataFrame({"id": ids[hit.any(axis=0)]})

    return dropped


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two ARRAY<FLOAT/DOUBLE> columns (double math)."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v))
    return dot / (na * nb)


def hashed_embedding(
    corpus: DataFrame,
    text: str = "text",
    key: str = "doc_id",
    *,
    dim: int = 64,
) -> DataFrame:
    """Feature-hashing text embeddings (the hashing trick — Weinberger et
    al. 2009, public paper): every token contributes ±1 to ONE of ``dim``
    buckets (bucket = the 60-bit md5 hash mod ``dim``, sign = hash bit
    55 — disjoint from the bucket bits for any power-of-two ``dim`` up to
    2^55, so colliding tokens still cancel in expectation), and the
    bucket sums, L2-normalized, are the document's dense vector. The
    classical no-model featurizer — deterministic, engine-portable, and
    the sparse-random-projection JL bound applies — so the
    whole embed → ANN → near-dup pipeline (lsh/ivf/int8/pq_topk,
    embedding_near_dup, semantic_dedup) runs self-contained on raw text
    when no learned embedding column exists. A learned encoder drops in
    by replacing this one map stage.

    Output: (key, n_tokens, norm, embedding array<double>) — the vector
    is L2-normalized (cosine == dot downstream); all-cancelled or empty
    docs keep the zero vector with norm 0 rather than dropping.

    Determinism contract: bucket sums are exact integer sums (order-free);
    the norm folds the fixed-order ``dim``-array of integer-valued doubles
    (exact below 2^53), so every engine computing the same tokens gets
    bit-identical vectors. 100 TB: one explode + two hash aggregations
    keyed by (doc, bucket) then doc — map-side partial aggregation does
    the heavy lifting; no joins, no windows, no driver state."""
    from nutch_spark.datapipe.dedup import h64
    from nutch_spark.datapipe.textstats import tokens

    ex = corpus.select(key, F.explode(tokens(text)).alias("_tok"))
    h = h64(F.col("_tok"))
    per_bucket = (
        ex.select(
            key,
            F.pmod(h, F.lit(dim)).cast("int").alias("_b"),
            (F.shiftright(h, 55).bitwiseAND(F.lit(1)) * 2 - 1).alias("_sgn"),
        )
        .groupBy(key, "_b")
        .agg(F.sum("_sgn").alias("_s"), F.count(F.lit(1)).alias("_c"))
    )
    per_doc = per_bucket.groupBy(key).agg(
        F.map_from_entries(F.collect_list(F.struct("_b", "_s"))).alias("_m"),
        F.sum("_c").alias("_nt"),
    )
    e_sql = (
        f"transform(sequence(0, {dim - 1}),"
        " d -> cast(coalesce(element_at(_m, d), cast(0 as bigint)) as double))"
    )
    return (
        corpus.select(key)
        .join(per_doc, key, "left")  # zero-token docs keep the zero vector
        .withColumn("_e", F.expr(e_sql))
        .withColumn("_nrm", F.expr("sqrt(aggregate(_e, 0.0D, (a, x) -> a + x * x))"))
        .select(
            key,
            F.coalesce("_nt", F.lit(0)).cast("long").alias("n_tokens"),
            F.col("_nrm").alias("norm"),
            F.expr(
                "CASE WHEN _nrm > 0 THEN transform(_e, x -> x / _nrm)"
                " ELSE _e END"
            ).alias("embedding"),
        )
    )


def _row_embed_apply(text: Column | str, dim: int, fn) -> Column:
    """Shared per-row skeleton for the stream-safe featurizer expressions:
    tokenize, hash each token ONCE (the hash array binds to a lambda
    variable — the same evaluate-once trick as _pq_code_sql), build the
    integer bucket-sum array ``e`` with ``dim`` integer folds, and apply
    ``fn(e)``. No explode, no aggregation — a pure map expression, so a
    STREAM can use it ahead of its one stateful operator."""
    from nutch_spark.datapipe.dedup import h64
    from nutch_spark.datapipe.textstats import tokens

    # tokenize the TEXT column (name or Column); h64 is THE shared 60-bit
    # hash (dedup.py) — one definition, so stream/batch bit-identity
    # cannot drift
    hs = F.transform(tokens(text), h64)

    def build(arr: Column) -> Column:
        e = F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda d: F.aggregate(
                arr,
                F.lit(0).cast("long"),
                lambda a, h: a
                + F.when(
                    F.pmod(h, F.lit(dim)) == d.cast("long"),
                    F.shiftright(h, 55).bitwiseAND(F.lit(1)) * 2 - 1,
                ).otherwise(F.lit(0).cast("long")),
            ).cast("double"),
        )
        return fn(e)

    wrapped = F.transform(F.array(F.struct(hs.alias("h"))), lambda s: build(s["h"]))
    return F.element_at(wrapped, 1)


def row_embed_bucket(text: Column | str, *, dim: int = 64) -> Column:
    """The sign-pattern LSH bucket of :func:`hashed_embedding`'s vector as
    ONE per-row expression; integer bucket sums are order-free, so the
    bucket string is bit-identical to sign-bucketing hashed_embedding's
    vector for the same text (pinned by test). Cost: ``dim`` integer
    passes over the per-row hash array; the md5 is NOT recomputed per
    dim. NOTE the scale caveat measured on real corpora: component signs
    CORRELATE across documents sharing a token distribution (6%+ of a
    synthetic corpus lands in one bucket), so a pairwise join on this
    bucket alone is quadratic in the hot bucket — batch near-dup guards
    with a hot-bucket census + digest sub-bucketing
    (text_embed_neardup_pairs); streams dedup on
    :func:`row_embed_digest` instead."""
    return _row_embed_apply(
        text,
        dim,
        lambda e: F.concat_ws(
            "",
            F.transform(e, lambda x: F.when(x >= 0, "1").otherwise("0")),
        ),
    )


def row_embed_digest(text: Column | str, *, dim: int = 64) -> Column:
    """The QUANTIZED-vector identity digest of :func:`hashed_embedding`'s
    vector as ONE per-row expression: md5 over the floor(1e6·x/‖x‖)
    components — exactly dp_text_embed's ``emb_digest`` column, so batch
    and stream agree bit-for-bit (pinned by test). Two documents share a
    digest iff their hashed vectors are 1e-6-identical — in practice the
    same token MULTISET, i.e. bag-of-words identity: order-invariant
    exact dedup (a reordered copy collapses; a genuinely different doc
    that merely shares a sign pattern does not). The stream-safe dedup
    key, immune to the sign-correlation hot bucket."""

    def digest(e: Column) -> Column:
        nrm = F.sqrt(
            F.aggregate(e, F.lit(0.0), lambda a, x: a + x * x)
        )
        q = F.when(
            nrm > 0,
            F.transform(e, lambda x: F.floor(x / nrm * 1000000.0).cast("long")),
        ).otherwise(F.transform(e, lambda x: F.lit(0).cast("long")))
        return F.md5(F.concat_ws(",", F.transform(q, lambda x: x.cast("string"))))

    return _row_embed_apply(text, dim, digest)


def text_embed_neardup_pairs(
    corpus: DataFrame,
    text: str = "text",
    key: str = "doc_id",
    *,
    dim: int = 64,
    threshold: float = 0.99,
    round_sim: int = 6,
    max_bucket: int = 64,
) -> DataFrame:
    """Text near-dup pairs in embedding space, self-contained: raw text →
    :func:`hashed_embedding` → sign-pattern LSH bucket → same-bucket
    cosine pairs ≥ ``threshold``. Output (id_a, id_b, cosine_sim).

    The hot-bucket guard (the part that survives 100 TB): component
    signs CORRELATE across documents sharing a token distribution — a
    measured 6%+ of a synthetic corpus lands in ONE sign bucket, so a
    plain bucket self-join is quadratic in the hot bucket (at 1B docs a
    6% bucket is 3.6e15 candidate pairs). Buckets larger than
    ``max_bucket`` are sub-bucketed by the quantized-vector identity
    digest: inside a hot bucket only 1e-6-identical vectors (exact and
    reordered copies — the pairs a dedup pass actually needs, scoring
    1.0) still pair; sign-equal-but-different documents stop generating
    candidates. The census and the sub-bucketed self-join are
    ``skew.bucket_pairs`` (census ≤ n/max_bucket rows, broadcast); it
    materializes the embedding table once, so the self-join's two sides
    do not re-run the featurizer per side."""
    # norm > 0, not n_tokens > 0: a doc whose tokens all CANCEL (same
    # bucket, opposite signs) keeps the zero vector — its cosine against
    # anything is 0/0 = NaN, which BOTH engines order above 0.99, and
    # every zero vector shares one bucket AND one digest, so the guard
    # could not split them. Zero-norm docs have no direction to compare;
    # they are out of embedding-space dedup by definition.
    emb = hashed_embedding(corpus, text, key, dim=dim).filter(
        F.col("norm") > 0
    )
    q_expr = (
        "transform(embedding, x -> cast(floor(x * 1000000.0D) as bigint))"
    )
    c = emb.withColumn(
        "bucket",
        F.array_join(
            F.transform(
                "embedding", lambda x: F.when(x >= 0, "1").otherwise("0")
            ),
            "",
        ),
    ).withColumn(
        "_qd",
        F.expr(
            f"md5(concat_ws(',', transform({q_expr}, x -> cast(x as string))))"
        ),
    )
    return (
        bucket_pairs(
            c,
            key,
            ["bucket"],
            max_bucket=max_bucket,
            split="_qd",
            carry=("embedding",),
        )
        .select(
            "id_a",
            "id_b",
            F.round(
                cosine(F.col("embedding_a"), F.col("embedding_b")), round_sim
            ).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    vec: str = "embedding",
    key: str = "vec_id",
    k: int = 5,
    round_sim: int | None = None,
) -> DataFrame:
    """Exact top-k neighbors per query (query_id, neighbor_id, cosine_sim).

    Self-matches (same key) are excluded. The join is a broadcast
    nested-loop on purpose: |queries| is small; corpus streams through.
    """
    q = queries.select(
        F.col(key).alias("query_id"), F.col(vec).alias("_qv")
    )
    c = corpus.select(F.col(key).alias("neighbor_id"), F.col(vec).alias("_cv"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (
                F.round(cosine(F.col("_qv"), F.col("_cv")), round_sim)
                if round_sim is not None
                else cosine(F.col("_qv"), F.col("_cv"))
            ).alias("cosine_sim"),
        )
    )
    # round_sim: rank on the ROUNDED value + id tie-break so float
    # accumulation order can never flip a cross-engine comparison
    return top_k_per_group(
        scored, ["query_id"], [F.desc("cosine_sim"), F.asc("neighbor_id")], k
    )


def _hyperplanes(dim: int, bits: int, seed: int) -> list[list[float]]:
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(bits)]


def lsh_bucket(vec: str, planes: list[list[float]]) -> Column:
    """Sign-pattern bucket id (string of 0/1) for random-hyperplane LSH
    over column name ``vec``. The whole expression renders as ONE SQL
    string: constructing bits-many HOF Columns through py4j costs ~1 s
    of driver chatter per plan (see _cell_rank), the parser does it in
    a fraction."""
    bits = []
    for plane in planes:
        lit = "array(" + ",".join(_dlit(x) for x in plane) + ")"
        dot = (
            f"aggregate(zip_with(`{vec}`, {lit}, (x, y) ->"
            " cast(x as double) * y), 0.0D, (acc, x) -> acc + x)"
        )
        bits.append(f"case when {dot} >= 0.0D then '1' else '0' end")
    return F.expr("concat(" + ",".join(bits) + ")")


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    vec: str = "embedding",
    key: str = "vec_id",
    k: int = 5,
    dim: int = 64,
    bits: int = 8,
    tables: int = 4,
    seed: int = 42,
    round_sim: int | None = None,
) -> DataFrame:
    """Approximate top-k: score only pairs sharing an LSH bucket in any of
    ``tables`` independent hash tables. Recall grows with tables; shuffle
    stays O(rows * tables). ``round_sim`` rounds the similarity BEFORE
    ranking (with the id tie-break) so orderings are stable across engines
    with different float-accumulation orders — set it when comparing against
    an external oracle."""
    def bucketed(df: DataFrame, id_alias: str) -> DataFrame:
        out = []
        for t in range(tables):
            planes = _hyperplanes(dim, bits, seed + t)
            out.append(
                df.select(
                    F.col(key).alias(id_alias),
                    F.col(vec).alias(f"_v_{id_alias}"),
                    F.lit(t).alias("table"),
                    lsh_bucket(vec, planes).alias("bucket"),
                )
            )
        res = out[0]
        for o in out[1:]:
            res = res.unionByName(o)
        return res

    qb = bucketed(queries, "query_id")
    cb = bucketed(corpus, "neighbor_id")
    sim = cosine(F.col("_v_query_id"), F.col("_v_neighbor_id"))
    if round_sim is not None:
        sim = F.round(sim, round_sim)
    pairs = (
        cb.join(qb, ["table", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
        .select("query_id", "neighbor_id", sim.alias("cosine_sim"))
    )
    return top_k_per_group(
        pairs, ["query_id"], [F.desc("cosine_sim"), F.asc("neighbor_id")], k
    )


def vec_norm(v: Column) -> Column:
    """sqrt(sum(x^2)) of an ARRAY<FLOAT/DOUBLE> column (double math) —
    the same accumulation order as :func:`cosine`'s norm subterm, so
    dot/(norm_v * lit_norm) is bit-identical to cosine(v, lit)."""
    return F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x))


def _dlit(x: float) -> str:
    """A Spark SQL DOUBLE literal that round-trips ``x`` exactly."""
    x = float(x)
    if x != x:  # Spark's string->double cast wants 'NaN', not Python's 'nan'
        return "cast('NaN' as double)"
    if x == float("inf"):  # likewise 'Infinity', not 'inf'
        return "cast('Infinity' as double)"
    if x == float("-inf"):
        return "cast('-Infinity' as double)"
    r = repr(x)
    if "e" in r or "E" in r:  # scientific notation
        return f"cast('{r}' as double)"
    return f"{r}D"


def _md5_seed(corpus: DataFrame, *, vec: str, key: str, n: int) -> list[list[float]]:
    """The ``n`` corpus vectors with the smallest md5(key), as double
    lists — the one seed of every codebook in this module (IVF and
    SemDeDup centroids, every PQ subspace's codewords): a pseudo-random
    but reproducible spread any engine can compute (the oracles' ``ORDER
    BY md5(CAST(key AS VARCHAR)) LIMIT n``). Only ``n`` rows reach the
    driver (TakeOrderedAndProject); the corpus is never collected."""
    rows = (
        corpus.select(key, vec)
        .orderBy(F.md5(F.col(key).cast("string")))
        .limit(n)
        .collect()
    )
    return [[float(x) for x in r[1]] for r in rows]


def _with_codebook(cbs, *dfs: DataFrame) -> list[DataFrame]:
    """Attach ``m`` codebooks — ``cbs[j]`` is subspace j's [(cid,
    codeword)] list, cid == position — to each of ``dfs`` as ONE one-row
    BROADCAST table: `_cb` array<array<array<double>>> (m × ks ×
    codeword) and `_cb_norms` array<array<double>> (each codeword's
    norm, the same left fold as vec_norm), instead of inlining the
    codebook into the expression tree as literals (guide §3
    broadcast-the-small-side + §5 driver/plan cost). The doubles are
    exactly the ones a literal form would embed (Python float -> JVM
    double is bit-exact either way), so every downstream fold sees
    identical IEEE inputs. What the broadcast buys is the PLAN: a
    constant-size expression tree, IDENTICAL across Lloyd rounds — the
    whole-stage-codegen cache keys on the generated source, so round 2+
    reuse round 1's compiled class — and at 100 TB the task closure
    carries a broadcast id, not a codebook. All ``dfs`` share the same
    one-row table, so a query attaching the codebook to several sides
    (ivf_topk's corpus and queries) builds the broadcast once."""
    lut = [[[float(x) for x in cw] for _cid, cw in cb] for cb in cbs]
    norms = [[math.sqrt(sum(x * x for x in cw)) for cw in cb] for cb in lut]
    one = F.broadcast(
        dfs[0].sparkSession.createDataFrame(
            [(lut, norms)],
            schema="_cb array<array<array<double>>>, _cb_norms array<array<double>>",
        )
    )
    return [df.crossJoin(one) for df in dfs]


def _cell_rank(vcol: str, norm_col: str, round_sim: int = 6) -> Column:
    """Codebook-0 cells ordered nearest-first for each row: the sorted
    array of (neg=-round(cosine, round_sim), cid) structs over the
    centroids :func:`_with_codebook` attached; ``[0].cid`` is the
    assigned cell, a prefix of ``.cid`` the probe list, ``[0].neg`` the
    (negated) centroid similarity. ONE transform over the codebook with
    each centroid dot computed exactly once — a chained when/greatest
    fold duplicates every cosine subtree per comparison and blows the
    plan up exponentially. The row norm comes in as column ``norm_col``
    (computed ONCE per row) and each centroid norm from `_cb_norms`;
    the dot is the same left fold, in the same element order, with the
    same double widening, as cosine(). Cosines are rounded before
    sorting so the cid tie-break matches the SQL oracle's round(s, 6)
    ... ORDER BY s DESC, cid exactly. Built as ONE SQL string: K
    struct/HOF Columns through py4j cost ~1 s of driver chatter per
    plan, the parser does it in a fraction."""
    dot = (
        f"aggregate(zip_with(`{vcol}`, cw, (x, y) ->"
        " cast(x as double) * y), 0.0D, (acc, x) -> acc + x)"
    )
    return F.expr(
        "array_sort(transform(`_cb`[0], (cw, i) -> named_struct("
        f"'neg', -round({dot} / (`{norm_col}` * `_cb_norms`[0][i]),"
        f" {round_sim}), 'cid', i)))"
    )


def _lloyd(base: DataFrame, cbs, assign, n_iter: int):
    """``n_iter`` rounds of Lloyd's k-means over ``m`` codebooks at once —
    the one training loop behind IVF/SemDeDup (m=1, cosine cells) and PQ
    (m subspaces, L2 cells). Each round attaches the codebook to
    ``base`` (:func:`_with_codebook`), ``assign`` maps every row to its
    (j, cell, _v) assignments — subspace, nearest codeword, the
    (sub)vector it pulls — and each cell re-centers at the element-wise
    mean via one distributed groupBy-avg; a cell with no rows keeps its
    codeword. Only m·ks·dim mean values reach the driver per round — the
    corpus is never collected.

    Determinism caveat: the re-center means come from distributed F.avg,
    whose floating-point summation order is partition-dependent, so the
    refined codebooks can differ from an oracle's in low-order bits. The
    round(·, 6) tie-break of both assignments makes a flip vanishingly
    unlikely (a distance would have to land within ~1e-16 of a 0.5e-6
    rounding boundary) but not impossible — the oracle parity this buys
    is probabilistic, not exact. Callers that need bit-exact parity pass
    the SAME trained codebook to both sides."""
    if n_iter <= 0:
        return cbs
    if n_iter > 1:
        # cache the working set across rounds — without it every round
        # re-scans the source and recomputes per-row terms (the same
        # reason MLlib's KMeans caches its norm-augmented RDD); unpersisted
        # below, before the codebook goes to query-time plans
        base = base.persist()
    for _ in range(n_iter):
        # element-wise mean via posexplode: one avg over (j, cell, pos)
        # keys (map-side partial agg; <= m*ks*dim groups) instead of one
        # avg expression per position — the small plan analyzes in a
        # fraction of the time and shuffles the same partials
        means = (
            assign(_with_codebook(cbs, base)[0])
            .select("j", "cell", F.posexplode("_v"))
            .groupBy("j", "cell", "pos")
            .agg(F.avg(F.col("col").cast("double")).alias("m"))
        )
        acc: dict[tuple[int, int], dict[int, float]] = {}
        for r in means.collect():
            acc.setdefault((r["j"], r["cell"]), {})[r["pos"]] = float(r["m"])
        # a mean replaces a codeword only when it covers exactly the
        # codeword's positions: a cell holding a longer vector, or only
        # shorter ones, keeps its codeword (cid == position)
        cbs = [list(cb) for cb in cbs]
        for (j, cid), got in acc.items():
            if len(got) == len(cbs[j][cid][1]):
                cbs[j][cid] = (cid, [got[i] for i in range(len(got))])
    if n_iter > 1:
        base.unpersist()
    return cbs


def _ivf_cents(
    corpus: DataFrame,
    *,
    vec: str,
    key: str,
    n: int,
    n_iter: int,
    round_sim: int = 6,
) -> list[tuple[int, list[float]]]:
    """The ``n`` (cid, centroid) pairs of ivf_topk and semantic_dedup:
    md5-smallest seed, then ``n_iter`` Lloyd rounds assigning each corpus
    vector to its nearest cell by :func:`_cell_rank` (rounded cosine,
    cid tie-break — the same ranking the callers use at query time)."""
    base = corpus.select(F.col(vec).alias("_v"), vec_norm(F.col(vec)).alias("_n"))

    def cells(df: DataFrame) -> DataFrame:
        return df.select(
            F.lit(0).alias("j"),
            F.element_at(_cell_rank("_v", "_n", round_sim), 1)["cid"].alias("cell"),
            "_v",
        )

    seed = _md5_seed(corpus, vec=vec, key=key, n=n)
    return _lloyd(base, [list(enumerate(seed))], cells, n_iter)[0]


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    vec: str = "embedding",
    key: str = "vec_id",
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    n_iter: int = 0,
    round_sim: int | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: the corpus is partitioned into
    Voronoi cells around centroids; each query scores only the ``n_probe``
    nearest cells. The second ANN scale path next to ``lsh_topk``.

    Seed centroids are picked deterministically as the ``n_centroids``
    corpus vectors with the smallest md5(key) — a pseudo-random but
    reproducible spread computable by any engine. ``n_iter`` rounds of
    Lloyd's k-means then refine them (assign each corpus vector to its
    nearest cell by the same rounded-cosine/cid ranking, re-center each
    cell at the element-wise mean, empty cells keep their centroid) —
    fully deterministic, so a SQL oracle can mirror every round. Only K
    centroid rows are ever collected (the corpus never is): the seed via
    TakeOrderedAndProject, then one K-row groupBy-avg collect per
    iteration — the classic distributed k-means shape (same driver-side
    pattern as the BPE train loop). Shuffle: per iteration one partial
    aggregation on cell id; at query time corpus scored once against
    n_centroids (map-only), then one equi-join on cell id —
    O(rows·n_probe/n_centroids) pair work.
    """
    cents = _ivf_cents(corpus, vec=vec, key=key, n=n_centroids, n_iter=n_iter)
    # query-time assignment reads the codebook from the same one-row
    # broadcast as training: identical doubles, identical fold, one
    # constant-size generated-code shape for every plan of the family
    c, q = _with_codebook(
        [cents],
        corpus.select(
            F.col(key).alias("neighbor_id"),
            F.col(vec).alias("_cv"),
            vec_norm(F.col(vec)).alias("_n"),
        ),
        queries.select(
            F.col(key).alias("query_id"),
            F.col(vec).alias("_qv"),
            vec_norm(F.col(vec)).alias("_n"),
        ),
    )
    c = c.select(
        "neighbor_id",
        "_cv",
        F.element_at(_cell_rank("_cv", "_n"), 1)["cid"].alias("cell"),
    )
    q = q.select(
        "query_id",
        "_qv",
        F.explode(F.slice(_cell_rank("_qv", "_n"), 1, n_probe)["cid"]).alias(
            "cell"
        ),
    )
    sim = cosine(F.col("_qv"), F.col("_cv"))
    if round_sim is not None:
        sim = F.round(sim, round_sim)
    scored = (
        c.join(q, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", sim.alias("cosine_sim"))
    )
    return top_k_per_group(
        scored, ["query_id"], [F.desc("cosine_sim"), F.asc("neighbor_id")], k
    )


def quantize_int8(vec: Column, *, scale: float = 127.0) -> Column:
    """Symmetric int8 quantization of an ARRAY<FLOAT>: clip(floor(x*scale)).

    floor (not round) so Spark and the DuckDB oracle agree bit-for-bit —
    the two engines disagree on .5 rounding, never on floor.
    """
    return F.transform(
        vec,
        lambda x: F.greatest(
            F.lit(-127), F.least(F.lit(127), F.floor(x.cast("double") * scale))
        ).cast("int"),
    )


def int8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    vec: str = "embedding",
    key: str = "vec_id",
    k: int = 5,
) -> DataFrame:
    """Top-k by INTEGER dot product over int8-quantized vectors.

    The memory-bandwidth scale path: 4× smaller vectors than float32, and
    the ranking score is exact integer arithmetic — deterministic across
    engines, partitions and retries (no float accumulation order). Same
    broadcast nested-loop shape as brute_force_topk: queries broadcast,
    corpus streams, quantization happens once per row BEFORE the join.
    """
    q = queries.select(
        F.col(key).alias("query_id"), quantize_int8(F.col(vec)).alias("_qv")
    )
    c = corpus.select(
        F.col(key).alias("neighbor_id"), quantize_int8(F.col(vec)).alias("_cv")
    )
    dot = F.aggregate(
        F.zip_with("_qv", "_cv", lambda x, y: (x * y).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", dot.alias("qdot"))
    )
    return top_k_per_group(
        scored, ["query_id"], [F.desc("qdot"), F.asc("neighbor_id")], k
    )


def semantic_dedup(
    corpus: DataFrame,
    *,
    vec: str = "embedding",
    key: str = "vec_id",
    threshold: float = 0.95,
    n_centroids: int = 16,
    n_iter: int = 0,
    round_sim: int = 6,
) -> DataFrame:
    """SemDeDup semantic deduplication (Abbas et al. 2023, arXiv:2303.09540
    — public paper): cluster the embedding space, then inside each cluster
    drop every example whose cosine similarity to a KEPT example exceeds
    ``threshold``, keeping the example FARTHEST from the cluster centroid
    (the paper's keep-low-centroid-similarity rule: boundary examples are
    the informative ones).

    Output: (key, cell, cent_sim, is_kept) for every corpus row.

    Deviations from the paper, both documented and deterministic: centroids
    seed from the ``n_centroids`` md5-smallest corpus vectors (the
    ivf_topk sampling), optionally refined by ``n_iter`` deterministic
    Lloyd rounds (_lloyd — the oracle mirrors each round), and the
    within-cluster sweep is the greedy prefix rule — a row is dropped when ANY row ranked before it
    (farther from the centroid, id tie-break) is ``>= threshold`` similar,
    whether or not that earlier row itself survived. This makes the result
    a pure function of the pair set — no sequential scan to parallelize
    away — at the cost of occasionally dropping a row whose only similar
    predecessor was itself dropped (transitively-similar rows, which the
    paper's cluster-level dedup also removes).

    Scale shape: one map-only assignment pass against broadcast centroids,
    then one vectorized pair sweep per cell — O(sum cell²) work and O(max
    cell² ) task memory. Cells must stay bounded: scale ``n_centroids``
    with the corpus (the paper uses 50k clusters for LAION-440M; target
    cell size, not cluster count, is the invariant). Cosines are rounded to
    ``round_sim`` BEFORE thresholding so the keep/drop decision is
    reproducible across engines; the vectorized sweep makes the identical
    decision via the single-compare form (_ge_round_cut).
    """
    if not threshold > 0:  # _ge_round_cut's proof: HALF_UP rounds away from 0
        raise ValueError(f"semantic_dedup threshold must be > 0, got {threshold!r}")
    cents = _ivf_cents(
        corpus, vec=vec, key=key, n=n_centroids, n_iter=n_iter, round_sim=round_sim
    )
    # centroid cosines are ROUNDED before the argmax so assignment (and
    # its cid tie-break) is bit-identical to the SQL oracle's
    # round(s, 6) ... ORDER BY s DESC, cid — an unrounded sort could
    # pick a different cell than the oracle within 1e-6 of a tie; the
    # row norm is computed once per row (see _cell_rank)
    (assigned,) = _with_codebook(
        [cents],
        corpus.select(
            F.col(key).alias("id"),
            F.col(vec).alias("v"),
            vec_norm(F.col(vec)).alias("_n"),
        ),
    )
    assigned = assigned.select(
        "id",
        "v",
        "_n",
        F.element_at(_cell_rank("v", "_n", round_sim), 1).alias("_b"),
    ).select(
        "id",
        "v",
        "_n",  # carried to the pair stage: na/nb reused, not re-folded
        F.col("_b.cid").alias("cell"),
        F.round(-F.col("_b.neg"), round_sim).alias("cent_sim"),
    )
    w = Window.partitionBy("cell").orderBy(F.asc("cent_sim"), F.asc("id"))
    # materialize ONCE: ranked is consumed twice (the per-cell pair sweep +
    # the final keep/drop join), and its input is the centroid argmax
    # expression plus a window — without the checkpoint both consumers
    # re-run both (no exchange reuse fires across the differing prunings)
    ranked = assigned.withColumn("rn", F.row_number().over(w)).localCheckpoint(
        eager=False
    )
    # within-cell pair sweep, vectorized per cell (guide §4.2): the former
    # self-join evaluated an INTERPRETED zip_with/aggregate dot per candidate
    # pair (HOFs are CodegenFallback — ~sum cell² × dim lambda steps); one
    # pandas task per cell now left-folds the same doubles in the same order
    # over whole matrices (see _cell_pair_dropper's parity argument), with
    # the norms still computed ONCE per row in the assignment stage
    # (vec_norm's fold order == cosine()'s norm subterm). Each dropped id
    # appears at most once (cells partition rows), so no distinct is needed.
    # Per (cell, dimension), rows with a norm only: a NULL vector or
    # element, or a length mismatch (zip_with NULL-pads), gave the join
    # form a NULL cosine, which never drops a row — such rows are kept.
    from pyspark.sql.types import StructField, StructType

    dropped = (
        ranked.filter(F.col("_n").isNotNull())
        .select("id", "v", "_n", "rn", "cell", F.size("v").alias("_d"))
        .groupBy("cell", "_d")
        .applyInPandas(
            _cell_pair_dropper(threshold, round_sim),
            StructType([StructField("id", ranked.schema["id"].dataType)]),
        )
    )
    return (
        ranked.join(dropped.withColumn("_dup", F.lit(True)), "id", "left")
        .select(
            F.col("id").alias(key),
            "cell",
            "cent_sim",
            F.coalesce(~F.col("_dup"), F.lit(True)).alias("is_kept"),
        )
    )


def _pq_code_sql(vcol: str, j: int, sd: int, round_d: int = 6) -> tuple[str, str]:
    """SQL text for subspace ``j`` of ``vcol``: (the ``sd``-long
    subvector, the 0-based id of its nearest codeword by squared L2 in
    the attached `_cb`[j], :func:`_with_codebook`) — the one PQ
    assignment of training and encoding, and the twin of
    :func:`_cell_rank`'s determinism contract, cheaper by construction:
    distances round to ``round_d`` and land in one flat double array, and
    ``array_position(a, array_min(a))`` picks the FIRST minimum — the
    lowest-cid tie-break a SQL oracle's row_number() ORDER BY round(d,6)
    ASC, cid produces — with no per-codeword struct and no sort (the
    first PQ draft array_sorted ks structs per subspace per row; at
    m=16/ks=32 that was 512 struct builds + 16 sorts per row and
    dominated the encode stage)."""
    sub = f"slice(`{vcol}`, {j * sd + 1}, {sd})"
    # ONE transform over the codebook, not ks unrolled distance
    # expressions: the unrolled form built a 512-node tree at m=16/ks=32
    # whose Catalyst analysis + codegen dominated the whole PQ query on
    # small inputs (~2/3 of dp_pq_topk's wall time was plan compilation);
    # the data-driven loop is the identical fold in the identical order —
    # same doubles, same round, array_position still picks the FIRST
    # minimum (lowest-cid tie-break) — so certified hashes are unchanged.
    arr = (
        f"transform(`_cb`[{j}], cw -> round(aggregate(zip_with({sub}, cw,"
        " (x, y) -> (cast(x as double) - y) * (cast(x as double) - y)),"
        f" 0.0D, (acc, x) -> acc + x), {round_d}))"
    )
    # bind the distance array to a lambda variable so it's EVALUATED ONCE —
    # writing array_position(arr, array_min(arr)) inline duplicates the
    # whole ks-distance expression (Catalyst does not CSE it; the doubled
    # form measured ~40% slower and shipped 5 MiB task binaries)
    return sub, (
        "cast(element_at(transform(array(" + arr + "),"
        " a -> array_position(a, array_min(a))), 1) - 1 as int)"
    )


def _pq_train(
    corpus: DataFrame,
    *,
    vec: str,
    key: str,
    dim: int,
    m: int,
    ks: int,
    n_iter: int,
) -> list[list[tuple[int, list[float]]]]:
    """Per-subspace PQ codebooks: the ``ks`` md5-smallest corpus vectors
    seed EVERY subspace's codewords (their j-th subvectors), then
    ``n_iter`` :func:`_lloyd` rounds refine ALL subspaces in one
    distributed job per round — each row emits its m (subspace,
    nearest-codeword, subvector) assignments via one explode. Assignment
    is round(L2^2, 6) ASC with cid tie-break (the first minimum)."""
    sd = dim // m

    def cells(df: DataFrame) -> DataFrame:
        entries = []
        for j in range(m):
            sub, code = _pq_code_sql("_v", j, sd)
            entries.append(f"named_struct('j', {j}, 'cell', {code}, '_v', {sub})")
        return df.select(
            F.explode(F.expr("array(" + ",".join(entries) + ")")).alias("s")
        ).select("s.j", "s.cell", "s._v")

    seed = _md5_seed(corpus, vec=vec, key=key, n=ks)
    cbs = [
        [(i, v[j * sd : (j + 1) * sd]) for i, v in enumerate(seed)]
        for j in range(m)
    ]
    return _lloyd(corpus.select(F.col(vec).alias("_v")), cbs, cells, n_iter)


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    vec: str = "embedding",
    key: str = "vec_id",
    k: int = 5,
    dim: int = 64,
    m: int = 8,
    ks: int = 16,
    n_iter: int = 2,
    round_sim: int = 6,
) -> DataFrame:
    """Product-Quantization approximate top-k — the memory-compression ANN
    scale path next to lsh_topk (hashing), ivf_topk (partitioning), and
    int8_topk (scalar quantization). Vectors split into ``m`` subspaces
    of dim/m; each subspace trains ``ks`` codewords (Jégou et al. 2011,
    "Product quantization for nearest neighbor search"); a corpus vector
    encodes as m codeword ids — m bytes instead of dim floats, a
    (4*dim/m)x compression of the index. Query scoring is asymmetric
    distance computation expressed as cosine(query, reconstruction):
    each row's reconstruction is flatten(codeword_j for j in order), so
    the score is ONE flat left-fold dot over dim doubles — bit-identical
    in any engine that folds left-to-right, the same determinism
    contract as cosine()/brute_force_topk. Encoding happens once per row
    BEFORE the broadcast join (map-only); queries broadcast and the
    corpus streams — the same INTENDED BroadcastNestedLoopJoin shape as
    int8_topk, with per-pair work on the reconstruction, not the raw
    vector. At 100 TB the codes column (m bytes/row) is what an index
    shard persists; the reconstruction is recomputed per scan from the
    m*ks*(dim/m)-double broadcast codebook."""
    sd = dim // m
    cbs = _pq_train(
        corpus, vec=vec, key=key, dim=dim, m=m, ks=ks, n_iter=n_iter
    )
    # encode + reconstruct against the broadcast codebook: the same
    # subspace fold and first-minimum tie-break as training
    recon_parts = []
    for j in range(m):
        _sub, code = _pq_code_sql(vec, j, sd)
        recon_parts.append(f"element_at(`_cb`[{j}], {code} + 1)")
    recon = f"flatten(array({','.join(recon_parts)}))"
    c = _with_codebook(cbs, corpus)[0].select(
        F.col(key).alias("neighbor_id"), F.expr(recon).alias("_rv")
    )
    q = queries.select(
        F.col(key).alias("query_id"), F.col(vec).alias("_qv")
    )
    sim = F.round(cosine(F.col("_qv"), F.col("_rv")), round_sim)
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", sim.alias("pq_sim"))
    )
    return top_k_per_group(
        scored, ["query_id"], [F.desc("pq_sim"), F.asc("neighbor_id")], k
    )
