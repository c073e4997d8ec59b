"""Training-mixture construction: weighted per-source sampling / upsampling.

A training run rarely consumes a corpus uniformly — each source gets a
mixture weight (e.g. wiki 3.0, web crawl 0.8). A weight ``w`` means every
document from that source appears ``floor(w)`` times, plus one more time with
probability ``frac(w)`` — decided by a deterministic per-document hash so the
sample is reproducible and shardable (the standard epoch-mixing rule, as in
the public GPT-3 / Pile training-mixture descriptions).

Scale shape (100 TB): the weights table is a tiny dim — broadcast joined, no
shuffle on the corpus side; the epoch fan-out is a per-row ``explode`` of a
≤ ceil(w)-element sequence (narrow); the fractional keep is a hash filter
pushed below the explode. The corpus is never shuffled at all.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from nutch_spark.topk import top_k_per_group


def _hash_bucket(key: Column, salt: str, mod: int) -> Column:
    """Deterministic md5 bucket shared by mixing/splitting/sharding — ONE
    definition so the three mappings (and their DuckDB twins:
    CAST('0x'||substr(md5(salt||key),1,15) AS UBIGINT) % mod) cannot
    silently diverge."""
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(salt), key.cast("string"))), 1, 15),
            16,
            10,
        ).cast("decimal(20,0)")
        % mod
    ).cast("int")


def mixture_sample(
    df: DataFrame,
    weights: dict[str, float],
    *,
    key: str = "doc_id",
    source: str = "source",
    salt: str = "mix",
) -> DataFrame:
    """Expand/sample ``df`` per-source by mixture weight.

    Returns the input rows with an added ``epoch`` column (0-based); a doc
    with source weight 2.3 yields epochs {0, 1} always and {2} iff its hash
    lands in the 30% fractional bucket. Sources missing from ``weights``
    default to 0 (dropped). Deterministic: same corpus + weights → same rows.
    """
    spark = SparkSession.getActiveSession()
    rows = [
        (s, int(w), int(round((w - int(w)) * 10000)))
        for s, w in sorted(weights.items())
    ]
    wdf = spark.createDataFrame(rows, f"{source} string, _full int, _frac_bp int")
    # 4-digit decimal bucket from the first 15 md5 hex chars (same value as
    # the DuckDB twin CAST('0x'||substr(md5(x),1,15) AS UBIGINT) % 10000).
    bucket = _hash_bucket(F.col(key), salt, 10000)
    epochs = F.col("_full") + F.when(bucket < F.col("_frac_bp"), 1).otherwise(0)
    return (
        df.join(broadcast(wdf), source)
        .withColumn("_epochs", epochs)
        .filter(F.col("_epochs") > 0)
        .withColumn("epoch", F.explode(F.sequence(F.lit(0), F.col("_epochs") - 1)))
        .drop("_full", "_frac_bp", "_epochs")
    )


def pack_sequences(
    df: DataFrame,
    *,
    budget: int = 2048,
    key: str = "doc_id",
    tokens_col: str = "n_tokens",
) -> DataFrame:
    """Concatenate-and-cut sequence packing (the GPT-2/3 pretraining layout,
    public papers): documents are laid end-to-end in deterministic ``key``
    order and the stream is cut every ``budget`` tokens. A document may span
    bins — ``bins_spanned`` says how many; the trainer splits it there.

    Output: input rows + ``bin_id`` (bin where the doc starts, 0-based) +
    ``bin_offset`` (token offset inside that bin) + ``bins_spanned``.

    Scale shape: the running token sum comes from the DISTRIBUTED
    prefix sum (``datapipe.prefix.ranked_prefix_sum`` — range-partitioned
    sort + per-partition windows + a ≤ n_partitions-row offset
    broadcast), not an unpartitioned window that would sort the whole
    corpus in ONE task; bin assignment is pure arithmetic on the cumsum,
    so the layout is exactly reproducible across partitions and retries.
    """
    from nutch_spark.datapipe.prefix import ranked_prefix_sum

    tok = F.col(tokens_col).cast("long")
    staged = ranked_prefix_sum(
        df.withColumn("_tok", tok), [F.col(key).asc()], "_tok",
        rank_col="_pk_rank", cum_col="_pk_cum",  # never clobber caller cols
    )
    prev_sum = F.col("_pk_cum") - F.col("_tok")
    bin_id = F.floor(prev_sum / budget)
    last_bin = F.floor((prev_sum + F.greatest(tok, F.lit(1)) - 1) / budget)
    return (
        staged.withColumns(
            {
                "bin_id": bin_id.cast("long"),
                "bin_offset": (prev_sum % budget).cast("long"),
                "bins_spanned": (last_bin - bin_id + 1).cast("long"),
            }
        )
        .drop("_tok", "_pk_rank", "_pk_cum")
    )


def train_val_test_split(
    df: DataFrame,
    *,
    key: str = "doc_id",
    val_bp: int = 500,
    test_bp: int = 500,
    salt: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment by content-independent hash
    (basis points: default 90/5/5). Reproducible and shardable — the split
    of a document never changes as the corpus grows, so eval sets stay
    stable across dataset versions. Map-only, no shuffle."""
    bucket = _hash_bucket(F.col(key), salt, 10000)
    train_bp = 10000 - val_bp - test_bp
    split = (
        F.when(bucket < train_bp, "train")
        .when(bucket < train_bp + val_bp, "val")
        .otherwise("test")
    )
    return df.withColumn("split", split)


def temperature_weights(
    df: DataFrame,
    *,
    alpha: float = 0.3,
    source: str = "source",
) -> DataFrame:
    """Temperature-scaled mixture weights from source sizes — the
    multilingual-LM sampling rule (exponential smoothing, as published for
    XLM/mBERT-style training: p_i ∝ (c_i / Σc)^α, α < 1 upsamples small
    sources).

    Output per source: ``n_docs``, the raw share ``p_raw``, the smoothed
    share ``p_temp`` and ``up_factor`` = p_temp / p_raw — the number to
    feed :func:`mixture_sample` as that source's weight (scaled by the
    desired epoch budget).

    Scale shape: ONE partial-aggregated groupBy over the corpus; every
    window after that runs on the aggregated table, whose row count is the
    number of SOURCES (tiny by construction), so the unpartitioned windows
    are a few-row reduction, not a corpus sort."""
    counts = df.groupBy(source).agg(F.count(F.lit(1)).alias("n_docs"))
    w = Window.partitionBy()
    out = counts.withColumn(
        "p_raw", F.col("n_docs") / F.sum("n_docs").over(w)
    ).withColumn("_pa", F.pow("p_raw", F.lit(alpha)))
    return out.withColumn(
        "p_temp", F.col("_pa") / F.sum("_pa").over(w)
    ).withColumn("up_factor", F.col("p_temp") / F.col("p_raw")).drop("_pa")


def assign_shards(
    df: DataFrame,
    n_shards: int,
    *,
    key: str = "doc_id",
    salt: str = "shard",
) -> DataFrame:
    """Deterministic output sharding: ``shard`` = md5-hash bucket of the
    key — the 100 TB answer to "write N balanced training shards".

    A greedy bin-packing assignment balances slightly tighter but needs a
    global rank (one-partition window) — disqualifying at scale; hash
    sharding balances to within O(sqrt(docs/shard)) by the law of large
    numbers with ZERO shuffles (the write's partitionBy does the only
    exchange), and any reader can recompute a doc's shard from its key
    alone. md5-based like every other engine hash, so the oracle and any
    other system agree on the mapping."""
    return df.withColumn("shard", _hash_bucket(F.col(key), salt, n_shards))


def shard_balance(
    df: DataFrame,
    n_shards: int,
    *,
    key: str = "doc_id",
    weight: Column | str | None = None,
    salt: str = "shard",
) -> DataFrame:
    """Per-shard doc counts (and optional weight sums) for the hash
    assignment — the balance report a pipeline checks before writing."""
    sharded = assign_shards(df, n_shards, key=key, salt=salt)
    aggs = [F.count(F.lit(1)).alias("n_docs")]
    if weight is not None:
        w = F.col(weight) if isinstance(weight, str) else weight
        aggs.append(F.sum(w).alias("total_weight"))
    got = sharded.groupBy("shard").agg(*aggs)
    # EMPTY shards are exactly what a balance check must surface — a plain
    # groupBy would silently omit them
    spark = df.sparkSession
    all_shards = spark.range(n_shards).select(F.col("id").cast("int").alias("shard"))
    out = all_shards.join(got, "shard", "left").withColumn(
        "n_docs", F.coalesce("n_docs", F.lit(0))
    )
    if weight is not None:
        out = out.withColumn("total_weight", F.coalesce("total_weight", F.lit(0)))
    return out


def token_budget_sample(
    df: DataFrame,
    budget_tokens: int,
    *,
    group: str = "source",
    key: str = "doc_id",
    text: str = "text",
    salt: str = "budget",
) -> DataFrame:
    """Per-source token-budget sampling — "take ~N tokens from every
    source": documents are ordered by a deterministic per-document hash
    (reproducible, shard-stable — NOT by quality or length, which would
    bias the sample) and taken while the source's running token total
    stays within ``budget_tokens``; the first document that CROSSES the
    budget is still kept, so every source with any data contributes at
    least one document and the overshoot is bounded by one document.

    Output: (key, group, n_tokens, cum_tokens) for the kept documents.

    100 TB shape: one window cumsum keyed on the source — a single
    shuffle; the window sort is external/spillable. The hash order makes
    the sample identical across runs, partitionings, and engines (the
    oracle recomputes it)."""
    n_tok = F.size(F.filter(F.split(F.col(text), r"\s+"), lambda t: t != ""))
    w = Window.partitionBy(group).orderBy(
        F.md5(F.concat(F.lit(salt), F.col(key).cast("string"))),
        F.col(key),
    )
    staged = df.select(
        F.col(key), F.col(group), n_tok.alias("n_tokens")
    ).withColumn(
        "cum_tokens",
        F.sum("n_tokens").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    # keep while the PREVIOUS cumsum was under budget: the crossing doc
    # stays, everything after it goes
    return staged.filter(
        F.col("cum_tokens") - F.col("n_tokens") < budget_tokens
    )


def quality_bins(
    df: DataFrame,
    score: Column | str,
    *,
    group: str = "source",
    key: str = "doc_id",
    n_bins: int = 10,
) -> DataFrame:
    """Curriculum / ablation binning: rank documents by a quality score
    WITHIN each source and cut into ``n_bins`` equal-frequency bins
    (ntile) — the standard shape for quality-threshold ablations
    ("train on the top 3 deciles") and curricula ("feed bins in
    order"). Per-source, not global: sources have different score
    distributions, and a global cut would just re-discover the source
    boundaries. Ties break on the document key so the binning is total
    and engine-exact.

    Output: (key, group, score, bin) with bin in [1, n_bins].

    100 TB shape: one window rank per source — a single keyed shuffle,
    same cost class as any per-source rollup."""
    s = F.col(score) if isinstance(score, str) else score
    staged = df.select(F.col(key), F.col(group), s.alias("score"))
    w = Window.partitionBy(group).orderBy(
        F.col("score").desc(), F.col(key).asc()
    )
    return staged.withColumn("bin", F.ntile(n_bins).over(w))


def stratified_sample_n(
    df: DataFrame,
    n: int,
    *,
    group: str = "source",
    key: str = "doc_id",
    salt: str = "strata",
) -> DataFrame:
    """Fixed-size per-group sample: exactly ``min(n, |group|)`` rows from
    every group, chosen by deterministic hash rank — the eval-set /
    inspection-sample constructor ("give me 100 docs from every source"),
    complementing ``hash_sample``'s fraction-based draw. Hash order makes
    the sample reproducible across runs, partitionings, and engines, and
    adding MORE data to a group only swaps members in/out at the hash
    boundary rather than reshuffling the whole sample.

    100 TB shape: one window rank per group whose ``row_number <= n``
    filter compiles to WindowGroupLimit — each partition keeps at most n
    rows per group BEFORE the shuffle, so a billion-row group costs n
    rows of state, not a full sort buffer."""
    return top_k_per_group(
        df,
        [group],
        [F.md5(F.concat(F.lit(salt), F.col(key).cast("string"))), F.col(key)],
        n,
    )
