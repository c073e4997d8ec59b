"""Deterministic streaming sketches: KMV distinct-count and count-min
frequency estimation.

At 100 TB the questions "how many distinct URLs/hosts/tokens" and "how
often does this value occur" are sketch questions — the exact answers
need a full shuffle on the key, the estimates need one map-side pass and
a constant-size summary. Spark ships approx_count_distinct (HLL++), but
its binary sketch is engine-private; these two are built from md5
arithmetic that ANY engine reproduces bit-for-bit, so every estimate
here is oracle-certifiable (the DuckDB twin computes the identical
sketch, not a different estimator that happens to be close) and merges
associatively across partitions, days, or engines.

- KMV (k-minimum values, Bar-Yossef et al. 2002): keep the k smallest
  uniform hashes of the distinct values; with fewer than k distinct the
  count is exact, else estimate (k-1)/h_(k) where h_(k) is the k-th
  minimum in (0, 1]. The k minimums come from a WindowGroupLimit
  (per-group top-k kept per partition BEFORE the shuffle), so memory
  stays bounded at k rows per group regardless of cardinality.
- Count-min (Cormode & Muthukrishnan 2005): a depth×width counter
  matrix; each value increments one counter per row (md5-salted bucket),
  and a point estimate is the MIN over its depth counters — always an
  overestimate, never under. Counters are sums, so the sketch is
  order-independent and exactly reproducible.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nutch_spark.topk import top_k_per_group

# 16^15 — md5's first 15 hex digits as a uniform integer in [0, 2^60)
_HASH_SPACE = float(16**15)


def _uhash(col: Column) -> Column:
    """Uniform hash of a value into (0, 1]: md5's first 15 hex digits
    scaled by 16^15, +1.0 so the k-th minimum is never 0. Exactly
    reproducible in any engine with md5 + hex parsing — the DuckDB twin
    is (CAST(CAST('0x'||substr(md5(v),1,15) AS UBIGINT) AS DOUBLE)
    + 1.0) / 2^60. ORDER MATTERS: the +1.0 must follow the
    integer→double conversion on BOTH sides (this side computes
    fl(fl(h) + 1.0)); adding 1 to the exact integer first yields
    fl(h + 1), which differs by one ulp whenever h+1 crosses a rounding
    boundary above 2^53. NULL values hash to NULL — callers filter them
    out (SQL distinct-count semantics exclude NULL)."""
    h = F.conv(F.substring(F.md5(col.cast("string")), 1, 15), 16, 10)
    return (h.cast("double") + F.lit(1.0)) / F.lit(_HASH_SPACE)


def kmv_distinct(
    df: DataFrame,
    value: str,
    *,
    group_by: list[str] | None = None,
    k: int = 256,
) -> DataFrame:
    """Distinct-count estimate per group: ``(group cols..., n_distinct_est
    double, n_sketch int)``. Exact when a group has fewer than ``k``
    distinct values (the sketch simply holds them all); otherwise the
    classic (k-1)/h_(k) estimator over the k minimum hashes. Pipeline:
    distinct on (group, hash), then top_k_per_group — Catalyst compiles
    the rank filter to WindowGroupLimit, keeping only k rows per group
    per partition, so no stage ever buffers a group's full distinct
    set."""
    gb = group_by or []
    h = _uhash(F.col(value)).alias("_h")
    # bounded at every stage: distinct is a hash aggregation on (group,
    # hash); the top-k filter compiles to WindowGroupLimit, which keeps only
    # k rows PER GROUP per partition before (and after) the shuffle — a
    # group with 100M distinct values never materializes 100M hashes in
    # one buffer the way a collect_set-then-slice would
    distinct_h = (
        df.filter(F.col(value).isNotNull()).select(*gb, h).distinct()
    )
    mins = top_k_per_group(distinct_h, gb, ["_h"], k)
    # the kept hashes are the n <= k smallest, so the k-th is their max
    # when n == k
    n = F.count(F.lit(1))
    sk = mins.groupBy(*gb).agg(
        n.alias("_n"), F.when(n == k, F.max("_h")).alias("_hk")
    )
    est = F.when(F.col("_n") < k, F.col("_n").cast("double")).otherwise(
        F.lit(float(k - 1)) / F.col("_hk")
    )
    return sk.select(
        *gb,
        F.round(est, 4).alias("n_distinct_est"),
        F.col("_n").cast("int").alias("n_sketch"),
    )


def kmv_overlap(
    a: DataFrame,
    b: DataFrame,
    value: str,
    *,
    k: int = 256,
) -> DataFrame:
    """Jaccard-similarity estimate between two value sets from their KMV
    sketches alone (no join of the underlying data): the k smallest
    hashes of A ∪ B are computed from the two sketches' union, and the
    fraction of them present in BOTH sketches estimates J(A, B)
    (Bar-Yossef et al.'s pair extension; exact when |A ∪ B| ≤ k).
    Returns one row: (jaccard_est double, union_est double). The two
    sides reduce to ≤ k doubles each BEFORE they meet — comparing two
    100 TB corpora costs two independent scans plus a constant-size
    driver-side merge, never a cross-corpus shuffle."""
    def _sketch(df: DataFrame, alias: str) -> DataFrame:
        # distinct -> global k-minimum via orderBy+limit: compiles to
        # TakeOrderedAndProject (per-partition top-k, then a k-row merge)
        # — the full distinct-hash set of a corpus never sits in one task
        mins = (
            df.filter(F.col(value).isNotNull())
            .select(_uhash(F.col(value)).alias("_h"))
            .distinct()
            .orderBy("_h")
            .limit(k)
        )
        return mins.groupBy().agg(
            F.array_sort(F.collect_list("_h")).alias(alias)  # <= k rows
        )

    ha = _sketch(a, "_ma")
    hb = _sketch(b, "_mb")
    both = ha.crossJoin(hb)  # 1 row × 1 row
    u = F.slice(
        F.array_sort(F.array_union(F.col("_ma"), F.col("_mb"))), 1, k
    )
    nu = F.size(u)
    shared = F.size(
        F.filter(
            u,
            lambda x: F.array_contains(F.col("_ma"), x)
            & F.array_contains(F.col("_mb"), x),
        )
    )
    union_est = F.when(nu < k, nu.cast("double")).otherwise(
        F.lit(float(k - 1)) / F.element_at(u, k)
    )
    return both.select(
        F.round(shared / nu.cast("double"), 4).alias("jaccard_est"),
        F.round(union_est, 4).alias("union_est"),
    )


def _cm_bucket(row: Column, value: Column, width: int) -> Column:
    """The count-min bucket of ``value`` under row-salt ``row``:
    md5(row ':' value) first 15 hex digits mod width. ONE definition for
    sketch build AND lookup — the two must compute the identical bucket
    or lookups silently read the wrong counters and can UNDERestimate,
    breaking count-min's core guarantee (same repo rule as
    mixing._hash_bucket)."""
    return (
        F.pmod(
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(row.cast("string"), F.lit(":"), value.cast("string"))
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long"),
            F.lit(width),
        )
        .cast("int")
    )


def count_min_sketch(
    df: DataFrame,
    value: str,
    *,
    width: int = 1024,
    depth: int = 4,
) -> DataFrame:
    """Build the count-min counter matrix: ``(row int, bucket int,
    counter long)`` with one output row per NON-ZERO counter (the dense
    matrix is depth×width but sparse in practice). Each input value
    lands in bucket md5(row_salt || value) % width of every row — a
    single explode + one partial-aggregated groupBy, order-independent
    and exactly reproducible cross-engine."""
    rows = F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("row")
    bucketed = (
        df.filter(F.col(value).isNotNull())  # NULL hashes to NULL bucket:
        # it would never match a lookup and silently report 0
        .select(F.col(value).alias("_v"))
        .select("_v", rows)
        .select("row", _cm_bucket(F.col("row"), F.col("_v"), width).alias("bucket"))
    )
    return bucketed.groupBy("row", "bucket").agg(
        F.count(F.lit(1)).alias("counter")
    )


def count_min_lookup(
    sketch: DataFrame,
    queries: DataFrame,
    value: str,
    *,
    width: int = 1024,
    depth: int = 4,
) -> DataFrame:
    """Point-frequency estimates from a count-min sketch: for each query
    value, the MIN over its ``depth`` counters (missing counter = 0).
    Guaranteed ≥ the true count; the overestimate is bounded by the
    other values' collisions (ε ≈ e/width of the total mass, w.p.
    1 - e^-depth). The sketch side is ≤ depth×width rows — it
    BROADCASTS; querying never touches the original data."""
    rows = F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("row")
    q = (
        queries.filter(F.col(value).isNotNull())
        .select(F.col(value).alias("_qv"))
        .distinct()
        .select("_qv", rows)
        .select(
            "_qv",
            "row",
            _cm_bucket(F.col("row"), F.col("_qv"), width).alias("bucket"),
        )
    )
    joined = q.join(F.broadcast(sketch), ["row", "bucket"], "left").select(
        "_qv", "row", F.coalesce("counter", F.lit(0)).alias("counter")
    )
    return joined.groupBy(F.col("_qv").alias(value)).agg(
        F.min("counter").alias("freq_est")
    )


def _bloom_pos(i: Column, value: Column, m_bits: int) -> Column:
    """Bit position of ``value`` under hash index ``i``: the count-min
    bucket function reused verbatim (md5(i ':' value) mod m) — ONE
    definition for build and lookup, the same underestimate-prevention
    rule as ``_cm_bucket``."""
    return _cm_bucket(i, value, m_bits)


def bloom_build(
    df: DataFrame,
    value: str,
    *,
    m_bits: int = 1 << 20,
    k_hashes: int = 4,
) -> DataFrame:
    """Build a Bloom filter over ``df[value]`` as 64-bit words:
    ``(word_idx int, word long)``, one row per NON-ZERO word (sparse —
    the dense filter is m_bits/63 longs; words hold 63 bits so the sign
    bit is never set — DuckDB's BIGINT shift rejects 1 << 63, and the
    whole point of these sketches is exact cross-engine reproduction).
    Each value sets bit md5(i ':' value) % m for i < k_hashes: one
    explode + one
    partial-aggregated bit_or groupBy, order-independent and exactly
    reproducible cross-engine (Bloom 1970 — the classic membership
    sketch; md5 arithmetic instead of an engine-private format so a
    DuckDB/Trino twin builds the IDENTICAL words).

    100 TB role: the crawl frontier's seen-URL set. An exact anti-join
    of candidates against 10^11 crawled URLs shuffles both sides; the
    filter is ≤ m/64 longs, BROADCASTS, and answers "definitely new"
    with zero false negatives — only the (tunable, ≈(1-e^(-kn/m))^k)
    false-positive slice needs the exact check."""
    idx = F.explode(F.sequence(F.lit(0), F.lit(k_hashes - 1))).alias("_i")
    bits = (
        df.filter(F.col(value).isNotNull())
        .select(F.col(value).alias("_v"))
        .select("_v", idx)
        .select(_bloom_pos(F.col("_i"), F.col("_v"), m_bits).alias("_pos"))
        .select(
            F.floor(F.col("_pos") / 63).cast("int").alias("word_idx"),
            # SQL expr: the Python shiftleft() helper only takes a
            # literal shift amount, not a Column
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pmod(_pos, 63) AS INT))").alias("_bit"),
        )
    )
    return bits.groupBy("word_idx").agg(
        F.expr("bit_or(_bit)").alias("word")
    )


def bloom_lookup(
    bloom: DataFrame,
    queries: DataFrame,
    value: str,
    *,
    m_bits: int = 1 << 20,
    k_hashes: int = 4,
) -> DataFrame:
    """Membership probe: ``(value, maybe_present)`` — True iff ALL
    k bits are set (possibly a false positive, NEVER a false negative).
    The filter broadcasts; probing never touches the original data."""
    idx = F.explode(F.sequence(F.lit(0), F.lit(k_hashes - 1))).alias("_i")
    q = (
        queries.filter(F.col(value).isNotNull())
        .select(F.col(value).alias("_qv"))
        .distinct()
        .select("_qv", idx)
        .select(
            "_qv",
            _bloom_pos(F.col("_i"), F.col("_qv"), m_bits).alias("_pos"),
        )
        .select(
            "_qv",
            F.floor(F.col("_pos") / 63).cast("int").alias("word_idx"),
            F.pmod(F.col("_pos"), F.lit(63)).cast("int").alias("_b"),
        )
    )
    joined = q.join(F.broadcast(bloom), "word_idx", "left").select(
        "_qv",
        F.coalesce(
            F.expr("shiftright(word, _b)").bitwiseAND(F.lit(1).cast("long")),
            F.lit(0).cast("long"),
        ).alias("_hit"),
    )
    return joined.groupBy(F.col("_qv").alias(value)).agg(
        (F.min("_hit") == 1).alias("maybe_present")
    )


def sampled_quantiles(
    df: DataFrame,
    value: str,
    *,
    key: str,
    qs: tuple[float, ...] = (0.25, 0.5, 0.75, 0.95),
    sample_bp: int = 1000,
    salt: str = "qsk",
) -> DataFrame:
    """Engine-portable approximate quantiles — the fourth member of the
    sketch family (distinct = KMV, frequency = count-min, membership =
    Bloom, quantiles = THIS): keep the deterministic md5-hash sample of
    rows (``sample_bp``/10000 of them, keyed on ``key`` so duplicate
    values don't bias selection) and take EXACT interpolated quantiles
    of the sample. Sample error is the classic sqrt(1/n) band, and —
    unlike percentile_approx's engine-private KLL/GK state — every
    engine that can md5 reproduces the identical sample and therefore
    the identical estimate, so the oracle certifies values bit-for-bit.

    Output: one row — (q25, q50, ... per requested quantile, n_sample).
    100 TB shape: the hash filter is map-only and prunes 1-sample_bp/10000
    of the corpus BEFORE the single exact-percentile aggregation; the
    aggregation's sort buffer holds only the sample."""
    bucket = F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(salt), F.col(key).cast("string"))), 1, 15
            ),
            16,
            10,
        ).cast("long"),
        F.lit(10_000),
    )
    sample = df.filter(bucket < sample_bp)
    arr = ", ".join(f"{q}D" for q in qs)
    aggs = [
        F.expr(f"percentile(`{value}`, array({arr}))").alias("_ps"),
        F.count(F.lit(1)).alias("n_sample"),
    ]
    out = sample.agg(*aggs)
    cols = [
        F.round(F.element_at("_ps", i + 1), 6).alias(
            f"q{str(q).replace('.', '_')}"
        )
        for i, q in enumerate(qs)
    ]
    return out.select(*cols, "n_sample")
