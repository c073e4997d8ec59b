"""Skew-resilient joins: the salting pattern for hot keys.

At 100 TB a handful of keys routinely carry a disproportionate share of
the rows (one host with half the crawl's outlinks, the empty-anchor
string, a tracker domain). A plain shuffle join lands every row of a hot
key in ONE reducer partition — the stage runs at the speed of its worst
straggler no matter how many executors exist. Spark's AQE skew-join
split helps the sort-merge case but cannot help when the downstream
pipeline pins the partitioning or the join feeds an aggregation that
re-uses it.

``skew_salted_join`` implements the textbook remedy explicitly and only
where it's needed: hot keys are detected with one aggregation, the hot
slice of the left side gets a deterministic per-row salt, the hot slice
of the right side replicates across the salt space, and the cold slice
joins completely normally — so the replication cost is
``buckets × |right rows with hot keys|``, not ``buckets × |right|``.
Results are EXACTLY those of the plain join (the salt only spreads
rows; every (l, r) pair of a hot key meets on exactly one salt value),
which is what the oracle certifies.

The same census guards every near-duplicate operator's bucket self-join
(MinHash LSH bands, n-gram shingles, winnowing fingerprints, sign
buckets, dHash band keys, video frame hashes): ``hot_keys`` is the one
census and ``bucket_pairs`` the one self-join behind it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def skew_salted_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    *,
    buckets: int = 16,
    hot_threshold: int = 1_000_000,
    how: str = "inner",
) -> DataFrame:
    """Equi-join ``left`` with ``right`` on ``on``, salting hot keys.

    - hot-key census: one partial-aggregated groupBy on the LEFT side's
      keys; keys with more than ``hot_threshold`` rows are "hot". The
      census output is tiny by construction (it can't exceed
      |left| / hot_threshold rows) and BROADCASTS to route both sides.
    - cold slice: joins exactly as a plain join would (same ``how``).
    - hot slice: left rows get a DETERMINISTIC content-derived salt —
      ``pmod(xxhash64(every left column), buckets)`` — so a task retry
      or speculative re-execution recomputes the identical salt for the
      identical row and the shuffle never duplicates or drops hot-key
      pairs (a salt from ``monotonically_increasing_id`` would depend on
      partition layout and rely on Spark's indeterminate-stage rollback).
      Right rows replicate once per salt value via one
      ``explode(sequence(...))``, so each (l, r) pair of a hot key meets
      on exactly one salt. Identical duplicate left rows share a salt;
      spread stays uniform as long as hot keys aren't dominated by
      byte-identical rows (the crawl shape: same host, distinct URLs).
    - the two slices ``unionByName`` — output columns and row multiset
      are IDENTICAL to ``left.join(right, on, how)``.

    Supported ``how``: ``inner``, ``left`` (left_outer), ``right``
    (right_outer), ``full`` (full_outer). Outer correctness rests on two
    facts: (a) a left-hot row carries exactly one salt, and the right
    replica set covers every salt, so it matches iff the key exists on
    the right — unmatched rows null-extend exactly once in the hot
    slice's left join; (b) a RIGHT row with a hot key always has ≥
    ``hot_threshold`` left partners, so it can never be right-unmatched —
    the hot slice never needs right-side null-extension and an inner /
    left join there is exact for ``right`` / ``full`` as well.

    The cost model: one extra census aggregation + ``buckets ×``
    replication of ONLY the right rows whose keys are hot, in exchange
    for spreading each hot key over ``buckets`` reducer partitions."""
    aliases = {
        "inner": "inner",
        "left": "left",
        "left_outer": "left",
        "leftouter": "left",
        "right": "right",
        "right_outer": "right",
        "rightouter": "right",
        "full": "full",
        "outer": "full",
        "full_outer": "full",
        "fullouter": "full",
    }
    mode = aliases.get(how)
    if mode is None:
        raise ValueError(
            "skew_salted_join supports how in "
            "{'inner','left','right','full'}; got %r" % (how,)
        )
    hot = hot_keys(left, on, hot_threshold)
    left_cold = left.join(hot, on, "left_anti")
    right_cold = right.join(hot, on, "left_anti")
    cold = left_cold.join(right_cold, on, mode)

    # per-row salt: hash of the left row's HASHABLE columns (xxhash64
    # rejects MapType — a crawldb's metadata map must not break the
    # salt; the join keys are always included, so the salt keeps its
    # content-determinism). Deterministic across retries (same row bytes
    # → same salt, independent of partition layout), uniform whenever
    # hot keys carry distinct payloads.
    from pyspark.sql.types import MapType

    hashable = [
        f.name for f in left.schema.fields
        if not isinstance(f.dataType, MapType)
    ]
    salt = F.pmod(
        F.xxhash64(*[F.col(c) for c in hashable]), F.lit(buckets)
    ).cast("int")
    left_hot = left.join(hot, on, "left_semi").withColumn(
        "_salt", salt
    )
    right_hot = (
        right.join(hot, on, "left_semi")
        .withColumn(
            "_salt", F.explode(F.sequence(F.lit(0), F.lit(buckets - 1)))
        )
        .withColumn("_salt", F.col("_salt").cast("int"))
    )
    # hot keys exist on the left by construction, so the hot slice never
    # right-null-extends: inner covers inner/right, left covers left/full.
    hot_mode = "left" if mode in ("left", "full") else "inner"
    hot_joined = left_hot.join(right_hot, [*on, "_salt"], hot_mode).drop(
        "_salt"
    )
    return cold.unionByName(hot_joined)


def hot_keys(df: DataFrame, keys: list[str], cap: int) -> DataFrame:
    """The hot-key census: the distinct ``keys`` of ``df`` that carry more
    than ``cap`` rows, broadcast-hinted. One partial-aggregated groupBy;
    the output cannot exceed |df| / cap rows, so it always broadcasts."""
    return F.broadcast(
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > cap)
        .select(*keys)
    )


def bucket_pairs(
    rows: DataFrame,
    id: str,
    keys: list[str],
    *,
    max_bucket: int | None,
    split: str | None = None,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """The guarded bucket self-join: one row ``(id_a, id_b, *carry_a,
    *carry_b)`` with ``id_a < id_b`` for every bucket (equal ``keys``)
    two rows share — a pair meeting in several buckets appears once per
    bucket, so callers dedup or count. Carried columns come out as
    ``<col>_a`` and ``<col>_b``.

    A bucket with more than ``max_bucket`` rows is hot: its self-join
    would be quadratic in the bucket. With ``split=None`` its rows drop
    before the join; with ``split=col`` they stay but pair only with rows
    of the same bucket whose ``col`` is equal (and not NULL). Cold
    buckets pair every row. ``max_bucket=None`` turns the guard off;
    ``max_bucket < 1`` raises ``ValueError``.

    With the guard on, the census and both join sides read ``rows``, so
    they are materialized once (lazy ``localCheckpoint``) before the
    census; without it the two join sides are one reused exchange."""
    if max_bucket is not None and max_bucket < 1:
        raise ValueError(f"max_bucket must be >= 1 or None, got {max_bucket}")
    on = list(keys)
    rows = rows.select(id, *on, *([split] if split else []), *carry)
    if max_bucket is not None:
        rows = rows.localCheckpoint(eager=False)
        hot = hot_keys(rows, on, max_bucket)
        if split is None:
            rows = rows.join(hot, on, "left_anti")
        else:
            # every row of a bucket shares its hot flag, so a constant
            # sub-key keeps cold buckets whole and the split value
            # sub-buckets hot ones
            rows = rows.join(
                hot.withColumn("_hot", F.lit(True)), on, "left"
            ).withColumn(
                "_sub",
                F.when(F.col("_hot"), F.col(split).cast("string")).otherwise(
                    F.lit("")
                ),
            )
            on = [*on, "_sub"]

    def side(s: str) -> DataFrame:
        return rows.select(
            F.col(id).alias(f"id_{s}"),
            *on,
            *[F.col(c).alias(f"{c}_{s}") for c in carry],
        )

    return (
        side("a")
        .join(side("b"), on)
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            *[f"{c}_a" for c in carry],
            *[f"{c}_b" for c in carry],
        )
    )
