"""SparkSession factory tuned for the engine.

Defaults are chosen for a large cluster (the 100 TB design point) but work
unchanged on local[N]:

- AQE on: runtime coalescing of shuffle partitions, skew-join splitting and
  broadcast-join demotion/promotion replace every hand-tuned trick the
  reference hard-codes (combiners, map-side hash joins, reducer counts).
- Arrow on: any pandas_udf / mapInPandas operator moves data in columnar
  batches instead of pickled rows.
- shuffle.partitions is only the *initial* number; AQE coalesces down.
  At 100 TB you would raise ``spark.sql.shuffle.partitions`` (or rely on
  ``spark.sql.adaptive.coalescePartitions.initialPartitionNum``) so that one
  shuffle partition stays in the 100-200 MB range.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Initial shuffle parallelism for tests / local bench. On a real cluster this
# is sized as total-shuffle-bytes / 128MB; AQE coalesces small partitions so
# over-provisioning is cheap while under-provisioning causes spill.
_LOCAL_SHUFFLE_PARTITIONS = "32"


def _default_driver_memory() -> str:
    """Driver heap default gated on detected host memory.

    Local mode puts all executor threads in the driver JVM, and a long
    session (169 bench queries x 3 reps) accumulates codegen classes,
    broadcasts and checkpoint blocks — an 8g heap thrashed GC on the
    128 GiB bench box. But an unconditional 24g oversubscribes smaller
    hosts, so: 24g only when the host has >= 64 GiB, else ~1/4 of RAM
    clamped to [2g, 24g]. ``SPARK_GRAFT_DRIVER_MEM`` overrides outright.
    """
    try:
        total_gib = (
            os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        ) / (1 << 30)
    except (ValueError, OSError, AttributeError):
        return "8g"
    if total_gib >= 64:
        return "24g"
    return f"{max(2, min(24, int(total_gib // 4)))}g"


def _driver_java_options() -> str:
    """Append the code-cache flag to pre-existing driver JVM options
    instead of clobbering them; a user-supplied ReservedCodeCacheSize
    wins.

    Caveat: ``SparkConf()`` here runs before any JVM exists, so only
    options set programmatically or via Java system properties
    (``spark.driver.extraJavaOptions`` in ``PYSPARK_SUBMIT_ARGS`` /
    ``--conf``) are visible and preserved. Values that live only in
    ``spark-defaults.conf`` are NOT seen at this point and the explicit
    ``.config()`` below would shadow them — put driver JVM flags in the
    submit args or environment instead of the defaults file when using
    this session factory."""
    from pyspark import SparkConf

    base = SparkConf().get("spark.driver.extraJavaOptions", "") or ""
    if "ReservedCodeCacheSize" in base:
        return base
    return (base + " -XX:ReservedCodeCacheSize=512m").strip()


def get_spark(app_name: str = "nutch_spark", master: str | None = None) -> SparkSession:
    """Create (or reuse) a SparkSession with engine defaults."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", _LOCAL_SHUFFLE_PARTITIONS)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        # Side-effecting stages (fetcher) must never run speculatively; the
        # reference disables speculation for db-writing jobs (Injector.java:413).
        .config("spark.speculation", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # decode(binary, charset) replaces malformed input instead of
        # raising — fetch content is raw bytes (FETCH_SCHEMA) and the
        # JVM-side text paths (fetcher.parse, robots, sitemaps) must
        # tolerate mojibake exactly like java's new String(bytes, cs)
        .config("spark.sql.legacy.codingErrorAction", "true")
        # Tiny local DataFrames (tests, seed lists) should not fan out to one
        # task per core; parquet scans size their own splits independently.
        .config("spark.sql.leafNodeDefaultParallelism", "4")
        .config("spark.default.parallelism", "8")
        # Heap sized by _default_driver_memory (host-memory gated; see its
        # docstring — GC thrash vs oversubscription). The JIT code cache
        # is raised because hundreds of generated WholeStageCodegen
        # classes fill the default; a full code cache silently disables
        # compilation mid-run. Both respect pre-existing user settings.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM")
            or _default_driver_memory(),
        )
        .config("spark.driver.extraJavaOptions", _driver_java_options())
        .config("spark.ui.enabled", "false")
        # No console progress bars: they interleave with stdout and corrupt
        # machine-parsed output (the bench prints one JSON summary line).
        .config("spark.ui.showConsoleProgress", "false")
    )
    return builder.getOrCreate()


def read_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one driver parquet table, normalizing exotic physical types.

    Historically ``events.ts`` was written as TIMESTAMP(NANOS), which Spark's
    parquet reader rejects by default; with the legacy conf it arrives as a
    BIGINT of nanos-since-epoch. Newer generations of the testdata write a
    plain ``timestamp[us]`` column. Normalize on the *observed* dtype rather
    than assuming either generation, so a testdata schema change cannot break
    every events-touching query again.
    """
    from pyspark.sql import functions as F

    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if dict(df.dtypes).get("ts") == "bigint":
            # Integer division: ns-since-epoch ≈ 1.7e18 overflows double's
            # 53-bit mantissa; a float divide would corrupt microsecond digits.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    else:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    # Defensive for EVERY table: a regenerated testdata may flip physical
    # timestamp flavors (it already flipped events.ts once). Session tz is
    # pinned UTC, so NTZ -> TZ is value-preserving and keeps all operators
    # on one timestamp flavor regardless of what the writer chose.
    ntz = [c for c, dt in df.dtypes if dt == "timestamp_ntz"]
    for c in ntz:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df
