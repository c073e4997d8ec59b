"""Statistics readers — SURVEY.md §2.4 A1–A6, §2.5 A2/W2.

Reference:
- readdb -stats: /root/reference/src/java/org/apache/nutch/crawl/CrawlDbReader.java
  :371-510 (mapper/combiner/reducer), :565-701 (driver merge), :706-707
  (score quantiles via t-digest — replaced by percentile/percentile_approx,
  both mergeable sketches).
- readdb -topN: CrawlDbReader.java:512-558,956-1031.
- DomainStatistics: util/DomainStatistics.java:59-210 (host/domain/suffix/tld).
- CrawlCompletionStats: util/CrawlCompletionStats.java:55-140.
- ProtocolStatusStatistics: util/ProtocolStatusStatistics.java:59-130.

All are single-pass groupBy aggregations; Spark's partial hash aggregation
replaces the reference's hand-written combiners for free.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nutch_spark.config import DEFAULT, NutchConfig
from nutch_spark.functions.urls import url_domain, url_host, url_tld


def _grouping_expr(mode: str, url: str = "url") -> Column:
    """DomainStatistics MODE_{HOST,DOMAIN,SUFFIX,TLD} (DomainStatistics.java:59-100)."""
    if mode == "host":
        return url_host(url)
    if mode == "domain":
        return url_domain(url)
    if mode in ("suffix", "tld"):
        return url_tld(url)
    raise ValueError(f"unknown mode {mode!r}")


def crawldb_stats(
    crawldb: DataFrame,
    *,
    score: str = "score",
    status: str = "status",
    retries: str = "retries",
    fetch_interval: str = "fetch_interval",
    url: str = "url",
    approx: bool = False,
    kmv_k: int = 256,
    cm_width: int = 1024,
    cm_depth: int = 4,
    cfg: NutchConfig = DEFAULT,
) -> dict[str, DataFrame]:
    """readdb -stats: totals, per-status/retry histograms, score distribution.

    Returns small DataFrames (one per report section) rather than the
    reference's flattened counter keys; all computed in two jobs
    (one global agg, one grouped agg) over a single scan each.

    ``approx=True`` adds the sketch-mode sections for the statistics that
    at 100 TB stop being cheap exact aggregations:

    - ``"status_cm"``: the per-status histogram as count-min point
      estimates (``datapipe.sketches.count_min_sketch`` + lookup) —
      ``(status, freq_est)``. The sketch is one map-side-combined pass
      and ≤ depth×width counters; the exact groupBy it replaces shuffles
      every row's status key.
    - ``"hosts_kmv"``: the distinct-host cardinality as a KMV estimate —
      ``(n_distinct_est, n_sketch)``, one row. Exact distinct-host needs
      a full shuffle on host; the sketch crosses the shuffle as ≤ k
      doubles. Both sketches are md5-arithmetic, so any engine reproduces
      the estimates bit-for-bit (oracle-certifiable, unlike HLL++'s
      engine-private binary)."""
    # NaN scores are counted separately and EXCLUDED from min/max/avg
    # (CrawlDbReader.java:390-391) — Spark's ordering treats NaN as the
    # largest float, so an unguarded max() would return NaN.
    raw = F.col(score)
    sc = F.when(~F.isnan(raw), raw)
    global_agg = crawldb.agg(
        F.count(F.lit(1)).alias("total_urls"),
        F.min(sc).alias("min_score"),
        F.max(sc).alias("max_score"),
        F.avg(sc).alias("avg_score"),
        F.sum(F.when(F.isnan(raw), 1).otherwise(0)).alias("nan_score_count"),
        F.min(fetch_interval).alias("min_fetch_interval"),
        F.max(fetch_interval).alias("max_fetch_interval"),
        F.avg(fetch_interval).alias("avg_fetch_interval"),
        F.percentile_approx(
            sc, list(cfg.stats_score_quantiles), 10_000
        ).alias("score_quantiles"),
    )
    by_status = crawldb.groupBy(status).agg(F.count(F.lit(1)).alias("count"))
    by_retries = crawldb.groupBy(retries).agg(F.count(F.lit(1)).alias("count"))
    out = {"global": global_agg, "status": by_status, "retries": by_retries}
    if approx:
        from nutch_spark.datapipe.sketches import (
            count_min_lookup,
            count_min_sketch,
            kmv_distinct,
        )

        sketch = count_min_sketch(
            crawldb, status, width=cm_width, depth=cm_depth
        )
        # query values: the status enum is tiny — its exact distinct is a
        # partial-aggregated pass over a low-cardinality key, not the
        # full-row shuffle the sketch avoids
        statuses = crawldb.select(status).distinct()
        out["status_cm"] = count_min_lookup(
            sketch, statuses, status, width=cm_width, depth=cm_depth
        )
        hosts = crawldb.select(url_host(F.col(url)).alias("_host"))
        out["hosts_kmv"] = kmv_distinct(hosts, "_host", k=kmv_k)
    return out


def top_n(
    df: DataFrame,
    n: int,
    metric: Column | str = "score",
    *,
    min_value: float | None = None,
    tie_break: Column | str = "url",
) -> DataFrame:
    """readdb -topN: global top-N by metric with optional min threshold.

    Plans as TakeOrderedAndProject — per-partition heaps, one driver merge —
    the distributed equivalent of CrawlDbReader's 2-job sort+take
    (:555-556 splits N per reducer; Spark does the same automatically).
    """
    m = F.col(metric) if isinstance(metric, str) else metric
    t = F.col(tie_break) if isinstance(tie_break, str) else tie_break
    out = df
    if min_value is not None:
        out = out.filter(m >= min_value)
    return out.orderBy(m.desc(), t.asc()).limit(n)


def domain_statistics(
    crawldb: DataFrame,
    mode: str = "domain",
    *,
    url: str = "url",
    status_filter: tuple[str, ...] = ("db_fetched", "db_notmodified"),
) -> DataFrame:
    """DomainStatistics: fetched-page counts per host/domain/suffix/tld."""
    df = crawldb
    if status_filter:
        df = df.filter(F.col("status").isin(*status_filter))
    return (
        df.groupBy(_grouping_expr(mode, url).alias(mode))
        .agg(F.count(F.lit(1)).alias("count"))
    )


def crawl_completion_stats(
    crawldb: DataFrame, mode: str = "host", *, url: str = "url"
) -> DataFrame:
    """CrawlCompletionStats: counts per (host|domain, FETCHED/UNFETCHED)."""
    flag = F.when(
        F.col("status").isin("db_fetched", "db_notmodified"), F.lit("FETCHED")
    ).otherwise(F.lit("UNFETCHED"))
    return (
        crawldb.groupBy(_grouping_expr(mode, url).alias(mode), flag.alias("fetched_flag"))
        .agg(F.count(F.lit(1)).alias("count"))
    )


def protocol_status_stats(
    crawldb: DataFrame, *, meta_key: str = "_pst_"
) -> DataFrame:
    """ProtocolStatusStatistics: counts by protocol-status metadata value,
    'UNFETCHED' when absent (ProtocolStatusStatistics.java:59-130)."""
    st = F.coalesce(F.element_at("metadata", meta_key), F.lit("UNFETCHED"))
    return crawldb.groupBy(st.alias("protocol_status")).agg(
        F.count(F.lit(1)).alias("count")
    )


def fetch_latency_stats(
    fetch_log: DataFrame,
    *,
    percentiles: tuple[float, ...] = (0.5, 0.9, 0.95, 0.99),
) -> DataFrame:
    """Fetch-latency percentiles per status (the reference's
    NutchMetrics/LatencyTracker counters, TestFetcherReducer.java): each
    fetch stamps ``_latency_ms_`` into its metadata; this aggregates the
    mergeable percentile sketch over it — one partial-aggregated groupBy,
    the 100 TB path (exact percentile would sort the world)."""
    lat = F.element_at("metadata", "_latency_ms_").cast("long")
    return fetch_log.groupBy("status").agg(
        F.count(F.lit(1)).alias("n_rows"),
        # rows without a latency stamp (queue purges emit retry rows
        # without fetching; pre-upgrade logs) are REPORTED, not silently
        # dropped — n_timed < n_rows flags them
        F.count(lat).alias("n_timed"),
        F.avg(lat).alias("avg_ms"),
        F.max(lat).alias("max_ms"),
        F.percentile_approx(lat, list(percentiles), 10_000).alias(
            "percentiles_ms"
        ),
    )
