"""Generator — the reference's flagship selection query (SURVEY.md §2.5 W1).

Reference: /root/reference/src/java/org/apache/nutch/crawl/Generator.java
(3 chained MR jobs, 1328 LoC).  Spark shape is ONE declarative plan:

    crawldb
      -> filter (due-check, min-score, status restriction, JEXL expr)
      -> per-group (host/domain) ranking window, keep <= max_count per group
         (Generator.java:579-619's per-host counting + segment spill)
      -> global top-N by score      (TakeOrderedAndProject, no manual
         score-key inversion needed — Generator.java:332-338 inverts keys
         only because MR sorts by key)
      -> politeness layout: repartition by group, order by url-hash within
         partitions (URLPartitioner.java:76-108 + HashComparator
         Generator.java:672-702)

Scale notes (100 TB): the ranking window shuffles once on the group key; AQE
handles skewed hosts (skewJoin + coalesce). The global top-N is a
TakeOrderedAndProject (per-partition heaps + single merge), never a full sort.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from nutch_spark.config import DEFAULT, NutchConfig
from nutch_spark.functions.urls import url_domain, url_host


def generate(
    crawldb: DataFrame,
    top_n: int,
    *,
    cfg: NutchConfig = DEFAULT,
    now: Column | None = None,
    extra_filter: Column | None = None,
    sort_score: Column | None = None,
    num_lists: int | None = None,
    hostdb: DataFrame | None = None,
    max_count_expr: str | None = None,
    fetch_delay_expr: str | None = None,
) -> DataFrame:
    """Produce a fetchlist: the highest-priority due URLs, politely laid out.

    Returns the selected rows with ``segment_num`` (spill bucket,
    Generator.java:579-619) and the politeness partitioning applied.

    When ``hostdb`` is given (generate.hostdb, Generator.java:369-392 reads it
    into an in-memory map → broadcast join here), ``max_count_expr`` /
    ``fetch_delay_expr`` are JEXL expressions over the HostDatum fields
    (Generator.java:486-545, context vars per createContext:394-430 — our
    hostdb columns unfetched/fetched/not_modified/redir_temp/redir_perm/gone
    map via jexl_to_sql). A host present in the hostdb gets
    round(max_count_expr) as its quota (others keep the global
    generate.max.count); round(fetch_delay_expr) ms lands in the entry
    metadata under ``_variableFetchDelay_`` for the fetcher to honor.
    """
    now = now if now is not None else F.current_timestamp()
    df = crawldb

    # --- filter chain (Generator.java:281-330) -----------------------------
    # Clock-skew guard (AbstractFetchSchedule.shouldFetch:194-205): a
    # fetch_time further in the future than db.fetch.interval.max means the
    # entry's clock ran away (e.g. a corrupted schedule) — reset to due now
    # rather than never fetching it again.
    skewed = F.col("fetch_time") > (
        now + F.make_interval(secs=F.lit(float(cfg.fetch_interval_max)))
    )
    due = F.col("fetch_time").isNull() | (F.col("fetch_time") <= now) | skewed
    df = df.filter(due)
    if cfg.generate_min_score > 0:
        df = df.filter(F.col("score") >= cfg.generate_min_score)
    restrict = cfg.extras.get("generate_restrict_status")
    if restrict:  # generate.restrict.status (Generator.java:313-316)
        df = df.filter(F.col("status") == restrict)
    else:
        df = df.filter(~F.col("status").isin("db_gone", "db_duplicate", "db_orphan"))
    # forced refetch when interval exceeded max (Generator.java:326-330)
    if extra_filter is not None:
        df = df.filter(extra_filter)

    # URLs whose scheme the reference's java.net.URL cannot parse throw
    # MalformedURLException in the selector/partitioner and are silently
    # dropped (Generator.java:558-570; TestGenerator.testURLNoHost: xyz://
    # is skipped while host-less file: URLs survive). One rlike, codegen.
    df = df.filter(F.col("url").rlike(r"^(?i)(https?|ftp|file):"))

    sort_val = sort_score if sort_score is not None else F.col("score")
    group = url_host("url") if cfg.generate_count_mode == "host" else url_domain("url")
    df = df.withColumn("_grp", group).withColumn("_sort", sort_val)

    # --- variable per-host maxCount / fetchDelay from the hostdb ------------
    if hostdb is not None and (max_count_expr or fetch_delay_expr):
        from nutch_spark.functions.jexl import jexl_to_sql

        sel = [F.col("host").alias("_grp")]
        if max_count_expr:
            sel.append(
                F.round(F.expr(jexl_to_sql(max_count_expr)))
                .cast("int")
                .alias("_var_max")
            )
        if fetch_delay_expr:
            sel.append(
                F.round(F.expr(jexl_to_sql(fetch_delay_expr)))
                .cast("long")
                .alias("_var_delay")
            )
        df = df.join(F.broadcast(hostdb.select(*sel)), "_grp", "left")
        if fetch_delay_expr:
            from nutch_spark.functions.maps import map_put

            df = df.withColumn(
                "metadata",
                F.when(
                    F.col("_var_delay").isNotNull(),
                    map_put("metadata", "_variableFetchDelay_", F.col("_var_delay")),
                ).otherwise(F.col("metadata")),
            ).drop("_var_delay")

    # --- per-group cap with segment spill (Generator.java:579-619) ----------
    max_count_col: Column | None = None
    if "_var_max" in df.columns:
        max_count_col = F.coalesce(F.col("_var_max"), F.lit(cfg.generate_max_count))
    elif cfg.generate_max_count > 0:
        max_count_col = F.lit(cfg.generate_max_count)
    if max_count_col is not None:
        w = Window.partitionBy("_grp").orderBy(F.desc("_sort"), F.asc("url"))
        df = df.withColumn("_rk", F.row_number().over(w))
        df = df.withColumn(
            "segment_num",
            F.when(max_count_col > 0, F.floor((F.col("_rk") - 1) / max_count_col))
            .otherwise(F.lit(0))
            .cast("int"),
        ).filter(F.col("segment_num") < cfg.generate_max_num_segments)
        df = df.drop("_rk")
        if "_var_max" in df.columns:
            df = df.drop("_var_max")
    else:
        df = df.withColumn("segment_num", F.lit(0))

    # --- global top-N (TakeOrderedAndProject; Generator.java:440-441 splits
    # the limit across reducers — Spark does that automatically) -------------
    df = df.orderBy(F.desc("_sort"), F.asc("url")).limit(top_n)

    # --- politeness layout (Job 2, Generator.java:1117-1152): partition by
    # host/domain, spread a host's URLs apart inside each partition ----------
    if num_lists:
        df = df.repartition(num_lists, F.col("_grp")).sortWithinPartitions(
            F.xxhash64(F.col("url"))
        )
    return df.drop("_grp").withColumnRenamed("_sort", "sort_score")


def free_generate(
    urls: DataFrame,
    *,
    cfg: NutchConfig = DEFAULT,
    url: str = "url",
    normalize: bool = True,
    filter_urls: bool = True,
    num_lists: int | None = None,
) -> DataFrame:
    """FreeGenerator (tools/FreeGenerator.java): build a fetchlist straight
    from a URL list, bypassing the CrawlDb — normalize + filter + dedup +
    politeness layout, no due-check and no scoring. Used to fetch an ad-hoc
    batch (the reference tool's exact role)."""
    from nutch_spark.functions.urls import normalize_url, url_filter_predicate, url_host

    out = urls.select(F.col(url).alias("url"))
    if normalize:
        out = out.withColumn("url", normalize_url("url"))
    if filter_urls:
        # stock conf/regex-urlfilter.txt head rule: skip file:/ftp:/mailto:
        out = out.filter(
            url_filter_predicate("url", deny_regex=[r"^(file|ftp|mailto):"])
        )
    out = out.filter(F.col("url").isNotNull()).dropDuplicates(["url"])
    parts = num_lists or out.sparkSession.sparkContext.defaultParallelism
    return out.repartition(parts, url_host("url")).sortWithinPartitions(
        F.xxhash64("url")
    )
