"""Driver correctness surface: SURVEY.md §2 operator inventory expressed over
the driver's TPC-H-ish tables, each with a DuckDB oracle (FIXTURES.md §9).

Each entry exercises the *library operator* (nutch_spark.operators.*), not an
inline re-implementation, so the correctness gate certifies the engine code.

Oracle-parity rules used throughout (the driver hashes values after sorting
columns by name and rows by value):
- every computed column is aliased identically in Spark and SQL;
- SUM/AVG of doubles go through DECIMAL(18,2) so results don't depend on
  accumulation order, then CAST back to DOUBLE so schemas line up;
- exact `percentile` (not approx) + ROUND for quantile outputs;
- deterministic tie-breaks (unique key columns) in every rank/limit;
- RE2-safe regexes only (same pattern string runs in DuckDB).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nutch_spark.functions.jexl import jexl_to_sql
from nutch_spark.operators.dedup import mark_duplicates
from nutch_spark.operators.inject import merge_with_precedence
from nutch_spark.operators.invertlinks import invert_edges
from nutch_spark.operators.merge import latest_version_wins
from nutch_spark.operators.stats import top_n
from nutch_spark.operators.updatedb import adaptive_interval
from nutch_spark.operators.webgraph import node_degrees
from nutch_spark.topk import top_k_per_group

# registry: name -> (query_fn, oracle_sql | None)
REGISTRY: dict[str, tuple] = {}


def q(name: str, oracle: str | None):
    def wrap(fn):
        REGISTRY[name] = (fn, oracle)
        return fn

    return wrap


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from nutch_spark.session import read_table

    return read_table(spark, sf_dir, name)


def fan(df: DataFrame) -> DataFrame:
    """Spread a narrow scan across the session's cores before per-row-heavy
    work (guide §2.5 input skew). The driver's sf tables are each ONE
    parquet file with ONE row group, so their scan stage is a single task
    no matter the core count — and Spark fuses everything up to the first
    exchange into that stage, so tokenize/shingle/hash explodes, fixture
    encodes and Python parse stages all ran serially on one of N cores.

    Round-robin repartition moves only the tiny proxy columns the caller
    selected (ids/text — never generated payloads, which are produced
    AFTER the exchange, in parallel: the guide §8 move-light-rows rule).
    Width = ``spark.sql.shuffle.partitions`` — the session's configured
    shuffle width, i.e. the same knob a 100 TB deployment raises — so the
    driver's reduced-core bench runs keep a consistent layout and nothing
    is tuned to a literal core count. Production pipelines feed the
    operators directly with wide inputs and skip this; it exists for the
    known-narrow single-file bench tables."""
    try:
        n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        # unset or non-numeric (e.g. "auto" on AQE-managed platforms):
        # fall back to the cluster's default parallelism
        n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n)


def dsum(col, alias, scale: int = 2):
    """Order-independent double sum: sum in DECIMAL, cast back to DOUBLE."""
    return F.sum(F.col(col).cast(f"decimal(18,{scale})")).cast("double").alias(alias)


# ---------------------------------------------------------------------------
# W1 — Generator selection: per-group top-k + global top-N (the flagship)
# ---------------------------------------------------------------------------
_W1_ORDER = "l_extendedprice DESC, l_orderkey, l_linenumber"


@q(
    "w1_generate_topk",
    f"""
    SELECT l_orderkey, l_linenumber, l_suppkey, l_extendedprice
    FROM (SELECT l_orderkey, l_linenumber, l_suppkey, l_extendedprice,
                 row_number() OVER (PARTITION BY l_suppkey ORDER BY {_W1_ORDER}) AS rk
          FROM lineitem) tt
    WHERE rk <= 3
    ORDER BY {_W1_ORDER} LIMIT 100
    """,
)
def w1_generate_topk(spark, sf_dir):
    """Generator W1 core: ≤3 rows per supplier by price, then global top-100
    (crawl/Generator.java:579-619 per-host maxCount + topN)."""
    li = t(spark, sf_dir, "lineitem")
    order = [F.desc("l_extendedprice"), F.asc("l_orderkey"), F.asc("l_linenumber")]
    sel = top_k_per_group(li, ["l_suppkey"], order, 3)
    return (
        sel.orderBy(*order)
        .limit(100)
        .select("l_orderkey", "l_linenumber", "l_suppkey", "l_extendedprice")
    )


@q(
    "w1_host_limit",
    """
    WITH db AS (
      SELECT 'http://s' || CAST(l_suppkey AS VARCHAR) || '.com/'
               || CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR) AS url,
             's' || CAST(l_suppkey AS VARCHAR) || '.com' AS host,
             l_extendedprice AS score
      FROM lineitem
    ),
    hd AS (
      SELECT 's' || CAST(s_suppkey AS VARCHAR) || '.com' AS host,
             s_nationkey AS fetched
      FROM supplier WHERE s_suppkey % 2 = 0
    ),
    ranked AS (
      SELECT db.url, db.score,
             row_number() OVER (PARTITION BY db.host
                                ORDER BY db.score DESC, db.url) AS rk,
             COALESCE(CAST(round(1 + (hd.fetched % 3)) AS INT), 2) AS mc,
             CASE WHEN hd.fetched IS NOT NULL
                  THEN CAST(CAST(round(1000 * (hd.fetched % 4)) AS BIGINT) AS VARCHAR)
             END AS delay_ms
      FROM db LEFT JOIN hd ON db.host = hd.host
    )
    SELECT url, 0 AS segment_num, delay_ms, score AS sort_score
    FROM ranked WHERE CAST(FLOOR((rk - 1) / mc) AS INT) < 1
    ORDER BY score DESC, url LIMIT 200
    """,
)
def w1_host_limit(spark, sf_dir):
    """Generator with variable per-host quotas from a HostDb
    (Generator.java:486-545 + TestGenerator.testGenerateHostLimit semantics):
    hosts present in the hostdb get round(JEXL maxCount expr) as their quota,
    absent hosts fall back to generate.max.count; the JEXL fetchDelay lands in
    metadata['_variableFetchDelay_'] in ms. Hostdb is broadcast — the
    fetchlist never reshuffles for the lookup."""
    from nutch_spark.config import NutchConfig
    from nutch_spark.operators.generate import generate

    # fan the narrow numeric projection BEFORE the URL/metadata build so the
    # 600k-row string construction runs wide, not in the single scan task
    li = fan(
        t(spark, sf_dir, "lineitem").select(
            "l_suppkey", "l_orderkey", "l_linenumber", "l_extendedprice"
        )
    )
    s = t(spark, sf_dir, "supplier")
    db = li.select(
        F.concat(
            F.lit("http://s"),
            F.col("l_suppkey").cast("string"),
            F.lit(".com/"),
            F.col("l_orderkey").cast("string"),
            F.lit("-"),
            F.col("l_linenumber").cast("string"),
        ).alias("url"),
        F.lit("db_unfetched").alias("status"),
        F.lit(None).cast("timestamp").alias("fetch_time"),
        F.col("l_extendedprice").alias("score"),
        F.create_map().cast("map<string,string>").alias("metadata"),
    )
    hostdb = s.filter(F.col("s_suppkey") % 2 == 0).select(
        F.concat(F.lit("s"), F.col("s_suppkey").cast("string"), F.lit(".com")).alias(
            "host"
        ),
        F.col("s_nationkey").alias("fetched"),
    )
    cfg = NutchConfig(generate_max_count=2, generate_max_num_segments=1)
    out = generate(
        db,
        200,
        cfg=cfg,
        hostdb=hostdb,
        max_count_expr="1 + (fetched % 3)",
        fetch_delay_expr="1000 * (fetched % 4)",
    )
    return out.select(
        "url",
        "segment_num",
        F.element_at("metadata", "_variableFetchDelay_").alias("delay_ms"),
        "sort_score",
    )


@q(
    "a2_global_topn",
    """
    SELECT c_custkey, c_name, c_acctbal FROM customer
    ORDER BY c_acctbal DESC, c_custkey LIMIT 50
    """,
)
def a2_global_topn(spark, sf_dir):
    """readdb -topN (CrawlDbReader.java:956-1031) as TakeOrderedAndProject."""
    c = t(spark, sf_dir, "customer")
    return top_n(c, 50, "c_acctbal", tie_break="c_custkey").select(
        "c_custkey", "c_name", "c_acctbal"
    )


@q(
    "w4_dedup_rank",
    """
    SELECT l_orderkey, l_linenumber,
           row_number() OVER (
             PARTITION BY md5(concat_ws('|', CAST(l_partkey AS VARCHAR),
                                             CAST(CAST(l_quantity AS INT) AS VARCHAR)))
             ORDER BY l_extendedprice DESC, l_shipdate DESC, l_orderkey, l_linenumber
           ) > 1 AS is_duplicate
    FROM lineitem
    """,
)
def w4_dedup_rank(spark, sf_dir):
    """DeduplicationJob policy chain (DeduplicationJob.java:160-247) with a
    synthetic signature = hash(l_partkey, l_quantity)."""
    li = t(spark, sf_dir, "lineitem")
    sig = F.md5(
        F.concat_ws(
            "|",
            F.col("l_partkey").cast("string"),
            F.col("l_quantity").cast("int").cast("string"),
        )
    )
    marked = mark_duplicates(
        li,
        sig,
        order_by=[
            F.desc("l_extendedprice"),
            F.desc("l_shipdate"),
            F.asc("l_orderkey"),
            F.asc("l_linenumber"),
        ],
    )
    return marked.select("l_orderkey", "l_linenumber", "is_duplicate")


@q(
    "w6_latest_wins",
    """
    SELECT user_id, event_id, event_type, value
    FROM (SELECT user_id, event_id, event_type, value,
                 row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn
          FROM events) tt
    WHERE rn = 1
    """,
)
def w6_latest_wins(spark, sf_dir):
    """Latest-version-wins (SegmentMerger J9 / CrawlDbMerger J10 core)."""
    ev = t(spark, sf_dir, "events")
    return latest_version_wins(
        [ev], "user_id", "ts", tie_break=[F.desc("event_id")]
    ).select("user_id", "event_id", "event_type", "value")


# ---------------------------------------------------------------------------
# A1/A3–A6 — aggregation/statistics family (readdb -stats et al.)
# ---------------------------------------------------------------------------


@q(
    "a1_stats_by_flag",
    """
    SELECT l_returnflag, count(*) AS n,
           min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           count(*) FILTER (WHERE l_discount = 0) AS zero_discount
    FROM lineitem GROUP BY l_returnflag
    """,
)
def a1_stats_by_flag(spark, sf_dir):
    """CrawlDb stats per status (CrawlDbReader.java:371-510): count/min/max/
    sum/avg + a conditional count."""
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
        dsum("l_extendedprice", "sum_price"),
        (
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_price"),
        dsum("l_quantity", "sum_qty"),
        F.count_if(F.col("l_discount") == 0).alias("zero_discount"),
    )


@q(
    "a1_quantiles",
    """
    SELECT round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
           round(quantile_cont(l_extendedprice, 0.50), 4) AS p50,
           round(quantile_cont(l_extendedprice, 0.75), 4) AS p75,
           round(quantile_cont(l_extendedprice, 0.95), 4) AS p95,
           round(quantile_cont(l_extendedprice, 0.99), 4) AS p99
    FROM lineitem
    """,
)
def a1_quantiles(spark, sf_dir):
    """Score-quantile report (CrawlDbReader.java:706-707) — exact percentile
    (mergeable sketch percentile_approx is the 100 TB path; exact here for
    oracle parity)."""
    # fan: the single-row-group scan otherwise accumulates the whole
    # percentile buffer in ONE task; partial buffers build in parallel
    # and merge at the one-row reduce (exact result unchanged).
    # r17 MEASURED AND LEFT: the duplicate-pre-aggregation variant
    # (groupBy(value).count() feeding percentile's frequency argument —
    # value-identical, since the percentile buffer is a value→count map
    # either way) was tried and is SLOWER here: l_extendedprice is 97%
    # distinct (583k of 600k at sf0.1), so the extra keyed exchange
    # collapses almost nothing (fan+raw 1.8-2.0 s vs groupBy+freq
    # 2.6-3.0 s measured back-to-back). On a column with heavy value
    # duplication the frequency form is the right call; not here.
    li = fan(t(spark, sf_dir, "lineitem").select("l_extendedprice"))
    # One array-percentile aggregate (single sort buffer) instead of five
    # scalar ones — 30× faster at sf0.1, same results.
    ps = li.agg(
        F.expr(
            "percentile(l_extendedprice, array(0.25D, 0.50D, 0.75D, 0.95D, 0.99D))"
        ).alias("ps")
    )
    return ps.select(
        *[
            F.round(F.element_at("ps", i + 1), 4).alias(f"p{int(p * 100)}")
            for i, p in enumerate((0.25, 0.50, 0.75, 0.95, 0.99))
        ]
    )


@q(
    "a3_group_numeric",
    """
    SELECT c_nationkey, count(*) AS n,
           min(c_acctbal) AS min_bal, max(c_acctbal) AS max_bal,
           CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_bal,
           count(DISTINCT c_mktsegment) AS n_segments
    FROM customer GROUP BY c_nationkey
    """,
)
def a3_group_numeric(spark, sf_dir):
    """HostDb numeric-field aggregate (UpdateHostDbReducer.java:230-330)."""
    c = t(spark, sf_dir, "customer")
    return c.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("c_acctbal").alias("min_bal"),
        F.max("c_acctbal").alias("max_bal"),
        (
            F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double") / F.count(F.lit(1))
        ).alias("avg_bal"),
        F.countDistinct("c_mktsegment").alias("n_segments"),
    )


@q(
    "a3_value_counts",
    "SELECT c_nationkey, c_mktsegment, count(*) AS n FROM customer GROUP BY 1, 2",
)
def a3_value_counts(spark, sf_dir):
    """HostDb string-field value counts (UpdateHostDbReducer.java:340-370)."""
    c = t(spark, sf_dir, "customer")
    return c.groupBy("c_nationkey", "c_mktsegment").agg(F.count(F.lit(1)).alias("n"))


@q(
    "a4_group_count",
    """
    SELECT o_orderpriority, count(*) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM orders GROUP BY o_orderpriority
    """,
)
def a4_group_count(spark, sf_dir):
    """DomainStatistics-style mode rollup (util/DomainStatistics.java:59-210)."""
    o = t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"), dsum("o_totalprice", "sum_price")
    )


@q(
    "a5_completion",
    """
    SELECT CAST(year(o_orderdate) AS INT) AS order_year, o_orderstatus, count(*) AS n
    FROM orders GROUP BY 1, 2
    """,
)
def a5_completion(spark, sf_dir):
    """CrawlCompletionStats (util/CrawlCompletionStats.java:55-140): counts by
    (group, state-flag)."""
    o = t(spark, sf_dir, "orders")
    return o.groupBy(
        F.year("o_orderdate").cast("int").alias("order_year"), F.col("o_orderstatus")
    ).agg(F.count(F.lit(1)).alias("n"))


@q(
    "a6_json_props",
    """
    SELECT CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_bucket,
           count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1
    """,
)
def a6_json_props(spark, sf_dir):
    """ProtocolStatusStatistics-style metadata rollup + JSON extraction
    (CrawlDbReader.java:258-369 typed metadata)."""
    ev = t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return ev.groupBy((k % 10).alias("k_bucket")).agg(
        F.count(F.lit(1)).alias("n"), dsum("value", "sum_value")
    )


# ---------------------------------------------------------------------------
# J — join family
# ---------------------------------------------------------------------------


@q(
    "j1_inject_merge",
    """
    WITH delta AS (
      SELECT o_orderkey, o_custkey, 'P' AS o_orderstatus, o_totalprice * 1.1 AS o_totalprice,
             o_orderdate, o_orderpriority
      FROM orders WHERE o_orderkey % 7 = 0
    )
    SELECT COALESCE(d.o_orderkey, o.o_orderkey) AS o_orderkey,
           COALESCE(d.o_custkey, o.o_custkey) AS o_custkey,
           COALESCE(d.o_orderstatus, o.o_orderstatus) AS o_orderstatus,
           COALESCE(d.o_totalprice, o.o_totalprice) AS o_totalprice,
           COALESCE(d.o_orderdate, o.o_orderdate) AS o_orderdate,
           COALESCE(d.o_orderpriority, o.o_orderpriority) AS o_orderpriority
    FROM orders o FULL OUTER JOIN delta d ON o.o_orderkey = d.o_orderkey
    """,
)
def j1_inject_merge(spark, sf_dir):
    """Injector J1: full-outer merge with delta precedence
    (crawl/Injector.java:336-395)."""
    o = t(spark, sf_dir, "orders")
    delta = o.filter(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey",
        "o_custkey",
        F.lit("P").alias("o_orderstatus"),
        (F.col("o_totalprice") * 1.1).alias("o_totalprice"),
        "o_orderdate",
        "o_orderpriority",
    )
    return merge_with_precedence(o, delta, "o_orderkey", prefer="delta")


@q(
    "j2_state_machine",
    """
    SELECT user_id,
           count(*) FILTER (WHERE event_type = 'view') AS views,
           count(*) FILTER (WHERE event_type = 'click') AS clicks,
           count(*) FILTER (WHERE event_type = 'purchase') AS purchases,
           CASE WHEN count(*) FILTER (WHERE event_type = 'purchase') > 0 THEN 'converted'
                WHEN count(*) FILTER (WHERE event_type = 'click') > 0 THEN 'engaged'
                WHEN count(*) FILTER (WHERE event_type = 'view') > 0 THEN 'seen'
                ELSE 'inactive' END AS user_status,
           LEAST(count(*) FILTER (WHERE event_type = 'error'), 3) AS retries,
           CAST(max(ts) AS TIMESTAMP) AS last_ts
    FROM events GROUP BY user_id
    """,
)
def j2_state_machine(spark, sf_dir):
    """CrawlDbReducer-style status state machine as CASE WHEN columns over an
    aggregated update stream (crawl/CrawlDbReducer.java:219-337 pattern)."""
    ev = t(spark, sf_dir, "events")
    views = F.count_if(F.col("event_type") == "view")
    clicks = F.count_if(F.col("event_type") == "click")
    purchases = F.count_if(F.col("event_type") == "purchase")
    errors = F.count_if(F.col("event_type") == "error")
    return ev.groupBy("user_id").agg(
        views.alias("views"),
        clicks.alias("clicks"),
        purchases.alias("purchases"),
        F.when(purchases > 0, "converted")
        .when(clicks > 0, "engaged")
        .when(views > 0, "seen")
        .otherwise("inactive")
        .alias("user_status"),
        F.least(errors, F.lit(3)).alias("retries"),
        F.max("ts").alias("last_ts"),
    )


@q(
    "j2_forced_refetch",
    """
    WITH base AS (
      SELECT o_orderkey AS url,
             CAST(o_orderdate AS TIMESTAMP) AS t0,
             CASE WHEN o_orderkey % 3 = 0 THEN 10000000 ELSE 1000000 END AS iv,
             o_orderkey % 2 = 0 AS fetched,
             o_orderkey % 4 = 0 AS changed
      FROM orders
    )
    SELECT url,
      CASE WHEN fetched AND iv > 7776000 THEN 'db_unfetched'
           WHEN fetched AND NOT changed THEN 'db_notmodified'
           WHEN fetched THEN 'db_fetched'
           ELSE 'db_fetched' END AS status,
      CASE WHEN fetched THEN t0 + INTERVAL 1 DAY + to_seconds(iv)
           ELSE t0 END AS fetch_time,
      0 AS retries,
      CASE WHEN fetched AND iv > 7776000 THEN 6998400 ELSE iv END AS fetch_interval,
      CASE WHEN fetched AND iv > 7776000 THEN NULL
           WHEN fetched AND changed THEN md5('n' || CAST(url AS VARCHAR))
           ELSE md5('s' || CAST(url AS VARCHAR)) END AS sig_hex,
      CASE WHEN fetched AND iv > 7776000 THEN NULL
           WHEN fetched AND changed THEN t0 + INTERVAL 1 DAY
           ELSE t0 END AS modified_time
    FROM base
    """,
)
def j2_forced_refetch(spark, sf_dir):
    """Forced-refetch branch of the updatedb state machine
    (CrawlDbReducer.java:298-304 → AbstractFetchSchedule.forceRefetch:226-237):
    a fetched row whose interval exceeds db.fetch.interval.max flips to
    db_unfetched with retries/signature/modified_time cleared and the interval
    clamped to max*0.9; other rows follow the normal success path. Drives the
    real update_crawldb operator end to end."""
    from nutch_spark.operators.updatedb import update_crawldb

    o = t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    t0 = F.col("o_orderdate").cast("timestamp")
    iv = F.when(k % 3 == 0, 10_000_000).otherwise(1_000_000)
    old_sig = F.unhex(F.md5(F.concat(F.lit("s"), k.cast("string"))))
    db = o.select(
        k.alias("url"),
        F.lit("db_fetched").alias("status"),
        t0.alias("fetch_time"),
        F.lit(0).alias("retries"),
        iv.alias("fetch_interval"),
        F.lit(1.0).cast("float").alias("score"),
        old_sig.alias("signature"),
        t0.alias("modified_time"),
        F.create_map().cast("map<string,string>").alias("metadata"),
    )
    new_sig = F.unhex(
        F.md5(
            F.concat(
                F.when(k % 4 == 0, F.lit("n")).otherwise(F.lit("s")),
                k.cast("string"),
            )
        )
    )
    fetch = o.filter(k % 2 == 0).select(
        k.alias("url"),
        F.lit("fetch_success").alias("status"),
        (t0 + F.expr("INTERVAL 1 DAY")).alias("fetch_time"),
        new_sig.alias("signature"),
        F.lit(None).cast("map<string,string>").alias("metadata"),
    )
    out = update_crawldb(db, fetch, now=F.to_timestamp(F.lit("2026-06-01 00:00:00")))
    return out.select(
        "url",
        "status",
        "fetch_time",
        "retries",
        "fetch_interval",
        F.lower(F.hex("signature")).alias("sig_hex"),
        "modified_time",
    )


@q(
    "j3_multiway_join",
    """
    SELECT n.n_name, count(*) AS n,
           CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))) AS DOUBLE)
             AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def j3_multiway_join(spark, sf_dir):
    """Indexing join J3: multi-way join rooted at the fact table
    (indexer/IndexerMapReduce.java:309-512 shape)."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey, "left")
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(rev).cast("double").alias("revenue"))
    )


@q(
    "j3_index_fields",
    """
    WITH base AS (SELECT doc_id AS k FROM documents)
    SELECT k AS doc_id,
      CASE k % 4
        WHEN 0 THEN 'application/pdf'
        WHEN 1 THEN 'text/html'
        WHEN 2 THEN CASE WHEN k % 8 = 2 THEN 'application/pdf'
                         ELSE 'application/octet-stream' END
        ELSE 'application/vnd.ms-powerpoint' END AS type,
      CASE k % 4
        WHEN 0 THEN 'application' WHEN 1 THEN 'text'
        WHEN 2 THEN 'application' ELSE 'application' END AS primary_type,
      CASE k % 4
        WHEN 0 THEN 'pdf'
        WHEN 1 THEN 'html'
        WHEN 2 THEN CASE WHEN k % 8 = 2 THEN 'pdf' ELSE 'octet-stream' END
        ELSE 'vnd.ms-powerpoint' END AS sub_type,
      CASE WHEN k % 3 = 0 THEN 123 END AS content_length,
      CASE k % 5
        WHEN 0 THEN TIMESTAMP '1994-11-06 08:49:37'
        WHEN 1 THEN TIMESTAMP '2021-12-31 10:00:00'
        WHEN 2 THEN TIMESTAMP '1994-11-06 08:49:37'
        ELSE CASE WHEN k % 7 = 0 THEN TIMESTAMP '2026-01-03 00:00:00'
                  ELSE TIMESTAMP '2026-01-02 00:00:00' END END AS date,
      CASE WHEN k % 2 = 0 THEN 'T' || CAST(k AS VARCHAR)
           ELSE CASE k % 6 WHEN 1 THEN 'bar.pdf' WHEN 3 THEN NULL
                           WHEN 5 THEN NULL END END AS title,
      least('o' || CAST(k % 3 AS VARCHAR), 'o' || CAST((k + 1) % 3 AS VARCHAR))
        || '.com,'
        || greatest('o' || CAST(k % 3 AS VARCHAR), 'o' || CAST((k + 1) % 3 AS VARCHAR))
        || '.com' AS outlink_hosts,
      'test' AS collection,
      CASE k % 4
        WHEN 0 THEN 'application/PDF; version=1.7'
        WHEN 1 THEN 'text/html; charset=utf-8'
        WHEN 3 THEN 'application/vnd.ms-powerpoint' END AS meta_content_content_type
    FROM base
    """,
)
def j3_index_fields(spark, sf_dir):
    """Indexing-filter chain breadth (§2.11): index-more date/length/type
    (MoreIndexingFilter.java:109-305 incl. NUTCH-1010 trim, mime parts,
    Content-Disposition title fallback), index-links host-only outlinks with
    same-host suppression (LinksIndexingFilter.java:60-160), index-static
    constants, index-metadata copy-through (MetadataIndexer.java:60-104) —
    all as one chained column-transform pass over a synthesized doc stream."""
    from nutch_spark.operators.index_filters import (
        links_indexing_fields,
        metadata_fields,
        more_indexing_fields,
        static_fields,
    )

    d = t(spark, sf_dir, "documents")
    k = F.col("doc_id")
    s = k.cast("string")
    ctype = (
        F.when(k % 4 == 0, "application/PDF; version=1.7")
        .when(k % 4 == 1, "text/html; charset=utf-8")
        .when(k % 4 == 3, "application/vnd.ms-powerpoint")
    )
    meta_entries = F.map_filter(
        F.create_map(
            F.lit("Content-Type"), ctype,
            F.lit("Content-Length"),
            F.when(k % 3 == 0, "  123  ").when(k % 3 == 1, "   "),
            F.lit("Last-Modified"),
            F.when(k % 5 == 0, "Sun, 06 Nov 1994 08:49:37 GMT")
            .when(k % 5 == 1, "Dec 31 2021 10:00:00 GMT")
            .when(k % 5 == 2, "1994/11/06 08:49:37"),
            F.lit("Content-Disposition"),
            F.when(k % 6 == 0, 'inline; filename="foo.ppt"')
            .when(k % 6 == 1, "attachment; filename=bar.pdf"),
        ),
        lambda _, v: v.isNotNull(),
    )
    link = lambda h: F.struct(h.alias("to_url"), F.lit("").alias("anchor"))  # noqa: E731
    doc = d.select(
        k.alias("doc_id"),
        F.concat(
            F.lit("http://d"), (k % 40).cast("string"), F.lit(".com/p"), s,
            F.when(k % 8 == 2, ".pdf").otherwise(""),
        ).alias("url"),
        F.when(k % 2 == 0, F.concat(F.lit("T"), s)).otherwise("").alias("title"),
        meta_entries.alias("content_meta"),
        F.when(k % 7 != 0, F.to_timestamp(F.lit("2026-01-02 00:00:00"))).alias(
            "modified_time"
        ),
        F.to_timestamp(F.lit("2026-01-03 00:00:00")).alias("fetched_at"),
        F.array(
            link(F.concat(F.lit("http://o"), (k % 3).cast("string"), F.lit(".com/x"))),
            link(F.concat(F.lit("http://d"), (k % 40).cast("string"), F.lit(".com/self"))),
            link(F.concat(F.lit("http://o"), ((k + 1) % 3).cast("string"), F.lit(".com/y"))),
        ).alias("outlinks"),
    )
    doc = more_indexing_fields(doc)
    doc = links_indexing_fields(
        doc, hosts_only=True, ignore_outlinks_same_host=True, inlinks=None
    )
    doc = static_fields(doc, {"collection": "test"})
    doc = metadata_fields(doc, content_keys=("Content-Type",))
    return doc.select(
        "doc_id",
        "type",
        "primary_type",
        "sub_type",
        "content_length",
        "date",
        "title",
        F.array_join("outlink_urls", ",").alias("outlink_hosts"),
        "collection",
        "meta_content_content_type",
    )


@q(
    "j7_broadcast_join",
    """
    SELECT s.s_name, count(*) AS n,
           CAST(sum(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY s.s_name
    """,
)
def j7_broadcast_join(spark, sf_dir):
    """Generator hostdb lookup J7: explicit broadcast of the small dimension
    (crawl/Generator.java:369-392 in-memory host map)."""
    li = t(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier")
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("n"), dsum("l_quantity", "sum_qty"))
    )


@q(
    "j9_segment_merge",
    """
    WITH seg AS (
      SELECT event_id, 1 AS segment, value FROM events
      UNION ALL
      SELECT event_id, 2 AS segment, value * 2 AS value FROM events WHERE event_id % 3 = 0
    )
    SELECT event_id, segment, value
    FROM (SELECT event_id, segment, value,
                 row_number() OVER (PARTITION BY event_id ORDER BY segment DESC) rn
          FROM seg) tt
    WHERE rn = 1
    """,
)
def j9_segment_merge(spark, sf_dir):
    """SegmentMerger J9: n-way union, latest-segment-wins
    (segment/SegmentMerger.java:104-112)."""
    ev = t(spark, sf_dir, "events")
    s1 = ev.select("event_id", F.lit(1).alias("segment"), "value")
    s2 = ev.filter(F.col("event_id") % 3 == 0).select(
        "event_id", F.lit(2).alias("segment"), (F.col("value") * 2).alias("value")
    )
    return latest_version_wins([s1, s2], "event_id", "segment")


# ---------------------------------------------------------------------------
# G — graph family
# ---------------------------------------------------------------------------


@q(
    "g1_invert_capped",
    """
    SELECT part, suppkey FROM (
      SELECT l_partkey AS part, l_suppkey AS suppkey,
             row_number() OVER (PARTITION BY l_partkey ORDER BY l_suppkey) rk
      FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) tt
    ) WHERE rk <= 5
    """,
)
def g1_invert_capped(spark, sf_dir):
    """LinkDb inversion G1 + J11 cap: per target, sorted dedup'd source set
    capped at K (crawl/LinkDb.java:80-181, LinkDbMerger.java:95-110)."""
    li = t(spark, sf_dir, "lineitem")
    inv = invert_edges(
        li.select("l_suppkey", "l_partkey"),
        src="l_suppkey",
        dst="l_partkey",
        cap=5,
        out_key="part",
        out_col="supps",
    )
    return inv.select("part", F.explode("supps").alias("s")).select(
        "part", F.col("s.from_url").alias("suppkey")
    )


@q(
    "a7_degrees",
    """
    WITH e AS (SELECT DISTINCT l_suppkey AS src, l_partkey AS dst FROM lineitem),
    outd AS (SELECT src AS url, count(*) AS num_outlinks FROM e GROUP BY src),
    ind  AS (SELECT dst AS url, count(*) AS num_inlinks  FROM e GROUP BY dst)
    SELECT COALESCE(outd.url, ind.url) AS url,
           COALESCE(num_outlinks, 0) AS num_outlinks,
           COALESCE(num_inlinks, 0) AS num_inlinks
    FROM outd FULL OUTER JOIN ind ON outd.url = ind.url
    """,
)
def a7_degrees(spark, sf_dir):
    """WebGraph NodeDb degree counts A7 (WebGraph.java:484-510)."""
    li = t(spark, sf_dir, "lineitem")
    edges = li.select(
        F.col("l_suppkey").alias("src"), F.col("l_partkey").alias("dst")
    ).distinct()
    return node_degrees(edges)


@q(
    "g_cocitation",
    """
    -- Co-citation: parts cited together by the same source (order),
    -- >= 2 common sources; sources above the 1000-outlink cap are
    -- dropped BEFORE the self-join (none at this SF — semantics pinned,
    -- cost guard exercised at scale).
    WITH e AS (SELECT DISTINCT l_orderkey AS src, l_partkey AS dst FROM lineitem),
    hot AS (SELECT src FROM e GROUP BY src HAVING count(*) > 1000),
    b AS (SELECT * FROM e WHERE src NOT IN (SELECT src FROM hot)),
    p AS (
      SELECT a.dst AS url_a, b2.dst AS url_b, count(*) AS common_sources
      FROM b a JOIN b b2 ON a.src = b2.src AND a.dst < b2.dst
      GROUP BY 1, 2
    )
    SELECT url_a, url_b, common_sources FROM p WHERE common_sources >= 2
    """,
)
def g_cocitation(spark, sf_dir):
    """Co-citation pairs (webgraph.cocitation_pairs): pages cited
    together by the same source — the classic link-graph relatedness /
    link-farm signal, and the graph twin of the shared-shingle dedup
    join. Single-pass shape with the ngram_jaccard quadratic-hot-bucket
    guard: a source above ``max_outlinks`` distinct targets
    (directory/sitemap pages that co-cite everything) is dropped BEFORE
    its target set is collected and paired, so pair volume is bounded by
    Σ min(deg, cap)² — never |edges|². Reference parity: the webgraph
    family's OutlinkDb is the input (WebGraph.java:275-296); the
    reference stops at degrees, this completes the relatedness layer."""
    from nutch_spark.operators.webgraph import cocitation_pairs

    li = t(spark, sf_dir, "lineitem")
    edges = li.select(
        F.col("l_orderkey").alias("src"), F.col("l_partkey").alias("dst")
    )
    return cocitation_pairs(edges, min_common=2, max_outlinks=1000)


# ---------------------------------------------------------------------------
# F — filter/predicate surface
# ---------------------------------------------------------------------------


@q(
    "f4_filter_surface",
    """
    SELECT event_id, user_id, event_type, value FROM events
    WHERE regexp_matches(event_type, '^(click|view)$')
      AND value >= 10 AND user_id % 7 != 0
    """,
)
def f4_filter_surface(spark, sf_dir):
    """Dump filters F4 (CrawlDbReader.java:892-954): regex + threshold +
    modulo predicates, all pushed to the scan."""
    ev = t(spark, sf_dir, "events")
    return ev.filter(
        F.col("event_type").rlike("^(click|view)$")
        & (F.col("value") >= 10)
        & (F.col("user_id") % 7 != 0)
    ).select("event_id", "user_id", "event_type", "value")


_JEXL = "value gt 10.0 && (event_type eq 'click' || event_type eq 'view')"


@q(
    "f5_jexl_expr",
    f"SELECT event_id, user_id, value FROM events WHERE {jexl_to_sql(_JEXL)}",
)
def f5_jexl_expr(spark, sf_dir):
    """JEXL expression surface F5 (CrawlDatum.java:573-625) — the translated
    SQL string is used verbatim on both engines."""
    ev = t(spark, sf_dir, "events")
    return ev.filter(F.expr(jexl_to_sql(_JEXL))).select("event_id", "user_id", "value")


@q(
    "f8_hash_sample",
    """
    SELECT event_id, user_id, value FROM events
    WHERE substr(md5(CAST(event_id AS VARCHAR)), 1, 1) = '0'
    """,
)
def f8_hash_sample(spark, sf_dir):
    """Deterministic Bernoulli sample F8 (CrawlDbReader.java:921-923) — hash
    sampling instead of Math.random() so runs are reproducible."""
    ev = t(spark, sf_dir, "events")
    return ev.filter(
        F.substring(F.md5(F.col("event_id").cast("string")), 1, 1) == "0"
    ).select("event_id", "user_id", "value")


# ---------------------------------------------------------------------------
# W5 / D3 / D6 — bounded top-K contributions, OPIC share, adaptive schedule
# ---------------------------------------------------------------------------


@q(
    "w5_topk_contribs",
    """
    SELECT l_orderkey,
           list_aggregate(list_sort(list(l_extendedprice), 'DESC')[1:3], 'sum') AS top3_sum
    FROM lineitem GROUP BY l_orderkey
    """,
)
def w5_topk_contribs(spark, sf_dir):
    """Top-K inlink contributions W5 (CrawlDbReducer.java:359-373): bounded
    priority queue == row_number pre-cap on the shuffle key, THEN a ≤K-element
    collect — a hot key never materializes an unbounded aggregation buffer
    (the window sort is external/spillable). Fold order is descending score,
    matching the reference PQ drain."""
    li = t(spark, sf_dir, "lineitem")
    topk = top_k_per_group(
        li.select("l_orderkey", "l_extendedprice"),
        ["l_orderkey"],
        [F.desc("l_extendedprice")],
        3,
    )
    return topk.groupBy("l_orderkey").agg(
        F.aggregate(
            F.reverse(F.array_sort(F.collect_list("l_extendedprice"))),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("top3_sum")
    )


@q(
    "d3_opic_share",
    """
    SELECT l.l_orderkey, l.l_linenumber,
           o.o_totalprice / count(*) OVER (PARTITION BY l.l_orderkey) AS share
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    """,
)
def d3_opic_share(spark, sf_dir):
    """OPIC score distribution D3 (OPICScoringFilter.java:131-176):
    parent score split evenly over outlinks."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    w = Window.partitionBy("l_orderkey")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            "l_orderkey",
            "l_linenumber",
            (F.col("o_totalprice") / F.count(F.lit(1)).over(w)).alias("share"),
        )
    )


@q(
    "d6_adaptive_schedule",
    """
    SELECT event_id,
           CAST(FLOOR(LEAST(GREATEST(
             CASE WHEN event_type = 'click' THEN (value * 1000 + 60) * 0.8
                  ELSE (value * 1000 + 60) * 1.4 END, 60.0), 31536000.0)) AS INT)
             AS next_interval
    FROM events
    """,
)
def d6_adaptive_schedule(spark, sf_dir):
    """AdaptiveFetchSchedule D6 (AdaptiveFetchSchedule.java:303-370): interval
    grow/shrink + clamp as column arithmetic."""
    ev = t(spark, sf_dir, "events")
    interval = F.col("value") * 1000 + 60
    modified = F.col("event_type") == "click"
    return ev.select(
        "event_id",
        adaptive_interval(interval, modified).alias("next_interval"),
    )


# ---------------------------------------------------------------------------
# U — set ops; S1 — seed parsing
# ---------------------------------------------------------------------------


@q(
    "u1_union_distinct",
    """
    SELECT user_id AS id FROM events UNION SELECT o_custkey AS id FROM orders
    """,
)
def u1_union_distinct(spark, sf_dir):
    """Multi-input union + distinct U1/U2 (crawl/CrawlDb.java:111-125)."""
    ev = t(spark, sf_dir, "events")
    o = t(spark, sf_dir, "orders")
    return (
        ev.select(F.col("user_id").alias("id"))
        .unionByName(o.select(F.col("o_custkey").alias("id")))
        .distinct()
    )


@q(
    "s1_seed_parse",
    """
    WITH lines AS (
      SELECT 'http://site' || CAST(doc_id % 50 AS VARCHAR) || '.com/page' || CAST(doc_id AS VARCHAR)
             || chr(9) || 'nutch.score=' || CAST(doc_id % 5 AS VARCHAR)
             || chr(9) || 'depth=' || CAST(doc_id % 3 AS VARCHAR) AS line
      FROM documents
    )
    SELECT split_part(line, chr(9), 1) AS url,
           CAST(split_part(split_part(line, chr(9), 2), '=', 2) AS INT) AS seed_score,
           CAST(split_part(split_part(line, chr(9), 3), '=', 2) AS INT) AS depth
    FROM lines
    """,
)
def s1_seed_parse(spark, sf_dir):
    """Seed-file parsing S1 (crawl/Injector.java:62-84): URL + tab-separated
    k=v metadata, through the real parse_seed_lines operator."""
    from nutch_spark.sources.seeds import parse_seed_lines

    docs = t(spark, sf_dir, "documents")
    lines = docs.select(
        F.concat(
            F.lit("http://site"),
            (F.col("doc_id") % 50).cast("string"),
            F.lit(".com/page"),
            F.col("doc_id").cast("string"),
            F.lit("\t"),
            F.lit("nutch.score="),
            (F.col("doc_id") % 5).cast("string"),
            F.lit("\t"),
            F.lit("depth="),
            (F.col("doc_id") % 3).cast("string"),
        ).alias("value")
    )
    parsed = parse_seed_lines(lines)
    return parsed.select(
        "url",
        F.element_at("metadata", "nutch.score").cast("int").alias("seed_score"),
        F.element_at("metadata", "depth").cast("int").alias("depth"),
    )
