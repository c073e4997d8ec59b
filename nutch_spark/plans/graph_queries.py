"""Graph / iterative / scheduling correctness queries (SURVEY.md §2.9-§2.10,
§2.5, plus the net-new streaming window surface) over the driver's tables.

The LinkRank oracle unrolls the reference's 10 fixed iterations
(link.analyze.num.iterations, LinkRank.java:682) as chained CTEs — the
formula `score = (1-d) + d*(rankOne + Σ contribs)` with rankOne INSIDE the
damping term (LinkRank.java:604) is reproduced line for line, so the oracle
certifies the non-textbook semantics, not generic PageRank.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from nutch_spark.operators.dedup import mark_duplicates
from nutch_spark.operators.linkrank import linkrank, update_scores
from nutch_spark.operators.webgraph import node_degrees
from nutch_spark.plans.driver_queries import REGISTRY, dsum, fan, q, t
from nutch_spark.topk import top_k_per_group

# ---------------------------------------------------------------------------
# G3 — LinkRank (iterative), with unrolled-CTE oracle
# ---------------------------------------------------------------------------

_EDGES_SQL = """
  SELECT DISTINCT 'http://s' || CAST(l_suppkey AS VARCHAR) || '.com/a' AS src,
                  'http://p' || CAST(l_partkey AS VARCHAR) || '.com/a' AS dst
  FROM lineitem WHERE l_partkey % 10 = 0
"""


def _linkrank_oracle(iterations: int = 10, d: float = 0.85) -> str:
    steps = []
    for k in range(1, iterations + 1):
        prev = f"s{k - 1}"
        steps.append(
            f"""s{k} AS (
      SELECT n.url, {1 - d} + {d} * ((SELECT 1.0 / n FROM nn) + COALESCE(c.s, 0.0)) AS score
      FROM nodes n LEFT JOIN (
        SELECT e.dst, sum(p.score / od.deg) AS s
        FROM {prev} p JOIN e0 e ON e.src = p.url JOIN outdeg od ON od.src = e.src
        GROUP BY e.dst
      ) c ON c.dst = n.url)"""
        )
    joined = ",\n    ".join(steps)
    return f"""
    WITH e0 AS ({_EDGES_SQL}),
    nodes AS (SELECT src AS url FROM e0 UNION SELECT dst FROM e0),
    outdeg AS (SELECT src, count(*) AS deg FROM e0 GROUP BY src),
    nn AS (SELECT count(*) AS n FROM nodes),
    s0 AS (SELECT url, CAST(1.0 AS DOUBLE) AS score FROM nodes),
    {joined}
    SELECT url, round(score, 6) AS score FROM s{iterations}
    """


@q("g3_linkrank", _linkrank_oracle())
def g3_linkrank(spark, sf_dir):
    """LinkRank G3 (LinkRank.java:302-707): 10 fixed iterations of
    invert-with-score + per-target damped sum, rankOne inside the damping
    term, one contribution per source page/domain. Each iteration is one
    co-partitioned join + one groupBy; lineage truncated per iteration."""
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_partkey") % 10 == 0)
    edges = li.select(
        F.concat(F.lit("http://s"), F.col("l_suppkey").cast("string"), F.lit(".com/a")).alias("src"),
        F.concat(F.lit("http://p"), F.col("l_partkey").cast("string"), F.lit(".com/a")).alias("dst"),
    )
    scores = linkrank(edges)
    return scores.select("url", F.round("score", 6).alias("score"))


@q(
    "j4_score_update",
    """
    WITH nodes AS (
      SELECT o_custkey AS url, CAST(count(*) AS DOUBLE) AS node_score
      FROM orders WHERE o_orderkey % 3 = 0 GROUP BY o_custkey
    )
    SELECT c.c_custkey, c.c_name,
           CAST(COALESCE(n.node_score, 0.0) AS REAL) AS score
    FROM customer c LEFT JOIN nodes n ON c.c_custkey = n.url
    """,
)
def j4_score_update(spark, sf_dir):
    """ScoreUpdater J4 (ScoreUpdater.java:60-138): crawldb left-join nodes,
    score := node score else clear-score 0.0 (float)."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    nodes = (
        o.filter(F.col("o_orderkey") % 3 == 0)
        .groupBy(F.col("o_custkey").alias("url"))
        .agg(F.count(F.lit(1)).cast("double").alias("score"))
    )
    db = c.select(F.col("c_custkey").alias("url"), "c_custkey", "c_name")
    return update_scores(db, nodes).select("c_custkey", "c_name", "score")


@q(
    "a9_node_rollup",
    """
    WITH e AS (SELECT DISTINCT l_suppkey AS src, l_partkey AS dst FROM lineitem),
    outd AS (SELECT src AS url, count(*) AS num_outlinks FROM e GROUP BY src),
    ind  AS (SELECT dst AS url, count(*) AS num_inlinks  FROM e GROUP BY dst),
    nodes AS (SELECT COALESCE(outd.url, ind.url) AS url,
                     COALESCE(num_outlinks, 0) AS num_outlinks,
                     COALESCE(num_inlinks, 0) AS num_inlinks
              FROM outd FULL OUTER JOIN ind ON outd.url = ind.url)
    SELECT url % 50 AS host, CAST(sum(num_inlinks) AS BIGINT) AS sum_inlinks,
           max(num_outlinks) AS max_outlinks, count(*) AS n_nodes
    FROM nodes GROUP BY url % 50
    """,
)
def a9_node_rollup(spark, sf_dir):
    """NodeDumper host/domain rollup A9 (NodeDumper.java:172-265): group node
    metric by host, aggregate SUM or MAX."""
    li = t(spark, sf_dir, "lineitem")
    edges = li.select(F.col("l_suppkey").alias("src"), F.col("l_partkey").alias("dst")).distinct()
    nodes = node_degrees(edges)
    return nodes.groupBy((F.col("url") % 50).alias("host")).agg(
        F.sum("num_inlinks").cast("long").alias("sum_inlinks"),
        F.max("num_outlinks").alias("max_outlinks"),
        F.count(F.lit(1)).alias("n_nodes"),
    )


@q(
    "w3_top_nodes",
    """
    WITH e AS (SELECT DISTINCT l_suppkey AS src, l_partkey AS dst FROM lineitem),
    ind AS (SELECT dst AS url, count(*) AS num_inlinks FROM e GROUP BY dst)
    SELECT url, num_inlinks FROM ind ORDER BY num_inlinks DESC, url LIMIT 25
    """,
)
def w3_top_nodes(spark, sf_dir):
    """NodeDumper top-URLs W3 (NodeDumper.java:84-164): global top-N nodes by
    a degree metric — TakeOrderedAndProject, no full sort."""
    li = t(spark, sf_dir, "lineitem")
    edges = li.select(F.col("l_suppkey").alias("src"), F.col("l_partkey").alias("dst")).distinct()
    return (
        edges.groupBy(F.col("dst").alias("url"))
        .agg(F.count(F.lit(1)).alias("num_inlinks"))
        .orderBy(F.desc("num_inlinks"), F.asc("url"))
        .limit(25)
    )


@q(
    "g5_linkdumper",
    """
    WITH e AS (SELECT DISTINCT l_suppkey AS src, l_partkey AS dst FROM lineitem),
    scored AS (SELECT e.src, e.dst, s.s_acctbal AS src_score
               FROM e JOIN supplier s ON e.src = s.s_suppkey)
    SELECT src, dst, src_score
    FROM (SELECT *, row_number() OVER (PARTITION BY dst
                                       ORDER BY src_score DESC, src) AS rk
          FROM scored)
    WHERE rk <= 3
    """,
)
def g5_linkdumper(spark, sf_dir):
    """LinkDumper G5 (scoring/webgraph/LinkDumper.java): inverted link view
    with source scores — per target, the top-K scored inlinks."""
    li = t(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier")
    edges = li.select(F.col("l_suppkey").alias("src"), F.col("l_partkey").alias("dst")).distinct()
    scored = edges.join(
        F.broadcast(s.select(F.col("s_suppkey").alias("src"), F.col("s_acctbal").alias("src_score"))),
        "src",
    )
    return top_k_per_group(
        scored, ["dst"], [F.desc("src_score"), F.asc("src")], 3
    ).select("src", "dst", "src_score")


# ---------------------------------------------------------------------------
# D1 — grouped dedup; J6 — hostdb aggregate with percentiles
# ---------------------------------------------------------------------------


@q(
    "d1_grouped_dedup",
    """
    SELECT l_orderkey, l_linenumber,
           row_number() OVER (
             PARTITION BY md5(concat_ws('|', CAST(l_partkey AS VARCHAR),
                                             CAST(CAST(l_quantity AS INT) AS VARCHAR))),
                          l_suppkey % 10
             ORDER BY l_extendedprice DESC, l_shipdate DESC, l_orderkey, l_linenumber
           ) > 1 AS is_duplicate
    FROM lineitem
    """,
)
def d1_grouped_dedup(spark, sf_dir):
    """DeduplicationJob D1 with group mode host (deduplication.group.mode):
    signature+host grouping before the best-of-group policy chain."""
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
        group_extra=[(F.col("l_suppkey") % 10)],
        order_by=[
            F.desc("l_extendedprice"),
            F.desc("l_shipdate"),
            F.asc("l_orderkey"),
            F.asc("l_linenumber"),
        ],
    )
    return marked.select("l_orderkey", "l_linenumber", "is_duplicate")


@q(
    "j6_hostdb_agg",
    """
    SELECT c_nationkey AS host, count(*) AS n,
           count(*) FILTER (WHERE c_mktsegment = 'BUILDING') AS n_building,
           count(*) FILTER (WHERE c_mktsegment = 'AUTOMOBILE') AS n_automobile,
           round(quantile_cont(c_acctbal, 0.50), 4) AS p50_bal,
           round(quantile_cont(c_acctbal, 0.75), 4) AS p75_bal,
           round(quantile_cont(c_acctbal, 0.95), 4) AS p95_bal,
           round(quantile_cont(c_acctbal, 0.99), 4) AS p99_bal
    FROM customer GROUP BY c_nationkey
    """,
)
def j6_hostdb_agg(spark, sf_dir):
    """HostDb aggregate J6/A3 (UpdateHostDbReducer.java:176-399): per-host
    status histogram + exact percentiles 50/75/95/99 of a numeric field
    (hostdb.percentiles, nutch-default.xml:2973)."""
    c = t(spark, sf_dir, "customer")
    ps = F.expr("percentile(c_acctbal, array(0.50D, 0.75D, 0.95D, 0.99D))")
    agg = c.groupBy(F.col("c_nationkey").alias("host")).agg(
        F.count(F.lit(1)).alias("n"),
        F.count_if(F.col("c_mktsegment") == "BUILDING").alias("n_building"),
        F.count_if(F.col("c_mktsegment") == "AUTOMOBILE").alias("n_automobile"),
        ps.alias("ps"),
    )
    return agg.select(
        "host",
        "n",
        "n_building",
        "n_automobile",
        *[
            F.round(F.element_at("ps", i + 1), 4).alias(f"p{p}_bal")
            for i, p in enumerate((50, 75, 95, 99))
        ],
    )


# ---------------------------------------------------------------------------
# Streaming surface (net-new, SURVEY.md §2.8): tumbling-window aggregation —
# identical logic batch/streaming; checked in batch mode against the oracle.
# ---------------------------------------------------------------------------


@q(
    "st_tumbling_window",
    """
    SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS win_start,
           event_type, count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def st_tumbling_window(spark, sf_dir):
    """Tumbling-window rollup (the Structured Streaming dashboard query from
    SURVEY.md §2.8 run in batch mode): window(ts, 1 hour) x event_type. The
    same plan runs under readStream with a watermark on ts."""
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("win"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"), dsum("value", "sum_value"))
        .select(
            F.col("win.start").alias("win_start"), "event_type", "n", "sum_value"
        )
    )


# ---------------------------------------------------------------------------
# J10 — CrawlDbMerger with metadata newest-precedence merge
# ---------------------------------------------------------------------------


@q(
    "j10_crawldb_merge",
    """
    WITH base AS (
      SELECT o_orderkey AS url, o_orderstatus AS status,
             CAST(o_totalprice AS DOUBLE) AS score, o_orderpriority AS prio
      FROM orders
    )
    SELECT url,
           CASE WHEN url % 4 = 0 THEN 'P2' ELSE status END AS status,
           CASE WHEN url % 4 = 0 THEN score * 2 ELSE score END AS score,
           CASE WHEN url % 4 = 0 THEN md5('extra=x,prio=' || prio || ',src=db2')
                ELSE md5('prio=' || prio || ',src=db1') END AS meta_digest
    FROM base
    """,
)
def j10_crawldb_merge(spark, sf_dir):
    """CrawlDbMerger J10 (CrawlDbMerger.java:69-117): newest-fetch-time row
    wins, metadata merged with newest precedence (putAllMetaData). The
    oracle reconstructs the expected winner and a canonical sorted-entries
    digest of the merged map, so both the row selection and the map-merge
    semantics are certified."""
    from nutch_spark.operators.merge import merge_crawldbs

    o = t(spark, sf_dir, "orders")
    db1 = o.select(
        F.col("o_orderkey").alias("url"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_orderdate").alias("fetch_time"),
        F.col("o_totalprice").cast("double").alias("score"),
        F.create_map(
            F.lit("src"), F.lit("db1"), F.lit("prio"), F.col("o_orderpriority")
        ).alias("metadata"),
    )
    db2 = o.filter(F.col("o_orderkey") % 4 == 0).select(
        F.col("o_orderkey").alias("url"),
        F.lit("P2").alias("status"),
        (F.col("o_orderdate") + F.expr("INTERVAL 1 DAY")).alias("fetch_time"),
        (F.col("o_totalprice").cast("double") * 2).alias("score"),
        F.create_map(F.lit("src"), F.lit("db2"), F.lit("extra"), F.lit("x")).alias(
            "metadata"
        ),
    )
    merged = merge_crawldbs([db1, db2])
    digest = F.md5(
        F.concat_ws(
            ",",
            F.array_sort(
                F.transform(
                    F.map_entries("metadata"),
                    lambda e: F.concat(e["key"], F.lit("="), e["value"]),
                )
            ),
        )
    )
    return merged.select("url", "status", "score", digest.alias("meta_digest"))


assert "g3_linkrank" in REGISTRY
