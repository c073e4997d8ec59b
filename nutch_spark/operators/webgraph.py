"""WebGraph — edge/node table construction (SURVEY.md §2.9 G2, §2.4 A7/A9,
§2.5 W3) and LinkDumper/NodeDumper views (G5/G6).

Reference: /root/reference/src/java/org/apache/nutch/scoring/webgraph/
WebGraph.java:94-829 — three derived tables:
  OutlinkDb: latest-fetch-wins edge set, deduplicated per (src page → dst
             page) and optionally limited to one edge per target domain
             (WebGraph.java:275-296 LinkedHashMap dedup);
  InlinkDb:  edge inversion (:444-471);
  NodeDb:    degree counts (:484-510) + inlink score.

Spark: one edges DataFrame; latest-wins is a ranking window; degrees are two
groupBy counts joined full-outer (a self-join on an already-shuffled edge set
— AQE merges the exchanges).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nutch_spark.config import DEFAULT, NutchConfig
from nutch_spark.functions.urls import url_domain, url_host
from nutch_spark.topk import top_k_per_group


def build_edges(
    parse_data: DataFrame,
    *,
    cfg: NutchConfig = DEFAULT,
    dedup_by_domain: bool = False,
) -> DataFrame:
    """parse_data → outlink edge table with latest-fetch-wins + per-page dedup."""
    edges = parse_data.select(
        F.col("url").alias("src"),
        F.col("segment_id"),
        F.explode("outlinks").alias("o"),
    ).select(
        "src",
        "segment_id",
        F.col("o.to_url").alias("dst"),
        F.col("o.anchor").alias("anchor"),
    )
    # latest version of each page wins (WebGraph.java:367-427)
    edges = top_k_per_group(
        edges, ["src", "dst"], [F.desc("segment_id"), F.asc("anchor")], 1
    )
    if dedup_by_domain:  # one edge per (src, target domain), WebGraph.java:275-296
        edges = top_k_per_group(edges, ["src", url_domain("dst")], [F.asc("dst")], 1)
    return edges


def node_degrees(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    url_alias: str = "url",
) -> DataFrame:
    """NodeDb degree counts (WebGraph.java:484-510): full outer join of
    out-degree and in-degree aggregations. Generic over edge column names."""
    out_deg = edges.groupBy(F.col(src).alias(url_alias)).agg(
        F.count(F.lit(1)).alias("num_outlinks")
    )
    in_deg = edges.groupBy(F.col(dst).alias(url_alias)).agg(
        F.count(F.lit(1)).alias("num_inlinks")
    )
    return (
        out_deg.join(in_deg, url_alias, "full_outer")
        .withColumn("num_outlinks", F.coalesce("num_outlinks", F.lit(0)))
        .withColumn("num_inlinks", F.coalesce("num_inlinks", F.lit(0)))
    )


def node_rollup(
    nodes: DataFrame,
    *,
    by: str = "host",
    metric: str = "inlink_score",
    agg: str = "sum",
    url: str = "url",
) -> DataFrame:
    """NodeDumper host/domain rollup (NodeDumper.java:172-265): SUM or MAX of
    a node metric grouped by host or domain."""
    g = url_host(url) if by == "host" else url_domain(url)
    fn = F.sum if agg == "sum" else F.max
    return nodes.groupBy(g.alias(by)).agg(fn(metric).alias(f"{agg}_{metric}"))


def top_nodes(nodes: DataFrame, n: int, metric: str = "inlink_score") -> DataFrame:
    """NodeDumper top URLs by metric (NodeDumper.java:84-164)."""
    return nodes.orderBy(F.desc(metric), F.asc("url")).limit(n)


def cocitation_pairs(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    min_common: int = 2,
    max_outlinks: int = 1000,
) -> DataFrame:
    """Co-citation similarity: pairs of pages CITED TOGETHER — (a, b)
    with the number of distinct sources linking to BOTH. The classic
    link-graph relatedness/spam signal (co-cited pages are topically
    related; link farms co-cite their whole roster), and the graph twin
    of the dedup family's shared-shingle join.

    Scale shape: single pass, no self-join — the same quadratic-hot-bucket
    guard as ngram_jaccard_pairs first (a source with more than
    ``max_outlinks`` distinct targets is dropped BEFORE any per-source
    pairing: a directory/sitemap page that links to everything co-cites
    everything — its pairs are noise and its cost is |outlinks|²), then
    each surviving source's distinct-target SET is collected once (the
    agg buffer is bounded by the cap, which is why the guard must come
    first) and its ordered pairs generated by a double explode. Pair
    volume is bounded by Σ min(deg, cap)² over sources, never |edges|²,
    and — unlike the former src-keyed self-join — the edge set is read,
    deduplicated and exchanged ONCE instead of once per join side, with
    no edge-set-sized broadcast build. One groupBy on the pair closes it.

    A NULL target is no edge: it is filtered before the guard, so the
    guard's distinct-target count and the collected target sets see the
    same edge set.

    Output: (url_a, url_b, common_sources), url_a < url_b."""
    e = edges.select(src, dst).filter(F.col(dst).isNotNull())
    deg = e.groupBy(src).agg(F.count_distinct(F.col(dst)).alias("_d"))
    bounded = e.join(
        F.broadcast(deg.filter(F.col("_d") > max_outlinks).select(src)),
        src,
        "left_anti",
    )
    cited = bounded.groupBy(src).agg(F.collect_set(dst).alias("_ds"))
    pairs = (
        cited.select(F.explode("_ds").alias("url_a"), "_ds")
        .select("url_a", F.explode("_ds").alias("url_b"))
        .filter(F.col("url_a") < F.col("url_b"))
    )
    return (
        pairs.groupBy("url_a", "url_b")
        .agg(F.count(F.lit(1)).alias("common_sources"))
        .filter(F.col("common_sources") >= min_common)
    )
