"""LinkRank — iterative link analysis (SURVEY.md §2.9 G3) + ScoreUpdater (J4).

Reference: /root/reference/src/java/org/apache/nutch/scoring/webgraph/
LinkRank.java:302-707. This is NOT textbook PageRank:

  - rankOne = 1/N is added INSIDE the damping term:
      score(v) = (1 - d) + d * (rankOne + Σ contributions)   (LinkRank.java:604)
  - a contribution from u to v is inlinkScore(u)/numOutlinks(u)
    (Node.java:67-69), and at most ONE contribution per source page and per
    source *domain* is counted (LinkRank.java:558-597 duplicate sets);
  - fixed iteration count (link.analyze.num.iterations = 10), no convergence
    test; initial score 1.0.

GraphFrames' pageRank would be close but not bit-compatible, so the loop is
written out with DataFrame joins.  Scale notes: each iteration is one join
(edges ⋈ scores on src — co-partitioned after the first iteration since we
repartition edges by src once and reuse) + one groupBy(dst). Lineage is
truncated every iteration via localCheckpoint to keep plans O(1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nutch_spark.config import DEFAULT, NutchConfig
from nutch_spark.functions.urls import url_domain


def linkrank(
    edges: DataFrame,
    *,
    cfg: NutchConfig = DEFAULT,
    src: str = "src",
    dst: str = "dst",
    skew_buckets: int | None = None,
    skew_hot_threshold: int = 1_000_000,
) -> DataFrame:
    """Compute LinkRank scores; returns (url, score).

    ``skew_buckets``: when set, the per-iteration inverter join (edge set
    keyed by src × unique per-src scores) routes through
    ``datapipe.skew.skew_salted_join`` — the ONE join in the crawl
    pipeline whose left side repeats a key up to a page's out-degree, so
    a mega-hub src (sitemap index pages, link farms) pins a reducer in
    the plain join. The right side is unique per src, so hot-slice
    replication costs exactly ``buckets`` rows per hot page. Keys hotter
    than ``skew_hot_threshold`` salt; results are multiset-identical to
    the plain join (test_linkrank asserts equality). The OTHER join
    shapes in this family don't need salting and deliberately don't get
    the flag: J2's update join and J4's score join are unique-key per
    side (no key can be hot), and the hostdb/contribution rollups are
    groupBy aggregations where Spark's partial (map-side) aggregation
    already absorbs skew."""
    d = float(cfg.linkrank_damping)

    # dedup contributions per source page and per source domain (:558-597).
    # The (domain, dst) winner is deterministic (min src) — dropDuplicates
    # would pick an arbitrary row per partition layout, making scores
    # nondeterministic run to run.
    from pyspark.sql import Window

    page_uniq = edges.select(src, dst).dropDuplicates([src, dst])
    dom_w = Window.partitionBy(url_domain(src), dst).orderBy(F.asc(src))
    uniq = (
        page_uniq.withColumn("_rk", F.row_number().over(dom_w))
        .filter(F.col("_rk") == 1)
        .drop("_rk")
    )

    nodes = (
        page_uniq.select(F.col(src).alias("url"))
        .union(page_uniq.select(F.col(dst).alias("url")))
        .distinct()
    )
    # Materialize the static tables eagerly: reused every iteration. The
    # contribution denominator is the node's FULL webgraph outlink count
    # (Node.getNumOutlinks, set before the per-target domain dedup) — so
    # out_deg comes from page_uniq, not the domain-deduped edge set.
    # localCheckpoint, NOT cache: cache keeps the logical plan, and the
    # domain-dedup window carries the full-PSL InSet literals — re-analyzing
    # that plan in all 10 iteration jobs costs more driver time than the
    # whole computation. Checkpointing truncates it to a LogicalRDD.
    # LAZY checkpoints: each still truncates the Catalyst plan to a
    # LogicalRDD immediately (analysis stays O(1) per iteration — the
    # original reason for checkpointing here); materialization is deferred
    # to the first consuming job instead of costing one driver-synchronous
    # job each. nodes materializes in the count() right below; out_deg and
    # uniq materialize inside iteration 1's job.
    out_deg = page_uniq.groupBy(src).agg(
        F.count(F.lit(1)).alias("num_outlinks")
    )
    # Hoist the LOOP-INVARIANT joins out of the iteration (r17, guide §2.4
    # fewer shuffles / §5 planning cost). Two per-round joins were
    # loop-invariant:
    #   (a) edges ⋈ out_deg — the denominator never changes; pre-join it
    #       into the edge table once (uniq_deg), saving one join per round;
    #   (b) nodes ⟕ agg — it only existed to re-instate pages with NO
    #       inlinks, whose score is the CONSTANT (1-d) + d*(rankOne + 0.0)
    #       from round 1 on. Those pages are exactly nodes ∖ dst(uniq), a
    #       loop-invariant set computed once (no_in); each round now UNIONS
    #       the constant rows instead of re-joining the full node set.
    # Per-page values are unchanged: contribution division, the damped-sum
    # expression and the constant are the identical double ops in the
    # identical order (the constant is evaluated by the same
    # (1-d)+d*(rankOne+0.0) expression the join's NULL branch produced).
    uniq_deg = (
        uniq.join(out_deg, src)
        .repartition(F.col(src))
        .localCheckpoint(eager=False)
    )
    nodes = nodes.localCheckpoint(eager=False)
    n_nodes = nodes.count()  # LinkRank.java:90-178 (counter job)
    rank_one = 1.0 / max(n_nodes, 1)

    # pages with no inlink edge: constant score each round (see above);
    # computed once, reused by every round's union and the final result
    no_in = nodes.join(
        uniq_deg.select(F.col(dst).alias("url")).distinct(), "url", "left_anti"
    ).localCheckpoint(eager=False)
    const_score = (
        F.lit(1.0 - d) + F.lit(d) * (F.lit(rank_one) + F.lit(0.0))
    ).alias("score")

    scores = nodes.withColumn("score", F.lit(float(cfg.linkrank_initial_score)))
    for _ in range(cfg.linkrank_iterations):
        # J5 inverter: contribution = score(src)/numOutlinks(src) (:413-494)
        if skew_buckets:
            from nutch_spark.datapipe.skew import skew_salted_join

            joined = skew_salted_join(
                uniq_deg,
                scores.withColumnRenamed("url", src),
                [src],
                buckets=skew_buckets,
                hot_threshold=skew_hot_threshold,
            )
        else:
            joined = uniq_deg.join(scores, uniq_deg[src] == scores["url"]).drop(
                "url"
            )
        contribs = joined.select(
            F.col(dst).alias("url"),
            (F.col("score") / F.col("num_outlinks")).alias("contrib"),
        )
        agg = contribs.groupBy("url").agg(F.sum("contrib").alias("contrib_sum"))
        scores = agg.select(
            "url",
            (
                F.lit(1.0 - d)
                + F.lit(d) * (F.lit(rank_one) + F.coalesce("contrib_sum", F.lit(0.0)))
            ).alias("score"),
        ).unionByName(no_in.select("url", const_score))
        # Checkpoint to truncate lineage: WITHOUT one, 10 iterations of
        # join+agg stack into one mega-plan whose analysis alone
        # dominates runtime (35s → ~8s at sf0.01); at scale the
        # untruncated plan would also re-execute on failure recovery.
        # LAZY (r16): localCheckpoint replaces the logical plan with a
        # LogicalRDD immediately whether or not it is eager — analysis
        # stays O(1) either way — but eager=True additionally ran one
        # driver-synchronous job PER ITERATION. With no per-round
        # convergence decision (the count is FIXED at 10,
        # LinkRank.java), the rounds can chain lazily and the final
        # action materializes all 10 checkpointed RDDs in ONE job;
        # each round's partitions still persist at first computation,
        # so failure recovery replays at most one round.
        scores = scores.localCheckpoint(eager=False)
    return scores


def update_scores(
    crawldb: DataFrame,
    nodes: DataFrame,
    *,
    cfg: NutchConfig = DEFAULT,
    node_score: str = "score",
) -> DataFrame:
    """ScoreUpdater (J4): crawldb ⟕ nodes; score := node score else
    link.score.updater.clear.score (ScoreUpdater.java:60-138)."""
    n = nodes.select(F.col("url"), F.col(node_score).alias("_node_score"))
    return (
        crawldb.join(n, "url", "left")
        .withColumn(
            "score",
            F.coalesce(
                F.col("_node_score"), F.lit(float(cfg.link_score_updater_clear_score))
            ).cast("float"),
        )
        .drop("_node_score")
    )
