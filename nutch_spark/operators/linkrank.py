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
from nutch_spark.iterate import iterate
from nutch_spark.topk import top_k_per_group


def linkrank(
    edges: DataFrame,
    *,
    cfg: NutchConfig = DEFAULT,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Compute LinkRank scores; returns (url, score)."""
    d = float(cfg.linkrank_damping)

    # dedup contributions per source page and per source domain (:558-597).
    # The (domain, dst) winner is deterministic (min src) — dropDuplicates
    # would pick an arbitrary row per partition layout, making scores
    # nondeterministic run to run.
    page_uniq = edges.select(src, dst).dropDuplicates([src, dst])
    uniq = top_k_per_group(page_uniq, [url_domain(src), dst], [F.asc(src)], 1)

    nodes = (
        page_uniq.select(F.col(src).alias("url"))
        .union(page_uniq.select(F.col(dst).alias("url")))
        .distinct()
    )
    # The static tables are reused every round. The contribution
    # denominator is the node's FULL webgraph outlink count
    # (Node.getNumOutlinks, set before the per-target domain dedup) — so
    # out_deg comes from page_uniq, not the domain-deduped edge set.
    # localCheckpoint, NOT cache: cache keeps the logical plan, and the
    # domain-dedup window carries the full-PSL InSet literals — re-analyzing
    # that plan in all 10 rounds costs more driver time than the whole
    # computation. A checkpoint, lazy or not, truncates it to a LogicalRDD
    # at once (when a lazy one runs: nutch_spark/iterate.py).
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

    def rank_round(scores: DataFrame) -> DataFrame:
        # J5 inverter: contribution = score(src)/numOutlinks(src) (:413-494)
        joined = uniq_deg.join(scores, uniq_deg[src] == scores["url"]).drop("url")
        contribs = joined.select(
            F.col(dst).alias("url"),
            (F.col("score") / F.col("num_outlinks")).alias("contrib"),
        )
        agg = contribs.groupBy("url").agg(F.sum("contrib").alias("contrib_sum"))
        return agg.select(
            "url",
            (
                F.lit(1.0 - d)
                + F.lit(d) * (F.lit(rank_one) + F.coalesce("contrib_sum", F.lit(0.0)))
            ).alias("score"),
        ).unionByName(no_in.select("url", const_score))

    scores = nodes.withColumn("score", F.lit(float(cfg.linkrank_initial_score)))
    # a fixed round count (LinkRank.java), so no convergence test
    scores, _ = iterate(scores, rank_round, cfg.linkrank_iterations)
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
