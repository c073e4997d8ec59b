"""Scale-hazard regression tests: the inlink caps must be applied BEFORE any
aggregation buffer materializes (VERDICT r1 "What's wrong" #2 — the bounded
priority queue of crawl/CrawlDbReducer.java:359-373 / LinkDbMerger.java:95-110
re-expressed as a windowed pre-cap on the shuffle key).

The hot-key tests build one destination with 10^6 inlinks and cap at 10^4;
plan assertions pin that a Window+Filter precedes the collect aggregate, so
no >cap array is ever built in an aggregation buffer (the window sort is an
external, spillable sort).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from nutch_spark.config import NutchConfig
from nutch_spark.operators.invertlinks import invert_edges
from nutch_spark.operators.updatedb import aggregate_updates

HOT = 1_000_000
CAP = 10_000


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_invert_edges_hot_key_bounded(spark):
    # one viral dst with 10^6 distinct sources + a small control dst
    edges = spark.range(HOT).select(
        F.concat(F.lit("http://s"), F.col("id")).alias("src"),
        F.lit("http://viral.com/").alias("dst"),
    ).unionAll(
        spark.range(3).select(
            F.concat(F.lit("http://t"), F.col("id")).alias("src"),
            F.lit("http://tiny.com/").alias("dst"),
        )
    )
    inv = invert_edges(edges, src="src", dst="dst", cap=CAP)
    plan = _plan(inv)
    # the cap must run as a windowed pre-filter, not a post-agg slice
    assert "dense_rank" in plan, plan
    assert "slice" not in plan.lower()
    rows = {r["to_url"]: r["inlinks"] for r in inv.collect()}
    assert len(rows["http://viral.com/"]) == CAP
    # deterministic: the lexicographically-smallest CAP sources are kept
    kept = [x["from_url"] for x in rows["http://viral.com/"]]
    assert kept == sorted(kept)
    assert len(rows["http://tiny.com/"]) == 3


def test_invert_edges_dense_rank_ignores_duplicate_structs(spark):
    # duplicates of an in-cap struct must not consume cap slots
    edges = spark.createDataFrame(
        [("http://a", "http://d")] * 5
        + [("http://b", "http://d"), ("http://c", "http://d")],
        "src string, dst string",
    )
    inv = invert_edges(edges, src="src", dst="dst", cap=2)
    [row] = inv.collect()
    assert [x["from_url"] for x in row["inlinks"]] == ["http://a", "http://b"]


def test_updatedb_topk_hot_key_bounded(spark):
    cfg = NutchConfig(update_max_inlinks=CAP)
    fetch = spark.createDataFrame([], "url string, status string, fetch_time timestamp, signature binary, metadata map<string,string>")
    # 10^6 link contributions to one URL, score == id so top-K is known
    emits = spark.range(HOT).select(
        F.lit("http://viral.com/").alias("url"),
        F.lit("linked").alias("status"),
        F.col("id").cast("float").alias("score"),
        F.lit(None).cast("binary").alias("signature"),
    )
    agg = aggregate_updates(fetch, emits, cfg=cfg)
    plan = _plan(agg)
    assert "row_number" in plan, plan
    assert "slice" not in plan.lower()
    [row] = agg.collect()
    # sum of the CAP largest scores: HOT-1 ... HOT-CAP
    want = float(sum(range(HOT - CAP, HOT)))
    assert row["link_score"] == want
    assert row["link_count"] == HOT


def test_substring_spans_hot_gram_no_explosion(spark):
    # 2000 identical docs make every 10-gram maximally hot: the duplicate
    # set is found via groupBy and joined back LEFT-SEMI, so cost stays
    # O(occurrences) — never occurrences^2 pair amplification. Each doc
    # must get exactly ONE whole-doc span.
    from nutch_spark.datapipe.dedup import exact_substring_spans

    docs = spark.range(2000).selectExpr(
        "id AS doc_id", "'a b c d e f g h i j k l' AS text"
    )
    out = exact_substring_spans(docs, n=10)
    assert out.count() == 2000
    spans = out.select("span_start", "span_end").distinct().collect()
    assert [(r["span_start"], r["span_end"]) for r in spans] == [(1, 13)]


def test_bucketed_crawldb_join_is_exchange_free(spark, tmp_path):
    """SCALE.md's production-layout claim, proven at the plan level:
    crawldb/segment tables bucketed+sorted on url make the url-keyed merge
    a zipper SortMergeJoin with NO Exchange on either side (the shuffle
    happened once, at write time). This is the layout every url-keyed job
    (inject/updatedb/dedup/merge) rides at 100 TB."""
    rows = [(f"http://h{i % 7}.com/p{i}", float(i)) for i in range(200)]
    a = spark.createDataFrame(rows, "url string, score double")
    b = spark.createDataFrame(rows, "url string, fetch_interval double")
    for name, df in (("t_crawldb_bucketed", a), ("t_segment_bucketed", b)):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            df.write.mode("overwrite")
            .bucketBy(8, "url")
            .sortBy("url")
            .saveAsTable(name)
        )
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("t_crawldb_bucketed").join(
            spark.table("t_segment_bucketed"), "url"
        )
        plan = _plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan
        assert joined.count() == 200
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS t_crawldb_bucketed")
        spark.sql("DROP TABLE IF EXISTS t_segment_bucketed")


def test_skew_salted_join_matches_plain_join(spark):
    """skew_salted_join's output row multiset is IDENTICAL to the plain
    join, with hot keys actually routed through the salted branch."""
    from collections import Counter

    from nutch_spark.datapipe.skew import skew_salted_join

    left_rows = [("hot", i) for i in range(500)] + [
        (f"k{i % 7}", i) for i in range(60)
    ]
    right_rows = [("hot", "H1"), ("hot", "H2")] + [
        (f"k{i}", f"V{i}") for i in range(7)
    ] + [("orphan", "X")]
    left = spark.createDataFrame(left_rows, "host string, v int")
    right = spark.createDataFrame(right_rows, "host string, meta string")

    got = Counter(
        (r.host, r.v, r.meta)
        for r in skew_salted_join(
            left, right, ["host"], buckets=4, hot_threshold=100
        ).collect()
    )
    want = Counter(
        (r.host, r.v, r.meta)
        for r in left.join(right, ["host"], "inner").collect()
    )
    assert got == want and sum(want.values()) == 500 * 2 + 60

    # hot census: only 'hot' exceeds the threshold, so the replicated
    # right slice is 2 rows x 4 salts, not |right| x 4
    plan = skew_salted_join(
        left, right, ["host"], buckets=4, hot_threshold=100
    )._jdf.queryExecution().executedPlan().toString()
    assert "Union" in plan

    import pytest

    with pytest.raises(ValueError):
        skew_salted_join(left, right, ["host"], how="cross")


def test_skew_salted_join_outer_modes_match_plain_join(spark):
    """left/right/full outer salted joins null-extend EXACTLY like the
    plain join: a left-hot row carries one salt so it null-extends once;
    a right row with a hot key always has left partners so the hot slice
    never right-null-extends; 'orphan' right rows surface only in
    right/full via the cold slice."""
    from collections import Counter

    from nutch_spark.datapipe.skew import skew_salted_join

    # 'hot' is hot on the left but ABSENT from the right → exercises
    # hot-slice null-extension; 'orphan' is right-only → cold right/full.
    left_rows = [("hot", i) for i in range(400)] + [
        (f"k{i % 5}", i) for i in range(40)
    ]
    right_rows = [(f"k{i}", f"V{i}") for i in range(3)] + [("orphan", "X")]
    left = spark.createDataFrame(left_rows, "host string, v int")
    right = spark.createDataFrame(right_rows, "host string, meta string")

    for how in ("left", "right", "full"):
        got = Counter(
            (r.host, r.v, r.meta)
            for r in skew_salted_join(
                left, right, ["host"], buckets=4, hot_threshold=100, how=how
            ).collect()
        )
        want = Counter(
            (r.host, r.v, r.meta)
            for r in left.join(right, ["host"], how).collect()
        )
        assert got == want, how
    # sanity: the full join surfaced both the hot null-extensions and
    # the orphan right row
    full = Counter(
        (r.host, r.v, r.meta)
        for r in skew_salted_join(
            left, right, ["host"], buckets=4, hot_threshold=100, how="full"
        ).collect()
    )
    assert full[("hot", 0, None)] == 1 and full[("orphan", None, "X")] == 1


def test_skew_salted_join_salt_is_content_deterministic(spark):
    """The salt derives from row content, not partition layout: the same
    data shuffled into a different partitioning produces the same
    (host, v) → salt assignment, so task retries can't split a row's
    join pairs across salts."""
    from pyspark.sql import functions as F

    rows = [("hot", i) for i in range(300)]
    a = spark.createDataFrame(rows, "host string, v int").repartition(2)
    b = spark.createDataFrame(rows, "host string, v int").repartition(17, "v")
    salt = F.pmod(F.xxhash64("host", "v"), F.lit(8)).cast("int")
    sa = {(r.host, r.v): r.s for r in a.select("host", "v", salt.alias("s")).collect()}
    sb = {(r.host, r.v): r.s for r in b.select("host", "v", salt.alias("s")).collect()}
    assert sa == sb and len(set(sa.values())) > 1


def test_skew_salted_join_with_map_column(spark):
    """A crawldb-shaped left side (metadata MAP column) must salt fine:
    xxhash64 rejects MapType, so the salt hashes the hashable columns
    only — results still multiset-identical to the plain join."""
    from collections import Counter

    from nutch_spark.datapipe.skew import skew_salted_join

    left = spark.createDataFrame(
        [("hot", i, {"d": str(i)}) for i in range(300)]
        + [("cold", 0, {})],
        "host string, v int, metadata map<string,string>",
    )
    right = spark.createDataFrame(
        [("hot", "H"), ("cold", "C")], "host string, meta string"
    )
    got = Counter(
        (r.host, r.v, r.meta)
        for r in skew_salted_join(
            left, right, ["host"], buckets=4, hot_threshold=100
        ).collect()
    )
    want = Counter(
        (r.host, r.v, r.meta)
        for r in left.join(right, ["host"], "inner").collect()
    )
    assert got == want and sum(want.values()) == 301


def test_bucket_pairs_cap_boundary_drop_split_and_off(spark):
    """skew.bucket_pairs, the guard every near-dup operator shares: a
    bucket of exactly max_bucket rows still pairs, one of max_bucket + 1
    rows is hot; a hot bucket drops (split=None) or pairs only rows equal
    on the split column; None turns the guard off; 0 raises."""
    import pytest

    from nutch_spark.datapipe.skew import bucket_pairs

    # bucket "at": 3 rows (= cap); bucket "over": 4 rows, split values
    # x, x, y, NULL — only the two x rows share a sub-bucket
    rows = spark.createDataFrame(
        [(1, "at", "p", 10), (2, "at", "q", 20), (3, "at", "r", 30),
         (4, "over", "x", 40), (5, "over", "x", 50), (6, "over", "y", 60),
         (7, "over", None, 70)],
        "id long, k string, s string, v int",
    )

    def pairs(**kw):
        return sorted(tuple(r) for r in bucket_pairs(rows, "id", ["k"], **kw).collect())

    at = [(1, 2), (1, 3), (2, 3)]
    over = [(a, b) for a in range(4, 8) for b in range(a + 1, 8)]
    assert pairs(max_bucket=3) == at
    assert pairs(max_bucket=3, split="s") == at + [(4, 5)]
    assert pairs(max_bucket=4) == sorted(at + over)
    assert pairs(max_bucket=None) == sorted(at + over)
    assert pairs(max_bucket=None, split="s") == sorted(at + over)
    carried = bucket_pairs(rows, "id", ["k"], max_bucket=3, carry=("v",))
    assert carried.columns == ["id_a", "id_b", "v_a", "v_b"]
    assert sorted(tuple(r) for r in carried.collect()) == [
        (1, 2, 10, 20), (1, 3, 10, 30), (2, 3, 20, 30)
    ]
    with pytest.raises(ValueError):
        bucket_pairs(rows, "id", ["k"], max_bucket=0)


def test_minhash_lsh_hot_bucket_guard(spark):
    """minhash_lsh_pairs' hot-bucket guard (round 14): a 21-copy flood makes
    every band bucket of the flooded signature hot at cap=4; identical
    signatures keep pairing (the dedup answer), while a near-copy that only
    meets the flood through hot buckets stops generating candidates — the
    quadratic bucket self-join never materializes. Unguarded run pins the
    candidate-count bound the guard removes."""
    from nutch_spark.datapipe.dedup import minhash_lsh_pairs

    base = (
        "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
        "kilo lima mike november oscar papa quebec romeo sierra tango "
        "uniform victor whiskey xray yankee zulu one two three four"
    )
    docs = spark.createDataFrame(
        [(i, base) for i in range(21)] + [(99, base + " extra suffix tokens")],
        "doc_id long, text string",
    )
    guarded = minhash_lsh_pairs(docs, threshold=0.5, max_bucket=4).collect()
    # all 210 within-flood pairs survive (identical signature digest)...
    assert len(guarded) == 21 * 20 // 2
    assert all(r["jaccard"] == 1.0 for r in guarded)
    assert all(r["id_b"] != 99 for r in guarded)
    # ...and WITHOUT the guard the near-copy pairs against every flood
    # member through the hot buckets: exactly the 21 extra candidates the
    # guard is there to stop (at web scale: millions, squared)
    unguarded = minhash_lsh_pairs(docs, threshold=0.5, max_bucket=None).collect()
    assert len(unguarded) == 21 * 20 // 2 + 21
    assert sum(r["id_b"] == 99 for r in unguarded) == 21


def test_dhash_near_dup_flood_collapse_and_band_cap(spark):
    """dhash_near_dup (round 14): identical hashes collapse to ONE row in
    the banded candidate join (a 50-copy flood costs C(50,2) output rows,
    never 50^2·bands candidates), and a 16-bit band key saturated by more
    than max_band_bucket DISTINCT hashes drops that band's candidates —
    pairs whose only agreement is the hot band disappear, pairs with a
    quiet agreeing band survive."""
    from nutch_spark.datapipe.multimodal import dhash_near_dup

    def signed(v):
        return v - (1 << 64) if v >= 1 << 63 else v

    rows = []
    # 50 identical copies (the flood): hash V
    V = 0x0123456789ABCDEF
    rows += [(i, signed(V)) for i in range(50)]
    # 10 DISTINCT hashes sharing band 0 (low 16 bits) AND bands 2,3 (zeros):
    # all three shared bands go hot at cap=3; consecutive members are within
    # hamming 3 of each other but agree ONLY on hot bands
    rows += [(100 + i, signed((i << 16) | 0x1234)) for i in range(1, 11)]
    # a quiet near pair: agree on band 3 key 0xAAAA (only these two), hamming 2
    rows += [(201, signed((0xAAAA << 48) | 0x1)), (202, signed((0xAAAA << 48) | 0x2))]
    hashes = spark.createDataFrame(rows, "media_id long, dhash long")

    got = dhash_near_dup(hashes, max_hamming=3, bands=4, max_band_bucket=3)
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in got.collect()}
    flood = {(a, b): h for (a, b), h in pairs.items() if b < 100}
    assert len(flood) == 50 * 49 // 2 and set(flood.values()) == {0}
    assert pairs[(201, 202)] == 2  # quiet band key survives the cap
    hot_only = [(a, b) for (a, b) in pairs if 100 <= a < 200]
    assert hot_only == []  # hot-band-only agreements dropped

    # without the cap the hot band-0 group pairs quadratically: the exact
    # candidate count the guard removes (members at hamming <= 3: i vs i+1
    # differ by bits of (i ^ (i+1)) in band 1)
    uncapped = dhash_near_dup(hashes, max_hamming=3, bands=4, max_band_bucket=None)
    up = {(r["id_a"], r["id_b"]) for r in uncapped.collect()}
    extra = {(a, b) for (a, b) in up if 100 <= a < 200}
    assert len(extra) > 0 and (100 + 1, 100 + 2) not in pairs
    assert up - extra == set(pairs)


def test_dhash_dup_clusters_linear_on_flood(spark):
    """Cluster mode (round 15): a k-copy flood yields exactly k output rows
    — member pairs NEVER materialize (pair mode would emit C(k,2) ≈ 2M rows
    for k=2000). The quotient plan iterates over distinct hashes only: the
    physical plan's only self-joins are between 4-row representative
    tables, so no stage is quadratic in members."""
    from nutch_spark.datapipe.multimodal import dhash_dup_clusters

    k = 2000
    rows = [(i, 0) for i in range(k)]  # the flood: one hash, 2000 copies
    rows += [(10_000, 1), (10_001, 3)]  # near the flood hash (hamming <= 2)
    rows += [(20_000, 0x00FF00FF00FF00FF)]  # far singleton
    hashes = spark.createDataFrame(rows, "media_id long, dhash long")
    got = {r["media_id"]: (r["component"], r["is_duplicate"])
           for r in dhash_dup_clusters(hashes).collect()}
    assert len(got) == k + 3  # LINEAR: one row per member
    # flood + both near hashes close into one component labeled min id 0
    for i in list(range(k)) + [10_000, 10_001]:
        assert got[i] == (0, i != 0)
    assert got[20_000] == (20_000, False)  # far hash: own singleton


def test_dup_components_pre_collapsed_groups(spark):
    """dup_components(groups=): pair endpoints rewrite to representatives,
    propagation runs on the quotient, members expand once — identical
    components to expanding each group as star edges."""
    from nutch_spark.datapipe.dedup import dup_components

    nodes = spark.createDataFrame([(i,) for i in range(10)], "doc_id long")
    # groups: {0,1,2} rep 0, {5,6} rep 5; 3,4,7,8,9 ungrouped
    groups = spark.createDataFrame(
        [(0, 0), (1, 0), (2, 0), (5, 5), (6, 5)], "doc_id long, rep long"
    )
    # pairs reference MEMBERS (not reps): 2-3 bridges group A to node 3,
    # 6-7 bridges group B to 7; 8-9 an ungrouped pair
    pairs = spark.createDataFrame(
        [(2, 3), (6, 7), (8, 9)], "id_a long, id_b long"
    )
    got = {r["doc_id"]: (r["component"], r["is_duplicate"])
           for r in dup_components(nodes, pairs, groups=groups).collect()}
    expect = {0: 0, 1: 0, 2: 0, 3: 0, 4: 4, 5: 5, 6: 5, 7: 5, 8: 8, 9: 8}
    assert {k: v[0] for k, v in got.items()} == expect
    assert all(got[k][1] == (k != got[k][0]) for k in got)
    # star-edge expansion (no groups) agrees
    star = pairs.unionByName(
        groups.filter("doc_id != rep").selectExpr("doc_id AS id_a", "rep AS id_b")
    )
    via_stars = {r["doc_id"]: r["component"]
                 for r in dup_components(nodes, star).collect()}
    assert via_stars == expect


def test_minhash_dup_clusters_linear_on_flood(spark):
    """minhash_dup_clusters: a 500-copy text flood is one signature group —
    one banded-join row, one quotient node, exactly 500 output rows; a
    near-copy joins the cluster through a representative-level estimator
    edge; an unrelated doc stays singleton."""
    from nutch_spark.datapipe.dedup import minhash_dup_clusters

    base = " ".join(f"token{i} word{i * 7 % 31}" for i in range(120))
    rows = [(i, base) for i in range(500)]
    rows += [(900, base + " one extra tail")]  # Jaccard ≈ 0.99
    rows += [(901, "completely different content about spark catalyst "
                   "optimizer rules and adaptive query execution planning")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["component"], r["is_duplicate"])
           for r in minhash_dup_clusters(docs, threshold=0.5).collect()}
    assert len(got) == 502  # LINEAR in members
    for i in range(500):
        assert got[i] == (0, i != 0)
    assert got[900] == (0, True)  # near copy joins via estimator edge
    assert got[901] == (901, False)


def test_cluster_mode_equals_pair_mode_plus_components(spark):
    """EQUIVALENCE: dhash_dup_clusters must compute exactly
    dup_components(nodes, dhash_near_dup(pairs)) on arbitrary inputs —
    the quotient construction is an optimization, never a semantics
    change. Three seeded random hash multisets (dups, near groups, far
    outliers) check it."""
    import random

    from nutch_spark.datapipe.dedup import dup_components
    from nutch_spark.datapipe.multimodal import dhash_dup_clusters, dhash_near_dup

    for seed in (7, 23, 91):
        rng = random.Random(seed)
        base_hashes = [rng.getrandbits(63) for _ in range(12)]
        rows = []
        mid = 0
        for h in base_hashes:
            for _copy in range(rng.randrange(1, 5)):  # exact dups
                rows.append((mid, h))
                mid += 1
            if rng.random() < 0.5:  # a near variant within hamming 3
                flip = h ^ (1 << rng.randrange(64)) ^ (1 << rng.randrange(64))
                rows.append((mid, flip - (1 << 64) if flip >= 1 << 63 else flip))
                mid += 1
        hashes = spark.createDataFrame(rows, "media_id long, dhash long")
        via_clusters = {
            r["media_id"]: (r["component"], r["is_duplicate"])
            for r in dhash_dup_clusters(hashes).collect()
        }
        pairs = dhash_near_dup(hashes)
        via_pairs = {
            r["media_id"]: (r["component"], r["is_duplicate"])
            for r in dup_components(
                hashes.select("media_id"), pairs, "media_id"
            ).collect()
        }
        assert via_clusters == via_pairs, seed


def test_minhash_cluster_mode_equals_pair_mode_plus_components(spark):
    """UNGUARDED EQUIVALENCE + GUARDED RECALL ADVANTAGE.

    With the hot-bucket guard OFF, minhash_dup_clusters computes exactly
    dup_components(nodes, minhash_lsh_pairs(verify='estimate')) — the
    quotient construction is an optimization, never a semantics change.

    With a small guard ON, the modes legitimately DIFFER, in cluster
    mode's favor: pair mode's census counts member ids, so a copy flood
    saturates every band bucket and a near-VARIANT whose only agreeing
    buckets are flooded is missed (it shares no signature digest);
    cluster mode's census counts DISTINCT signatures, so the flood is
    one row and the variant still pairs with the group representative.
    This test pins both facts."""
    import random

    from nutch_spark.datapipe.dedup import (
        dup_components,
        minhash_dup_clusters,
        minhash_lsh_pairs,
    )

    def gen(seed):
        rng = random.Random(seed)
        vocab = [f"w{i}" for i in range(120)]
        rows, did, variants = [], 0, []
        for _tpl in range(8):
            base = " ".join(rng.choices(vocab, k=40))
            group_lead = did
            for _copy in range(rng.randrange(2, 6)):  # exact copies
                rows.append((did, base))
                did += 1
            if rng.random() < 0.6:  # a near variant of the group
                rows.append((did, base + " " + rng.choice(vocab)))
                variants.append((did, group_lead))
                did += 1
        return rows, variants

    for seed in (3, 57):
        rows, variants = gen(seed)
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        base_kw = dict(num_hashes=32, bands=8, threshold=0.5)
        # equivalence, guard OFF
        via_clusters = {
            r["doc_id"]: (r["component"], r["is_duplicate"])
            for r in minhash_dup_clusters(
                docs, max_bucket=None, **base_kw
            ).collect()
        }
        pairs = minhash_lsh_pairs(
            docs, verify="estimate", max_bucket=None, **base_kw
        )
        via_pairs = {
            r["doc_id"]: (r["component"], r["is_duplicate"])
            for r in dup_components(
                docs.select("doc_id"), pairs.select("id_a", "id_b")
            ).collect()
        }
        assert via_clusters == via_pairs, seed

    # recall advantage, guard ON at a cap every >=3-copy group saturates
    rows, variants = gen(3)
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    kw = dict(num_hashes=32, bands=8, threshold=0.5, max_bucket=2)
    guarded_clusters = {
        r["doc_id"]: r["component"]
        for r in minhash_dup_clusters(docs, **kw).collect()
    }
    guarded_pairs = {
        r["doc_id"]: r["component"]
        for r in dup_components(
            docs.select("doc_id"),
            minhash_lsh_pairs(docs, verify="estimate", **kw).select(
                "id_a", "id_b"
            ),
        ).collect()
    }
    assert variants, "fixture must plant near variants"
    cluster_joined = sum(
        guarded_clusters[v] == guarded_clusters[lead] for v, lead in variants
    )
    pair_joined = sum(
        guarded_pairs[v] == guarded_pairs[lead] for v, lead in variants
    )
    assert cluster_joined > pair_joined  # strictly better flood recall


def test_video_and_audio_dup_clusters_linear(spark):
    """video_dup_clusters / audio_dup_clusters: k identical re-uploads are
    ONE exact group (k output rows, never C(k,2) pairs); near relations
    close through representatives and match pair mode + components."""
    from nutch_spark.datapipe.dedup import dup_components
    from nutch_spark.datapipe.multimodal import (
        audio_dup_clusters,
        video_dup_clusters,
        video_near_dup,
    )

    # 200 identical re-uploads (frame hashes {1,2,3}), one overlapping
    # near video {2,3,4}, one disjoint video {100,101}
    rows = [(v, h) for v in range(200) for h in (1, 2, 3)]
    rows += [(900, 2), (900, 3), (900, 4)]
    rows += [(901, 100), (901, 101)]
    frames = spark.createDataFrame(rows, "media_id long, dhash long")
    got = {r["media_id"]: (r["component"], r["is_duplicate"])
           for r in video_dup_clusters(frames).collect()}
    assert len(got) == 202  # LINEAR
    for v in list(range(200)) + [900]:
        assert got[v] == (0, v != 0)
    assert got[901] == (901, False)
    # equivalence with pair mode + components
    via_pairs = {r["media_id"]: (r["component"], r["is_duplicate"])
                 for r in dup_components(
                     frames.select("media_id").distinct(),
                     video_near_dup(frames).select("id_a", "id_b"),
                     "media_id",
                 ).collect()}
    assert got == via_pairs

    # audio: 100 identical fingerprints + one at hamming 1 + one far
    arows = [(i, 0x0F0F) for i in range(100)] + [(500, 0x0F0E), (501, 0x00FF00FF00FF00FF)]
    fps = spark.createDataFrame(arows, "media_id long, afp long")
    agot = {r["media_id"]: r["component"]
            for r in audio_dup_clusters(fps).collect()}
    assert len(agot) == 102
    assert all(agot[i] == 0 for i in list(range(100)) + [500])
    assert agot[501] == 501
