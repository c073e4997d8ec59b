"""Operator-level tests mirroring the reference's test strategy (SURVEY.md §5):
tiny deterministic inputs → operator → exact expected rows.

Models: TestInjector (merge rules), TestCrawlDbStates (updatedb transitions),
TestGenerator (topN selection), TestCrawlDbDeduplication (policy chain),
TestLinkDbMerger (inlink cap), TestSegmentMergerCrawlDatums (latest-wins),
TestAdaptiveFetchSchedule (interval formula).
"""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from nutch_spark.config import NutchConfig
from nutch_spark.operators.dedup import deduplicate
from nutch_spark.operators.generate import generate
from nutch_spark.operators.inject import inject
from nutch_spark.operators.invertlinks import anchors_per_target, invert_links
from nutch_spark.operators.linkrank import linkrank
from nutch_spark.operators.merge import latest_version_wins, merge_crawldbs
from nutch_spark.operators.updatedb import update_crawldb

NOW = datetime.datetime(2026, 1, 1)
DB_SCHEMA = (
    "url string, status string, fetch_time timestamp, retries int, "
    "fetch_interval int, score float, signature binary, "
    "modified_time timestamp, metadata map<string,string>"
)


def db_row(url, status="db_unfetched", score=1.0, retries=0, interval=3600,
           fetch_time=NOW, signature=None, modified_time=None, metadata=None):
    return (url, status, fetch_time, retries, interval, score, signature,
            modified_time, metadata or {})


def make_db(spark, rows):
    # short tuples are (url, status, score, ...) sugar; 9-tuples are full rows
    return spark.createDataFrame(
        [db_row(*r) if len(r) < 9 else r for r in rows], DB_SCHEMA
    )


# --- Injector (TestInjector, Injector.java:336-395) -------------------------


def test_inject_new_and_existing(spark):
    db = make_db(spark, [("http://old.com/", "db_fetched", 5.0)])
    seeds = spark.createDataFrame(
        [("http://old.com/", {"nutch.score": "9"}), ("http://new.com/", {"k": "v"})],
        "url string, metadata map<string,string>",
    )
    out = {r["url"]: r for r in inject(db, seeds, now=F.lit(NOW)).collect()}
    assert len(out) == 2
    # default policy: existing db row kept unchanged (keep-old)
    assert out["http://old.com/"]["status"] == "db_fetched"
    assert out["http://old.com/"]["score"] == 5.0
    # new URL injected as unfetched with default score, reserved keys stripped
    assert out["http://new.com/"]["status"] == "db_unfetched"
    assert out["http://new.com/"]["score"] == 1.0
    assert out["http://new.com/"]["metadata"] == {"k": "v"}


def test_inject_overwrite_and_update(spark):
    db = make_db(spark, [db_row("http://a.com/", "db_fetched", 5.0, metadata={"x": "1"})])
    seeds = spark.createDataFrame(
        [("http://a.com/", {"nutch.score": "2", "y": "2"})],
        "url string, metadata map<string,string>",
    )
    over = inject(db, seeds, cfg=NutchConfig(inject_overwrite=True), now=F.lit(NOW)).collect()[0]
    assert over["status"] == "db_unfetched" and over["score"] == 2.0

    upd = inject(db, seeds, cfg=NutchConfig(inject_update=True), now=F.lit(NOW)).collect()[0]
    assert upd["status"] == "db_fetched"          # db row kept
    assert upd["score"] == 2.0                    # seed score overrides
    assert upd["metadata"] == {"x": "1", "y": "2"}  # merged, seed precedence


# --- Generator (TestGenerator.java:80-110: topN by score) -------------------


def test_generate_highest_scores(spark):
    # 101 rows score=i → topN=2 must return the two highest (the reference's
    # canonical testGenerateHighest)
    rows = [db_row(f"http://aaa.com/{i:03d}", score=float(i)) for i in range(101)]
    db = make_db(spark, rows)
    got = generate(db, 2, now=F.lit(NOW)).select("url").collect()
    assert sorted(r["url"] for r in got) == ["http://aaa.com/099", "http://aaa.com/100"]


def test_generate_per_host_max_count(spark):
    rows = [db_row(f"http://h{i % 2}.com/{i}", score=float(i)) for i in range(10)]
    db = make_db(spark, rows)
    cfg = NutchConfig(generate_max_count=2, generate_count_mode="host")
    got = generate(db, 10, cfg=cfg, now=F.lit(NOW)).collect()
    by_host = {}
    for r in got:
        host = r["url"].split("/")[2]
        by_host.setdefault(host, []).append(r["url"])
    assert all(len(v) <= 2 for v in by_host.values())
    # the kept rows per host are that host's two highest scores
    assert sorted(by_host["h1.com"]) == ["http://h1.com/7", "http://h1.com/9"]


def test_generate_skips_not_due_and_gone(spark):
    future = NOW + datetime.timedelta(days=1)
    db = make_db(
        spark,
        [
            db_row("http://due.com/a", score=1.0),
            ("http://future.com/b", "db_unfetched", future, 0, 3600, 9.0, None, None, {}),
            db_row("http://gone.com/c", "db_gone", 9.0),
        ],
    )
    got = [r["url"] for r in generate(db, 10, now=F.lit(NOW)).collect()]
    assert got == ["http://due.com/a"]


def test_generate_clock_skew_resets_runaway_fetch_time(spark):
    # AbstractFetchSchedule.shouldFetch:194-205 — a fetch_time more than
    # db.fetch.interval.max in the future is clock skew: treat as due now.
    near_future = NOW + datetime.timedelta(days=1)          # genuinely not due
    runaway = NOW + datetime.timedelta(days=365)            # > 90 d max → due
    db = make_db(
        spark,
        [
            ("http://near.com/a", "db_unfetched", near_future, 0, 3600, 1.0, None, None, {}),
            ("http://skew.com/b", "db_unfetched", runaway, 0, 3600, 1.0, None, None, {}),
        ],
    )
    got = [r["url"] for r in generate(db, 10, now=F.lit(NOW)).collect()]
    assert got == ["http://skew.com/b"]


# --- UpdateDb state machine (TestCrawlDbStates) -----------------------------


def fetch_row(url, status, fetch_time=NOW, signature=None, metadata=None):
    return (url, status, fetch_time, signature, metadata or {})


FETCH_SCHEMA = (
    "url string, status string, fetch_time timestamp, signature binary, "
    "metadata map<string,string>"
)


def test_updatedb_transitions(spark):
    db = make_db(
        spark,
        [
            db_row("http://ok.com/", "db_unfetched"),
            db_row("http://redir.com/", "db_unfetched"),
            db_row("http://gone.com/", "db_fetched"),
            db_row("http://retry1.com/", "db_unfetched", retries=0),
            db_row("http://retry4.com/", "db_unfetched", retries=3),
            db_row("http://untouched.com/", "db_fetched", 7.0),
        ],
    )
    fetches = spark.createDataFrame(
        [
            fetch_row("http://ok.com/", "fetch_success", signature=b"s1"),
            fetch_row("http://redir.com/", "fetch_redir_perm"),
            fetch_row("http://gone.com/", "fetch_gone"),
            fetch_row("http://retry1.com/", "fetch_retry"),
            fetch_row("http://retry4.com/", "fetch_retry"),
        ],
        FETCH_SCHEMA,
    )
    out = {r["url"]: r for r in update_crawldb(db, fetches, now=F.lit(NOW)).collect()}
    assert out["http://ok.com/"]["status"] == "db_fetched"
    assert bytes(out["http://ok.com/"]["signature"]) == b"s1"
    assert out["http://redir.com/"]["status"] == "db_redir_perm"
    assert out["http://gone.com/"]["status"] == "db_gone"
    # retry below max → unfetched with retries+1; at max → gone (retry.max=3)
    assert out["http://retry1.com/"]["status"] == "db_unfetched"
    assert out["http://retry1.com/"]["retries"] == 1
    assert out["http://retry4.com/"]["status"] == "db_gone"
    # row with no updates passes through unchanged
    assert out["http://untouched.com/"]["status"] == "db_fetched"
    assert out["http://untouched.com/"]["score"] == 7.0


def test_updatedb_new_url_from_links_and_opic(spark):
    db = make_db(spark, [db_row("http://src.com/", "db_fetched", 2.0)])
    fetches = spark.createDataFrame([], FETCH_SCHEMA)
    emits = spark.createDataFrame(
        [
            ("http://new.com/", "linked", 0.5, None),
            ("http://new.com/", "linked", 0.25, None),
            ("http://src.com/", "signature", None, b"sig"),
        ],
        "url string, status string, score float, signature binary",
    )
    out = {r["url"]: r for r in update_crawldb(db, fetches, emits, now=F.lit(NOW)).collect()}
    # linked-only URL becomes db_unfetched with Σ contributions as score
    assert out["http://new.com/"]["status"] == "db_unfetched"
    assert abs(out["http://new.com/"]["score"] - 0.75) < 1e-6
    # existing row accumulates OPIC score: 2.0 + 0 links here
    assert out["http://src.com/"]["score"] == 2.0


def test_updatedb_adaptive_schedule(spark):
    db = make_db(
        spark,
        [
            db_row("http://mod.com/", "db_fetched", signature=b"old", interval=1000),
            db_row("http://same.com/", "db_fetched", signature=b"same", interval=1000),
        ],
    )
    fetches = spark.createDataFrame(
        [
            fetch_row("http://mod.com/", "fetch_success", signature=b"new"),
            fetch_row("http://same.com/", "fetch_success", signature=b"same"),
        ],
        FETCH_SCHEMA,
    )
    out = {
        r["url"]: r
        for r in update_crawldb(db, fetches, schedule="adaptive", now=F.lit(NOW)).collect()
    }
    # modified → interval * (1-0.2) = 800; unchanged → * (1+0.4) = 1400
    assert out["http://mod.com/"]["fetch_interval"] == 800
    assert out["http://same.com/"]["fetch_interval"] == 1400


# --- Dedup policy chain (TestCrawlDbDeduplication) --------------------------


def test_deduplicate_policy_chain(spark):
    sig = b"dup"
    db = make_db(
        spark,
        [
            db_row("http://a.com/low", "db_fetched", 1.0, signature=sig),
            db_row("http://a.com/high", "db_fetched", 9.0, signature=sig),
            db_row("http://b.com/other", "db_fetched", 5.0, signature=b"uniq"),
            db_row("http://c.com/unfetched", "db_unfetched", 5.0, signature=sig),
        ],
    )
    out = {r["url"]: r["status"] for r in deduplicate(db).collect()}
    assert out["http://a.com/high"] == "db_fetched"      # best kept
    assert out["http://a.com/low"] == "db_duplicate"     # loser marked
    assert out["http://b.com/other"] == "db_fetched"     # unique signature
    assert out["http://c.com/unfetched"] == "db_unfetched"  # only fetched rows compete


# --- Invertlinks (LinkDb.java:80-181) + anchors (Inlinks.java:88-120) -------


def test_invert_links_internal_filter_and_anchor_cap(spark):
    parse_data = spark.createDataFrame(
        [
            (
                "http://a.com/p1",
                [
                    {"to_url": "http://b.com/x", "anchor": "A" * 150},
                    {"to_url": "http://a.com/internal", "anchor": "self"},
                    {"to_url": "http://b.com/x", "anchor": "A" * 150},  # dup edge
                ],
            ),
            ("http://c.com/p2", [{"to_url": "http://b.com/x", "anchor": "c-anchor"}]),
        ],
        "url string, outlinks array<struct<to_url string, anchor string>>",
    )
    out = {r["to_url"]: r for r in invert_links(parse_data).collect()}
    # internal (same-host) link dropped by default
    assert "http://a.com/internal" not in out
    inl = out["http://b.com/x"]["inlinks"]
    assert len(inl) == 2  # dedup'd set of (from_url, anchor)
    assert all(len(link["anchor"]) <= 100 for link in inl)  # anchor truncation

    linkdb = invert_links(parse_data)
    anchors = {r["to_url"]: r["anchors"] for r in anchors_per_target(linkdb).collect()}
    assert anchors["http://b.com/x"] == ["A" * 100, "c-anchor"]


# --- Mergers (TestCrawlDbMerger / latest-wins) ------------------------------


def test_latest_version_wins_and_crawldb_merge(spark):
    s1 = spark.createDataFrame([(1, 1, "a"), (2, 1, "b")], "k int, seg int, v string")
    s2 = spark.createDataFrame([(1, 2, "a2")], "k int, seg int, v string")
    merged = {r["k"]: r["v"] for r in latest_version_wins([s1, s2], "k", "seg").collect()}
    assert merged == {1: "a2", 2: "b"}

    db1 = make_db(spark, [db_row("http://a.com/", "db_fetched", 1.0,
                                 fetch_time=NOW, metadata={"old": "1", "both": "old"})])
    db2 = make_db(spark, [db_row("http://a.com/", "db_notmodified", 2.0,
                                 fetch_time=NOW + datetime.timedelta(days=1),
                                 metadata={"new": "2", "both": "new"})])
    row = merge_crawldbs([db1, db2]).collect()[0]
    assert row["status"] == "db_notmodified"  # newest fetch_time wins
    assert row["metadata"] == {"old": "1", "new": "2", "both": "new"}


# --- LinkRank semantics (LinkRank.java:302-707) -----------------------------


def test_linkrank_hand_computed(spark):
    # a -> b, a -> c, b -> c ; N=3, d=0.85, rankOne=1/3, 1 iteration:
    #   score(b) = 0.15 + 0.85*(1/3 + 1/2)            = 0.8583333...
    #   score(c) = 0.15 + 0.85*(1/3 + 1/2 + 1)        = 1.7083333...
    #   score(a) = 0.15 + 0.85*(1/3)                  = 0.4333333...
    edges = spark.createDataFrame(
        [("http://a.com/", "http://b.com/"), ("http://a.com/", "http://c.com/"),
         ("http://b.com/", "http://c.com/")],
        "src string, dst string",
    )
    cfg = NutchConfig(linkrank_iterations=1)
    got = {r["url"]: r["score"] for r in linkrank(edges, cfg=cfg).collect()}
    assert abs(got["http://a.com/"] - (0.15 + 0.85 / 3)) < 1e-9
    assert abs(got["http://b.com/"] - (0.15 + 0.85 * (1 / 3 + 0.5))) < 1e-9
    assert abs(got["http://c.com/"] - (0.15 + 0.85 * (1 / 3 + 1.5))) < 1e-9


def test_linkrank_domain_dedup(spark):
    # two pages on the same domain both link to t: only ONE contribution
    # counts (LinkRank.java:558-597 per-domain duplicate set)
    edges = spark.createDataFrame(
        [("http://x.same.com/1", "http://t.com/"), ("http://y.same.com/2", "http://t.com/")],
        "src string, dst string",
    )
    cfg = NutchConfig(linkrank_iterations=1)
    got = {r["url"]: r["score"] for r in linkrank(edges, cfg=cfg).collect()}
    # the node set is the FULL webgraph (reference NodeDb), so N=3 even
    # though only one contribution survives the per-domain dedup; t gets one
    # contribution of 1.0 (from the deterministic min-src winner x.same.com/1)
    assert abs(got["http://t.com/"] - (0.15 + 0.85 * (1 / 3 + 1.0))) < 1e-9
    assert "http://y.same.com/2" in got  # dropped edge, but still a node


# --- WebGraph build: A11 outlink dedup + latest-segment-wins (G2) -----------


def test_webgraph_build_edges(spark):
    from nutch_spark.operators.webgraph import build_edges

    parse_data = spark.createDataFrame(
        [
            ("http://a.com/p", "seg1",
             [{"to_url": "http://b.com/x", "anchor": "old"},
              {"to_url": "http://b.com/x", "anchor": "dup"}]),
            ("http://a.com/p", "seg2",
             [{"to_url": "http://b.com/x", "anchor": "new"},
              {"to_url": "http://b.com/y", "anchor": ""},
              {"to_url": "http://c.com/z", "anchor": ""}]),
        ],
        "url string, segment_id string, "
        "outlinks array<struct<to_url string, anchor string>>",
    )
    edges = build_edges(parse_data).collect()
    by_dst = {r["dst"]: r for r in edges}
    # one edge per (src, dst): latest segment wins, duplicates collapsed (A11)
    assert len(edges) == 3
    assert by_dst["http://b.com/x"]["anchor"] == "new"
    assert by_dst["http://b.com/x"]["segment_id"] == "seg2"

    # per-target-domain dedup keeps one edge into b.com (WebGraph.java:275-296)
    dom = build_edges(parse_data, dedup_by_domain=True).collect()
    assert sorted(r["dst"] for r in dom) == ["http://b.com/x", "http://c.com/z"]


def test_anchors_per_host_dedup_semantics(spark):
    """Inlinks.getAnchors: (host, anchor) is the dedup key — the same text
    from two hosts appears twice; twice from one host appears once."""
    linkdb = spark.createDataFrame(
        [
            (
                "http://t.com/",
                [
                    {"from_url": "http://x.com/1", "anchor": "click"},
                    {"from_url": "http://x.com/2", "anchor": "click"},  # same host dup
                    {"from_url": "http://y.com/1", "anchor": "click"},  # other host
                    {"from_url": "http://y.com/2", "anchor": ""},       # empty skipped
                    {"from_url": "http://y.com/3", "anchor": "other"},
                ],
            )
        ],
        "to_url string, inlinks array<struct<from_url string, anchor string>>",
    )
    out = anchors_per_target(linkdb).collect()[0]
    assert out["anchors"] == ["click", "click", "other"]


def test_updatedb_mime_adaptive_rates(spark):
    # MimeAdaptiveFetchSchedule.java:103-126: per-MIME inc/dec override the
    # global adaptive rates; unknown types fall back to the defaults.
    def row(url, ctype):
        return (url, "db_fetched", NOW, 0, 1000, 1.0, b"sig", NOW, {"Content-Type": ctype})

    db = make_db(
        spark,
        [row("http://html.com/", "text/HTML; charset=x"), row("http://pdf.com/", "application/pdf"),
         row("http://other.com/", "text/plain")],
    )
    fetches = spark.createDataFrame(
        [fetch_row(u, "fetch_notmodified", signature=b"sig")
         for u in ("http://html.com/", "http://pdf.com/", "http://other.com/")],
        FETCH_SCHEMA,
    )
    out = {
        r["url"]: r["fetch_interval"]
        for r in update_crawldb(
            db, fetches, schedule="mime_adaptive",
            mime_rates={"text/html": (0.5, 0.5), "application/pdf": (0.1, 0.05)},
            now=F.lit(NOW),
        ).collect()
    }
    # notmodified + delta 0 (modified_time == fetch time): pure rate growth
    assert out["http://html.com/"] == 1500    # 1000 * (1 + 0.5)
    assert out["http://pdf.com/"] == 1100     # 1000 * (1 + 0.1)
    assert out["http://other.com/"] == 1400   # default inc 0.4


def test_updatedb_full_transition_matrix(spark):
    """Port of TestCrawlDbStates.testCrawlDbStateTransitionMatrix: every
    (db status | absent) x (fetch status | inlinks-only) x {0,1,2} inlinks
    x {default, adaptive} schedule yields exactly one output row with the
    reference's expected status (fetchDbStatusPairs, TestCrawlDbStates.java:
    67-77, 100-205). All ~750 cases run as ONE Spark job per schedule."""
    pairs = [
        ("fetch_success", "db_fetched"),
        ("fetch_gone", "db_gone"),
        ("fetch_redir_temp", "db_redir_temp"),
        ("fetch_redir_perm", "db_redir_perm"),
        ("fetch_notmodified", "db_notmodified"),
    ]
    db_statuses = [None, "db_unfetched", "db_fetched", "db_gone",
                   "db_redir_temp", "db_redir_perm", "db_notmodified",
                   "db_duplicate", "db_orphan"]
    fetch_statuses = [None] + [p[0] for p in pairs] + ["fetch_retry"]
    to_db = dict(pairs)

    db_rows, fetch_rows, link_rows, expected = [], [], [], {}
    for i, from_db in enumerate(db_statuses):
        for j, fs in enumerate(fetch_statuses):
            for l in range(3):
                if fs is None and from_db is None and l == 0:
                    continue  # no input at all for this URL
                url = f"http://case-{i}-{j}-{l}.com/"
                # like the reference's util: datums carry NO signature, so
                # fetch_success stays db_fetched (no notmodified detection)
                if from_db is not None:
                    db_rows.append(db_row(url, from_db))
                if fs is not None:
                    fetch_rows.append(fetch_row(url, fs))
                for _ in range(l):
                    link_rows.append((url, "linked", 0.1, None))
                if fs is None:
                    exp = from_db if from_db is not None else "db_unfetched"
                elif fs == "fetch_retry":
                    exp = "db_unfetched"  # fresh datums: retries 0 < max 3
                else:
                    exp = to_db[fs]
                expected[url] = exp

    db = make_db(spark, db_rows)
    fetches = spark.createDataFrame(fetch_rows, FETCH_SCHEMA)
    emits = spark.createDataFrame(
        link_rows, "url string, status string, score float, signature binary"
    )
    for schedule in ("default", "adaptive"):
        out = {
            r["url"]: r["status"]
            for r in update_crawldb(
                db, fetches, emits, schedule=schedule, now=F.lit(NOW)
            ).collect()
        }
        assert len(out) == len(expected), (len(out), len(expected))
        bad = {u: (out[u], e) for u, e in expected.items() if out[u] != e}
        assert not bad, f"{schedule}: {dict(list(bad.items())[:8])} (+{len(bad)} total)"


def test_updatedb_signature_reset_and_notmodified(spark):
    """NUTCH-1422 + NUTCH-1341 (CrawlDbReducer.java:247-296, 308-337):
    - fetch_success with the SAME non-null signature → db_notmodified,
      old signature kept, modified_time NOT advanced;
    - redirects RESET the stored signature (else the page is misdetected
      as notmodified right after the redirect resolves);
    - retry/gone KEEP the old signature."""
    old_mt = NOW - datetime.timedelta(days=10)
    db = make_db(
        spark,
        [
            db_row("http://same.com/", "db_fetched", signature=b"s", modified_time=old_mt),
            db_row("http://redir.com/", "db_fetched", signature=b"s"),
            db_row("http://gone.com/", "db_fetched", signature=b"s"),
            db_row("http://retry.com/", "db_fetched", signature=b"s"),
            db_row("http://new.com/", "db_fetched", signature=b"s", modified_time=old_mt),
        ],
    )
    fetches = spark.createDataFrame(
        [
            fetch_row("http://same.com/", "fetch_success", signature=b"s"),
            fetch_row("http://redir.com/", "fetch_redir_temp"),
            fetch_row("http://gone.com/", "fetch_gone"),
            fetch_row("http://retry.com/", "fetch_retry"),
            fetch_row("http://new.com/", "fetch_success", signature=b"n"),
        ],
        FETCH_SCHEMA,
    )
    out = {r["url"]: r for r in update_crawldb(db, fetches, now=F.lit(NOW)).collect()}
    same = out["http://same.com/"]
    assert same["status"] == "db_notmodified"
    assert bytes(same["signature"]) == b"s"
    assert same["modified_time"] == old_mt          # NUTCH-1341
    assert out["http://redir.com/"]["signature"] is None   # NUTCH-1422 reset
    assert out["http://redir.com/"]["status"] == "db_redir_temp"
    assert bytes(out["http://gone.com/"]["signature"]) == b"s"
    assert bytes(out["http://retry.com/"]["signature"]) == b"s"
    changed = out["http://new.com/"]
    assert changed["status"] == "db_fetched"
    assert bytes(changed["signature"]) == b"n"
    assert changed["modified_time"] == NOW          # content change advances it


def test_updatedb_gone_and_retry_schedules(spark):
    """AbstractFetchSchedule.setPageGoneSchedule/setPageRetrySchedule
    (:111-154, NUTCH-1245): gone pages back off 1.5x (capped max*0.9) and
    never bounce back through forced refetch; plain retries re-queue
    tomorrow with the interval untouched."""
    db = make_db(
        spark,
        [
            db_row("http://gone.com/", "db_fetched", interval=1000),
            db_row("http://biggone.com/", "db_fetched", interval=8_000_000),
            db_row("http://retry.com/", "db_unfetched", interval=1000),
        ],
    )
    fetches = spark.createDataFrame(
        [
            fetch_row("http://gone.com/", "fetch_gone"),
            fetch_row("http://biggone.com/", "fetch_gone"),
            fetch_row("http://retry.com/", "fetch_retry"),
        ],
        FETCH_SCHEMA,
    )
    out = {r["url"]: r for r in update_crawldb(db, fetches, now=F.lit(NOW)).collect()}
    g = out["http://gone.com/"]
    assert g["fetch_interval"] == 1500
    assert g["fetch_time"] == NOW + datetime.timedelta(seconds=1500)
    big = out["http://biggone.com/"]
    assert big["status"] == "db_gone"            # NOT resurrected by forced refetch
    assert big["fetch_interval"] == int(7_776_000 * 0.9)
    r = out["http://retry.com/"]
    assert r["fetch_interval"] == 1000
    assert r["fetch_time"] == NOW + datetime.timedelta(days=1)


def test_merge_segments_real_status_wins(spark):
    """TestSegmentMergerCrawlDatums (NUTCH-1113/1520): linked / retry /
    notmodified rows in newer segments never clobber an older real fetch
    status; newest real status wins otherwise; linked survives only when
    nothing real exists."""
    from nutch_spark.operators.merge import merge_segments

    seg = lambda name, rows: spark.createDataFrame(
        [(u, s, name) for u, s in rows], "url string, status string, segment string"
    )
    s1 = seg("0000001", [
        ("http://a.com/", "fetch_success"),
        ("http://b.com/", "fetch_gone"),
        ("http://c.com/", "linked"),
    ])
    s2 = seg("0000002", [
        ("http://a.com/", "linked"),            # must NOT clobber success
        ("http://a.com/", "fetch_retry"),       # must NOT clobber success
        ("http://b.com/", "fetch_success"),     # newer real: wins
        ("http://c.com/", "linked"),            # still nothing real: linked kept
        ("http://d.com/", "fetch_notmodified"), # only temp state: kept as fallback
    ])
    out = {r["url"]: r for r in merge_segments([s1, s2]).collect()}
    assert out["http://a.com/"]["status"] == "fetch_success"
    assert out["http://a.com/"]["segment"] == "0000001"
    assert out["http://b.com/"]["status"] == "fetch_success"
    assert out["http://b.com/"]["segment"] == "0000002"
    assert out["http://c.com/"]["status"] == "linked"
    assert out["http://c.com/"]["segment"] == "0000002"
    assert out["http://d.com/"]["status"] == "fetch_notmodified"


def test_updatedb_adaptive_unknown_keeps_interval(spark):
    """AdaptiveFetchSchedule.java:340-348 STATUS_UNKNOWN: a success with no
    comparable signatures must leave the interval untouched (neither the
    modified shrink nor the notmodified growth applies)."""
    db = make_db(
        spark,
        [db_row("http://u.com/", "db_fetched", interval=1000)],  # no signature
    )
    fetches = spark.createDataFrame(
        [fetch_row("http://u.com/", "fetch_success")],  # no signature either
        FETCH_SCHEMA,
    )
    out = update_crawldb(db, fetches, schedule="adaptive", now=F.lit(NOW)).first()
    assert out["fetch_interval"] == 1000
    assert out["status"] == "db_fetched"


def test_inject_normalizes_and_drops_malformed_seeds(spark):
    # Injector.java:113-180: seeds normalize before merging; garbage drops
    db = make_db(spark, [])
    seeds = spark.createDataFrame(
        [
            ("HTTP://Seed.COM:80/a#frag", {}),
            ("not a url at all", {}),
        ],
        "url string, metadata map<string,string>",
    )
    out = [r["url"] for r in inject(db, seeds, now=F.lit(NOW)).collect()]
    assert out == ["http://seed.com/a"]


def test_inject_dedupes_normalizing_seeds(spark):
    # distinct seed strings normalizing to one URL must yield ONE db row
    db = make_db(spark, [])
    seeds = spark.createDataFrame(
        [
            ("http://a.com/", {}),
            ("HTTP://A.COM:80/", {}),
            ("http://a.com/#top", {}),
        ],
        "url string, metadata map<string,string>",
    )
    out = inject(db, seeds, now=F.lit(NOW)).collect()
    assert len(out) == 1 and out[0]["url"] == "http://a.com/"


def test_merge_segment_dirs_lowest_common_set(spark):
    # one segment lacks parse parts -> only the common parts are merged
    from nutch_spark.operators.merge import merge_segment_dirs

    def seg(name, with_parse):
        parts = {
            "crawl_generate": spark.createDataFrame(
                [("http://a.com/", name, "gen")], "url string, segment string, status string"
            ),
            "crawl_fetch": spark.createDataFrame(
                [("http://a.com/", name, "fetch_success")],
                "url string, segment string, status string",
            ),
        }
        if with_parse:
            parts["parse_text"] = spark.createDataFrame(
                [("http://a.com/", name, "text")], "url string, segment string, text string"
            )
        return parts

    out = merge_segment_dirs([seg("s1", True), seg("s2", False)])
    assert set(out) == {"crawl_generate", "crawl_fetch"}  # parse_text pruned
    assert out["crawl_fetch"].collect()[0]["segment"] == "s2"  # latest wins


def test_merge_segment_dirs_filter_hook(spark):
    # a SegmentMergeFilter predicate drops a url from EVERY output part
    from pyspark.sql import functions as F

    from nutch_spark.operators.merge import merge_segment_dirs

    def seg(name):
        return {
            "crawl_fetch": spark.createDataFrame(
                [
                    ("http://keep.com/", name, "fetch_success"),
                    ("http://drop.com/", name, "fetch_success"),
                ],
                "url string, segment string, status string",
            ),
            "parse_text": spark.createDataFrame(
                [
                    ("http://keep.com/", name, "good text"),
                    ("http://drop.com/", name, "spam"),
                ],
                "url string, segment string, text string",
            ),
        }

    out = merge_segment_dirs(
        [seg("s1"), seg("s2")],
        merge_filter=lambda c: ~F.col("parse_text.text").contains("spam"),
    )
    for part in ("crawl_fetch", "parse_text"):
        urls = {r["url"] for r in out[part].collect()}
        assert urls == {"http://keep.com/"}, part


def test_merge_segment_dirs_filter_handles_missing_part_rows(spark):
    # url present in crawl_fetch but absent from parse_text: the filter sees
    # a NULL struct (the reducer's null argument) and must be able to keep it
    from pyspark.sql import functions as F

    from nutch_spark.operators.merge import merge_segment_dirs

    seg = {
        "crawl_fetch": spark.createDataFrame(
            [("http://a.com/", "s1", "fetch_success"), ("http://b.com/", "s1", "fetch_success")],
            "url string, segment string, status string",
        ),
        "parse_text": spark.createDataFrame(
            [("http://a.com/", "s1", "ok")], "url string, segment string, text string"
        ),
    }
    out = merge_segment_dirs(
        [seg],
        merge_filter=lambda c: F.col("parse_text").isNull()
        | ~F.col("parse_text.text").contains("spam"),
    )
    assert {r["url"] for r in out["crawl_fetch"].collect()} == {
        "http://a.com/",
        "http://b.com/",
    }


def test_slice_segments_balanced_chunks(spark):
    from nutch_spark.operators.merge import slice_segments

    df = spark.range(1000).selectExpr("concat('http://h.com/', id) AS url")
    out = slice_segments(df, 100)
    sizes = {r["slice"]: r["count"] for r in out.groupBy("slice").count().collect()}
    assert len(sizes) == 10  # ceil(1000/100)
    assert sum(sizes.values()) == 1000
    assert all(50 <= s <= 160 for s in sizes.values())  # hash-balanced
    # deterministic: same input -> same assignment
    again = slice_segments(df, 100)
    assert out.collect() == again.collect()


def test_update_crawldb_purge_404(spark):
    """Port of TestCrawlDbFilter.testUrl404Purging (reference
    src/test/org/apache/nutch/crawl/TestCrawlDbFilter.java:79-120): with
    db.update.purge.404 on, db_gone rows drop out of the updated crawldb;
    fetched and unfetched rows survive."""
    from dataclasses import replace

    from nutch_spark.config import DEFAULT
    from nutch_spark.operators.updatedb import update_crawldb

    db = spark.createDataFrame(
        [
            ("http://www.example.com", "db_gone"),
            ("http://www.example1.com", "db_fetched"),
            ("http://www.example2.com", "db_unfetched"),
        ],
        "url string, status string",
    ).selectExpr(
        "url", "status",
        "CAST('2026-01-01' AS TIMESTAMP) AS fetch_time",
        "0 AS retries", "2592000 AS fetch_interval",
        "CAST(0.0 AS FLOAT) AS score", "CAST(NULL AS BINARY) AS signature",
        "CAST(NULL AS TIMESTAMP) AS modified_time",
        "map() AS metadata",
    )
    empty_fetch = spark.createDataFrame(
        [],
        "url string, status string, fetch_time timestamp, "
        "signature binary, metadata map<string,string>",
    )
    cfg = replace(DEFAULT, purge_404=True)
    out = update_crawldb(db, empty_fetch, None, cfg=cfg)
    urls = {r["url"] for r in out.collect()}
    assert urls == {"http://www.example1.com", "http://www.example2.com"}

    kept = update_crawldb(db, empty_fetch, None, cfg=DEFAULT)
    assert kept.count() == 3  # purge off: gone row retained


def test_linkdb_merger_reference_vectors(spark):
    """Port of TestLinkDbMerger.testMerge (reference
    src/test/org/apache/nutch/crawl/TestLinkDbMerger.java:46-120): merging
    two linkdbs unions each target's inlink set; targets present in only
    one db pass through unchanged."""
    from dataclasses import replace

    from nutch_spark.config import DEFAULT
    from nutch_spark.operators.merge import merge_linkdbs

    def ldb(entries):
        return spark.createDataFrame(
            [
                (to, [{"from_url": f, "anchor": ""} for f in froms])
                for to, froms in entries.items()
            ],
            "to_url string, inlinks array<struct<from_url:string,anchor:string>>",
        )

    db1 = ldb({
        "http://example.com/foo": ["http://example.com/100", "http://example.com/101"],
        "http://example.com/": ["http://example.com/110", "http://example.com/111"],
    })
    db2 = ldb({
        "http://example.com/": ["http://foo.com/200", "http://foo.com/201"],
        "http://example.com/bar": ["http://foo.com/210", "http://foo.com/211"],
    })
    out = {
        r["to_url"]: sorted(i["from_url"] for i in r["inlinks"])
        for r in merge_linkdbs([db1, db2]).collect()
    }
    assert out == {
        "http://example.com/foo": ["http://example.com/100", "http://example.com/101"],
        "http://example.com/": [
            "http://example.com/110", "http://example.com/111",
            "http://foo.com/200", "http://foo.com/201",
        ],
        "http://example.com/bar": ["http://foo.com/210", "http://foo.com/211"],
    }

    # the reference's companion behavior: linkdb.max.inlinks caps the
    # merged set (LinkDbMerger.java:95-110)
    capped = merge_linkdbs([db1, db2], cfg=replace(DEFAULT, linkdb_max_inlinks=3))
    row = {r["to_url"]: r["inlinks"] for r in capped.collect()}
    assert len(row["http://example.com/"]) == 3


def test_cocitation_pairs_and_hot_source_guard(spark):
    from nutch_spark.operators.webgraph import cocitation_pairs

    edges = spark.createDataFrame(
        [("s1", "a"), ("s1", "b"), ("s1", "c"),
         ("s2", "a"), ("s2", "b"),
         ("s3", "a"), ("s3", "b"),
         ("hub", "a"), ("hub", "b"), ("hub", "c"), ("hub", "d")],
        "src string, dst string",
    )
    got = {
        (r["url_a"], r["url_b"]): r["common_sources"]
        for r in cocitation_pairs(edges, min_common=2, max_outlinks=3).collect()
    }
    # hub exceeds the 3-outlink cap -> its citations don't count
    assert got == {("a", "b"): 3}
    # with the cap raised, hub contributes and more pairs clear min_common
    got2 = {
        (r["url_a"], r["url_b"]): r["common_sources"]
        for r in cocitation_pairs(edges, min_common=2, max_outlinks=10).collect()
    }
    assert got2[("a", "b")] == 4 and got2[("a", "c")] == 2


def test_cocitation_pairs_dedups_repeated_edges(spark):
    """Repeated (src, dst) rows must count once — the single-pass
    collect_set form owns the dedup the former dropDuplicates did, and
    the hot-source guard must count DISTINCT targets."""
    from nutch_spark.operators.webgraph import cocitation_pairs

    edges = spark.createDataFrame(
        # s1 cites a twice and b three times; hub repeats d but has only
        # 3 DISTINCT targets, under a cap of 3 — plus a NULL target, which
        # is no target at all (the guard and the pairs see the same edges)
        [("s1", "a"), ("s1", "a"), ("s1", "b"), ("s1", "b"), ("s1", "b"),
         ("s2", "a"), ("s2", "b"),
         ("hub", "a"), ("hub", "b"), ("hub", "d"), ("hub", "d"), ("hub", None)],
        "src string, dst string",
    )
    got = {
        (r["url_a"], r["url_b"]): r["common_sources"]
        for r in cocitation_pairs(edges, min_common=2, max_outlinks=3).collect()
    }
    assert got == {("a", "b"): 3}
