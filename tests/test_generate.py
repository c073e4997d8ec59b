"""Generator tests — ports of src/test/org/apache/nutch/crawl/TestGenerator.java."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from nutch_spark.config import NutchConfig
from nutch_spark.operators.generate import generate
from nutch_spark.schemas import CRAWLDB

NOW = dt.datetime(2026, 1, 1)
PAST = dt.datetime(2020, 1, 1)


def _db(spark, rows):
    return spark.createDataFrame(rows, CRAWLDB)


def _row(url, score, status="db_unfetched", fetch_time=PAST):
    return (url, status, fetch_time, 0, 86400, float(score), None, None, {})


class TestGenerateHighest:
    """TestGenerator.java:80-110 — 101 datums score=i, topN=2 → the two highest."""

    def test_top_scores_selected(self, spark):
        db = _db(spark, [_row(f"http://aaa/{i:03d}", i) for i in range(101)])
        got = generate(db, top_n=2, now=F.lit(NOW))
        urls = sorted(r["url"] for r in got.select("url").collect())
        assert urls == ["http://aaa/099", "http://aaa/100"]

    def test_min_score_filter(self, spark):
        db = _db(spark, [_row(f"http://aaa/{i:03d}", i) for i in range(101)])
        cfg = NutchConfig(generate_min_score=100.0)
        got = generate(db, top_n=10, cfg=cfg, now=F.lit(NOW))
        assert [r["url"] for r in got.collect()] == ["http://aaa/100"]


class TestGenerateHostLimit:
    """TestGenerator testGenerateHostLimit: maxCount per host."""

    def test_max_count_per_host(self, spark):
        rows = [_row(f"http://host{h}.com/{i}", 10 * h + i) for h in range(3) for i in range(5)]
        db = _db(spark, rows)
        cfg = NutchConfig(generate_max_count=2, generate_count_mode="host")
        got = generate(db, top_n=100, cfg=cfg, now=F.lit(NOW)).collect()
        from collections import Counter

        hosts = Counter(r["url"].split("/")[2] for r in got)
        assert all(c <= 2 for c in hosts.values())
        assert len(got) == 6  # 3 hosts x 2

    def test_hostdb_variable_max_count(self, spark):
        # Generator.java:486-545: hosts in the hostdb get round(JEXL expr) as
        # quota; absent hosts keep the global generate.max.count; the JEXL
        # fetchDelay lands in metadata['_variableFetchDelay_'] (ms).
        rows = [_row(f"http://host{h}.com/{i}", 10 * h + i) for h in range(3) for i in range(5)]
        db = _db(spark, rows)
        hostdb = spark.createDataFrame(
            [("host0.com", 30), ("host1.com", 10)], "host string, fetched int"
        )
        cfg = NutchConfig(generate_max_count=2, generate_count_mode="host")
        got = generate(
            db,
            top_n=100,
            cfg=cfg,
            now=F.lit(NOW),
            hostdb=hostdb,
            max_count_expr="fetched / 10",
            fetch_delay_expr="fetched * 100",
        ).collect()
        from collections import Counter

        hosts = Counter(r["url"].split("/")[2] for r in got)
        assert hosts == {"host0.com": 3, "host1.com": 1, "host2.com": 2}
        delays = {r["url"].split("/")[2]: (r["metadata"] or {}).get("_variableFetchDelay_") for r in got}
        assert delays["host0.com"] == "3000"
        assert delays["host1.com"] == "1000"
        assert delays["host2.com"] is None

    def test_segment_spill(self, spark):
        rows = [_row(f"http://one.com/{i}", i) for i in range(10)]
        db = _db(spark, rows)
        cfg = NutchConfig(
            generate_max_count=3, generate_count_mode="host", generate_max_num_segments=2
        )
        got = generate(db, top_n=100, cfg=cfg, now=F.lit(NOW)).collect()
        segs = {r["segment_num"] for r in got}
        assert segs == {0, 1} and len(got) == 6


class TestGenerateFilters:
    def test_due_check(self, spark):
        # < db.fetch.interval.max ahead: genuinely not due. (A fetch_time
        # further out than the max interval is clock skew and WOULD be
        # fetched — see test_generate_clock_skew_resets_runaway_fetch_time.)
        future = NOW + dt.timedelta(days=30)
        db = _db(
            spark,
            [_row("http://due.com/a", 1.0), _row("http://later.com/b", 9.0, fetch_time=future)],
        )
        got = generate(db, top_n=10, now=F.lit(NOW)).collect()
        assert [r["url"] for r in got] == ["http://due.com/a"]

    def test_status_excluded(self, spark):
        db = _db(
            spark,
            [
                _row("http://ok.com/a", 1.0),
                _row("http://gone.com/b", 9.0, status="db_gone"),
                _row("http://dup.com/c", 9.0, status="db_duplicate"),
            ],
        )
        got = generate(db, top_n=10, now=F.lit(NOW)).collect()
        assert [r["url"] for r in got] == ["http://ok.com/a"]


class TestPolitenessLayout:
    def test_host_colocation_and_hash_order(self, spark):
        """W1 politeness layout (Generator.java:672-702 + URLPartitioner):
        every host's URLs land in exactly one partition (the fetcher's
        per-host queue), and within a partition rows are ordered by
        xxhash64(url) so one host's URLs are spread apart, not clustered."""
        import datetime

        from pyspark.sql import functions as F

        from nutch_spark.operators.generate import generate

        now = datetime.datetime(2026, 1, 1)
        rows = [
            (f"http://h{i % 7}.com/p{i}", "db_unfetched", now, 0, 3600,
             float(i), None, None, {})
            for i in range(200)
        ]
        db = spark.createDataFrame(
            rows,
            "url string, status string, fetch_time timestamp, retries int, "
            "fetch_interval int, score float, signature binary, "
            "modified_time timestamp, metadata map<string,string>",
        )
        out = generate(db, 200, now=F.lit(now), num_lists=4)
        got = out.select(
            "url",
            F.spark_partition_id().alias("pid"),
            F.xxhash64("url").alias("h"),
        ).collect()
        assert len(got) == 200
        # one partition per host
        host_pids = {}
        for r in got:
            host = r["url"].split("/")[2]
            host_pids.setdefault(host, set()).add(r["pid"])
        assert all(len(pids) == 1 for pids in host_pids.values()), host_pids
        # collect preserves intra-partition order: hashes nondecreasing per pid
        by_pid = {}
        for r in got:
            by_pid.setdefault(r["pid"], []).append(r["h"])
        for pid, hs in by_pid.items():
            assert hs == sorted(hs), f"partition {pid} not hash-ordered"


def test_free_generate(spark):
    from nutch_spark.operators.generate import free_generate

    urls = spark.createDataFrame(
        [
            ("http://a.com/x",),
            ("http://a.com/x",),                    # dup collapses
            ("HTTP://A.com/y#frag",),               # normalizes (case, fragment)
            ("ftp://b.com/z",),                     # filtered by default chain
        ],
        "url string",
    )
    got = sorted(r["url"] for r in free_generate(urls).collect())
    assert got == ["http://a.com/x", "http://a.com/y"]


def test_generate_with_url_filter(spark):
    """TestGenerator.testFilter: with the filter ON nothing passes a
    deny-all chain (empty fetchlist); with the filter OFF all three URLs
    generate. The reference's -filter flag is generate's extra_filter."""
    from nutch_spark.functions.urls import url_filter_predicate
    from nutch_spark.operators.generate import generate
    from tests.test_operators import NOW, db_row, make_db

    db = make_db(
        spark,
        [
            db_row("http://www.example.com/index.html"),
            db_row("http://www.example.net/index.html"),
            db_row("http://www.example.org/index.html"),
        ],
    )
    deny_all = url_filter_predicate("url", deny_regex=["."])
    assert generate(db, 100, extra_filter=deny_all, now=F.lit(NOW)).count() == 0
    assert generate(db, 100, now=F.lit(NOW)).count() == 3


class TestURLNoHost:
    """TestGenerator.java:312-353 testURLNoHost: host-less ``file:`` URLs
    survive generation under host/domain count modes, while unknown-scheme
    URLs (java.net.URL throws MalformedURLException) are silently dropped."""

    def test_file_url_kept_unknown_scheme_dropped(self, spark):
        db = _db(
            spark,
            [
                _row("file:/path/index.html", 1),
                _row("xyz://foobar/path/index.html", 1),
            ],
        )
        for mode in ("host", "domain"):
            cfg = NutchConfig(generate_count_mode=mode, generate_max_count=-1)
            got = [
                r["url"]
                for r in generate(
                    db, top_n=10_000_000, cfg=cfg, now=F.lit(NOW)
                ).collect()
            ]
            assert got == ["file:/path/index.html"], mode
