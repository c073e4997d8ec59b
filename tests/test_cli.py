"""End-to-end tests for the bin/nutch-equivalent CLI (nutch_spark/cli.py).

A tiny file:// site is crawled through the ON-DISK lifecycle the reference
user runs: inject -> generate -> fetch -> parse -> updatedb -> invertlinks ->
dedup -> readdb/readseg/index/stats -> webgraph family -> bin/crawl loop.
Every command goes through ``cli.main(argv)`` — the same entry as
``python -m nutch_spark ...``.
"""

from __future__ import annotations

import json
import os

import pytest

from nutch_spark.cli import main


def _write_site(root: str, pages: int = 6) -> str:
    """A small static site with internal cross-links."""
    site = os.path.join(root, "site")
    os.makedirs(site, exist_ok=True)
    for i in range(pages):
        nxt = (i + 1) % pages
        other = (i + 2) % pages
        with open(os.path.join(site, f"p{i}.html"), "w") as fh:
            fh.write(
                f"<html><head><title>page {i}</title>"
                f'<meta name="keywords" content="k{i}"></head>'
                f'<body><a href="p{nxt}.html">next</a> '
                f'<a href="p{other}.html">other</a> body text {i}</body></html>'
            )
    return site


@pytest.fixture(scope="module")
def crawl_env(spark, tmp_path_factory):
    """inject → generate → fetch → parse → updatedb → invertlinks, on disk."""
    root = str(tmp_path_factory.mktemp("cli"))
    site = _write_site(root)
    seeds = os.path.join(root, "seeds")
    os.makedirs(seeds)
    with open(os.path.join(seeds, "seed.txt"), "w") as fh:
        fh.write(f"file://{site}/p0.html\tnutch.score=2.0\n")
        fh.write("# a comment line\n")
        fh.write(f"file://{site}/p1.html\n")

    crawldb = os.path.join(root, "crawldb")
    segments = os.path.join(root, "segments")
    linkdb = os.path.join(root, "linkdb")

    # -noFilter: the default filter chain (like the reference's stock
    # regex-urlfilter.txt) rejects file:// urls
    assert main(["inject", crawldb, seeds, "-noFilter"]) == 0
    assert (
        main(
            [
                "generate", crawldb, segments,
                "-topN", "10", "-segmentName", "seg1",
            ]
        )
        == 0
    )
    seg = os.path.join(segments, "seg1")
    assert main(["fetch", seg, "-fetcher", "file"]) == 0
    assert main(["parse", seg]) == 0
    assert main(["updatedb", crawldb, seg]) == 0
    assert main(["invertlinks", linkdb, seg]) == 0
    return {
        "root": root,
        "site": site,
        "crawldb": crawldb,
        "segments": segments,
        "seg": seg,
        "linkdb": linkdb,
    }


def test_inject_generate_fetch_parse(spark, crawl_env):
    seg = crawl_env["seg"]
    fl = spark.read.parquet(os.path.join(seg, "crawl_generate"))
    assert fl.count() == 2  # both seeds due
    log = spark.read.parquet(os.path.join(seg, "crawl_fetch"))
    rows = {r["url"]: r for r in log.collect()}
    assert len(rows) == 2
    assert all(r["status"] == "fetch_success" for r in rows.values())
    assert all(r["segment_id"] == "seg1" for r in rows.values())

    pd_rows = spark.read.parquet(os.path.join(seg, "parse_data")).collect()
    assert {r["title"] for r in pd_rows} == {"page 0", "page 1"}
    # outlinks resolved against base url, metatags captured by the html parser
    assert all(len(r["outlinks"]) == 2 for r in pd_rows)
    pt = spark.read.parquet(os.path.join(seg, "parse_text")).collect()
    assert any("body text" in r["text"] for r in pt)
    cp = spark.read.parquet(os.path.join(seg, "crawl_parse"))
    assert cp.filter(cp.status == "linked").count() > 0


def test_parse_outlink_share_divides_the_parent_score(spark, crawl_env):
    """OPIC passScoreBeforeParsing: p0 (injected nutch.score=2.0) and p1
    (the default 1.0) each have two outlinks, so their shares are 1.0 and
    0.5."""
    cp = spark.read.parquet(os.path.join(crawl_env["seg"], "crawl_parse"))
    scores = sorted(r["score"] for r in cp.filter(cp.status == "linked").collect())
    assert scores == [0.5, 0.5, 1.0, 1.0]


def test_updatedb_state(spark, crawl_env):
    db = spark.read.parquet(crawl_env["crawldb"])
    by_status = {r["status"]: r["n"] for r in db.groupBy("status").agg(
        __import__("pyspark.sql.functions", fromlist=["count"]).count("*").alias("n")
    ).collect()}
    assert by_status.get("db_fetched", 0) == 2  # the two seeds
    assert by_status.get("db_unfetched", 0) >= 1  # discovered outlinks


def test_readdb_stats_and_topn(capsys, crawl_env):
    assert main(["readdb", crawl_env["crawldb"], "-stats"]) == 0
    out = capsys.readouterr().out
    assert "TOTAL urls:" in out
    assert "status db_fetched:\t2" in out

    topn_out = os.path.join(crawl_env["root"], "topn")
    assert (
        main(["readdb", crawl_env["crawldb"], "-topN", "3", topn_out, "-format", "csv"])
        == 0
    )
    files = [f for f in os.listdir(topn_out) if f.endswith(".csv")]
    assert files


def test_readdb_url_lookup(capsys, crawl_env):
    url = f"file://{crawl_env['site']}/p0.html"
    assert main(["readdb", crawl_env["crawldb"], "-url", url]) == 0
    row = json.loads(capsys.readouterr().out.strip())
    assert row["url"] == url
    assert row["status"] == "db_fetched"


def test_readseg_list(capsys, crawl_env):
    assert main(["readseg", "-list", crawl_env["seg"]]) == 0
    info = json.loads(capsys.readouterr().out.strip())
    assert info["crawl_fetch"] == 2
    assert info["parse_data"] == 2


def test_readlinkdb(spark, crawl_env):
    ldb = spark.read.parquet(crawl_env["linkdb"])
    # cross-page links on one host are internal; default config ignores them,
    # so the linkdb exists but may be empty — the READER must still work
    assert ldb.columns[:1] == ["to_url"]


def test_dedup_and_index(spark, crawl_env):
    assert main(["dedup", crawl_env["crawldb"]]) == 0
    out = os.path.join(crawl_env["root"], "index_out")
    assert (
        main(
            [
                "index", crawl_env["crawldb"], crawl_env["seg"],
                "-linkdb", crawl_env["linkdb"],
                "-out", out, "-writer", "jsonl",
            ]
        )
        == 0
    )
    docs = []
    for name in os.listdir(out):
        with open(os.path.join(out, name)) as fh:
            docs += [json.loads(l) for l in fh if l.strip()]
    assert {d["doc"]["title_indexed"] for d in docs} == {"page 0", "page 1"}
    assert all(d["action"] == "add" for d in docs)


def test_stats_commands(crawl_env):
    root = crawl_env["root"]
    for cmd, out in (
        (["domainstats", crawl_env["crawldb"], os.path.join(root, "ds"), "host"], "ds"),
        (["protocolstats", crawl_env["crawldb"], os.path.join(root, "ps")], "ps"),
        (["crawlcomplete", crawl_env["crawldb"], os.path.join(root, "cc")], "cc"),
    ):
        assert main(cmd + ["-format", "csv"]) == 0
        assert os.listdir(os.path.join(root, out))


def test_webgraph_family(spark, crawl_env, capsys):
    root = crawl_env["root"]
    wg = os.path.join(root, "webgraphdb")
    assert main(["webgraph", "-webgraphdb", wg, crawl_env["seg"]]) == 0
    nodes = spark.read.parquet(os.path.join(wg, "nodes"))
    assert {"url", "num_outlinks", "num_inlinks"} <= set(nodes.columns)
    assert nodes.count() > 0

    assert main(["linkrank", "-webgraphdb", wg, "-iterations", "2"]) == 0
    scored = spark.read.parquet(os.path.join(wg, "nodes"))
    assert "score" in scored.columns

    assert main(["scoreupdater", "-crawldb", crawl_env["crawldb"], "-webgraphdb", wg]) == 0
    nd_out = os.path.join(root, "nodedump")
    assert (
        main(
            [
                "nodedumper", "-webgraphdb", wg, "-out", nd_out,
                "-inlinks", "-topn", "5", "-format", "csv",
            ]
        )
        == 0
    )
    assert os.listdir(nd_out)

    # NodeDumper -group host: rollup instead of per-url dump
    grp_out = os.path.join(root, "nodegroup")
    assert (
        main(
            [
                "nodedumper", "-webgraphdb", wg, "-out", grp_out,
                "-inlinks", "-group", "host", "-format", "csv",
            ]
        )
        == 0
    )
    assert os.listdir(grp_out)


def test_hostdb_commands(spark, crawl_env):
    root = crawl_env["root"]
    hostdb = os.path.join(root, "hostdb")
    assert main(["updatehostdb", "-crawldb", crawl_env["crawldb"], "-hostdb", hostdb]) == 0
    hosts = spark.read.parquet(hostdb)
    assert hosts.count() >= 1
    out = os.path.join(root, "hostdump")
    assert main(["readhostdb", hostdb, out, "-format", "csv"]) == 0
    assert os.listdir(out)

    # -dumpHostnames + JEXL -expr (ReadHostDb.java:85-130)
    out2 = os.path.join(root, "hostnames")
    assert (
        main(
            [
                "readhostdb", hostdb, out2, "-format", "csv",
                "-dumpHostnames", "-expr", "fetched > 0",
            ]
        )
        == 0
    )
    lines = []
    for f in os.listdir(out2):
        if f.endswith(".csv"):
            with open(os.path.join(out2, f)) as fh:
                lines += [l.strip() for l in fh if l.strip()]
    assert any("host" == l or l for l in lines)  # hostnames only, one column
    assert all("," not in l for l in lines)


def test_exports(crawl_env):
    root = crawl_env["root"]
    warc_out = os.path.join(root, "warc_out")
    assert main(["warc", warc_out, crawl_env["seg"]]) == 0
    assert os.listdir(warc_out)
    cc_out = os.path.join(root, "ccdump")
    assert main(["commoncrawldump", cc_out, crawl_env["seg"]]) == 0
    assert os.listdir(cc_out)
    dump_out = os.path.join(root, "filedump")
    assert main(["dump", dump_out, crawl_env["seg"]]) == 0
    assert os.listdir(dump_out)


def test_mergedb_and_mergesegs(spark, crawl_env):
    root = crawl_env["root"]
    merged = os.path.join(root, "merged_db")
    assert main(["mergedb", merged, crawl_env["crawldb"], crawl_env["crawldb"]]) == 0
    orig = spark.read.parquet(crawl_env["crawldb"]).count()
    assert spark.read.parquet(merged).count() == orig

    seg_out = os.path.join(root, "merged_segs")
    assert (
        main(["mergesegs", seg_out, crawl_env["seg"], "-segmentName", "m1"]) == 0
    )
    m = spark.read.parquet(os.path.join(seg_out, "m1", "crawl_fetch"))
    assert m.count() == 2


def test_sitemap_inject(spark, crawl_env, tmp_path):
    sm = tmp_path / "sitemap.xml"
    sm.write_text(
        "<urlset><url><loc>http://sm.example.com/a</loc>"
        "<changefreq>daily</changefreq><priority>0.8</priority></url></urlset>"
    )
    db = os.path.join(str(tmp_path), "sm_crawldb")
    assert main(["sitemap", db, "-sitemap", str(sm)]) == 0
    rows = spark.read.parquet(db).collect()
    assert rows[0]["url"] == "http://sm.example.com/a"
    assert rows[0]["metadata"]["sitemap.changefreq"] == "daily"


def test_checkers(capsys, crawl_env, tmp_path):
    url = f"file://{crawl_env['site']}/p0.html"
    assert main(["parsechecker", url]) == 0
    out = capsys.readouterr().out
    assert "title: page 0" in out
    assert "outlink:" in out

    assert main(["normalizerchecker", "HTTP://Example.COM:80/a/../b"]) == 0
    out = capsys.readouterr().out
    assert "-> http://example.com/b" in out

    assert main(["filterchecker", "http://example.com/ok", "not a url"]) == 0
    out = capsys.readouterr().out.splitlines()
    assert out[0].startswith("+")
    assert out[1].startswith("-")


def test_robotsparser(capsys, tmp_path):
    robots = tmp_path / "robots.txt"
    robots.write_text("User-agent: *\nDisallow: /private/\n")
    urls = tmp_path / "urls.txt"
    urls.write_text(
        "http://e.com/public/page.html\nhttp://e.com/private/page.html\n"
    )
    assert main(["robotsparser", str(robots), str(urls)]) == 0
    out = capsys.readouterr().out
    assert "allowed:\thttp://e.com/public/page.html" in out
    assert "forbidden:\thttp://e.com/private/page.html" in out


def test_robotsparser_port_case_and_malformed(capsys, tmp_path):
    """Rules must key on the normalized hostname: explicit ports and
    uppercase hosts still match; host-less urls report as malformed."""
    robots = tmp_path / "robots.txt"
    robots.write_text("User-agent: *\nDisallow: /\n")
    urls = tmp_path / "urls.txt"
    urls.write_text(
        "http://e.com:8080/secret\nhttp://E.com/secret\n/relative/path\n"
    )
    assert main(["robotsparser", str(robots), str(urls)]) == 0
    out = capsys.readouterr().out
    assert "forbidden:\thttp://e.com:8080/secret" in out
    assert "forbidden:\thttp://E.com/secret" in out
    assert "malformed:\t/relative/path" in out


def test_showproperties(capsys):
    assert main(["showproperties", "-D", "db.fetch.retry.max=7"]) == 0
    out = capsys.readouterr().out
    assert "db.fetch.retry.max=7" in out
    assert "generate.max.count=-1" in out


def test_replaced_commands(capsys):
    assert main(["junit"]) == 2
    assert "pytest" in capsys.readouterr().err


def test_crawl_loop(spark, tmp_path):
    """bin/crawl parity: two on-disk rounds over the synthetic fetcher."""
    site_root = str(tmp_path)
    seeds = os.path.join(site_root, "seeds")
    os.makedirs(seeds)
    with open(os.path.join(seeds, "s.txt"), "w") as fh:
        # md5 bucket 5 → synthetic_fetch_fn returns fetch_success (a seed in
        # the retry/gone buckets would legitimately leave the frontier empty)
        fh.write("http://host1.example.com/start\n")
    crawl_dir = os.path.join(site_root, "crawl")
    assert (
        main(
            [
                "crawl", crawl_dir, "2", "-s", seeds, "-i",
                "-fetcher", "synthetic", "-topN", "20",
            ]
        )
        == 0
    )
    db = spark.read.parquet(os.path.join(crawl_dir, "crawldb"))
    statuses = {r["status"] for r in db.select("status").distinct().collect()}
    assert "db_fetched" in statuses
    assert db.count() > 1  # frontier grew beyond the seed
    segs = os.listdir(os.path.join(crawl_dir, "segments"))
    assert len(segs) == 2
    assert os.path.isdir(os.path.join(crawl_dir, "linkdb"))
    # -i indexed each round's documents (bin/crawl:405-418)
    idx = os.path.join(crawl_dir, "index")
    assert os.listdir(idx)


def test_startserver_http_roundtrip(spark):
    """The REST layer over a real socket (NutchServer.java:75-130)."""
    import urllib.request

    from nutch_spark.sources.jobs import NutchServer, serve_http

    server = NutchServer(spark)
    httpd = serve_http(server, port=0, background=True)
    port = httpd.server_address[1]
    try:
        with urllib.request.urlopen(f"http://127.0.0.1:{port}/admin") as r:
            status = json.loads(r.read())
        assert "startDate" in status and status["jobs"] == []

        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/config",
            data=json.dumps(
                {"configId": "c1", "params": {"db.fetch.retry.max": 5}}
            ).encode(),
            headers={"Content-Type": "application/json"},
            method="POST",
        )
        with urllib.request.urlopen(req) as r:
            assert json.loads(r.read())["id"] == "c1"
        with urllib.request.urlopen(f"http://127.0.0.1:{port}/config/c1") as r:
            assert json.loads(r.read()) == {"db.fetch.retry.max": 5}
        with urllib.request.urlopen(f"http://127.0.0.1:{port}/nope") as r:
            pass
    except urllib.error.HTTPError as e:
        assert e.code == 404  # the /nope route
    finally:
        httpd.shutdown()
        httpd.server_close()


def test_parse_regex_path(spark, crawl_env, tmp_path):
    """The vectorized regex parser must produce the same segment layout."""
    import shutil

    seg2 = str(tmp_path / "seg_rx")
    shutil.copytree(os.path.join(crawl_env["seg"], "crawl_generate"),
                    os.path.join(seg2, "crawl_generate"))
    shutil.copytree(os.path.join(crawl_env["seg"], "crawl_fetch"),
                    os.path.join(seg2, "crawl_fetch"))
    assert main(["parse", seg2, "-parser", "regex"]) == 0
    pd_rows = spark.read.parquet(os.path.join(seg2, "parse_data")).collect()
    assert {r["title"] for r in pd_rows} == {"page 0", "page 1"}
    assert all(r["parse_meta"] == {} for r in pd_rows)


def test_generate_jexl_expr_filter(spark, crawl_env, tmp_path):
    """-expr is the GENERATOR_EXPR JEXL row filter (Generator.java:114)."""
    segs = str(tmp_path / "segs")
    assert (
        main(
            [
                "generate", crawl_env["crawldb"], segs,
                "-segmentName", "je", "-expr", "status == 'db_unfetched'",
            ]
        )
        == 0
    )
    fl = spark.read.parquet(os.path.join(segs, "je", "crawl_generate"))
    assert fl.count() > 0
    assert {r["status"] for r in fl.select("status").distinct().collect()} == {
        "db_unfetched"
    }


def test_inject_default_filter_rejects_invalid(spark, tmp_path):
    """Injector.java:113-180: the urlfilter chain runs on seeds by default;
    -noFilter disables it."""
    seeds = tmp_path / "seeds"
    seeds.mkdir()
    (seeds / "s.txt").write_text(
        "http://good.example.com/ok\nfile:///etc/passwd\nhttp://bad host/x\n"
    )
    db1 = str(tmp_path / "db_filtered")
    assert main(["inject", db1, str(seeds)]) == 0
    urls = {r["url"] for r in spark.read.parquet(db1).collect()}
    assert urls == {"http://good.example.com/ok"}

    db2 = str(tmp_path / "db_unfiltered")
    assert main(["inject", db2, str(seeds), "-noFilter"]) == 0
    urls2 = {r["url"] for r in spark.read.parquet(db2).collect()}
    assert "file:///etc/passwd" in urls2


def test_http_server_stop_and_bad_json(spark):
    import json as _json
    import time
    import urllib.error
    import urllib.request

    from nutch_spark.sources.jobs import NutchServer, serve_http

    server = NutchServer(spark)
    httpd = serve_http(server, port=0, background=True)
    port = httpd.server_address[1]
    try:
        # malformed body -> 400, not a 409 config conflict
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/config",
            data=b"{not json",
            headers={"Content-Type": "application/json"},
            method="POST",
        )
        try:
            urllib.request.urlopen(req)
            raise AssertionError("expected HTTPError")
        except urllib.error.HTTPError as e:
            assert e.code == 400

        # /admin/stop actually terminates the serve loop
        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/admin/stop"
        ) as r:
            assert _json.loads(r.read())["stopped"] is True
        deadline = time.time() + 5
        alive = True
        while time.time() < deadline:
            try:
                urllib.request.urlopen(
                    f"http://127.0.0.1:{port}/admin", timeout=1
                )
                time.sleep(0.1)
            except (urllib.error.URLError, ConnectionError, OSError):
                alive = False
                break
        assert not alive
    finally:
        httpd.server_close()


def test_generic_D_options_reach_operators(spark, crawl_env, tmp_path):
    """Hadoop-style -D generic options flow through PROPERTY_MAP into the
    operator configs (generate.max.count=1 caps the per-host quota)."""
    segs = str(tmp_path / "segs")
    assert (
        main(
            [
                "generate", crawl_env["crawldb"], segs,
                "-segmentName", "dcap",
                "-D", "generate.max.count=1",
            ]
        )
        == 0
    )
    fl = spark.read.parquet(os.path.join(segs, "dcap", "crawl_generate"))
    # all urls share one file:// host -> quota of 1 row
    assert fl.count() == 1


def test_readdb_dump_filters(spark, crawl_env, tmp_path):
    """CrawlDbReader -dump filter options (:1102-1122): -status, -regex,
    -retry, -expr, -sample compose on the dump."""
    out1 = str(tmp_path / "d1")
    assert (
        main(
            [
                "readdb", crawl_env["crawldb"], "-dump", out1,
                "-format", "json", "-status", "db_fetched",
            ]
        )
        == 0
    )
    rows = []
    for f in os.listdir(out1):
        if f.endswith(".json"):
            with open(os.path.join(out1, f)) as fh:
                rows += [json.loads(l) for l in fh if l.strip()]
    assert rows and all(r["status"] == "db_fetched" for r in rows)

    out2 = str(tmp_path / "d2")
    assert (
        main(
            [
                "readdb", crawl_env["crawldb"], "-dump", out2,
                "-format", "json", "-regex", r".*p0\.html",
            ]
        )
        == 0
    )
    rows2 = []
    for f in os.listdir(out2):
        if f.endswith(".json"):
            with open(os.path.join(out2, f)) as fh:
                rows2 += [json.loads(l) for l in fh if l.strip()]
    assert len(rows2) == 1 and rows2[0]["url"].endswith("p0.html")

    out3 = str(tmp_path / "d3")
    assert (
        main(
            [
                "readdb", crawl_env["crawldb"], "-dump", out3,
                "-format", "json", "-expr", "status == 'db_unfetched'",
            ]
        )
        == 0
    )
    rows3 = []
    for f in os.listdir(out3):
        if f.endswith(".json"):
            with open(os.path.join(out3, f)) as fh:
                rows3 += [json.loads(l) for l in fh if l.strip()]
    assert rows3 and all(r["status"] == "db_unfetched" for r in rows3)


def test_indexchecker(capsys, crawl_env):
    url = f"file://{crawl_env['site']}/p0.html"
    assert main(["indexchecker", url]) == 0
    row = json.loads(capsys.readouterr().out.strip().splitlines()[0])
    assert row["url"] == url
    assert row["action"] == "ADD"
    assert row["title_indexed"] == "page 0"
    assert row["digest"]  # md5 of the fetched content


def test_mergesegs_slice(spark, crawl_env, tmp_path):
    """SegmentMerger -slice: the merged segment splits into hash chunks."""
    out = str(tmp_path / "sliced")
    assert (
        main(
            [
                "mergesegs", out, crawl_env["seg"],
                "-slice", "1", "-segmentName", "s",
            ]
        )
        == 0
    )
    m = spark.read.parquet(os.path.join(out, "s", "crawl_fetch"))
    assert m.count() == 2
    assert "slice" in m.columns  # the chunk assignment downstream writes partition by


def test_driver_entry_smoke(spark):
    """The driver's smoke path: __spark_entry__.entry(spark) must run the
    flagship query at sf0.001 and return rows with a stable schema — guard
    against registry refactors breaking the contract module."""
    import importlib
    import sys

    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo_root)
    try:
        mod = importlib.import_module("__spark_entry__")
        df = mod.entry(spark)
        rows = df.count()
        assert rows > 0
        assert df.columns  # stable, non-empty schema
        q = mod.queries()
        o = mod.oracle_sql()
        assert len(q) >= 112
        assert set(o) <= set(q)
    finally:
        sys.path.remove(repo_root)


def test_solr_era_commands_print_replacement(capsys):
    """bin/nutch:272-275 REMOVED solrindex/solrdedup/solrclean: it prints
    'The command X was replaced by the command Y' and exits non-zero —
    mirror that, don't resurrect the commands as live aliases."""
    from nutch_spark.cli import main

    for legacy, repl in (
        ("solrindex", "index"),
        ("solrdedup", "dedup"),
        ("solrclean", "clean"),
    ):
        assert main([legacy]) != 0
        err = capsys.readouterr().err
        assert (
            f"The command {legacy} was replaced by the command {repl}" in err
        )


def test_resolve_fetch_fn_binds_conf_surface():
    # -D http.proxy.host / http.accept* flow from NutchConfig into the
    # bound HTTP fetcher (HttpBase.setConf parity)
    from nutch_spark.cli import _resolve_fetch_fn
    from nutch_spark.config import NutchConfig

    cfg = NutchConfig.from_properties(
        {
            "http.proxy.host": "proxy.example.com",
            "http.proxy.port": "3128",
            "http.proxy.exception.list": "a.com, b.com",
            "http.accept": " ",
        }
    )
    bound = _resolve_fetch_fn("http", cfg)
    assert bound.keywords["proxy"] == "proxy.example.com:3128"
    assert bound.keywords["proxy_exceptions"] == {"a.com", "b.com"}
    assert bound.keywords["accept"] == " "  # space = omit header convention
    # no proxy configured -> no proxy kwarg bound
    plain = _resolve_fetch_fn("http", NutchConfig())
    assert "proxy" not in plain.keywords
