"""Round-5 plugin-breadth tests: urlfilter-ignoreexempt + external-link
ignoring in the parse emit path, scoring-link/scoring-metadata hooks,
language-identifier index field, publish-rabbitmq events, parse-ext,
parse-zip entry naming."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from nutch_spark.config import NutchConfig
from nutch_spark.operators.fetcher import emit_parse_rows

PD_SCHEMA = (
    "url string, outlinks array<struct<to_url:string,anchor:string>>, "
    "signature binary, meta map<string,string>"
)


def _pd(spark, url, targets, meta=None):
    return spark.createDataFrame(
        [(url, [(t, "") for t in targets], b"s", meta or {})], PD_SCHEMA
    )


def test_ignore_external_links_by_host(spark):
    cfg = NutchConfig(ignore_external_links=True)
    pd = _pd(spark, "http://a.com/p", ["http://a.com/x", "http://b.com/y"])
    linked = emit_parse_rows(pd, cfg=cfg).filter(F.col("status") == "linked")
    assert [r["url"] for r in linked.collect()] == ["http://a.com/x"]


def test_ignore_external_links_by_domain(spark):
    cfg = NutchConfig(
        ignore_external_links=True, ignore_external_links_mode="byDomain"
    )
    pd = _pd(
        spark,
        "http://www.a.co.uk/p",
        ["http://sub.a.co.uk/x", "http://b.com/y"],  # same eTLD+1 vs external
    )
    linked = emit_parse_rows(pd, cfg=cfg).filter(F.col("status") == "linked")
    assert [r["url"] for r in linked.collect()] == ["http://sub.a.co.uk/x"]


def test_ignoreexempt_readmits_matching_external(spark):
    # urlfilter-ignoreexempt (ExemptionUrlFilter.java): static-asset CDN
    # urls pass the external ban; other external targets still drop
    cfg = NutchConfig(ignore_external_links=True)
    pd = _pd(
        spark,
        "http://a.com/p",
        ["http://a.com/x", "http://cdn.net/img.png", "http://b.com/y"],
    )
    exempt = lambda u: u.rlike(r"\.(png|jpg|css|js)$")  # noqa: E731
    linked = emit_parse_rows(pd, cfg=cfg, exempt_predicate=exempt).filter(
        F.col("status") == "linked"
    )
    assert sorted(r["url"] for r in linked.collect()) == [
        "http://a.com/x",
        "http://cdn.net/img.png",
    ]
    # OPIC share divides by the SURVIVING outlink count (2), not 3
    assert {round(r["score"], 4) for r in linked.collect()} == {0.5}


def test_ignore_internal_links(spark):
    cfg = NutchConfig(ignore_internal_links=True)
    pd = _pd(spark, "http://a.com/p", ["http://a.com/x", "http://b.com/y"])
    linked = emit_parse_rows(pd, cfg=cfg).filter(F.col("status") == "linked")
    assert [r["url"] for r in linked.collect()] == ["http://b.com/y"]


def test_scoring_metadata_propagates_datum_meta(spark):
    # scoring-metadata: crawldb metadata keys ride to outlink targets;
    # urlmeta (parse meta) wins on key collision
    pd = _pd(
        spark,
        "http://a.com/p",
        ["http://b.com/y"],
        meta={"collection": "parse-side", "topic": "nlp"},
    )
    db = spark.createDataFrame(
        [("http://a.com/p", 2.0, {"collection": "db-side", "tenant": "t9"})],
        "url string, score float, metadata map<string,string>",
    )
    linked = emit_parse_rows(
        pd,
        db,
        urlmeta_keys=("collection", "topic"),
        datum_meta_keys=("collection", "tenant"),
    ).filter(F.col("status") == "linked")
    (row,) = linked.collect()
    assert row["metadata"] == {
        "collection": "parse-side",  # parse value wins the collision
        "topic": "nlp",
        "tenant": "t9",
    }


def test_scoring_link_expressions(spark):
    from nutch_spark.operators.scoring import (
        link_generator_sort,
        link_indexer_boost,
        link_initial_score,
        opic_indexer_boost,
    )

    df = spark.createDataFrame([(4.0,), (None,)], "score float")
    got = df.select(
        opic_indexer_boost("score").alias("opic"),
        link_indexer_boost("score", normalized_score=0.5).alias("link"),
        link_generator_sort("score").alias("sort"),
        link_initial_score().alias("init"),
    ).collect()
    assert got[0]["opic"] == 2.0 and got[0]["link"] == 2.0 and got[0]["sort"] == 4.0
    assert got[1]["opic"] == 0.0 and got[1]["link"] == 0.0
    assert got[0]["init"] == 0.0


def test_language_field_precedence(spark):
    from nutch_spark.operators.index_filters import language_field

    doc = spark.createDataFrame(
        [
            # parse-detected lang wins
            ("http://a.com/1", "the quick brown fox and the lazy dog they",
             {"lang": "fr"}, {"Content-Language": "de"}),
            # header next
            ("http://a.com/2", "the quick brown fox and the lazy dog they",
             {}, {"Content-Language": "DE, en"}),
            # classifier last (clearly English text)
            ("http://a.com/3",
             "the quick brown fox jumps over the lazy dog and then it was "
             "the best of times it was the worst of times", {}, {}),
        ],
        "url string, text string, parse_meta map<string,string>, "
        "content_meta map<string,string>",
    )
    got = {r["url"]: r["lang"] for r in language_field(doc).collect()}
    assert got["http://a.com/1"] == "fr"
    assert got["http://a.com/2"] == "de"
    assert got["http://a.com/3"] == "en"


def test_html_lang_attribute_lands_in_parse_meta():
    from nutch_spark.operators.parse_html import parse_html_page

    out = parse_html_page(
        "http://x.com/", '<html lang="PT-br"><body>ola</body></html>'
    )
    assert out["meta"]["lang"] == "pt-br"


def test_rabbitmq_publisher_events(spark):
    from nutch_spark.sources.publishers import (
        RabbitMQPublisher,
        publish_fetch_events,
    )

    import glob
    import os
    import uuid

    spool = "/tmp/pub-events-" + uuid.uuid4().hex

    def make_pub():
        def publish(exchange, rk, body, headers):
            os.makedirs(spool, exist_ok=True)
            with open(os.path.join(spool, uuid.uuid4().hex + ".json"), "w") as f:
                json.dump({"exchange": exchange, "rk": rk,
                           "event": json.loads(body), "headers": headers}, f)

        return RabbitMQPublisher(publish, headers_static="app=nutch")

    log = spark.createDataFrame(
        [("http://a.com/1", "fetch_success", "T1", "text/html", 1.5)],
        "url string, status string, title string, content_type string, score float",
    ).coalesce(1)
    publish_fetch_events(log, make_pub)
    msgs = [json.load(open(p)) for p in glob.glob(spool + "/*.json")]
    by_type = {m["event"]["eventType"]: m for m in msgs}
    assert set(by_type) == {"START", "END", "REPORT"}
    assert by_type["END"]["event"]["eventData"]["status"] == "fetch_success"
    rep = by_type["REPORT"]["event"]["eventData"]
    assert rep["title"] == "T1" and rep["content_type"] == "text/html"
    assert by_type["START"]["exchange"] == "fetcher_log"
    assert all(m["headers"] == {"app": "nutch"} for m in msgs)


def test_ext_parse_with_fake_command(spark):
    from nutch_spark.operators.parse_ext import ext_parse

    def fake_runner(cmd, payload: bytes) -> bytes:
        if cmd == ["boom"]:
            raise RuntimeError("parser crashed")
        assert cmd == ["upcase"]
        return payload.upper()

    df = spark.createDataFrame(
        [
            ("http://a.com/1", b"hello world", "application/x-custom"),
            ("http://a.com/2", b"zzz", "application/x-crash"),
            ("http://a.com/3", b"skip", "application/unknown"),
        ],
        "url string, content binary, content_type string",
    )
    out = {
        r["url"]: r
        for r in ext_parse(
            df,
            {"application/x-custom": ["upcase"], "application/x-crash": ["boom"]},
            run_command=fake_runner,
        ).collect()
    }
    assert out["http://a.com/1"]["parse_text"] == "HELLO WORLD"
    assert out["http://a.com/2"]["ext_error"] == "RuntimeError"
    assert "http://a.com/3" not in out  # no command for the type


def test_ext_parse_real_subprocess(spark):
    # the default runner drives a real child process (cat round-trip)
    from nutch_spark.operators.parse_ext import ext_parse

    df = spark.createDataFrame(
        [("http://a.com/1", b"round trip", "text/x-thing")],
        "url string, content binary, content_type string",
    )
    (row,) = ext_parse(df, {"text/x-thing": ["cat"]}).collect()
    assert row["parse_text"] == "round trip"


def test_zip_entry_names_in_text():
    import io
    import zipfile

    from nutch_spark.operators.parse_binary import extract_text

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        z.writestr("docs/readme.txt", "alpha beta")
        z.writestr("notes.txt", "gamma")
    mime, text = extract_text(buf.getvalue())
    assert mime == "application/zip"
    # ZipTextExtractor: 'entryname text' per entry
    assert "docs/readme.txt alpha beta" in text
    assert "notes.txt gamma" in text


def test_both_ignore_flags_drop_every_outlink(spark):
    # ParseOutputFormat applies the flags INDEPENDENTLY: both set -> no
    # outlink survives (regression: the else-branch skipped the internal
    # filter whenever ignore_external_links was set)
    cfg = NutchConfig(ignore_external_links=True, ignore_internal_links=True)
    pd = _pd(spark, "http://a.com/p", ["http://a.com/x", "http://b.com/y"])
    linked = emit_parse_rows(pd, cfg=cfg).filter(F.col("status") == "linked")
    assert linked.count() == 0


def test_metadata_separator_is_literal(spark):
    # index.metadata.separator is a literal string, not a regex: '|' must
    # split values, not explode every character
    from nutch_spark.operators.index_filters import metadata_fields

    doc = spark.createDataFrame(
        [("u", {"tags": "a|b|c"})], "url string, parse_meta map<string,string>"
    )
    out = metadata_fields(
        doc, parse_keys=("tags",), separator="|", mv_fields=("tags",)
    ).collect()[0]
    assert out["meta_parse_tags"] == ["a", "b", "c"]


def test_url_filter_predicate_deny_domains_inside_hof_lambda(spark):
    # regression: deny_domains must work inside an array-filter lambda
    # (the emit_parse_rows filter_predicate contract) — the registered-SQL
    # fast path of url_domain cannot bind lambda variables
    from nutch_spark.functions.urls import url_filter_predicate

    df = spark.createDataFrame(
        [(["http://ok.com/a", "http://bad.com/b"],)], "links array<string>"
    )
    kept = df.select(
        F.filter(
            "links",
            lambda u: url_filter_predicate(u, deny_domains=["bad.com"], inline=True),
        ).alias("kept")
    ).collect()[0]["kept"]
    assert kept == ["http://ok.com/a"]


def test_url_filter_predicate_lambda_autodetected_without_inline_flag(spark):
    # r7 ADVICE: external callers that build the predicate inside an
    # F.filter/F.transform lambda (the previously documented use) must not
    # need the inline= opt-in — the lambda variable is detected from the
    # unresolved expression tree and deny_domains falls back automatically.
    from nutch_spark.functions.urls import url_filter_predicate

    df = spark.createDataFrame(
        [(["http://ok.com/a", "http://sub.bad.com/b"],)], "links array<string>"
    )
    kept = df.select(
        F.filter(
            "links",
            lambda u: url_filter_predicate(u, deny_domains=["bad.com"]),
        ).alias("kept")
    ).collect()[0]["kept"]
    assert kept == ["http://ok.com/a"]


def test_slash_normalizer_plugin_data_file(spark):
    """urlnormalizer-slash over the plugin's OWN data file
    (urlnormalizer-slash/data/slashes.txt): www.example.org gains trailing
    slashes (unless the path looks extension-terminated), www.example.net
    loses them; unlisted hosts and root paths untouched. Faithful quirks:
    the rebuild drops port/fragment (SlashURLNormalizer.java:171-205)."""
    from pyspark.sql import functions as F

    from nutch_spark.functions.urls import parse_slashes_file, slash_normalize

    rules = parse_slashes_file(
        open(os.path.join(os.path.dirname(__file__), "data", "slashes.txt")).read()
    )
    assert rules == {"www.example.org": True, "www.example.net": False}
    vectors = [
        ("http://www.example.org/path", "http://www.example.org/path/"),
        ("http://www.example.org/path/", "http://www.example.org/path/"),
        ("http://www.example.org/a?q=1", "http://www.example.org/a/?q=1"),
        # extension within the final 6 chars blocks the added slash
        ("http://www.example.org/page.html", "http://www.example.org/page.html"),
        # short paths (< 6 chars) always qualify, even with a dot
        ("http://www.example.org/a.db", "http://www.example.org/a.db/"),
        # dot further than 6 chars from the end does not block
        ("http://www.example.org/file.verylongext",
         "http://www.example.org/file.verylongext/"),
        # root path untouched
        ("http://www.example.org/", "http://www.example.org/"),
        ("http://www.example.net/path/", "http://www.example.net/path"),
        ("http://www.example.net/path", "http://www.example.net/path"),
        ("http://www.example.net/a/?q=2", "http://www.example.net/a?q=2"),
        # unlisted host untouched
        ("http://other.example.com/path", "http://other.example.com/path"),
        # the reference's StringBuilder rebuild drops port and fragment
        ("http://www.example.net:8080/x/", "http://www.example.net/x"),
    ]
    df = spark.createDataFrame(vectors, "url string, expected string")
    bad = df.select(
        "url", "expected", slash_normalize(F.col("url"), rules).alias("got")
    ).filter("got != expected").collect()
    assert not bad, [(r["url"], r["got"]) for r in bad]


def test_arbitrary_indexing_filter_set_and_add(spark):
    """index-arbitrary (ArbitraryIndexingFilter): user expressions set a new
    field, overwrite an existing one, or append (making it multi-valued,
    NutchDocument.add semantics)."""
    from pyspark.sql import functions as F

    from nutch_spark.operators.index_filters import arbitrary_fields

    doc = spark.createDataFrame(
        [("http://a.com/x", "hello world")], "url string, title string"
    )
    out = arbitrary_fields(
        doc,
        [
            {"field": "wordcount", "expr": "size(split(title, ' '))"},
            {"field": "title", "expr": F.upper("title"), "overwrite": True},
            {"field": "title", "expr": F.lit("extra")},  # append → multi-valued
            {"field": "hostlen", "expr": lambda d: F.length(F.col("url"))},
        ],
    ).collect()[0]
    assert out["wordcount"] == 2
    assert out["title"] == ["HELLO WORLD", "extra"]
    assert out["hostlen"] == len("http://a.com/x")


def test_parsefilter_debug_dom_meta():
    """parsefilter-debug: with parse.debug.dom on, the normalized markup
    re-serialization lands in parse meta 'DOM' (DebugParseFilter.java:45-52
    stores DomUtil.saveDom output the same way)."""
    from nutch_spark.config import NutchConfig
    from nutch_spark.operators.parse_html import parse_html_page

    html = "<HTML><Body class=Main>Hi &amp; <b>bye</b><br/></body></html>"
    page = parse_html_page(
        "http://a.com/", html, cfg=NutchConfig(parse_debug_dom=True)
    )
    dom = page["meta"]["DOM"]
    assert dom == (
        '<html><body class="Main">Hi &amp; <b>bye</b><br/></body></html>'
    )
    # off by default — no DOM key (the reference only runs the filter when
    # plugin.includes activates it)
    assert "DOM" not in parse_html_page("http://a.com/", html)["meta"]
