"""Property/invariant tests over seeded random inputs — a layer the
reference lacks entirely (SURVEY.md §5: "no property-based/randomized
testing"). Each invariant is checked over many rows in ONE Spark job
(hypothesis-style per-example jobs would be prohibitively slow on a JVM
engine; the seeded corpus gives the same breadth deterministically).
"""

from __future__ import annotations

import datetime
import random

import pytest
from pyspark.sql import functions as F

from nutch_spark.config import NutchConfig
from nutch_spark.datapipe.dedup import minhash_lsh_pairs, ngram_jaccard_pairs
from nutch_spark.functions.signatures import (
    text_profile_signature,
    text_profile_signatures,
)
from nutch_spark.functions.urls import normalize_url
from nutch_spark.operators.dedup import mark_duplicates
from nutch_spark.operators.generate import generate
from nutch_spark.operators.updatedb import adaptive_interval, update_crawldb

RNG = random.Random(20260813)
NOW = datetime.datetime(2026, 1, 1)


def _rand_url(i: int) -> str:
    scheme = RNG.choice(["http", "HTTP", "https", "HTTPS"])
    host = RNG.choice(
        [f"Host{i % 17}.Example.COM", f"www.site{i % 11}.org.", f"a.b.c{i % 5}.net"]
    )
    port = RNG.choice(["", ":80", ":443", ":8080"])
    path = RNG.choice(["", "/a/./b/../c", "//x//y", "/p/q/r", "/."])
    q = RNG.choice(["", "?x=1", "?x=1&PHPSESSID=abc", "?JSESSIONID=z&y=2"])
    frag = RNG.choice(["", "#frag", "#a/b"])
    return f"{scheme}://{host}{port}{path}/{i}{q}{frag}"


def test_normalize_url_idempotent(spark):
    """normalize(normalize(u)) == normalize(u) for 400 messy URL variants —
    the normalizer must be a projection (the reference applies it at many
    pipeline points; non-idempotence would make results depend on how many
    times a URL passed through)."""
    urls = [(_rand_url(i),) for i in range(400)]
    df = spark.createDataFrame(urls, "url string")
    once = normalize_url("url")
    out = df.select(once.alias("n1"), normalize_url(once).alias("n2"))
    bad = out.filter(F.col("n1") != F.col("n2")).collect()
    assert bad == [], f"non-idempotent normalizations: {bad[:5]}"


def test_tps_column_and_agg_forms_agree(spark):
    """Both TextProfileSignature implementations are bit-identical on random
    token streams (repeats, short tokens, empty docs)."""
    vocab = ["alpha", "be", "gamma", "delta", "x", "epsilon", "zeta", "q7"]
    rows = [
        (i, " ".join(RNG.choice(vocab) for _ in range(RNG.randrange(0, 60))))
        for i in range(200)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    col_form = docs.select(
        "doc_id", text_profile_signature("text").alias("tps_col")
    )
    both = text_profile_signatures(docs).withColumnRenamed("id", "doc_id").join(
        col_form, "doc_id"
    )
    assert both.filter(F.col("tps") != F.col("tps_col")).count() == 0


def test_lsh_pairs_subset_of_exact_pairs(spark):
    """MinHash+LSH output (band candidates verified with exact Jaccard) must
    be a SUBSET of the exhaustive n-gram Jaccard pairs at the same threshold
    — LSH may miss pairs (recall < 1) but can never invent one (soundness)."""
    vocab = [f"w{j}" for j in range(30)]
    rows = [
        (i, " ".join(RNG.choice(vocab) for _ in range(RNG.randrange(6, 40))))
        for i in range(120)
    ]
    # plant near-dups so the pair sets are non-trivial
    rows += [(1000 + i, rows[i][1] + " tail token") for i in range(20)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    exact = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(docs, threshold=0.5, max_shingle_freq=None).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(docs, threshold=0.5).collect()
    }
    assert lsh <= exact, f"unsound pairs: {sorted(lsh - exact)[:5]}"
    assert lsh, "LSH found nothing — planted near-dups should collide"


def test_adaptive_interval_always_clamped(spark):
    """The adaptive schedule's output lies in [min_interval, max_interval]
    for any input interval, including absurd ones."""
    cfg = NutchConfig()
    rows = [(float(RNG.choice([0, 1, 59, 60, 3600, 10**7, 10**9])), RNG.random() < 0.5)
            for _ in range(200)]
    df = spark.createDataFrame(rows, "interval double, modified boolean")
    out = df.select(
        adaptive_interval(F.col("interval"), F.col("modified"), cfg=cfg).alias("iv")
    )
    assert out.filter(
        (F.col("iv") < cfg.adaptive_min_interval) | (F.col("iv") > cfg.adaptive_max_interval)
    ).count() == 0


def test_generate_respects_all_bounds(spark):
    """Random crawldb: the fetchlist never exceeds topN globally nor
    max_count per host, and contains only due, eligible rows."""
    rows = [
        (
            f"http://h{i % 9}.com/{i}",
            RNG.choice(["db_unfetched", "db_fetched", "db_gone", "db_duplicate"]),
            NOW + datetime.timedelta(days=RNG.choice([-2, -1, 1])),
            0, 3600, float(RNG.randrange(100)), None, None, {},
        )
        for i in range(300)
    ]
    db = spark.createDataFrame(
        rows,
        "url string, status string, fetch_time timestamp, retries int, "
        "fetch_interval int, score float, signature binary, "
        "modified_time timestamp, metadata map<string,string>",
    )
    cfg = NutchConfig(generate_max_count=3, generate_count_mode="host")
    got = generate(db, 20, cfg=cfg, now=F.lit(NOW)).collect()
    assert len(got) <= 20
    eligible = {
        r[0] for r in rows if r[1] not in ("db_gone", "db_duplicate") and r[2] <= NOW
    }
    per_host: dict[str, int] = {}
    for r in got:
        assert r["url"] in eligible
        h = r["url"].split("/")[2]
        per_host[h] = per_host.get(h, 0) + 1
    assert all(v <= 3 for v in per_host.values())


def test_updatedb_key_and_namespace_invariants(spark):
    """After an update round: url is still a key (no dups), every status is
    a DB-namespace status, retries never exceed retry_max+1, and the output
    URL set is exactly db ∪ updates (additions allowed)."""
    db_rows = [
        (f"http://u{i}.com/", RNG.choice(["db_unfetched", "db_fetched"]), NOW,
         RNG.randrange(4), 3600, 1.0, None, None, {})
        for i in range(80)
    ]
    db = spark.createDataFrame(
        db_rows,
        "url string, status string, fetch_time timestamp, retries int, "
        "fetch_interval int, score float, signature binary, "
        "modified_time timestamp, metadata map<string,string>",
    )
    fetch_rows = [
        (f"http://u{i}.com/",
         RNG.choice(["fetch_success", "fetch_retry", "fetch_gone",
                     "fetch_redir_temp", "fetch_redir_perm", "fetch_notmodified"]),
         NOW, None, {})
        for i in range(0, 80, 2)
    ]
    fetches = spark.createDataFrame(
        fetch_rows,
        "url string, status string, fetch_time timestamp, signature binary, "
        "metadata map<string,string>",
    )
    emits = spark.createDataFrame(
        [(f"http://new{i}.com/", "linked", 0.1, None) for i in range(10)],
        "url string, status string, score float, signature binary",
    )
    out = update_crawldb(db, fetches, emits, now=F.lit(NOW))
    rows = out.collect()
    urls = [r["url"] for r in rows]
    assert len(urls) == len(set(urls))
    assert set(urls) == {r[0] for r in db_rows} | {f"http://new{i}.com/" for i in range(10)}
    db_namespace = {
        "db_unfetched", "db_fetched", "db_gone", "db_redir_temp", "db_redir_perm",
        "db_notmodified", "db_duplicate", "db_orphan", "db_parse_failed",
    }
    assert all(r["status"] in db_namespace for r in rows)
    assert all(0 <= r["retries"] <= 4 for r in rows)


def test_dedup_exactly_one_survivor_per_group(spark):
    """For every signature group, exactly one row is kept regardless of the
    (random) ordering columns."""
    rows = [
        (f"http://d{i}.com/", f"sig{i % 13}", float(RNG.randrange(10)),
         NOW + datetime.timedelta(hours=RNG.randrange(48)))
        for i in range(150)
    ]
    df = spark.createDataFrame(
        rows, "url string, sig string, score float, fetch_time timestamp"
    )
    marked = mark_duplicates(
        df, F.col("sig"),
        order_by=[F.desc("score"), F.desc("fetch_time"), F.asc("url")],
    )
    per_group = (
        marked.groupBy("sig")
        .agg(F.count_if(~F.col("is_duplicate")).alias("keepers"))
        .collect()
    )
    assert all(r["keepers"] == 1 for r in per_group)


def test_paragraph_dedup_first_occurrence_invariants(spark):
    # over a random corpus with planted duplication: (1) exactly one
    # non-duplicate per distinct paragraph hash; (2) the keeper is the
    # (doc_id, para_idx)-minimal occurrence; (3) rebuilt doc coverage —
    # every (doc, para) appears exactly once in the output
    from nutch_spark.datapipe.dedup import paragraph_dedup

    words = [f"w{RNG.randrange(40)}" for _ in range(2000)]
    docs = []
    for i in range(60):
        start = RNG.randrange(0, 1500)
        docs.append((i, " ".join(words[start:start + RNG.randrange(5, 90)])))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = paragraph_dedup(df, para_tokens=10).collect()
    by_hash = {}
    seen_pairs = set()
    for r in out:
        key = (r["doc_id"], r["para_idx"])
        assert key not in seen_pairs
        seen_pairs.add(key)
        by_hash.setdefault(r["para_hash"], []).append(r)
    for h, rows in by_hash.items():
        keepers = [r for r in rows if not r["is_duplicate"]]
        assert len(keepers) == 1, h
        keeper = min(rows, key=lambda r: (r["doc_id"], r["para_idx"]))
        assert not keeper["is_duplicate"]


def test_mixture_sample_count_formula(spark):
    # every doc appears floor(w) or ceil(w) times; fraction of ceil-docs
    # per source approximates frac(w) (deterministic given the hash)
    from nutch_spark.datapipe.mixing import mixture_sample

    docs = spark.createDataFrame(
        [(i, f"s{i % 3}") for i in range(600)], "doc_id long, source string"
    )
    weights = {"s0": 1.75, "s1": 0.5, "s2": 3.0}
    counts = {
        (r["doc_id"]): r["count"]
        for r in mixture_sample(docs, weights).groupBy("doc_id").count().collect()
    }
    import math
    for i in range(600):
        w = weights[f"s{i % 3}"]
        lo, hi = math.floor(w), math.ceil(w)
        if w == int(w):
            assert counts.get(i, 0) in (0, int(w)) and (w == 0) == (i not in counts)
        elif i in counts:
            assert counts[i] in (lo, hi) and counts[i] > 0
        else:
            assert lo == 0  # only sub-1 weights may drop a doc entirely
