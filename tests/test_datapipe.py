"""Training-data-pipeline operator tests: dedup family, similarity search,
text analysis, multimodal plumbing (SURVEY.md §7 step 14).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nutch_spark.datapipe.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_dedup,
    simhash_fingerprints,
)
from nutch_spark.datapipe.multimodal import (
    MEDIA_SCHEMA,
    binary_metadata,
    extract_image_features,
)
from nutch_spark.datapipe.similarity import brute_force_topk, lsh_topk
from nutch_spark.datapipe.textstats import langid, quality_metrics

BASE = "the quick brown fox jumps over the lazy dog again and again today"
DOCS = [
    (0, BASE),
    (1, BASE),  # exact duplicate of 0
    (2, BASE + " extra trailing tokens here"),  # near duplicate of 0
    (3, "completely different content about spark query engines and shuffles"),
    (4, "der hund und die katze sind nicht mit der maus zu sehen"),
    (5, "tiny"),  # < 3 tokens: no shingles
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string").cache()


def test_exact_dedup(docs):
    out = {r["doc_id"]: r for r in exact_dedup(docs).collect()}
    assert out[1]["is_duplicate"] and out[1]["canonical_id"] == 0
    assert not out[0]["is_duplicate"]
    assert not out[2]["is_duplicate"]  # near-dup is NOT an exact dup


def test_ngram_jaccard_pairs(docs):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
             ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    assert pairs[(0, 1)] == 1.0           # identical shingle sets
    assert 0.5 <= pairs[(0, 2)] < 1.0     # near duplicate
    assert (0, 3) not in pairs            # unrelated


def test_minhash_signature_shape_and_lsh(docs):
    sigs = minhash_signatures(docs).collect()
    ids = {r["id"] for r in sigs}
    assert 5 not in ids                   # <3 tokens → no signature
    assert all(len(r["minhash"]) == 32 for r in sigs)
    # identical docs → identical signatures
    by_id = {r["id"]: r["minhash"] for r in sigs}
    assert by_id[0] == by_id[1]

    pairs = {(r["id_a"], r["id_b"]) for r in minhash_lsh_pairs(docs, threshold=0.5).collect()}
    assert (0, 1) in pairs                # exact dup always collides
    assert (0, 3) not in pairs

    # signature-only verification (extreme-scale path): identical docs
    # estimate at 1.0; unrelated docs never reach the threshold
    est = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_lsh_pairs(docs, threshold=0.5, verify="estimate").collect()
    }
    assert est[(0, 1)] == 1.0
    assert (0, 3) not in est


def test_simhash(docs):
    fp = {r["id"]: r["simhash"] for r in simhash_fingerprints(docs).collect()}
    assert fp[0] == fp[1]                       # identical text, identical hash
    assert all(len(v) == 16 for v in fp.values())
    # near-dup text: small Hamming distance (SimHash's defining property)
    ham = bin(int(fp[0], 16) ^ int(fp[2], 16)).count("1")
    assert ham <= 12
    ham_far = bin(int(fp[0], 16) ^ int(fp[3], 16)).count("1")
    assert ham_far > ham

    marked = {r["doc_id"]: r["is_duplicate"] for r in simhash_dedup(docs).collect()}
    assert marked[1] and not marked[0]


def test_langid_and_quality(docs):
    lang = {r["doc_id"]: r["lang_pred"] for r in langid(docs).collect()}
    assert lang[0] == "en"
    assert lang[4] == "de"

    q = {r["doc_id"]: r for r in quality_metrics(docs).collect()}
    assert q[0]["n_tokens"] == 13
    assert q[0]["quality_score"] == 1.0
    assert q[5]["quality_score"] < 1.0          # too short


def test_similarity_brute_force_vs_lsh(spark):
    import random

    rng = random.Random(7)
    base = [[rng.gauss(0, 1) for _ in range(16)] for _ in range(30)]
    # vec 100+i is a copy of vec i → its top-1 neighbor must be i
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(base)]
    rows += [(100 + i, [float(x) for x in base[i]]) for i in range(5)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = emb.filter(F.col("vec_id") >= 100)

    bf = brute_force_topk(emb, queries, k=1).collect()
    assert {r["query_id"]: r["neighbor_id"] for r in bf} == {100 + i: i for i in range(5)}
    assert all(r["cosine_sim"] > 0.999999 for r in bf)

    # LSH with identical vectors: same buckets in every table → found
    ls = lsh_topk(emb, queries, k=1, dim=16, bits=4, tables=4)
    got = {r["query_id"]: r["neighbor_id"] for r in ls.collect()}
    assert got == {100 + i: i for i in range(5)}


def test_multimodal_plumbing(spark):
    # GIF headers (little-endian uint16 dims at offset 6) so the default
    # stdlib decoder resolves real dimensions; payload tail varies per row
    def gif(i):
        import struct

        return b"GIF89a" + struct.pack("<HH", 10 + i, 20 + i) + bytes([i]) * i

    payloads = [(i, gif(i), "image", {"src": f"cam{i}"}) for i in range(6)]
    media = spark.createDataFrame(payloads, MEDIA_SCHEMA)
    feats = extract_image_features(media, batch_partitions=2).collect()
    assert len(feats) == 6
    by_id = {r["media_id"]: r for r in feats}
    assert by_id[3]["n_bytes"] == len(gif(3))
    assert (by_id[3]["width"], by_id[3]["height"]) == (13, 23)
    assert len(by_id[3]["feature"]) == 8
    # deterministic: same payload → same feature vector
    again = {r["media_id"]: r for r in extract_image_features(media).collect()}
    assert by_id[3]["feature"] == again[3]["feature"]
    assert by_id[3]["sha1"] == again[3]["sha1"]
    # metadata path never touches the payload decode (pure JVM expressions)
    meta = {r["media_id"]: r["n_bytes"] for r in binary_metadata(media).collect()}
    assert meta[0] == 10


def test_ivf_topk(spark):
    import random

    from nutch_spark.datapipe.similarity import ivf_topk

    rng = random.Random(11)
    base = [[rng.gauss(0, 1) for _ in range(16)] for _ in range(40)]
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(base)]
    rows += [(100 + i, [float(x) for x in base[i]]) for i in range(5)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = emb.filter(F.col("vec_id") >= 100)

    # identical vectors land in the same Voronoi cell -> always found
    got = {r["query_id"]: r["neighbor_id"]
           for r in ivf_topk(emb, queries, k=1, n_centroids=8, n_probe=2).collect()}
    assert got == {100 + i: i for i in range(5)}


def test_winnowing_shared_run_guarantee(spark):
    # winnowing guarantee: two docs sharing a run of >= k+window-1 tokens
    # share at least one fingerprint; disjoint docs share none
    from nutch_spark.datapipe.dedup import winnowing_fingerprints

    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens = k+w-1
    docs = spark.createDataFrame(
        [
            (1, f"intro words {shared} closing remarks"),
            (2, f"totally different start {shared} other tail content"),
            (3, "unrelated text with no overlap whatsoever in tokens"),
        ],
        "doc_id long, text string",
    )
    fps = {}
    for r in winnowing_fingerprints(docs).collect():
        fps.setdefault(r["id"], set()).add(r["fp"])
    assert fps[1] & fps[2], "shared run must produce a shared fingerprint"
    assert not (fps[1] & fps[3])


def test_repetition_metrics(spark):
    from nutch_spark.datapipe.textstats import repetition_metrics

    docs = spark.createDataFrame(
        [
            (1, "spam spam spam spam spam spam spam spam spam spam spam spam"),
            (2, "the quick brown fox jumps over a lazy dog near the old barn gate"),
            (3, ""),  # empty: all ratios 0, fails the length gate
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in repetition_metrics(docs).collect()}
    assert out[1]["top_unigram_frac"] == 1.0
    assert out[1]["top_bigram_frac"] == 1.0
    assert out[1]["dup_token_frac"] == pytest.approx(11 / 12)
    assert not out[1]["passes_repetition"]
    assert out[2]["passes_repetition"]
    assert out[2]["dup_token_frac"] == pytest.approx(1 / 14)  # 'the' twice
    assert out[3]["n_tokens"] == 0 and not out[3]["passes_repetition"]


def test_paragraph_dedup(spark):
    from nutch_spark.datapipe.dedup import paragraph_dedup

    chunk_a = " ".join(f"w{i}" for i in range(20))
    chunk_b = " ".join(f"x{i}" for i in range(20))
    chunk_c = " ".join(f"y{i}" for i in range(7))  # short tail paragraph
    docs = spark.createDataFrame(
        [
            (1, f"{chunk_a} {chunk_b} {chunk_c}"),
            (2, f"{chunk_b} {chunk_a}"),  # both paragraphs already seen
            (3, ""),  # no paragraphs at all
        ],
        "doc_id long, text string",
    )
    rows = paragraph_dedup(docs, para_tokens=20).collect()
    by = {(r["doc_id"], r["para_idx"]): r["is_duplicate"] for r in rows}
    assert by == {
        (1, 0): False,
        (1, 1): False,
        (1, 2): False,
        (2, 0): True,  # chunk_b first seen at (1,1)
        (2, 1): True,  # chunk_a first seen at (1,0)
    }


def test_mixture_sample(spark):
    from nutch_spark.datapipe.mixing import mixture_sample

    docs = spark.createDataFrame(
        [(i, "a" if i < 100 else "b") for i in range(200)],
        "doc_id long, source string",
    )
    out = mixture_sample(docs, {"a": 2.5, "b": 0.0})
    rows = out.groupBy("doc_id").count().collect()
    counts = {r["doc_id"]: r["count"] for r in rows}
    # source b dropped entirely
    assert all(d < 100 for d in counts)
    # every a-doc appears 2 or 3 times; ~50% get the fractional third epoch
    assert set(counts.values()) <= {2, 3}
    n3 = sum(1 for v in counts.values() if v == 3)
    assert 25 <= n3 <= 75
    # deterministic across runs
    again = {
        r["doc_id"]: r["count"]
        for r in mixture_sample(docs, {"a": 2.5, "b": 0.0})
        .groupBy("doc_id")
        .count()
        .collect()
    }
    assert again == counts


def test_dup_components_chain(spark):
    from nutch_spark.datapipe.dedup import dup_components

    nodes = spark.createDataFrame([(i,) for i in range(7)], "doc_id long")
    # chain 0-1-2-3 (diameter 3, needs >1 propagation round), pair 4-5, singleton 6
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (5, 4)], "id_a long, id_b long"
    )
    out = {r["doc_id"]: r for r in dup_components(nodes, pairs).collect()}
    assert [out[i]["component"] for i in range(7)] == [0, 0, 0, 0, 4, 4, 6]
    assert not out[0]["is_duplicate"] and out[3]["is_duplicate"]
    assert not out[6]["is_duplicate"]


def test_dup_components_max_iter_truncates_propagation(spark):
    """max_iter bounds the TOTAL round count, odd values included (two-round
    blocks plus a single-round tail): after k rounds, node i of the chain
    0-1-...-9 holds the min label within distance k, max(0, i - k)."""
    from nutch_spark.datapipe.dedup import dup_components

    nodes = spark.createDataFrame([(i,) for i in range(12)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "id_a long, id_b long"
    )
    for k in (1, 2, 3, 4):
        got = dup_components(nodes, pairs, max_iter=k).collect()
        assert {r["doc_id"]: r["component"] for r in got} == {
            i: max(0, i - k) if i < 10 else i for i in range(12)
        }, k


def test_pii_scrub(spark):
    from nutch_spark.datapipe.textstats import pii_scrub

    docs = spark.createDataFrame(
        [
            (1, "mail a.b+c@foo.co.uk or x@y.io, call (555) 123-4567 now"),
            (2, "server at 10.0.0.255 and ssn 123-45-6789"),
            (3, "clean text with no personal data at all"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in pii_scrub(docs).collect()}
    assert out[1]["n_email"] == 2 and out[1]["n_phone"] == 1
    assert out[2]["n_ipv4"] == 1 and out[2]["n_ssn_like"] == 1
    assert out[3]["pii_total"] == 0
    assert out[3]["text_scrubbed"] == "clean text with no personal data at all"
    assert "@" not in out[1]["text_scrubbed"]
    assert "4567" not in out[1]["text_scrubbed"]
    assert "<PII>" in out[2]["text_scrubbed"]


def test_int8_topk_tracks_exact_ranking(spark):
    from nutch_spark.datapipe.similarity import brute_force_topk, int8_topk, quantize_int8

    import random

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(40)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.filter(F.col("vec_id") < 3)
    exact = brute_force_topk(emb, q, k=5)
    quant = int8_topk(emb, q, k=5)
    # quantized top-5 overlaps the exact top-5 heavily (>= 3 of 5 per query)
    e = {}
    for r in exact.collect():
        e.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    qd = {}
    for r in quant.collect():
        qd.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for qid in e:
        assert len(e[qid] & qd[qid]) >= 3, (qid, e[qid], qd[qid])
    # quantization range respected
    vals = emb.select(F.explode(quantize_int8(F.col("embedding"))).alias("v"))
    mn, mx = vals.agg(F.min("v"), F.max("v")).first()
    assert -127 <= mn and mx <= 127


def test_decontaminate(spark):
    from nutch_spark.datapipe.dedup import decontaminate

    bench_text = " ".join(f"b{i}" for i in range(15))  # 15 tokens → 3 13-grams
    corpus = spark.createDataFrame(
        [
            (1, f"start {bench_text} end"),          # embeds the benchmark run
            (2, "totally unrelated words " * 10),
            (3, " ".join(f"b{i}" for i in range(12))),  # only 12 tokens: no gram
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(100, bench_text)], "doc_id long, text string")
    out = {r["doc_id"]: r for r in decontaminate(corpus, bench, n=13).collect()}
    assert out[1]["contaminated"] and out[1]["matched_grams"] == 3
    assert not out[2]["contaminated"] and out[2]["matched_grams"] == 0
    assert not out[3]["contaminated"]


def test_pack_sequences(spark):
    from nutch_spark.datapipe.mixing import pack_sequences

    d = spark.createDataFrame(
        [(1, 6), (2, 3), (3, 5), (4, 25), (5, 1)], "doc_id long, n_tokens long"
    )
    out = {r["doc_id"]: r for r in pack_sequences(d, budget=10).collect()}
    # cumsum prefix: 0, 6, 9, 14, 39
    assert (out[1]["bin_id"], out[1]["bin_offset"], out[1]["bins_spanned"]) == (0, 0, 1)
    assert (out[2]["bin_id"], out[2]["bin_offset"]) == (0, 6)
    assert (out[3]["bin_id"], out[3]["bin_offset"], out[3]["bins_spanned"]) == (0, 9, 2)
    assert (out[4]["bin_id"], out[4]["bin_offset"], out[4]["bins_spanned"]) == (1, 4, 3)
    assert (out[5]["bin_id"], out[5]["bin_offset"], out[5]["bins_spanned"]) == (3, 9, 1)


def test_binary_metadata_sniff(spark):
    from nutch_spark.datapipe.multimodal import binary_metadata

    rows = [
        (1, bytes.fromhex("ffd8ff") + b"jpegdata"),
        (2, bytes.fromhex("89504e470d0a1a0a") + b"pngdata"),
        (3, b"plain bytes"),
        (4, bytes.fromhex("474946383961") + b"gifdata"),
    ]
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    out = {r["media_id"]: r for r in binary_metadata(media).collect()}
    assert out[1]["sniffed_type"] == "image/jpeg"
    assert out[2]["sniffed_type"] == "image/png"
    assert out[3]["sniffed_type"] == "application/octet-stream"
    assert out[4]["sniffed_type"] == "image/gif"
    assert out[1]["n_bytes"] == 3 + 8
    import hashlib
    assert out[3]["md5_hex"] == hashlib.md5(b"plain bytes").hexdigest()


def test_dup_components_string_keys(spark):
    from nutch_spark.datapipe.dedup import dup_components

    nodes = spark.createDataFrame([("d-a",), ("d-b",), ("d-c",)], "doc_id string")
    pairs = spark.createDataFrame([("d-b", "d-c")], "id_a string, id_b string")
    out = {r["doc_id"]: r["component"] for r in dup_components(nodes, pairs).collect()}
    assert out == {"d-a": "d-a", "d-b": "d-b", "d-c": "d-b"}


def test_c4_line_clean_rules(spark):
    from nutch_spark.datapipe.textstats import c4_line_clean

    text = "\n".join(
        [
            "this line has enough words and ends well.",   # kept
            "short one.",                                   # < 5 words
            "no terminal punctuation on this line here",    # no punct
            "please enable JavaScript to view this page.",  # javascript
            "if (x) { return y; } and some more words.",    # braces
            'a quoted ending with five good words here"',   # kept (quote)
        ]
    )
    df = spark.createDataFrame([(1, text), (2, "lorem ipsum " + text)], "doc_id long, text string")
    out = {r["doc_id"]: r for r in c4_line_clean(df, min_kept_lines=2).collect()}
    assert out[1]["n_lines"] == 6 and out[1]["n_kept_lines"] == 2
    assert out[1]["text_clean"].splitlines()[0].startswith("this line")
    assert out[1]["c4_keep"] is True
    # doc 2 has an extra unterminated first line merged into line 1? no —
    # "lorem ipsum " prefixes line 1, which still ends in '.' and has >= 5
    # words, so line counts match; the doc-level lorem-ipsum rule drops it
    assert out[2]["c4_keep"] is False


def test_url_blocklist_suffix_semantics(spark):
    from nutch_spark.datapipe.textstats import url_blocklist_filter

    rows = [
        (1, "http://ads.tracker.com/a"),        # exact
        (2, "http://x.ads.tracker.com/b"),      # subdomain
        (3, "http://notads.tracker.com/c"),     # different registered host
        (4, "http://ads.tracker.com.evil.io/d"),  # prefix spoof — NOT blocked
        (5, "https://ADS.Tracker.COM/e"),       # case-insensitive
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    out = {
        r["doc_id"]: r["url_blocked"]
        for r in url_blocklist_filter(df, ["ads.tracker.com"]).collect()
    }
    assert out == {1: True, 2: True, 3: False, 4: False, 5: True}


def test_exact_substring_spans_merging(spark):
    from nutch_spark.datapipe.dedup import exact_substring_spans

    shared = "alpha beta gamma delta epsilon"  # 5 tokens, duplicated 5-gram
    rows = [
        (1, f"one two three {shared} four five six"),
        (2, f"seven eight nine ten {shared} eleven"),
        (3, "totally unique words that never repeat anywhere else at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    spans = {
        r["doc_id"]: (r["span_start"], r["span_end"])
        for r in exact_substring_spans(df, n=5).collect()
    }
    # doc1: the shared 5-gram starts at token 4 -> span [4, 9)
    assert spans[1] == (4, 9)
    # doc2: starts at token 5 -> [5, 10)
    assert spans[2] == (5, 10)
    assert 3 not in spans  # unique doc has no duplicated grams


def test_exact_substring_spans_islands(spark):
    from nutch_spark.datapipe.dedup import exact_substring_spans

    # two docs sharing their ENTIRE text: every 3-gram repeats, so the
    # marked positions are contiguous and must merge into ONE maximal span
    text = "a b c d e f g h"
    df = spark.createDataFrame([(1, text), (2, text)], "doc_id long, text string")
    out = exact_substring_spans(df, n=3).collect()
    spans = {(r["doc_id"], r["span_start"], r["span_end"]) for r in out}
    assert spans == {(1, 1, 9), (2, 1, 9)}  # tokens 1..8, end exclusive


def test_c4_bad_words_document_drop(spark):
    from nutch_spark.datapipe.textstats import c4_line_clean

    good_line = "these are six perfectly ordinary words here."
    df = spark.createDataFrame(
        [
            (1, good_line),
            (2, good_line + "\nthis line mentions badword explicitly today."),
            (3, good_line + "\nbut badwordish is only a superstring here okay."),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r["c4_keep"]
        for r in c4_line_clean(df, min_kept_lines=1, bad_words=("badword",)).collect()
    }
    assert out[1] is True
    assert out[2] is False       # token match drops the doc
    assert out[3] is True        # substring-only must NOT match


def test_exact_substring_spans_overlapping_grams_merge(spark):
    # review regression: duplicated 3-gram starts at positions 1 and 3 of
    # doc 1 — the spans [1,4) and [3,6) OVERLAP and must merge into [1,6),
    # never emit as two "maximal" rows double-covering token 3
    from nutch_spark.datapipe.dedup import exact_substring_spans

    df = spark.createDataFrame(
        [(1, "x1 x2 x3 x4 x5"), (2, "x1 x2 x3 qq x3 x4 x5")],
        "doc_id long, text string",
    )
    out = exact_substring_spans(df, n=3)
    doc1 = sorted(
        (r["span_start"], r["span_end"])
        for r in out.filter("doc_id = 1").collect()
    )
    assert doc1 == [(1, 6)]
    # spans never overlap within a doc, for every doc
    for did in (1, 2):
        spans = sorted(
            (r["span_start"], r["span_end"])
            for r in out.filter(f"doc_id = {did}").collect()
        )
        for (s1, e1), (s2, e2) in zip(spans, spans[1:]):
            assert e1 < s2, (did, spans)


def test_semantic_dedup_keeps_boundary_example(spark):
    from nutch_spark.datapipe.similarity import semantic_dedup

    # two exact-duplicate groups + two singletons in a 4-dim space
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [1.0, 0.0, 0.0, 0.0]),   # dup of 1
        (3, [0.0, 1.0, 0.0, 0.0]),
        (4, [0.0, 0.9999, 0.0001, 0.0]),  # near-dup of 3
        (5, [0.0, 0.0, 1.0, 0.0]),
        (6, [0.5, 0.5, 0.5, 0.5]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["vec_id"]: r for r in semantic_dedup(
        df, threshold=0.99, n_centroids=2).collect()}
    assert len(out) == 6
    # exactly one of each duplicate pair survives; singletons always survive
    assert out[1]["is_kept"] != out[2]["is_kept"] or (
        out[1]["cell"] != out[2]["cell"])  # same-cell dups: one dropped
    assert out[1]["is_kept"] or out[2]["is_kept"]
    assert out[3]["is_kept"] or out[4]["is_kept"]
    assert out[5]["is_kept"] and out[6]["is_kept"]
    # identical vectors land in the same cell with the same cent_sim
    assert out[1]["cell"] == out[2]["cell"]
    assert out[1]["cent_sim"] == out[2]["cent_sim"]


def test_semantic_round_cut_matches_spark(spark):
    """_ge_round_cut's single-compare decision must equal Spark's
    round-then-compare bit for bit — ulp-walk both sides of every cut."""
    import math

    from nutch_spark.datapipe.similarity import _ge_round_cut

    for threshold, scale in [(0.99, 6), (0.95, 6), (0.123456, 6), (0.5, 2)]:
        v_star = _ge_round_cut(threshold, scale)
        vals = set()
        for center in (v_star, threshold - 0.5 * 10**-scale, threshold):
            v = center
            for _ in range(40):
                vals.add(v)
                v = math.nextafter(v, -math.inf)
            v = center
            for _ in range(40):
                vals.add(v)
                v = math.nextafter(v, math.inf)
        vals |= {float("nan"), float("inf"), float("-inf"), 0.0, 1.0}
        df = spark.createDataFrame([(v,) for v in vals], "v double")
        for r in df.select(
            "v", (F.round(F.col("v"), scale) >= F.lit(threshold)).alias("d")
        ).collect():
            mine = (r["v"] >= v_star) or math.isnan(r["v"])
            assert bool(r["d"]) == mine, (threshold, scale, repr(r["v"]))


def test_semantic_dedup_rejects_non_positive_threshold(spark):
    """The single-compare cut above is proven for a positive threshold
    only (HALF_UP rounds half away from zero), so semantic_dedup refuses
    any other before running a job."""
    from nutch_spark.datapipe.similarity import semantic_dedup

    df = spark.createDataFrame([(1, [1.0, 0.0])], "vec_id long, embedding array<double>")
    for threshold in (0.0, -0.5, float("nan")):
        with pytest.raises(ValueError):
            semantic_dedup(df, threshold=threshold)


def test_semantic_dedup_pair_sweep_matches_join_form(spark):
    """The vectorized per-cell pair sweep must reproduce the former
    zip_with/aggregate self-join form exactly — same fold order, same
    rounding decision — on a corpus engineered to sit near the threshold,
    with a NULL vector and two near-duplicate 9-dim vectors among the
    8-dim rows (the join form's NULL cosine never drops a row; the sweep
    must neither fail nor differ)."""
    import random

    from nutch_spark.datapipe.similarity import semantic_dedup, vec_norm

    rng = random.Random(41)
    rows = []
    for i in range(90):
        base = [rng.uniform(-1, 1) for _ in range(8)]
        rows.append((i, [float(x) for x in base]))
        if i % 3 == 0:  # near-duplicate: tiny perturbation of one coord
            pert = list(base)
            pert[i % 8] += rng.uniform(-1e-4, 1e-4)
            rows.append((i + 1000, [float(x) for x in pert]))
    # ids outside the 4 md5-smallest, so no seed centroid is hostile
    rows += [(5000, None), (5002, [0.5] * 9), (2000, [0.5] * 8 + [0.50001])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    threshold, round_sim = 0.95, 6

    got = semantic_dedup(
        df, threshold=threshold, n_centroids=4, round_sim=round_sim
    ).collect()

    # reference: the pre-vectorization JVM formulation, verbatim
    from pyspark.sql import Window

    from nutch_spark.datapipe.similarity import _cell_rank, _with_codebook

    cent_rows = (
        df.select("vec_id", "embedding")
        .orderBy(F.md5(F.col("vec_id").cast("string")))
        .limit(4)
        .collect()
    )
    cents = [(i, [float(x) for x in r[1]]) for i, r in enumerate(cent_rows)]
    (assigned,) = _with_codebook(
        [cents],
        df.select(
            F.col("vec_id").alias("id"),
            F.col("embedding").alias("v"),
            vec_norm(F.col("embedding")).alias("_n"),
        ),
    )
    assigned = assigned.select(
        "id",
        "v",
        "_n",
        F.element_at(_cell_rank("v", "_n", round_sim), 1).alias("_b"),
    ).select(
        "id", "v", "_n",
        F.col("_b.cid").alias("cell"),
        F.round(-F.col("_b.neg"), round_sim).alias("cent_sim"),
    )
    w = Window.partitionBy("cell").orderBy(F.asc("cent_sim"), F.asc("id"))
    ranked = assigned.withColumn("rn", F.row_number().over(w))
    a, b = ranked.alias("a"), ranked.alias("b")
    pair_dot = F.aggregate(
        F.zip_with(
            F.col("a.v"), F.col("b.v"),
            lambda x, y: x.cast("double") * y.cast("double"),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    ref_dropped = {
        r["id"]
        for r in a.join(
            b,
            (F.col("a.cell") == F.col("b.cell")) & (F.col("a.rn") < F.col("b.rn")),
        )
        .filter(
            F.round(pair_dot / (F.col("a._n") * F.col("b._n")), round_sim)
            >= F.lit(threshold)
        )
        .select(F.col("b.id").alias("id"))
        .distinct()
        .collect()
    }
    got_dropped = {r["vec_id"] for r in got if not r["is_kept"]}
    assert got_dropped == ref_dropped
    assert len(got) == df.count()


def test_lm_perplexity_hand_computed(spark):
    import math

    from pyspark.sql import Row

    from nutch_spark.datapipe.textstats import (
        lm_perplexity_score,
        train_bigram_lm,
    )

    ref = spark.createDataFrame([Row(doc_id=0, text="a b a b")])
    bigrams, unigrams, vocab = train_bigram_lm(ref)
    assert vocab == 2  # bigram heads: a, b
    bq = {(r["w1"], r["w2"]): r["nll_q"] for r in bigrams.collect()}
    q = lambda x: math.floor(x * 1_000_000 + 0.5)  # noqa: E731
    assert bq[("a", "b")] == q(math.log(4) - math.log(3))  # c1=2,c12=2,V=2
    assert bq[("b", "a")] == q(math.log(3) - math.log(2))  # c1=1,c12=1
    docs = spark.createDataFrame(
        [Row(doc_id=1, text="a b c"), Row(doc_id=2, text="solo")]
    )
    out = {r["doc_id"]: r for r in lm_perplexity_score(
        docs, bigrams, unigrams, vocab).collect()}
    # (a,b) seen + (b,c) backs off to miss(b)=ln(1+2)... c1(b)=1 -> ln(3)
    expect = (q(math.log(4) - math.log(3)) + q(math.log(3))) // 2
    assert out[1]["n_bigrams"] == 2 and out[1]["avg_nll_q"] == expect
    assert out[2]["n_bigrams"] is None  # <2 tokens: unscored, still present


def test_dup_components_star_matches_propagation(spark):
    """Both CC algorithms must label identically — near-clique + chain mix."""
    from nutch_spark.datapipe.dedup import dup_components, dup_components_star

    nodes = spark.createDataFrame([(i,) for i in range(30)], "doc_id long")
    # a triangle {1,2,3}, a pair {10,11}, a short chain 20-21-22-23
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        "id_a long, id_b long",
    )
    a = {(r["doc_id"], r["component"], r["is_duplicate"])
         for r in dup_components(nodes, pairs).collect()}
    b = {(r["doc_id"], r["component"], r["is_duplicate"])
         for r in dup_components_star(nodes, pairs).collect()}
    assert a == b
    assert (5, 5, False) in b  # singleton keeps itself
    assert (23, 20, True) in b  # chain collapses to its min


def test_dup_components_star_long_chain_logarithmic(spark):
    """A 200-node duplication chain: label propagation needs 199 rounds
    (diameter), large-star/small-star converges within ~log2(200) + slack —
    the 100 TB motivation for the variant."""
    from nutch_spark.datapipe.dedup import dup_components_star

    n = 200
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    out = dup_components_star(nodes, pairs, max_iter=12).collect()
    assert all(r["component"] == 0 for r in out)
    assert sum(r["is_duplicate"] for r in out) == n - 1


def test_dup_components_star_string_ids(spark):
    from nutch_spark.datapipe.dedup import dup_components_star

    nodes = spark.createDataFrame(
        [("a",), ("b",), ("c",), ("z",)], "doc_id string"
    )
    pairs = spark.createDataFrame([("b", "c"), ("c", "a")], "id_a string, id_b string")
    got = {r["doc_id"]: r["component"] for r in
           dup_components_star(nodes, pairs).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "z": "z"}


def test_exact_substring_removal_cuts_spans(spark):
    from nutch_spark.datapipe.dedup import exact_substring_removal

    shared = " ".join(f"w{i}" for i in range(12))  # a 12-token duplicated run
    docs = spark.createDataFrame(
        [
            (1, f"alpha beta {shared} gamma"),
            (2, f"delta {shared} epsilon zeta"),
            (3, "totally unrelated text with nothing repeated here at all"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["kept_tokens"] for r in
           exact_substring_removal(docs, n=10).collect()}
    # the shared run disappears from BOTH docs; unique framing survives
    assert out[1] == ["alpha", "beta", "gamma"]
    assert out[2] == ["delta", "epsilon", "zeta"]
    assert len(out[3]) == 9  # untouched


def test_dup_components_star_raises_when_not_converged(spark):
    import pytest as _pytest

    from nutch_spark.datapipe.dedup import dup_components_star

    n = 64
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    with _pytest.raises(RuntimeError, match="fixpoint"):
        dup_components_star(nodes, pairs, max_iter=1)


def test_exact_substring_removal_keep_first(spark):
    from nutch_spark.datapipe.dedup import exact_substring_removal

    shared = " ".join(f"w{i}" for i in range(12))
    docs = spark.createDataFrame(
        [(1, f"alpha {shared} beta"), (2, f"gamma {shared} delta")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["kept_tokens"] for r in
           exact_substring_removal(docs, n=10, keep="first").collect()}
    # doc 1 holds the canonical first occurrence — untouched
    assert out[1] == ["alpha"] + shared.split() + ["beta"]
    assert out[2] == ["gamma", "delta"]


def test_temperature_weights_upsamples_small_sources(spark):
    from nutch_spark.datapipe.mixing import temperature_weights

    rows = [(i, "big") for i in range(90)] + [(i + 1000, "small") for i in range(10)]
    d = spark.createDataFrame(rows, "doc_id long, source string")
    out = {r["source"]: r for r in temperature_weights(d, alpha=0.3).collect()}
    assert out["big"]["n_docs"] == 90 and out["small"]["n_docs"] == 10
    assert abs(out["big"]["p_raw"] - 0.9) < 1e-9
    # α < 1 flattens: the small source's share rises, the big one's falls
    assert out["small"]["p_temp"] > out["small"]["p_raw"]
    assert out["big"]["p_temp"] < out["big"]["p_raw"]
    assert out["small"]["up_factor"] > 1 > out["big"]["up_factor"]
    # shares stay a distribution
    assert abs(out["big"]["p_temp"] + out["small"]["p_temp"] - 1.0) < 1e-9
    # α = 1 is the identity
    ident = {r["source"]: r for r in temperature_weights(d, alpha=1.0).collect()}
    assert abs(ident["big"]["up_factor"] - 1.0) < 1e-9


def test_winnowing_containment_catches_embedding(spark):
    """A short document embedded inside a long one: containment ~1 while
    symmetric Jaccard is far below any dedup threshold."""
    from nutch_spark.datapipe.dedup import (
        ngram_jaccard_pairs,
        winnowing_containment_pairs,
    )

    inner = " ".join(f"core{i}" for i in range(20))
    outer = (
        " ".join(f"pre{i}" for i in range(80))
        + " " + inner + " "
        + " ".join(f"post{i}" for i in range(80))
    )
    docs = spark.createDataFrame(
        [(1, inner), (2, outer)], "doc_id long, text string"
    )
    pairs = winnowing_containment_pairs(docs, threshold=0.5).collect()
    assert len(pairs) == 1
    p = pairs[0]
    assert (p["id_a"], p["id_b"]) == (1, 2)
    assert p["containment"] >= 0.8  # nearly all of the inner doc's fps shared
    # symmetric Jaccard misses the same pair entirely at any usable threshold
    jac = ngram_jaccard_pairs(docs, threshold=0.3).collect()
    assert jac == []


def test_shard_assignment_balanced_and_stable(spark):
    from nutch_spark.datapipe.mixing import assign_shards, shard_balance

    d = spark.createDataFrame([(i,) for i in range(4000)], "doc_id long")
    bal = {r["shard"]: r["n_docs"] for r in shard_balance(d, 8).collect()}
    assert set(bal) == set(range(8))
    # law-of-large-numbers balance: each shard within ~25% of the mean
    assert max(bal.values()) < 1.25 * 500 and min(bal.values()) > 0.75 * 500
    # stability: a doc's shard never depends on the rest of the corpus
    one = assign_shards(
        spark.createDataFrame([(42,)], "doc_id long"), 8
    ).collect()[0]["shard"]
    full = {r["doc_id"]: r["shard"] for r in assign_shards(d, 8).collect()}
    assert full[42] == one


def test_script_profile_detection_and_tiebreak(spark):
    from nutch_spark.datapipe.textstats import script_profile

    rows = [
        (0, "plain english text"),
        (1, "русский текст доминирует here"),
        (2, "日本語のテキスト with かな"),
        (3, "한국어 텍스트"),
        (4, "نص عربي طويل جدا هنا"),
        (5, "1234 !!! ???"),          # no script chars -> und
        (6, "ab ок"),                   # 2 latin vs 2 cyrillic tie -> alphabetical
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["script"] for r in script_profile(df).collect()}
    assert got[0] == "latin"
    assert got[1] == "cyrillic"
    assert got[2] in ("kana", "cjk")  # mixed Japanese: kana + kanji
    assert got[3] == "hangul"
    assert got[4] == "arabic"
    assert got[5] == "und"
    assert got[6] == "cyrillic"  # tie: 'cyrillic' < 'latin' alphabetically
    # counts are exact
    (r1,) = script_profile(df).filter("doc_id = 1").collect()
    assert r1["n_cyrillic"] == len("русскийтекстдоминирует")
    assert r1["n_latin"] == len("here")


def test_remove_boilerplate_lines_semantics(spark):
    """Host-scoped boilerplate removal: df counts DISTINCT docs (a line
    repeated inside one doc is not boilerplate), order is preserved,
    groups are independent, and an all-boilerplate doc yields ''."""
    from nutch_spark.datapipe.textstats import remove_boilerplate_lines

    docs = spark.createDataFrame(
        [
            # host A: 'nav' appears in all 3 docs -> boilerplate at min_df=3
            (1, "a", "nav\nalpha\nnav\nbody one"),
            (2, "a", "nav\nbody two"),
            (3, "a", "nav"),  # only boilerplate -> empty
            # 'dup dup' repeats WITHIN doc 4 only: df=1, stays (twice)
            (4, "a", "dup dup\ndup dup\nbody four\nnav"),
            # host B: 'nav' appears once -> NOT boilerplate there
            (5, "b", "nav\nbeta"),
        ],
        "doc_id long, source string, text string",
    )
    out = {
        r["doc_id"]: r
        for r in remove_boilerplate_lines(docs, min_df=3).collect()
    }
    assert out[1]["clean_text"] == "alpha\nbody one"
    assert out[2]["clean_text"] == "body two"
    assert out[3]["clean_text"] == "" and out[3]["n_kept"] == 0
    assert out[4]["clean_text"] == "dup dup\ndup dup\nbody four"
    assert out[4]["n_kept"] == 3
    assert out[5]["clean_text"] == "nav\nbeta"  # group isolation


def test_dataset_card_rollup(spark):
    from nutch_spark.datapipe.textstats import dataset_card

    docs = spark.createDataFrame(
        [
            (1, "a", "en", "one two three"),
            (2, "a", "de", "vier funf"),
            (3, "a", "de", "sechs"),
            (4, "b", "fr", ""),  # empty doc: zero tokens still counts
        ],
        "doc_id long, source string, lang string, text string",
    )
    out = {r["source"]: r for r in dataset_card(docs).collect()}
    a = out["a"]
    assert (a["n_docs"], a["n_tokens"], a["n_langs"]) == (3, 6, 2)
    assert a["top_lang"] == "de"  # 2 de vs 1 en
    assert abs(a["avg_chars"] - round((13 + 9 + 5) / 3, 2)) < 1e-9
    b = out["b"]
    assert (b["n_docs"], b["n_tokens"], b["top_lang"]) == (1, 0, "fr")
    # tie at 1-1 between two langs -> lexicographically smaller wins
    tie = spark.createDataFrame(
        [(1, "c", "zz", "x"), (2, "c", "aa", "y")],
        "doc_id long, source string, lang string, text string",
    )
    assert dataset_card(tie).collect()[0]["top_lang"] == "aa"


def test_pq_topk_exact_when_codebook_covers_corpus(spark):
    """With ks >= distinct subvectors the trained codebook reconstructs
    every corpus vector exactly, so PQ ranking equals the brute-force
    cosine ranking — pins the encode/reconstruct/score plumbing."""
    from nutch_spark.datapipe.similarity import brute_force_topk, pq_topk

    import random

    rng = random.Random(7)
    rows = [
        (i, [rng.choice([-1.0, 0.5, 2.0]) for _ in range(8)])
        for i in range(12)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    qs = emb.filter("vec_id < 3")
    # m=4 subspaces of 2 dims: <= 9 distinct subvectors per subspace < ks=12
    pq = {
        (r.query_id, r.neighbor_id): r.pq_sim
        for r in pq_topk(
            emb, qs, k=3, dim=8, m=4, ks=12, n_iter=3, round_sim=6
        ).collect()
    }
    exact = {
        (r.query_id, r.neighbor_id): r.cosine_sim
        for r in brute_force_topk(emb, qs, k=3, round_sim=6).collect()
    }
    assert pq == exact


def test_pq_train_shapes_and_determinism(spark):
    """_pq_train returns m codebooks of ks (cid, subvector) entries, cids
    0..ks-1 in order, and is deterministic across invocations."""
    from nutch_spark.datapipe.similarity import _pq_train

    import random

    rng = random.Random(3)
    emb = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(30)],
        "vec_id long, embedding array<float>",
    )
    cb1 = _pq_train(emb, vec="embedding", key="vec_id", dim=8, m=2, ks=4,
                    n_iter=2)
    cb2 = _pq_train(emb, vec="embedding", key="vec_id", dim=8, m=2, ks=4,
                    n_iter=2)
    assert cb1 == cb2
    assert len(cb1) == 2 and all(len(sub) == 4 for sub in cb1)
    for sub in cb1:
        assert [cid for cid, _ in sub] == [0, 1, 2, 3]
        assert all(len(cw) == 4 for _, cw in sub)


def test_fix_mojibake_gates(spark):
    """fix_mojibake repairs latin-1 AND cp1252 double-encodes, leaves
    clean ASCII and non-latin-1 text untouched, and flags what it
    changed. The genuine-'A-tilde-copyright' false positive is pinned as
    documented (inherent to the heuristic, shared with ftfy)."""
    from nutch_spark.datapipe.textstats import fix_mojibake

    cases = [
        (0, "SÃ£o JoÃ£o hello"),      # latin-1 mojibake
        (1, "cafÃ© crÃ¨me hello"),
        (2, "itâ€™s â€” ok"),  # cp1252 mojibake
        (3, "plain ascii text, no? fine."),
        (4, "中文 mixed with cafÃ©"),   # CJK: untouched
    ]
    df = spark.createDataFrame(cases, "doc_id int, text string")
    out = {r.doc_id: (r.text_fixed, r.mojibake_repaired)
           for r in fix_mojibake(df).collect()}
    assert out[0] == ("São João hello", True)
    assert out[1] == ("café crème hello", True)
    assert out[2] == ("it’s — ok", True)
    assert out[3] == ("plain ascii text, no? fine.", False)
    assert out[4] == ("中文 mixed with cafÃ©", False)


def test_kmv_distinct_exact_and_estimate(spark):
    """KMV: exact below k (the sketch holds every distinct hash),
    within ~15% of truth at k=256 over 5000 distinct values."""
    from nutch_spark.datapipe.sketches import kmv_distinct

    df = spark.range(10_000).select(
        (F.col("id") % 2).alias("g"),
        F.when(F.col("id") % 2 == 0, (F.col("id") % 20).cast("string"))
        .otherwise(F.concat(F.lit("u"), F.col("id").cast("string")))
        .alias("val"),
    )
    out = {r.g: (r.n_distinct_est, r.n_sketch)
           for r in kmv_distinct(df, "val", group_by=["g"], k=256).collect()}
    assert out[0] == (10.0, 10)            # 10 distinct evens: exact
    est, n = out[1]
    assert n == 256 and abs(est - 5000) / 5000 < 0.15


def test_kmv_overlap_estimate(spark):
    """KMV overlap: J estimate within 0.1 of truth; exact when the
    union fits in the sketch."""
    from nutch_spark.datapipe.sketches import kmv_overlap

    a = spark.range(1000).select(F.col("id").cast("string").alias("v"))
    b = spark.range(500, 1500).select(F.col("id").cast("string").alias("v"))
    r = kmv_overlap(a, b, "v", k=256).collect()[0]
    assert abs(r.jaccard_est - 500 / 1500) < 0.1

    small_a = spark.range(30).select(F.col("id").cast("string").alias("v"))
    small_b = spark.range(20, 50).select(F.col("id").cast("string").alias("v"))
    r2 = kmv_overlap(small_a, small_b, "v", k=256).collect()[0]
    assert r2.jaccard_est == round(10 / 50, 4) and r2.union_est == 50.0


def test_count_min_never_underestimates(spark):
    """Count-min: estimate >= true count for every value, == for values
    without collisions, 0 for absent values."""
    from collections import Counter

    from nutch_spark.datapipe.sketches import count_min_lookup, count_min_sketch

    vals = [f"w{i % 5}" for i in range(500)] + [f"rare{i}" for i in range(200)]
    truth = Counter(vals)
    df = spark.createDataFrame([(v,) for v in vals], "val string")
    sketch = count_min_sketch(df, "val", width=64, depth=4)  # tight width:
    # 205 distinct into 64 buckets forces real collisions
    qdf = spark.createDataFrame(
        [(v,) for v in list(truth)[:40]] + [("absent",)], "val string"
    )
    out = {r.val: r.freq_est
           for r in count_min_lookup(sketch, qdf, "val",
                                     width=64, depth=4).collect()}
    assert out["absent"] >= 0  # may collide upward, never negative
    for v, est in out.items():
        assert est >= truth.get(v, 0), (v, est, truth.get(v, 0))
    # the hot values dominate their buckets: estimates within collision mass
    assert out["w0"] >= 100


def test_fix_mojibake_emoji_doc_does_not_crash(spark):
    """Round-12 review fix: a doc with a mojibake signature AND an emoji
    (supplementary-plane char) must pass through untouched — Spark 4's
    encode('ISO-8859-1') THROWS on unmappable chars, so the latin-1 gate
    must reject astral code points, not just [U+0100, U+FFFF]."""
    from nutch_spark.datapipe.textstats import fix_mojibake

    txt = "itâ€™s fine 😀"
    df = spark.createDataFrame([(1, txt)], "doc_id int, text string")
    out = fix_mojibake(df).collect()[0]
    assert out.text_fixed == txt and out.mojibake_repaired is False


def test_kmv_distinct_plan_has_group_limit(spark):
    """The KMV rank filter must compile to WindowGroupLimit (bounded
    per-group top-k before the shuffle), never buffer a full distinct
    set in an aggregation."""
    from nutch_spark.datapipe.sketches import kmv_distinct

    df = spark.range(100).select(
        (F.col("id") % 3).alias("g"), F.col("id").cast("string").alias("v")
    )
    plan = kmv_distinct(df, "v", group_by=["g"], k=8)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "WindowGroupLimit" in plan
    assert "collect_set" not in plan


def test_rrf_fuse_integer_quantized(spark):
    """rrf_fuse: both-list items outrank deeper single-list items, the
    quantized contributions are exact integers, and group_by partitions
    the fusion per query."""
    from nutch_spark.datapipe.retrieval import rrf_fuse

    lex = spark.createDataFrame(
        [("q1", 10, 1), ("q1", 11, 2), ("q2", 30, 1)],
        "qid string, doc_id long, rank int",
    )
    sem = spark.createDataFrame(
        [("q1", 11, 1), ("q1", 12, 2), ("q2", 31, 1)],
        "qid string, doc_id long, rank int",
    )
    out = {
        (r.qid, r.doc_id): (r.rrf_q, r.in_lists)
        for r in rrf_fuse(
            [lex, sem], rrf_k=60, k=10, group_by=["qid"]
        ).collect()
    }
    c = lambda rank: int(1e9 // (60 + rank))
    assert out[("q1", 11)] == (c(2) + c(1), 2)   # in both lists
    assert out[("q1", 10)] == (c(1), 1)
    assert out[("q1", 12)] == (c(2), 1)
    assert out[("q2", 30)] == (c(1), 1) and out[("q2", 31)] == (c(1), 1)
    # the dual-list item beats every single-list item
    assert out[("q1", 11)][0] > out[("q1", 10)][0]


def test_sketches_ignore_null_values(spark):
    """Second review pass: NULL values must not enter any sketch — SQL
    distinct-count semantics exclude NULL, Spark and DuckDB sort NULL
    hashes to opposite ends, and a NULL count-min bucket would make a
    real value's lookup silently report 0."""
    import pytest

    from nutch_spark.datapipe.retrieval import rrf_fuse
    from nutch_spark.datapipe.sketches import (
        count_min_lookup,
        count_min_sketch,
        kmv_distinct,
        kmv_overlap,
    )

    df = spark.createDataFrame(
        [(1, "a"), (1, "b"), (1, None), (2, None)],
        "g int, v string",
    )
    out = {r.g: (r.n_distinct_est, r.n_sketch)
           for r in kmv_distinct(df, "v", group_by=["g"], k=8).collect()}
    assert out[1] == (2.0, 2)       # NULL not counted
    assert 2 not in out             # all-NULL group: no distinct values

    r = kmv_overlap(df.filter("g = 1"), df, "v", k=8).collect()[0]
    assert r.jaccard_est == 1.0 and r.union_est == 2.0

    sk = count_min_sketch(df, "v", width=16, depth=2)
    q = spark.createDataFrame([("a",), (None,)], "v string")
    got = {r.v: r.freq_est
           for r in count_min_lookup(sk, q, "v", width=16, depth=2).collect()}
    assert got["a"] >= 1 and None not in got

    with pytest.raises(ValueError):
        rrf_fuse([])


def test_bloom_no_false_negatives_and_fp_bound(spark):
    """Every inserted value must probe True (zero false negatives — the
    Bloom guarantee); unseen probes may false-positive but at m=4096,
    n=200, k=4 the rate must stay far below the ~1.5% theory bound x4
    slack. The filter itself stays <= m/63 words."""
    from nutch_spark.datapipe.sketches import bloom_build, bloom_lookup

    seen = spark.createDataFrame(
        [(f"https://s{i}.com/p",) for i in range(200)], "url string"
    )
    unseen = spark.createDataFrame(
        [(f"https://u{i}.org/q",) for i in range(500)], "url string"
    )
    bloom = bloom_build(seen, "url", m_bits=4096, k_hashes=4)
    words = bloom.collect()
    assert len(words) <= 4096 // 63 + 1
    assert all(w["word"] > 0 for w in words)  # sign bit never set

    got_seen = bloom_lookup(bloom, seen, "url", m_bits=4096, k_hashes=4).collect()
    assert all(r["maybe_present"] for r in got_seen) and len(got_seen) == 200

    got_unseen = bloom_lookup(bloom, unseen, "url", m_bits=4096, k_hashes=4).collect()
    fp = sum(1 for r in got_unseen if r["maybe_present"])
    assert fp <= 30  # theory ~7.5 expected; x4 slack for hash variance


def test_bloom_broadcast_plan(spark):
    """The probe join must BROADCAST the filter words, never shuffle the
    query side on word_idx."""
    from nutch_spark.datapipe.sketches import bloom_build, bloom_lookup

    seen = spark.range(100).select(F.col("id").cast("string").alias("v"))
    plan = (
        bloom_lookup(bloom_build(seen, "v"), seen, "v")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan and "CartesianProduct" not in plan


def test_nfc_normalize_forms_and_flag(spark):
    from nutch_spark.datapipe.textstats import nfc_normalize

    rows = [
        (0, "café"),      # decomposed -> composes
        (1, "café"),       # already NFC -> untouched
        (2, "ﬁne"),         # ligature: NFC keeps, NFKC folds
        (3, None),               # NULL passes through
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    nfc = {r["doc_id"]: (r["text_norm"], r["normalized"])
           for r in nfc_normalize(df).collect()}
    assert nfc[0] == ("café", True)
    assert nfc[1] == ("café", False)
    assert nfc[2] == ("ﬁne", False)
    assert nfc[3] == (None, None)  # null text: no claim either way

    nfkc = {r["doc_id"]: r["text_norm"]
            for r in nfc_normalize(df, form="NFKC").collect()}
    assert nfkc[2] == "fine"  # compatibility fold expands the ligature

    import pytest

    with pytest.raises(ValueError):
        nfc_normalize(df, form="NFX")


def test_token_budget_sample_semantics(spark):
    """Every source contributes; the crossing doc is kept; overshoot is
    bounded by one document; order is the deterministic hash order."""
    from nutch_spark.datapipe.mixing import token_budget_sample

    rows = [(i, "a" if i < 6 else "b", "w " * 10) for i in range(9)]
    df = spark.createDataFrame(rows, "doc_id int, source string, text string")
    got = token_budget_sample(df, 25).collect()
    by_src = {}
    for r in got:
        by_src.setdefault(r["source"], []).append(r)
    # 10 tokens per doc, budget 25: kept docs are those whose PREVIOUS
    # cumsum < 25 -> cum 10, 20, 30 kept; 40 dropped
    assert sorted(r["cum_tokens"] for r in by_src["a"]) == [10, 20, 30]
    assert sorted(r["cum_tokens"] for r in by_src["b"]) == [10, 20, 30]
    # tiny budget: still one doc per source
    got1 = token_budget_sample(df, 1).collect()
    assert sorted(r["source"] for r in got1) == ["a", "b"]


def test_quality_bins_ntile(spark):
    from nutch_spark.datapipe.mixing import quality_bins

    rows = [(i, "s", float(100 - i)) for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id int, source string, q double")
    got = {r["doc_id"]: r["bin"] for r in quality_bins(df, "q", n_bins=5).collect()}
    # scores strictly decreasing with doc_id -> bins follow doc order
    assert got == {0: 1, 1: 1, 2: 2, 3: 2, 4: 3, 5: 3, 6: 4, 7: 4, 8: 5, 9: 5}


def test_stratified_sample_n_exact_and_stable(spark):
    from nutch_spark.datapipe.mixing import stratified_sample_n

    rows = [(i, "big" if i < 50 else "small") for i in range(55)]
    df = spark.createDataFrame(rows, "doc_id int, source string")
    got = stratified_sample_n(df, 10).collect()
    by_src = {}
    for r in got:
        by_src.setdefault(r["source"], set()).add(r["doc_id"])
    assert len(by_src["big"]) == 10 and len(by_src["small"]) == 5
    # stability: repartitioned input yields the identical sample
    got2 = stratified_sample_n(df.repartition(7, "doc_id"), 10).collect()
    assert {r["doc_id"] for r in got2} == {r["doc_id"] for r in got}
    # plan: WindowGroupLimit bounds per-group state pre-shuffle
    plan = stratified_sample_n(df, 10)._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


def test_ranked_prefix_sum_matches_single_window(spark):
    """The distributed prefix sum must equal the unpartitioned-window
    answer exactly, for any partitioning of the input, and its plan must
    range-partition rather than collapse to a single partition."""
    from pyspark.sql import Window

    from nutch_spark.datapipe.prefix import ranked_prefix_sum

    rows = [(f"t{i:03d}", (i * 37) % 100 + 1) for i in range(500)]
    df = spark.createDataFrame(rows, "tok string, freq long").repartition(13)
    got = {
        r["tok"]: (r["rank"], r["cum"])
        for r in ranked_prefix_sum(
            df, [F.desc("freq"), F.asc("tok")], "freq", num_partitions=7
        ).collect()
    }
    w = Window.orderBy(F.desc("freq"), F.asc("tok"))
    want = {
        r["tok"]: (r["rank"], r["cum"])
        for r in df.withColumn("rank", F.row_number().over(w))
        .withColumn(
            "cum",
            F.sum("freq").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .collect()
    }
    assert got == want
    plan = ranked_prefix_sum(
        df, [F.desc("freq"), F.asc("tok")], "freq", num_partitions=7
    )._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in plan
    # every window in the plan is partitioned by _pid — no global window
    assert "_pid" in plan and "windowspecdefinition(_pid" in plan


def test_sampled_quantiles_accuracy_and_determinism(spark):
    from nutch_spark.datapipe.sketches import sampled_quantiles

    df = spark.range(0, 20_000).select(
        F.col("id").alias("k"), (F.col("id") % 1000).cast("double").alias("v")
    )
    got = sampled_quantiles(
        df, "v", key="k", qs=(0.5,), sample_bp=1000
    ).collect()[0]
    # uniform over [0,1000): the 10% hash sample's median lands near 500
    assert abs(got["q0_5"] - 499.5) < 25 and 1700 < got["n_sample"] < 2300
    # deterministic: repartitioned input gives the identical estimate
    again = sampled_quantiles(
        df.repartition(17), "v", key="k", qs=(0.5,), sample_bp=1000
    ).collect()[0]
    assert again["q0_5"] == got["q0_5"] and again["n_sample"] == got["n_sample"]


def test_cluster_canonical_policy(spark):
    """Canonical = highest quality, longest on ties, smallest id last;
    exactly one is_canonical per component; singletons keep themselves."""
    from nutch_spark.datapipe.dedup import cluster_canonical

    members = spark.createDataFrame(
        [(0, 0), (1, 0), (2, 0), (4, 4), (5, 4), (6, 6)],
        "doc_id long, component long",
    )
    signals = spark.createDataFrame(
        [
            (0, 0.75, 100),  # cluster 0: doc 1 wins on quality
            (1, 1.00, 90),
            (2, 0.75, 100),
            (4, 0.50, 80),   # cluster 4: tie on quality, doc 5 longer
            (5, 0.50, 83),
            (6, 0.25, 10),   # singleton
        ],
        "doc_id long, quality_score double, n_tokens long",
    )
    out = {r["doc_id"]: r for r in cluster_canonical(members, signals).collect()}
    assert [out[i]["is_canonical"] for i in (0, 1, 2)] == [False, True, False]
    assert [out[i]["is_canonical"] for i in (4, 5)] == [False, True]
    assert out[6]["is_canonical"] is True
    assert out[0]["n_members"] == 3 and out[4]["n_members"] == 2
    assert out[6]["n_members"] == 1
    # exactly one canonical per component
    per = {}
    for r in out.values():
        per[r["component"]] = per.get(r["component"], 0) + int(r["is_canonical"])
    assert set(per.values()) == {1}


def test_cluster_canonical_id_tiebreak(spark):
    from nutch_spark.datapipe.dedup import cluster_canonical

    members = spark.createDataFrame(
        [(7, 7), (8, 7)], "doc_id long, component long"
    )
    signals = spark.createDataFrame(
        [(7, 0.5, 50), (8, 0.5, 50)],
        "doc_id long, quality_score double, n_tokens long",
    )
    out = {r["doc_id"]: r["is_canonical"]
           for r in cluster_canonical(members, signals).collect()}
    assert out == {7: True, 8: False}


def test_hashed_embedding_properties(spark):
    """Unit norm, zero-token zero vector, determinism across partitionings,
    and composition into the certified ANN family."""
    import math

    from nutch_spark.datapipe.similarity import hashed_embedding, lsh_topk

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "completely different words about spark engines"),
            (4, ""),  # zero tokens: zero vector, norm 0
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in hashed_embedding(docs).collect()}
    assert out[4]["n_tokens"] == 0 and out[4]["norm"] == 0.0
    assert all(x == 0.0 for x in out[4]["embedding"])
    for i in (1, 2, 3):
        nrm = math.sqrt(sum(x * x for x in out[i]["embedding"]))
        assert abs(nrm - 1.0) < 1e-9
        assert out[i]["n_tokens"] == 9 if i < 3 else True
    # near-identical docs (one token differs) land closer than unrelated
    def dot(a, b):
        return sum(x * y for x, y in zip(a, b))
    assert dot(out[1]["embedding"], out[2]["embedding"]) > dot(
        out[1]["embedding"], out[3]["embedding"]
    )
    # partitioning invariance: integer bucket sums are order-free
    again = {
        r["doc_id"]: r
        for r in hashed_embedding(docs.repartition(7)).collect()
    }
    for i in (1, 2, 3, 4):
        assert again[i]["embedding"] == out[i]["embedding"]
    # composition: the vectors feed the certified ANN family directly
    emb = hashed_embedding(docs).filter("n_tokens > 0").select(
        F.col("doc_id").alias("vec_id"), "embedding"
    )
    topk = lsh_topk(emb, emb, k=1, dim=64, bits=8).collect()
    assert all(r["query_id"] != r["neighbor_id"] for r in topk)


def test_cluster_canonical_keeps_unsignaled_members(spark):
    """A member missing from signals must stay in the output (ranked last),
    so is_canonical partitions EVERY member — nothing leaks past the drop
    list; an all-unsignaled cluster still elects exactly one canonical."""
    from nutch_spark.datapipe.dedup import cluster_canonical

    members = spark.createDataFrame(
        [(0, 0), (1, 0), (5, 5), (6, 5)], "doc_id long, component long"
    )
    signals = spark.createDataFrame(
        [(1, 0.5, 10)], "doc_id long, quality_score double, n_tokens long"
    )  # docs 0, 5, 6 have no signal row
    out = {r["doc_id"]: r for r in cluster_canonical(members, signals).collect()}
    assert set(out) == {0, 1, 5, 6}
    assert out[1]["is_canonical"] is True and out[0]["is_canonical"] is False
    assert out[0]["n_members"] == 2
    # all-NULL cluster: smallest id wins deterministically
    assert out[5]["is_canonical"] is True and out[6]["is_canonical"] is False


def test_row_embed_exprs_match_batch(spark):
    """The stream-safe per-row expressions are bit-identical to the batch
    featurizer: sign bucket == sign pattern of hashed_embedding's vector,
    digest == md5 of the floor(1e6*x) quantized components (the
    dp_text_embed emb_digest rule)."""
    import hashlib
    import math

    from nutch_spark.datapipe.similarity import (
        hashed_embedding,
        row_embed_bucket,
        row_embed_digest,
    )

    docs = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "zebra quokka xylophone"), (3, "")],
        "doc_id long, text string",
    )
    batch = {r["doc_id"]: r["embedding"] for r in hashed_embedding(docs).collect()}
    bucket_exp = {
        k: "".join("1" if x >= 0 else "0" for x in v) for k, v in batch.items()
    }

    def digest_exp(v):
        nrm = math.sqrt(sum(x * x for x in v))
        q = [int(math.floor(x / nrm * 1000000.0)) if nrm > 0 else 0 for x in v]
        return hashlib.md5(",".join(str(x) for x in q).encode()).hexdigest()

    got = {
        r["doc_id"]: (r["b"], r["dg"])
        for r in docs.select(
            "doc_id",
            row_embed_bucket("text").alias("b"),
            row_embed_digest("text").alias("dg"),
        ).collect()
    }
    for k in (1, 2, 3):
        assert got[k][0] == bucket_exp[k], k
        assert got[k][1] == digest_exp(batch[k]), k


def test_text_embed_neardup_excludes_zero_norm(spark):
    """Tokens that all CANCEL (same bucket, opposite sign bits: 'w0'/'w292'
    and 'w1'/'w55' under the 60-bit md5 hash) leave the zero vector —
    no direction, cosine NaN against everything, one shared bucket+digest.
    Such docs must be excluded from pair generation entirely, not emitted
    as NaN 'near-dups' of each other."""
    from nutch_spark.datapipe.similarity import (
        hashed_embedding,
        text_embed_neardup_pairs,
    )

    docs = spark.createDataFrame(
        [
            (1, "w0 w292"),   # cancels to the zero vector
            (2, "w1 w55"),    # a DIFFERENT doc, also zero vector
            (3, "alpha beta gamma"),
            (4, "alpha beta gamma"),  # true exact copy of 3
        ],
        "doc_id long, text string",
    )
    emb = {r["doc_id"]: r for r in hashed_embedding(docs).collect()}
    assert emb[1]["norm"] == 0.0 and emb[1]["n_tokens"] == 2  # really cancels
    assert emb[2]["norm"] == 0.0
    pairs = {(r["id_a"], r["id_b"]): r["cosine_sim"]
             for r in text_embed_neardup_pairs(docs).collect()}
    assert (1, 2) not in pairs          # zero-norm docs never pair
    assert pairs == {(3, 4): 1.0}       # the real copy still found
