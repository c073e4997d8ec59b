"""Unit tests for the distributed BPE tokenizer (datapipe/tokenize.py):
hand-computed merges on tiny corpora, the self-overlap replace semantics,
alphabet/separator safety, and the apply/train plan shapes."""

from __future__ import annotations

from pyspark.sql import functions as F

from nutch_spark.datapipe.tokenize import (
    SEP,
    bpe_apply,
    bpe_train,
    pair_counts,
    symbolize,
    word_freqs,
)


def _docs(spark, *texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def test_word_freqs_pretokenization(spark):
    d = _docs(spark, "low lower low, low-er 42x")
    wf = {r["word"]: r["freq"] for r in word_freqs(d).collect()}
    # letter runs, digit runs, single marks — "42x" splits into "42" + "x"
    assert wf == {
        "low": 3,
        "lower": 1,
        ",": 1,
        "-": 1,
        "er": 1,
        "42": 1,
        "x": 1,
    }


def test_pair_counts_weighted_by_freq(spark):
    vocab = spark.createDataFrame(
        [("ab", 3), ("abc", 2)], "word string, freq long"
    ).select(symbolize("word").alias("s"), "freq")
    pc = {(r["left"], r["right"]): r["cnt"] for r in pair_counts(vocab).collect()}
    assert pc == {("a", "b"): 5, ("b", "c"): 2}


def test_bpe_train_hand_computed(spark):
    # classic Sennrich toy: 'aaab' x3, 'ab' x2 — first merge is the most
    # frequent pair (a,a)=6, then (aa,ab)? recount: after (a,a):
    # 'aa a b' x3, 'a b' x2 → pairs (aa,a)=3, (a,b)=5 → merge (a,b);
    # then 'aa ab' x3, 'ab' x2 → (aa,ab)=3 → merge (aa,ab)
    d = _docs(spark, "aaab aaab aaab ab ab")
    merges = bpe_train(word_freqs(d), 3)
    assert merges == [("a", "a"), ("a", "b"), ("aa", "ab")]


def test_bpe_train_ties_break_lexicographically(spark):
    # 'xy' and 'ab' both appear twice → (a,b) wins over (x,y) on the pair
    d = _docs(spark, "xy ab xy ab")
    merges = bpe_train(word_freqs(d), 2)
    assert merges == [("a", "b"), ("x", "y")]


def test_bpe_train_job_count_bounded(spark):
    """Each merge costs its top-pair collect only: the per-merge state
    checkpoint is lazy and materializes inside the next collect. Counted
    with AQE off, because AQE runs each shuffle-map stage of a lazy
    checkpoint as a job of its own, a number that varies run to run."""
    sc = spark.sparkContext
    d = _docs(spark, "low lower lowest newer newest wider", "low low new")
    vocab = word_freqs(d)
    group = "test_bpe_train_job_count_bounded"
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    sc.setJobGroup(group, group)
    try:
        merges = bpe_train(vocab, 4)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert len(merges) == 4
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= len(merges) + 1


def test_bpe_train_min_count_stops(spark):
    d = _docs(spark, "ab ab cd")  # (c,d) appears once < min_count=2
    merges = bpe_train(word_freqs(d), 5, min_count=2)
    assert merges == [("a", "b")]


def test_bpe_apply_tokens(spark):
    d = _docs(spark, "the thin then!")
    out = bpe_apply(d, [("t", "h"), ("th", "e"), ("i", "n")]).collect()[0]
    assert out["bpe_tokens"] == ["the", "th", "in", "the", "n", "!"]


def test_adjacent_repeat_documented_semantics(spark):
    # declared behavior: one non-overlapping left-to-right pass, and a
    # replacement consumes the boundary separator it shares with an
    # immediately following occurrence — so any DIRECTLY ADJACENT repeat of
    # a pair merges only its odd occurrences in that pass
    d = _docs(spark, "aaaa thth")
    out = bpe_apply(d, [("a", "a"), ("t", "h")]).collect()[0]
    # 'aaaa' -> [aa, a, a] (not [aa, aa]); 'thth' -> [th, t, h] (not [th, th])
    assert out["bpe_tokens"] == ["aa", "a", "a", "th", "t", "h"]


def test_separator_never_merges_across_symbols(spark):
    # pair (a, b) must not fire on adjacent symbols ('xa', 'b')
    d = _docs(spark, "xab")
    out = bpe_apply(d, [("x", "a"), ("a", "b")]).collect()[0]
    # (x,a) fires first → symbols [xa, b]; (a,b) must NOT match inside
    assert out["bpe_tokens"] == ["xa", "b"]


def test_separator_excluded_from_alphabet(spark):
    # U+001F in the input text is dropped by the word regex, so it can
    # never forge a symbol boundary
    d = _docs(spark, f"a{SEP}b")
    out = bpe_apply(d, [("a", "b")]).collect()[0]
    assert out["bpe_tokens"] == ["a", "b"]  # NOT merged: separate words


def test_bpe_apply_is_narrow(spark):
    """Tokenization must stay a map-only stage: no Exchange in the plan."""
    d = _docs(spark, "the quick brown fox")
    plan = (
        bpe_apply(d, [("t", "h")])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan


def test_train_roundtrip_compresses(spark):
    """Learned merges reduce token count vs character tokenization."""
    text = "the cat and the hat and the bat " * 4
    d = _docs(spark, text)
    merges = bpe_train(word_freqs(d), 8)
    assert len(merges) == 8
    toks = bpe_apply(d, merges).select(F.size("bpe_tokens").alias("n")).collect()
    chars = bpe_apply(d, []).select(F.size("bpe_tokens").alias("n")).collect()
    assert toks[0]["n"] < chars[0]["n"]


def test_cross_engine_merge_semantics(spark):
    """Property: the merge chain is byte-identical between Spark `replace`
    and DuckDB `replace` for arbitrary symbol strings — the invariant the
    dp_bpe_* oracles rest on (hypothesis over adversarial words: repeats,
    overlaps, separator-adjacent shapes)."""
    import duckdb
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from nutch_spark.datapipe.tokenize import apply_merges_to_word

    merges = [("a", "b"), ("ab", "a"), ("b", "b"), ("abb", "ab")]
    con = duckdb.connect()

    def duck_tokens(word: str) -> list[str]:
        expr = "chr(31) || regexp_replace(w, '(.)', '\\1' || chr(31), 'g')"
        for left, right in merges:
            needle = f"chr(31) || '{left}' || chr(31) || '{right}' || chr(31)"
            repl = f"chr(31) || '{left}{right}' || chr(31)"
            expr = f"replace({expr}, {needle}, {repl})"
        sql = (
            f"SELECT list_filter(string_split({expr}, chr(31)), x -> x != '') "
            f"FROM (SELECT ? AS w)"
        )
        return con.execute(sql, [word]).fetchone()[0]

    @given(st.lists(st.text(alphabet="ab", min_size=1, max_size=12),
                    min_size=1, max_size=6))
    @settings(suppress_health_check=[HealthCheck.too_slow], max_examples=25, deadline=None)
    def check(words):
        from pyspark.sql import functions as F

        df = spark.createDataFrame([(w,) for w in words], "word string")
        got = [
            r["t"]
            for r in df.select(
                apply_merges_to_word(F.col("word"), merges).alias("t")
            ).collect()
        ]
        want = [duck_tokens(w) for w in words]
        assert got == want

    check()


def test_chunk_documents_windows_and_overlap(spark):
    from nutch_spark.datapipe.tokenize import chunk_documents

    toks = [f"t{i}" for i in range(25)]
    rows = [
        (1, " ".join(toks)),          # 25 tokens: 3 chunks at 10/4 (stride 6)
        (2, "a b c"),                 # under one window: exactly 1 chunk
        (3, ""),                      # empty: 1 chunk, 0 tokens
        (4, "  x   y  "),             # messy whitespace
        (5, " ".join(f"u{i}" for i in range(10))),  # exactly one window
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = chunk_documents(df, chunk_tokens=10, overlap=4)
    got = {
        (r["doc_id"], r["chunk_idx"]): (r["chunk_text"], r["n_tokens"])
        for r in out.collect()
    }
    # doc 1: ceil((25-4)/6) = 4 chunks at starts 0,6,12,18
    assert {k[1] for k in got if k[0] == 1} == {0, 1, 2, 3}
    assert got[(1, 0)][0] == " ".join(toks[0:10])
    assert got[(1, 1)][0] == " ".join(toks[6:16])   # 4-token overlap
    assert got[(1, 3)][0] == " ".join(toks[18:25])  # last chunk is short
    assert got[(1, 3)][1] == 7
    assert got[(2, 0)] == ("a b c", 3)
    assert got[(3, 0)] == ("", 0)
    assert got[(4, 0)] == ("x y", 2)
    assert {k[1] for k in got if k[0] == 5} == {0}  # boundary: single chunk
    # every non-final chunk repeats the previous chunk's last `overlap` tokens
    c0, c1 = got[(1, 0)][0].split(), got[(1, 1)][0].split()
    assert c0[-4:] == c1[:4]
    import pytest as _pytest

    with _pytest.raises(ValueError):
        chunk_documents(df, chunk_tokens=10, overlap=10)


def test_vocab_coverage_curve(spark):
    """vocab_coverage: monotone curve, exact fractions on a constructed
    corpus, probes beyond the vocabulary cover everything."""
    from nutch_spark.datapipe.tokenize import vocab_coverage

    # corpus: 'a' x6, 'b' x3, 'c' x1 -> total 10 occurrences
    docs = spark.createDataFrame(
        [("a a a b",), ("a a a b b c",)], "text string"
    )
    out = {r.vocab_size: (r.n_covered, r.coverage)
           for r in vocab_coverage(docs, [1, 2, 3, 100]).collect()}
    assert out[1] == (6, 0.6)
    assert out[2] == (9, 0.9)
    assert out[3] == (10, 1.0)
    assert out[100] == (10, 1.0)  # beyond the vocab: full coverage


def test_token_frequency_spectrum(spark):
    """Spectrum: exact band counts on a constructed corpus, tail fold,
    and mass conservation (sum of n_occurrences == total tokens)."""
    from nutch_spark.datapipe.tokenize import token_frequency_spectrum

    docs = spark.createDataFrame(
        [("a a a b b c",), ("d " * 12,)], "text string"
    )
    out = {r.freq: (r.n_tokens, r.n_occurrences)
           for r in token_frequency_spectrum(docs, max_freq=10).collect()}
    assert out[1] == (1, 1)      # c
    assert out[2] == (1, 2)      # b
    assert out[3] == (1, 3)      # a
    assert out[11] == (1, 12)    # d: folded tail
    assert sum(m for _, m in out.values()) == 18
