"""Text analysis for training-data pipelines: tokenization, quality scoring,
language identification, token counting, fingerprinting.

Everything is built-in-function based (regexp/array ops — JVM-side), and every
regex sticks to RE2-safe constructs so the same pattern runs in the DuckDB
oracle. At 100 TB these are embarrassingly parallel map stages: no shuffle,
full codegen, column-pruned scans.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nutch_spark.topk import top_k_per_group

# BPE-ish word/number/punct splitter (RE2-safe, same string works in DuckDB)
TOKEN_REGEX = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"

# tiny per-language stopword lists for the n-gram/stopword langid heuristic
STOPWORDS = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "that", "it", "for"),
    "de": ("der", "die", "und", "das", "ist", "nicht", "mit", "ein", "zu", "den"),
    "fr": ("le", "la", "et", "les", "des", "est", "une", "dans", "que", "pour"),
    "es": ("el", "la", "los", "de", "que", "es", "una", "por", "con", "para"),
}


def tokens(text: Column | str) -> Column:
    """Lowercased whitespace/punct tokens as an array column."""
    t = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(F.lower(t), "[^a-z0-9]+"), lambda x: x != "")


def bind_once(col: Column, build) -> Column:
    """Evaluate ``col`` ONCE per row and hand the materialized value to
    ``build`` as a lambda variable.

    Column expressions referenced inside higher-order-function lambdas
    are INLINED: ``transform(seq, i -> f(expensive, i))`` re-evaluates
    ``expensive`` for EVERY element, because lambda bodies are
    interpreted — no whole-stage codegen, no common-subexpression
    elimination. Wrapping the expression as the input of an outer
    one-element ``transform`` binds it to a lambda VARIABLE, which Spark
    materializes once per row (the trick hashed_embedding has used since
    round 13, now shared). Fixing this on the bigram featurizer measured
    ~10x at sf0.1 (tokenize re-ran per bigram before)."""
    wrapped = F.transform(
        F.array(F.struct(col.alias("v"))), lambda s: build(s["v"])
    )
    return F.element_at(wrapped, 1)


def token_count(text: Column | str) -> Column:
    """Whitespace token count."""
    t = F.col(text) if isinstance(text, str) else text
    return F.size(F.filter(F.split(t, "[ \\t\\n]+"), lambda x: x != ""))


def bpe_ish_token_count(text: Column | str) -> Column:
    """Count of TOKEN_REGEX matches — a crude proxy for BPE token counts."""
    t = F.col(text) if isinstance(text, str) else text
    return F.regexp_count(t, F.lit(TOKEN_REGEX))


# RE2-safe PII patterns (no backrefs/lookaround — identical semantics in
# Spark and the DuckDB oracle). Deliberately conservative: training-data
# scrubbing wants high precision; recall tuning belongs to the deployment.
PII_PATTERNS = {
    "email": "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
    "phone": "(?:\\+?[0-9]{1,3}[- .])?\\(?[0-9]{3}\\)?[- .]?[0-9]{3}[- .][0-9]{4}",
    "ipv4": "\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b",
    "ssn_like": "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b",
}


def pii_scrub(df: DataFrame, text: str = "text", *, redact: str = "<PII>") -> DataFrame:
    """Count and redact PII-shaped spans (emails, phone numbers, IPv4s,
    SSN-like ids) — the standard scrub pass before a corpus reaches
    training. Appends ``n_<kind>`` counts, ``pii_total`` and ``text_scrubbed``
    with every match replaced by ``redact``.

    Map-only (regexp_count/regexp_replace are JVM codegen'd) — zero shuffles
    at any scale; patterns apply in a fixed order so counts are unambiguous
    even when patterns could overlap.
    """
    t = F.col(text)
    counts = {
        f"n_{kind}": F.regexp_count(t, F.lit(pat)).cast("long")
        for kind, pat in PII_PATTERNS.items()
    }
    scrubbed = t
    for pat in PII_PATTERNS.values():
        scrubbed = F.regexp_replace(scrubbed, pat, redact)
    out = df.withColumns(counts)
    total = None
    for name in counts:
        total = F.col(name) if total is None else total + F.col(name)
    return out.withColumn("pii_total", total).withColumn("text_scrubbed", scrubbed)


def quality_metrics(df: DataFrame, text: str = "text") -> DataFrame:
    """Append standard quality-scoring columns:

    n_chars_m, n_tokens, avg_token_len, punct_ratio, digit_ratio,
    stopword_ratio (English), uniq_token_ratio, quality_score in [0,1].
    """
    t = F.col(text)
    toks = tokens(t)
    n_tok = F.size(toks)
    n_chars = F.length(t)
    stop = F.size(F.array_intersect(toks, F.array(*[F.lit(s) for s in STOPWORDS["en"]])))
    uniq = F.size(F.array_distinct(toks))
    punct = n_chars - F.length(F.regexp_replace(t, "[^A-Za-z0-9 ]", ""))
    digits = n_chars - F.length(F.regexp_replace(t, "[0-9]", ""))
    out = df.withColumns(
        {
            "n_chars_m": n_chars.cast("long"),
            "n_tokens": n_tok.cast("long"),
            "avg_token_len": F.when(
                n_tok > 0,
                (n_chars - (n_tok - 1)) / n_tok,  # chars net of single spaces
            ).otherwise(F.lit(0.0)),
            "punct_ratio": F.when(n_chars > 0, punct / n_chars).otherwise(0.0),
            "digit_ratio": F.when(n_chars > 0, digits / n_chars).otherwise(0.0),
            "stopword_hits": stop.cast("long"),
            "uniq_token_ratio": F.when(n_tok > 0, uniq / n_tok).otherwise(0.0),
        }
    )
    # simple composite score: length in range, low punct, some diversity.
    # Weights are binary-exact (0.5/0.25/0.25) so the sum is bit-identical
    # across engines — 0.4+0.3+0.3 drifts to 1.0000000000000002 in doubles.
    score = (
        F.when((F.col("n_tokens") >= 10) & (F.col("n_tokens") <= 100_000), 0.5).otherwise(0.0)
        + F.when(F.col("punct_ratio") < 0.2, 0.25).otherwise(0.0)
        + F.when(F.col("uniq_token_ratio") > 0.1, 0.25).otherwise(0.0)
    )
    return out.withColumn("quality_score", score)


# Gopher's 8 "stop words" (Rae et al. 2021 §A1.1) — a doc must contain ≥2
_GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality(df: DataFrame, text: str = "text") -> DataFrame:
    """The full Gopher quality-filter rule set (Rae et al. 2021 §A1.1),
    appended as metric + verdict columns:

    - word count in [50, 100000]             (whitespace words)
    - mean word length in [3, 10]
    - symbol-to-word ratio ('#' or '...') <= 0.1
    - <= 90% of lines start with a bullet ('-', '*', '•')
    - <= 30% of lines end with an ellipsis ('...' or '…')
    - >= 80% of words contain an alphabetic character
    - >= 2 distinct Gopher stop words present

    All map-only column math (ratios are single int/int divisions —
    bit-identical across engines); at 100 TB this is a pure codegen stage
    with no shuffle. Reference anchor: Nutch's indexing filters gate on
    similar per-document signals (index-more/MoreIndexingFilter.java);
    this is the LLM-corpus analogue.
    """
    t = F.col(text)
    words = F.filter(F.split(t, "[ \\t\\n]+"), lambda x: x != "")
    n_words = F.size(words)
    word_len_sum = F.aggregate(
        words, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
    )
    mean_word_len = F.when(n_words > 0, word_len_sum / n_words).otherwise(0.0)
    hash_count = F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit("")))
    ell_count = (
        F.length(t) - F.length(F.replace(t, F.lit("..."), F.lit("")))
    ) / F.lit(3)
    symbol_ratio = F.when(
        n_words > 0, (hash_count + ell_count) / n_words
    ).otherwise(0.0)
    lines = F.filter(
        F.transform(F.split(t, "\n"), lambda x: F.trim(x)), lambda x: x != ""
    )
    n_lines = F.size(lines)
    bullet_lines = F.size(
        F.filter(
            lines,
            lambda x: F.substring(x, 1, 1).isin("-", "*", "•"),
        )
    )
    ellipsis_lines = F.size(
        F.filter(
            lines,
            lambda x: x.endswith("...") | x.endswith("…"),
        )
    )
    frac_bullet = F.when(n_lines > 0, bullet_lines / n_lines).otherwise(0.0)
    frac_ellipsis = F.when(n_lines > 0, ellipsis_lines / n_lines).otherwise(0.0)
    alpha_words = F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]")))
    frac_alpha = F.when(n_words > 0, alpha_words / n_words).otherwise(0.0)
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct(tokens(t)),
            F.array(*[F.lit(s) for s in _GOPHER_STOPWORDS]),
        )
    )
    out = df.withColumns(
        {
            "n_words": n_words.cast("long"),
            "mean_word_len": mean_word_len,
            "symbol_ratio": symbol_ratio,
            "frac_bullet_lines": frac_bullet,
            "frac_ellipsis_lines": frac_ellipsis,
            "frac_alpha_words": frac_alpha,
            "gopher_stopword_hits": stop_hits.cast("long"),
        }
    )
    passes = (
        (F.col("n_words") >= 50)
        & (F.col("n_words") <= 100_000)
        & (F.col("mean_word_len") >= 3.0)
        & (F.col("mean_word_len") <= 10.0)
        & (F.col("symbol_ratio") <= 0.1)
        & (F.col("frac_bullet_lines") <= 0.9)
        & (F.col("frac_ellipsis_lines") <= 0.3)
        & (F.col("frac_alpha_words") >= 0.8)
        & (F.col("gopher_stopword_hits") >= 2)
    )
    return out.withColumn("passes_gopher_quality", passes)


def langid(df: DataFrame, text: str = "text", out_col: str = "lang_pred") -> DataFrame:
    """Stopword-overlap language guess with deterministic tie-break
    (language order as in STOPWORDS; 'und' = undetermined when no hits)."""
    toks = F.array_distinct(tokens(F.col(text)))
    hits = {
        lang: F.size(F.array_intersect(toks, F.array(*[F.lit(s) for s in words])))
        for lang, words in STOPWORDS.items()
    }
    best = F.greatest(*hits.values())
    pred = F.when(best <= 0, F.lit("und"))
    for lang in STOPWORDS:  # fixed priority on ties
        pred = pred.when(hits[lang] == best, F.lit(lang))
    return df.withColumn(out_col, pred)


def c4_line_clean(
    df: DataFrame,
    text: str = "text",
    *,
    min_words_per_line: int = 5,
    min_kept_lines: int = 3,
    bad_words: tuple[str, ...] = (),
) -> DataFrame:
    """C4-style line-level cleaning (Raffel et al. 2020, "Exploring the
    Limits of Transfer Learning with a Unified Text-to-Text Transformer"
    §2.2 — public paper; same rules FineWeb/CCNet reuse):

    a line is KEPT only if it ends in terminal punctuation (. ! ? or "),
    has at least ``min_words_per_line`` whitespace words, does not contain
    the word "javascript" (case-insensitive), and does not contain a curly
    brace (code). A document is KEPT only if it retains at least
    ``min_kept_lines`` lines and does not contain "lorem ipsum".

    Appends ``text_clean`` (kept lines re-joined with \\n), ``n_lines``,
    ``n_kept_lines``, ``c4_keep``. Pure array/regexp column expressions —
    map-only, codegen'd, no shuffle at any scale.
    """
    t = F.col(text)
    lines = F.split(t, "\n")
    kept = F.filter(
        lines,
        lambda ln: ln.rlike('[.!?"]$')
        & (F.size(F.filter(F.split(ln, " +"), lambda w: w != "")) >= min_words_per_line)
        & ~F.lower(ln).contains("javascript")
        & ~ln.contains("{")
        & ~ln.contains("}"),
    )
    return df.withColumns(
        {
            "n_lines": F.size(lines).cast("long"),
            "n_kept_lines": F.size(kept).cast("long"),
            "text_clean": F.array_join(kept, "\n"),
            "c4_keep": (F.size(kept) >= min_kept_lines)
            & ~F.lower(t).contains("lorem ipsum")
            # bad-word DOCUMENT drop (C4 §2.2's blocklist rule; the deployment
            # supplies its word list) — token-level match, not substring, so
            # innocuous superstrings don't false-positive
            & (
                # tokens() lowercases, so the list must too (case-insensitive
                # matching, per C4's blocklist usage)
                F.size(
                    F.array_intersect(
                        tokens(t),
                        F.array(*[F.lit(w.lower()) for w in bad_words]),
                    )
                )
                == 0
                if bad_words
                else F.lit(True)
            ),
        }
    )


def url_blocklist_filter(
    df: DataFrame,
    blocked_domains: list[str],
    *,
    url: str = "url",
    out_col: str = "url_blocked",
) -> DataFrame:
    """URL/domain blocklist flag (the RefinedWeb/FineWeb URL-filtering
    stage): a url is blocked when its registered host equals a blocked
    domain or is a subdomain of one. The blocklist travels as a broadcast
    literal array — map-only at any scale."""
    host = F.lower(
        F.regexp_extract(F.col(url), r"^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]+)", 1)
    )
    blocked = F.lit(False)
    for d in sorted(set(b.lower() for b in blocked_domains)):
        blocked = blocked | (host == d) | host.endswith("." + d)
    return df.withColumn(out_col, blocked)


def langid_trained(
    df: DataFrame,
    text: str = "text",
    out_col: str = "lang_pred",
    key: str = "doc_id",
    prefix_chars: int | None = None,
) -> DataFrame:
    """Trained character-trigram language ID (Cavnar-Trenkle / naive-Bayes
    family — the reference's language-identifier plugin approach,
    NGramProfile.java). Scores each document's first ``prefix_chars`` chars
    against per-language trigram profiles embedded as integer scaled
    log-probs (see datapipe/langid_profiles.py) and predicts the argmax;
    documents too short for a trigram get 'und'.

    Scale shape: trigram explode is bounded by the prefix (≤ ~400 rows/doc),
    the profile table (langs × 200 trigrams) and the language list are
    broadcast, scoring is one (doc, lang) partial-aggregated groupBy, and
    the argmax is a window partitioned by the doc key — two bounded
    shuffles total, no global ordering anywhere. Integer scores keep the
    result bit-identical across engines and summation orders.
    """
    from nutch_spark.datapipe.langid_profiles import (
        PREFIX_CHARS,
        miss_rows,
        profile_rows,
    )

    spark = df.sparkSession
    prefix = prefix_chars or PREFIX_CHARS
    prof = F.broadcast(
        spark.createDataFrame(profile_rows(), "plang string, tri string, score long")
    )
    langs = F.broadcast(
        spark.createDataFrame(miss_rows(), "plang string, miss long")
    )

    norm = F.regexp_replace(
        F.lower(F.substring(F.col(text), 1, prefix)), r"\s+", " "
    )
    base = df.select(F.col(key), norm.alias("_t")).withColumn(
        "n_tri",
        F.when(F.length("_t") >= 3, F.length("_t") - 2).otherwise(0).cast("long"),
    )
    tri = base.filter(F.col("n_tri") > 0).select(
        key,
        F.explode(
            F.expr("transform(sequence(1, length(_t) - 2), i -> substring(_t, i, 3))")
        ).alias("tri"),
    )
    matched = (
        tri.join(prof, "tri")
        .groupBy(key, "plang")
        .agg(F.sum("score").alias("_s"), F.count("*").alias("_c"))
    )
    scored = (
        base.crossJoin(langs)
        .join(matched, [key, "plang"], "left")
        .withColumn(
            "_total",
            F.coalesce(F.col("_s"), F.lit(0))
            + (F.col("n_tri") - F.coalesce(F.col("_c"), F.lit(0))) * F.col("miss"),
        )
    )
    best = top_k_per_group(
        scored, [key], [F.col("_total").desc(), F.col("plang").asc()], 1
    )
    # Script override — the standard langid layering (script first,
    # statistics within script): tiny CJK seed corpora cannot cover held-out
    # character combinations, so Unicode ranges decide the CJK/Cyrillic
    # cases and the trigram model decides within Latin script. The \\x{...}
    # class syntax parses identically in Java regex (Spark) and RE2 (DuckDB).
    kana = F.regexp_count("_t", F.lit("[\\x{3040}-\\x{30ff}]"))
    cjk = F.regexp_count("_t", F.lit("[\\x{4e00}-\\x{9fff}]"))
    cyr = F.regexp_count("_t", F.lit("[\\x{0400}-\\x{04ff}]"))
    n = F.length("_t")
    pred = (
        F.when(F.col("n_tri") == 0, F.lit("und"))
        .when(kana > 0, F.lit("ja"))
        .when(cjk * 10 > n * 3, F.lit("zh"))
        .when(cyr * 10 > n * 3, F.lit("ru"))
        .otherwise(F.col("plang"))
    )
    return df.join(
        best.select(key, pred.alias(out_col)), key, "left"
    )


def repetition_metrics(df: DataFrame, text: str = "text", key: str = "doc_id") -> DataFrame:
    """Gopher-style repetition signals per document (Rae et al. 2021,
    "Scaling Language Models", §A1.1 repetition filters — public paper):

    - ``dup_token_frac``: 1 - distinct/total tokens,
    - ``top_unigram_frac``: share of tokens taken by the most frequent token,
    - ``top_bigram_frac``: share of bigrams taken by the most frequent bigram,
    - ``mean_token_len``: average token length,
    - ``passes_repetition``: the composite keep/drop verdict.

    Shape at 100 TB: the per-gram frequencies run explode → two-level
    groupBy (map-side partial aggregation on (doc, gram)), never a per-row
    quadratic array lambda; the final join is on the doc key that the
    aggregations already partitioned by.
    """
    toks = tokens(F.col(text))
    base = df.select(F.col(key), toks.alias("_toks")).withColumns(
        {
            "n_tokens": F.size("_toks").cast("long"),
            "n_uniq": F.size(F.array_distinct("_toks")).cast("long"),
            "_len_sum": F.aggregate(
                "_toks", F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
            ),
        }
    )
    # bigrams keep multiplicity (frequency of the *mode* bigram is the point);
    # sequence(1, 0) counts DOWN in Spark, hence the n >= 2 guard.
    bigrams = F.when(
        F.size("_toks") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("_toks") - 1),
            lambda i: F.concat_ws(
                " ", F.element_at("_toks", i), F.element_at("_toks", i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))

    def _top(col: Column, name: str) -> DataFrame:
        return (
            base.select(key, F.explode(col).alias("_g"))
            .groupBy(key, "_g")
            .count()
            .groupBy(key)
            .agg(F.max("count").alias(name))
        )

    top_u = _top(F.col("_toks"), "_top_u")
    top_b = _top(bigrams, "_top_b")
    n_tok = F.col("n_tokens")
    n_big = F.greatest(n_tok - 1, F.lit(0))
    out = (
        base.join(top_u, key, "left")
        .join(top_b, key, "left")
        .select(
            key,
            "n_tokens",
            F.when(n_tok > 0, (n_tok - F.col("n_uniq")) / n_tok)
            .otherwise(0.0)
            .alias("dup_token_frac"),
            F.when(n_tok > 0, F.coalesce(F.col("_top_u"), F.lit(0)) / n_tok)
            .otherwise(0.0)
            .alias("top_unigram_frac"),
            F.when(n_big > 0, F.coalesce(F.col("_top_b"), F.lit(0)) / n_big)
            .otherwise(0.0)
            .alias("top_bigram_frac"),
            F.when(n_tok > 0, F.col("_len_sum") / n_tok)
            .otherwise(0.0)
            .alias("mean_token_len"),
        )
    )
    passes = (
        (F.col("n_tokens") >= 10)
        & (F.col("dup_token_frac") < 0.4)
        & (F.col("top_unigram_frac") < 0.2)
        & (F.col("top_bigram_frac") < 0.18)
        & (F.col("mean_token_len") >= 2.0)
        & (F.col("mean_token_len") <= 12.0)
    )
    return out.withColumn("passes_repetition", passes)


def fingerprint(text: Column | str) -> Column:
    """Document fingerprint: md5 of whitespace-normalized lowercase text."""
    t = F.col(text) if isinstance(text, str) else text
    return F.md5(F.trim(F.regexp_replace(F.lower(t), "[ \\t\\n]+", " ")))


def train_bigram_lm(
    reference: DataFrame, text: str = "text"
) -> tuple[DataFrame, DataFrame, int]:
    """Add-one-smoothed bigram language model from a reference corpus —
    the model half of CCNet-style perplexity filtering (Wenzek et al. 2020,
    arXiv:1911.00359, which ranks documents by LM perplexity against a
    clean reference; KenLM's 5-gram is collapsed to a bigram with the same
    smoothing family so the model stays a broadcastable DataFrame).

    Returns (bigrams, unigrams, vocab): bigram rows (w1, w2, nll_q) carry
    the integer-quantized negative log-prob floor((ln(c1+V)-ln(c12+1))*1e6
    +0.5); unigram rows (w1, miss_q) carry the unseen-bigram cost
    floor(ln(c1+V)*1e6+0.5). The unigram table is vocabulary-sized; the
    bigram table is O(distinct bigram types) — bounded by the reference
    corpus, not the scored corpus, but large on a web-scale reference. One
    explode + two hash aggregations — map-side combined, one shuffle each.
    """
    toks = reference.select(tokens(text).alias("_t")).filter(F.size("_t") >= 2)
    big = toks.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(_t) - 1),"
                " i -> struct(_t[i-1] AS w1, _t[i] AS w2))"
            )
        ).alias("bg")
    ).select("bg.w1", "bg.w2")
    # persist is released before returning (the model tables below are
    # materialized first via localCheckpoint) — a leaked cache pin would
    # accumulate across repeated model builds in a long-lived driver
    uni_counts = big.groupBy("w1").agg(F.count("*").alias("c1")).persist()
    vocab = uni_counts.count()
    q = 1_000_000
    unigrams = uni_counts.select(
        "w1",
        F.floor(F.log(F.col("c1") + F.lit(float(vocab))) * q + 0.5)
        .cast("long")
        .alias("miss_q"),
    )
    bigrams = (
        big.groupBy("w1", "w2")
        .agg(F.count("*").alias("c12"))
        .join(uni_counts, "w1")
        .select(
            "w1",
            "w2",
            F.floor(
                (
                    F.log(F.col("c1") + F.lit(float(vocab)))
                    - F.log(F.col("c12") + F.lit(1.0))
                )
                * q
                + 0.5
            )
            .cast("long")
            .alias("nll_q"),
        )
    )
    bigrams = bigrams.localCheckpoint(eager=True)
    unigrams = unigrams.localCheckpoint(eager=True)
    uni_counts.unpersist()
    return bigrams, unigrams, vocab


def lm_perplexity_score(
    docs: DataFrame,
    bigrams: DataFrame,
    unigrams: DataFrame,
    vocab: int,
    *,
    text: str = "text",
    key: str = "doc_id",
) -> DataFrame:
    """Per-document mean negative log-prob (scaled 1e6) under the bigram
    model — the CCNet quality signal: LOW avg_nll_q ≈ head-like fluent
    text, HIGH ≈ tail/garbage. Output: (key, n_bigrams, avg_nll_q), with
    avg_nll_q = floor(sum(nll_q) / n_bigrams) so the score is bit-identical
    under any partitioning; token-free docs score NULL.

    Scale shape: explode to bigram rows, a broadcast join on the
    vocabulary-sized unigram table plus an optimizer-chosen join on the
    bigram table, one groupBy(key) — never a Python UDF, never a
    per-document collect."""
    q = 1_000_000
    import math

    oov_q = math.floor(math.log(vocab) * q + 0.5) if vocab else 0
    base = docs.select(F.col(key), tokens(text).alias("_t"))
    pairs = base.filter(F.size("_t") >= 2).select(
        key,
        F.explode(
            F.expr(
                "transform(sequence(1, size(_t) - 1),"
                " i -> struct(_t[i-1] AS w1, _t[i] AS w2))"
            )
        ).alias("bg"),
    ).select(key, "bg.w1", "bg.w2")
    # the unigram table is vocabulary-sized -> always broadcast; the bigram
    # table is O(distinct bigram TYPES) and can reach hundreds of millions
    # of rows on a web-scale reference corpus, so its join strategy is left
    # to the optimizer (AQE broadcasts it when it is actually small)
    scored = (
        pairs.join(bigrams, ["w1", "w2"], "left")
        .join(F.broadcast(unigrams), "w1", "left")
        .select(
            key,
            F.coalesce(
                F.col("nll_q"),  # seen bigram
                F.col("miss_q"),  # seen w1, unseen bigram: ln(c1+V)-ln(1)
                F.lit(oov_q),  # unseen w1: uniform 1/V
            ).alias("_nll"),
        )
        .groupBy(key)
        .agg(
            F.count("*").alias("n_bigrams"),
            F.floor(F.sum("_nll") / F.count("*")).cast("long").alias("avg_nll_q"),
        )
    )
    return base.select(key).join(scored, key, "left")


def quality_gate(
    text: Column | str,
    *,
    min_tokens: int = 10,
    min_uniq_ratio: float = 0.1,
) -> Column:
    """The minimal keep/drop quality predicate shared by the batch cleaning
    pipeline (dp_pipeline_clean) and its streaming twin (streaming_clean):
    at least ``min_tokens`` word tokens and a unique-token ratio above
    ``min_uniq_ratio``.  ONE definition so a backfilled batch and the live
    stream cannot silently diverge when the gate is tuned."""
    toks = tokens(F.col(text) if isinstance(text, str) else text)
    return (F.size(toks) >= min_tokens) & (
        (F.size(F.array_distinct(toks)) / F.size(toks)) > min_uniq_ratio
    )


# ---------------------------------------------------------------------------
# Unicode script profiling (writing-system detection)
# ---------------------------------------------------------------------------

# Principal Unicode block per writing system — endpoints written as literal
# characters so the SAME pattern compiles under Java regex (Spark) and any
# engine without \uXXXX escapes. Coverage targets the high-traffic scripts
# of web crawl + training-data pipelines.
SCRIPT_RANGES: dict[str, str] = {
    "latin": "A-Za-zÀ-ɏ",
    "cyrillic": "Ѐ-ӿ",
    "greek": "Ͱ-Ͽ",
    "arabic": "؀-ۿݐ-ݿ",
    "hebrew": "֐-׿",
    "devanagari": "ऀ-ॿ",
    "cjk": "一-鿿㐀-䶿",
    "kana": "぀-ヿ",
    "hangul": "가-힯",
    "thai": "฀-๿",
}


def script_profile(
    df: DataFrame, *, text: str = "text", scripts: dict[str, str] | None = None
) -> DataFrame:
    """Per-document writing-system profile: one ``n_<script>`` count column
    per script (JVM ``regexp_count`` — no Python in the plan) plus
    ``script``, the dominant system (most characters; ties break
    alphabetically; no script characters at all → 'und').

    Complements the trigram language identifier (``langid``): script
    detection is exact and cheap (a codegen'd regexp per block over one
    scan), and for single-script languages it is the stronger router —
    langid's broadcast profiles then only disambiguate WITHIN a script
    (e.g. Latin-script languages). 100 TB: map-only, no shuffle."""
    ranges = scripts or SCRIPT_RANGES
    out = df
    for name, rng in ranges.items():
        out = out.withColumn(
            f"n_{name}",
            F.regexp_count(F.col(text), F.lit(f"[{rng}]")).cast("long"),
        )
    best = None
    for name in sorted(ranges):
        cnt = F.col(f"n_{name}")
        if best is None:
            best = F.struct(cnt.alias("n"), F.lit(name).alias("s"))
        else:
            cand = F.struct(cnt.alias("n"), F.lit(name).alias("s"))
            # higher count wins; equal count keeps the alphabetically
            # EARLIER name (struct comparison would prefer later — invert)
            best = F.when(cand["n"] > best["n"], cand).otherwise(best)
    return out.withColumn(
        "script", F.when(best["n"] > 0, best["s"]).otherwise(F.lit("und"))
    )


def remove_boilerplate_lines(
    docs: DataFrame,
    *,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    min_df: int = 5,
) -> DataFrame:
    """Group-scoped boilerplate-line removal (the RefinedWeb/CCNet trick
    C4's rule-based line filter can't do): a line appearing in >=
    ``min_df`` DISTINCT documents of the same group (host/source) is
    template chrome — cookie banners, nav bars, copyright footers — and
    every occurrence is dropped; document-unique content survives.

    Returns (id_col, group_col, clean_text, n_kept) with original line
    order preserved (empty string when every line was boilerplate).

    100 TB shape: split+posexplode (narrow) → one hash-aggregate on
    (group, line) with map-side partial agg (document-frequency counting,
    the classic combiner-friendly key) → equi-join back on (group, line)
    → per-doc re-assembly via array_sort over (pos, line) structs. All
    JVM expressions, no UDF; a pathologically hot group rides AQE skew
    handling like any other join key."""
    lines = docs.select(
        F.col(id_col),
        F.col(group_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    )
    boiler = (
        lines.groupBy(group_col, "line")
        .agg(F.countDistinct(id_col).alias("df"))
        .filter(F.col("df") >= min_df)
        .select(group_col, "line", F.lit(True).alias("_bp"))
    )
    kept = (
        lines.join(boiler, [group_col, "line"], "left")
        .filter(F.col("_bp").isNull())
        .groupBy(id_col)
        .agg(
            F.concat_ws(
                "\n",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "line"))),
                    lambda s: s["line"],
                ),
            ).alias("clean_text"),
            F.count("*").alias("n_kept"),
        )
    )
    return (
        docs.select(id_col, group_col)
        .join(kept, id_col, "left")
        .select(
            id_col,
            group_col,
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
        )
    )


def dataset_card(
    docs: DataFrame,
    *,
    group_col: str = "source",
    text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """Per-source corpus report — the "dataset card" numbers a training-mix
    decision needs before sampling weights are chosen: document count,
    total token count, mean document length (chars, 2dp), distinct
    languages, and the dominant language (count desc, name asc tie-break).

    100 TB shape: two hash-aggregates — one over (group, lang) for the
    language ranking (map-side combine; groups x langs keys), one over
    group for the size stats — joined on the sources-sized result. The
    corpus is scanned once per aggregate and never self-joined."""
    stats = docs.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(tokens(text_col))).cast("long").alias("n_tokens"),
        F.round(F.avg(F.length(text_col)), 2).alias("avg_chars"),
        F.countDistinct(lang_col).alias("n_langs"),
    )
    lang_rank = (
        docs.groupBy(group_col, lang_col)
        .agg(F.count(F.lit(1)).alias("_n"))
        .groupBy(group_col)
        .agg(
            # min over (-count, name): count desc with name-asc tie-break
            F.min_by(
                lang_col,
                F.struct((-F.col("_n")).alias("neg"), F.col(lang_col).alias("l")),
            ).alias("top_lang"),
        )
    )
    return stats.join(lang_rank, group_col).select(
        group_col, "n_docs", "n_tokens", "avg_chars", "n_langs", "top_lang"
    )
# cp1252's printable extensions over latin-1 (the 27 defined bytes in
# 0x80-0x9F), paired with the C1 control code points a latin-1 decode of
# those bytes would have produced — the pre-translation that folds
# "decoded as windows-1252" mojibake onto the "decoded as latin-1" case.
_CP1252_PUNCT = "".join(
    bytes([b]).decode("cp1252")
    for b in range(0x80, 0xA0)
    if b not in (0x81, 0x8D, 0x8F, 0x90, 0x9D)  # undefined in cp1252
)
_CP1252_AS_C1 = "".join(
    chr(b)
    for b in range(0x80, 0xA0)
    if b not in (0x81, 0x8D, 0x8F, 0x90, 0x9D)
)


def fix_mojibake(
    df: DataFrame,
    text: str = "text",
    *,
    out_col: str = "text_fixed",
    flag_col: str = "mojibake_repaired",
) -> DataFrame:
    """Repair UTF-8-decoded-as-latin-1/windows-1252 mojibake (ftfy's
    core case — "cafÃ©" -> "café", "itâ€™s" -> "it's"): normalize cp1252
    punctuation to the C1 code points a latin-1 decode would have
    produced (translate, char-for-char), then round-trip
    decode(encode(s, ISO-8859-1), UTF-8) — the inverse of the original
    corruption. The repair is GATED three ways so clean text is never
    touched: the text must contain a mojibake signature (Â/Ã followed by
    a C1/latin-1 continuation char, or â plus two — the rendered shape
    of UTF-8 2- and 3-byte sequences), must be entirely latin-1-codable
    after normalization (a CJK/Greek doc with an incidental "Ã©" stays
    untouched rather than having its non-latin text lossily '?'-folded),
    and the round-trip must produce zero U+FFFD replacement characters
    (i.e. the suspicious bytes really were valid UTF-8). Known inherent
    limitation (shared with ftfy): genuinely-intended "Ã©" in an
    otherwise latin-1 text is indistinguishable from mojibake and gets
    "repaired". 100 TB: pure JVM expressions (translate/encode/decode/
    rlike), map-only, no UDF, no shuffle."""
    pre = F.translate(F.col(text), _CP1252_PUNCT, _CP1252_AS_C1)
    repaired = F.decode(F.encode(pre, "ISO-8859-1"), "UTF-8")
    suspicious = pre.rlike(
        "[\u00c2\u00c3][\u0080-\u00bf]|\u00e2[\u0080-\u00bf]{2}"
    )
    # negated class: anything OUTSIDE latin-1, INCLUDING supplementary-
    # plane code points (emoji) - a [\u0100-\uffff] class would miss
    # them, and Spark 4's encode(..., 'ISO-8859-1') THROWS on unmappable
    # chars rather than '?'-folding, so one organic emoji doc would kill
    # the whole map stage
    latin1_only = ~pre.rlike("[^\x00-\u00ff]")
    ok = suspicious & latin1_only & ~repaired.rlike("\ufffd")
    return df.withColumn(
        out_col, F.when(ok, repaired).otherwise(F.col(text))
    ).withColumn(flag_col, ok)


def nfc_normalize(
    df: DataFrame,
    text: str = "text",
    *,
    key: str = "doc_id",
    form: str = "NFC",
    out_col: str = "text_norm",
    flag_col: str = "normalized",
) -> DataFrame:
    """Canonical Unicode normalization (UAX #15) — the dedup-key
    stability stage: "café" typed as e + COMBINING ACUTE and as the
    precomposed U+00E9 are the SAME text to a reader but different bytes
    to every hash in the dedup family (exact md5, MinHash shingles,
    SimHash, suffix-array grams), so un-normalized corpora leak
    duplicate pairs. Returns the input plus ``out_col`` (the ``form``
    normalization — NFC by default; NFD/NFKC/NFKD accepted, NFKC being
    the compatibility fold tokenizers like SentencePiece apply) and
    ``flag_col`` (True when normalization changed the text — the
    corpus-health metric worth tracking per source).

    This is one of the honest Python-UDF cases: Unicode normalization
    needs the UCD decomposition/composition tables, which Spark's JVM
    expression library doesn't expose — so it runs as an Arrow-batched
    pandas iterator (``mapInPandas``-equivalent ``pandas_udf``), never
    row-at-a-time. 100 TB: map-only, no shuffle; the UDF is the stage's
    only cost and vectorizes over Arrow batches."""
    from pyspark.sql.functions import pandas_udf

    if form not in ("NFC", "NFD", "NFKC", "NFKD"):
        raise ValueError(f"form must be NFC/NFD/NFKC/NFKD, got {form!r}")

    @pandas_udf("string")
    def _norm(s):  # type: ignore[no-untyped-def]
        import unicodedata

        return s.map(
            lambda t: unicodedata.normalize(form, t) if t is not None else None
        )

    normed = _norm(F.col(text))
    return df.withColumn(out_col, normed).withColumn(
        flag_col, F.col(out_col) != F.col(text)
    )
