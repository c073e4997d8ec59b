"""Distributed BPE tokenizer: train over a word-frequency vocabulary,
apply as a vectorized merge chain.

Training-data pipelines need a tokenizer in the loop (token counting for
mixture weights, sequence packing, contamination checks measured in tokens).
``textstats.bpe_ish_token_count`` counts pre-tokens; this module goes the
rest of the way: learn byte-pair merges from the corpus and tokenize with
them — the Sennrich et al. 2016 algorithm re-expressed for Spark.

Scale design (the part that matters at 100 TB):

- **Training never iterates over the corpus.**  The corpus collapses ONCE
  into a ``(word, freq)`` vocabulary (one explode + one hash-agg shuffle —
  the same shape as ``dp_token_stats``); every merge iteration then runs
  over the vocab, whose size is bounded by distinct word forms (Heaps' law:
  ~10^6-10^7 rows even for a web-scale corpus), not by corpus bytes.  This
  is exactly the classic implementation's ``vocab`` dict, kept distributed.
- Each iteration = one explode→hash-agg over the vocab (partial agg: the
  shuffle carries one row per distinct pair per partition) + a ``limit(1)``
  collect of the SINGLE best pair — the only driver traffic, O(1) per
  round.  The vocab state is ``localCheckpoint``ed per iteration
  (``nutch_spark.iterate``) so the merge-replace chain never stacks into a
  mega-plan.
- **Apply is a narrow map stage**: the learned merges compile into a chain
  of literal ``replace`` calls on a separator-guarded symbol string —
  whole-stage-codegen JVM string ops, no Python, no shuffle.

Merge semantics, precisely: symbols are joined with the U+001F unit
separator and a merge ``(l, r)`` is the literal replacement
``\\x1f l \\x1f r \\x1f -> \\x1f lr \\x1f``, scanning left to right without
overlap.  Because the needle and replacement both END in the separator, a
replacement CONSUMES the boundary shared with an immediately following
occurrence of the same pair: any directly adjacent repeat of the pair —
"a a a a" under (a, a), but equally "t h t h" under (t, h) — merges only
its odd occurrences in that pass ("aa a a", "th t h"), where reference BPE
implementations would merge both.  Non-adjacent occurrences are unaffected.
This is deterministic, identical in Spark and DuckDB ``replace``
(verified byte-for-byte), and declared as this tokenizer's behavior.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from nutch_spark.iterate import iterate

# U+001F unit separator: guards symbol boundaries so a merge needle
# ``SlSrS`` can never match across two unrelated symbols (a pair (a, b)
# must not fire on symbols ["xa", "b"]).  Stripped from the word alphabet.
SEP = "\x1f"

# GPT-2-ish pre-tokenization (the same family as textstats'
# bpe_ish_token_count): letter runs, digit runs, single other marks.
# \s and the separator are excluded from the alphabet.
WORD_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s\x1f]"


def words(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_extract_all(c, F.lit(WORD_RE), F.lit(0))


def word_freqs(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus → (word, freq): the ONE corpus-wide pass of BPE training."""
    return (
        docs.select(F.explode(words(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def symbolize(word: Column | str) -> Column:
    """word → separator-guarded symbol string: ``the`` → ``StShSeS``."""
    c = F.col(word) if isinstance(word, str) else word
    return F.concat(F.lit(SEP), F.regexp_replace(c, "(.)", "$1" + SEP))


def symbols_array(s: Column | str) -> Column:
    c = F.col(s) if isinstance(s, str) else s
    return F.filter(F.split(c, SEP), lambda x: x != "")


def pair_counts(vocab: DataFrame, s: str = "s", freq: str = "freq") -> DataFrame:
    """Adjacent-symbol pair frequencies over the vocabulary state.

    explode + partial-aggregated groupBy — the per-iteration cost of
    training. ``cnt`` weighs each pair by the word's corpus frequency."""
    a = symbols_array(s)
    n = F.size(a)
    pairs = F.arrays_zip(
        F.slice(a, 1, F.greatest(n - 1, F.lit(0))).alias("l"),
        F.slice(a, 2, F.greatest(n - 1, F.lit(0))).alias("r"),
    )
    return (
        vocab.select(F.explode(pairs).alias("p"), F.col(freq))
        .groupBy(F.col("p.l").alias("left"), F.col("p.r").alias("right"))
        .agg(F.sum(freq).alias("cnt"))
    )


def merge_expr(s: Column | str, left: str, right: str) -> Column:
    """One learned merge as a literal (non-regex) replace."""
    c = F.col(s) if isinstance(s, str) else s
    return F.replace(
        c, F.lit(SEP + left + SEP + right + SEP), F.lit(SEP + left + right + SEP)
    )


def bpe_train(
    vocab: DataFrame,
    num_merges: int,
    *,
    word: str = "word",
    freq: str = "freq",
    min_count: int = 2,
) -> list[tuple[str, str]]:
    """Learn ``num_merges`` merges from a (word, freq) vocabulary.

    Deterministic: ties break on (left, right) lexicographically, so the
    merge list is independent of partitioning.  Each merge is one top-pair
    collect over the symbol state, which also materializes the previous
    merge's lazily checkpointed state.
    """
    state = vocab.select(
        symbolize(word).alias("s"), F.col(freq).cast("long").alias("freq")
    ).localCheckpoint(eager=True)
    merges: list[tuple[str, str]] = []

    def merge_top(state: DataFrame) -> DataFrame | None:
        top = (
            pair_counts(state)
            .orderBy(F.desc("cnt"), F.asc("left"), F.asc("right"))
            .limit(1)
            .collect()
        )
        if not top or top[0]["cnt"] < min_count:
            return None
        left, right = top[0]["left"], top[0]["right"]
        merges.append((left, right))
        return state.withColumn("s", merge_expr("s", left, right))

    iterate(state, merge_top, num_merges)
    return merges


def apply_merges_to_word(word: Column, merges: list[tuple[str, str]]) -> Column:
    """word → its BPE token array under ``merges`` (applied in rank order)."""
    s = symbolize(word)
    for left, right in merges:
        s = merge_expr(s, left, right)
    return symbols_array(s)


def bpe_apply(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    *,
    text_col: str = "text",
    out: str = "bpe_tokens",
) -> DataFrame:
    """Tokenize documents with a learned merge list.

    Narrow map stage: pre-tokenize, symbolize each word, run the merge
    chain (literal replaces — codegen'd JVM string ops), split back.  No
    shuffle, no UDF; the merge list compiles into the expression tree, the
    executor-side analogue of broadcasting the tokenizer model."""
    toks = F.flatten(
        F.transform(words(text_col), lambda w: apply_merges_to_word(w, merges))
    )
    return docs.withColumn(out, toks)


# ---------------------------------------------------------------------------
# document chunking — corpus prep's "split long docs into training windows"
# ---------------------------------------------------------------------------


def chunk_documents(
    docs: DataFrame,
    *,
    chunk_tokens: int = 128,
    overlap: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sliding token-window chunking: each document becomes
    ``ceil((n_tokens - overlap) / stride)`` chunks of up to ``chunk_tokens``
    whitespace tokens, consecutive chunks sharing ``overlap`` tokens
    (``stride = chunk_tokens - overlap``); a document at or under the window
    yields exactly one chunk. The shape every context-window pipeline uses
    between cleaning and packing (packing concatenates ACROSS documents —
    ``mixing.pack_sequences``; chunking splits WITHIN one).

    100 TB shape: split → sequence → explode → slice, all JVM array ops in
    one narrow stage — no shuffle, no Python, no driver state. Output keeps
    ``(id_col, chunk_idx)`` as the new key plus ``n_tokens`` per chunk.
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("need 0 <= overlap < chunk_tokens")
    stride = chunk_tokens - overlap
    toks = F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != "")
    n = F.size(toks)
    n_chunks = F.when(n <= chunk_tokens, F.lit(1)).otherwise(
        F.ceil((n - F.lit(overlap)) / F.lit(stride)).cast("int")
    )
    d = docs.select(
        F.col(id_col),
        toks.alias("_toks"),
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
    )
    window = F.slice(F.col("_toks"), F.col("chunk_idx") * stride + 1, chunk_tokens)
    return d.select(
        id_col,
        "chunk_idx",
        F.array_join(window, " ").alias("chunk_text"),
        F.size(window).alias("n_tokens"),
    )


def vocab_coverage(
    docs: DataFrame,
    sizes: list[int],
    *,
    text_col: str = "text",
) -> DataFrame:
    """THE tokenizer-sizing analytic: for each candidate vocabulary size
    V, the fraction of all corpus token OCCURRENCES covered by the top-V
    tokens (ranked by frequency, ties broken on the token string so the
    ranking is total and engine-exact). Returns (vocab_size, n_covered,
    coverage) — coverage is n_covered / total as a round-6 double.

    100 TB shape: the corpus collapses ONCE to (token, freq) via one
    partial-aggregated explode+groupBy (the same vocab stage BPE training
    uses); the rank + running sum over the VOCAB come from the
    DISTRIBUTED prefix sum (``datapipe.prefix.ranked_prefix_sum`` —
    range-partitioned sort + per-partition windows + a ≤ n_partitions-row
    offset broadcast), never an unpartitioned window that would drag a
    hundreds-of-millions-row web vocabulary through ONE task. The
    cumulative curve is then FILTERED to only the probed ranks
    (≤ len(sizes) rows) before it meets the probe list, so the broadcast
    side is the tiny filtered slice — never the full curve."""
    from nutch_spark.datapipe.prefix import ranked_prefix_sum

    freqs = (
        docs.select(F.explode(words(F.col(text_col))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    ranked = ranked_prefix_sum(
        freqs, [F.desc("freq"), F.asc("tok")], "freq"
    ).select("freq", "rank", "cum")
    total = freqs.groupBy().agg(F.sum("freq").alias("_total"))
    probes = ranked.sparkSession.createDataFrame(
        [(int(v),) for v in sizes], "vocab_size int"
    )
    # slice the vocab-sized curve down to just the probed ranks BEFORE
    # the join: the filter leaves ≤ len(sizes) rows, and THAT is the
    # broadcast side (the preserved probe side of an outer join can't be
    # the build side, so broadcasting the hits is the correct hint).
    hits = ranked.filter(
        F.col("rank").isin([int(v) for v in sizes])
    )
    hit = probes.join(
        F.broadcast(hits), F.col("rank") == F.col("vocab_size"), "left"
    ).select(
        "vocab_size", F.coalesce("cum", F.lit(None)).alias("_cum")
    )
    # a probe beyond the vocabulary covers everything
    return (
        hit.crossJoin(F.broadcast(total))
        .select(
            "vocab_size",
            F.coalesce("_cum", F.col("_total")).alias("n_covered"),
            F.round(
                F.coalesce("_cum", F.col("_total")) / F.col("_total"), 6
            ).alias("coverage"),
        )
    )


def token_frequency_spectrum(
    docs: DataFrame,
    *,
    text_col: str = "text",
    max_freq: int = 10,
) -> DataFrame:
    """Counts-of-counts (the Zipf/Good-Turing spectrum): for each
    occurrence count f ≤ ``max_freq``, how many distinct tokens occur
    exactly f times — the vocabulary-growth statistic behind Good-Turing
    smoothing, hapax-ratio quality checks, and tokenizer sizing. Counts
    above ``max_freq`` fold into one (max_freq + 1) tail row, so the
    output is max_freq + 1 rows regardless of corpus size. Returns
    (freq, n_tokens, n_occurrences) — n_occurrences is the total corpus
    mass carried by that band.

    100 TB shape: the corpus collapses once to (token, freq) via the
    shared partial-aggregated vocab stage, then ONE more hash aggregation
    over the vocab — two shuffles total, output constant-size."""
    freqs = (
        docs.select(F.explode(words(F.col(text_col))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    band = F.when(F.col("f") <= max_freq, F.col("f")).otherwise(
        F.lit(max_freq + 1)
    )
    return (
        freqs.groupBy(band.alias("freq"))
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("f").alias("n_occurrences"),
        )
        .select(
            F.col("freq").cast("int").alias("freq"),
            "n_tokens",
            "n_occurrences",
        )
    )
