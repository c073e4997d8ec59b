"""Deduplication operators for training corpora.

- exact_dedup:        hash-groupBy on a content fingerprint (one shuffle).
- ngram_jaccard_pairs: exact n-gram-shingle Jaccard via an inverted
  shingle->doc index join (the classic "exact near-dup" baseline).
- minhash_lsh_pairs:  MinHash signatures + LSH banding; candidate pairs come
  from band-bucket joins, then are verified with true Jaccard. The scale
  path: shuffle volume is O(docs x bands), never O(docs^2).
- simhash:            64-bit SimHash fingerprint per document; near-dups are
  docs whose fingerprints match on all-but-k rotated prefixes (here: exact
  fingerprint match + per-band match like LSH).
- embedding_near_dup: cosine-similarity near-duplicate pairs over an
  embedding column (delegates to datapipe.similarity).

All hash functions derive from md5 (deterministic everywhere — same values on
every executor, every run, and in the DuckDB oracle).

Scale notes (100 TB): every operator here is
  map (shingle/hash) -> explode -> shuffle on shingle/band key -> self-join
with frequency capping on hot shingles (``max_shingle_freq``) so a pathological
shingle shared by millions of docs cannot produce a quadratic bucket; the
guarded self-join is ``skew.bucket_pairs``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from nutch_spark.datapipe.skew import bucket_pairs
from nutch_spark.datapipe.textstats import bind_once, fingerprint, tokens
from nutch_spark.iterate import iterate


def exact_dedup(
    df: DataFrame,
    text: str = "text",
    key: str = "doc_id",
    *,
    keep: str = "min",
) -> DataFrame:
    """Group by content fingerprint; keep one representative per group.

    Output: input columns + ``canonical_id`` + ``is_duplicate``.
    """
    fp = fingerprint(F.col(text)).alias("_fp")
    w = Window.partitionBy("_fp")
    canonical = F.min(key).over(w) if keep == "min" else F.max(key).over(w)
    return (
        df.withColumn("_fp", fingerprint(F.col(text)))
        .withColumn("canonical_id", canonical)
        .withColumn("is_duplicate", F.col(key) != F.col("canonical_id"))
        .drop("_fp")
    )


def shingles(text: Column | str, n: int = 3) -> Column:
    """Distinct n-token shingles (space-joined) of the lowercased text.

    Documents with fewer than n tokens yield an empty array (guarded — Spark's
    sequence(1, 0) counts DOWN, which would feed slice() an index of 0).

    The token array is bound ONCE per row (textstats.bind_once): inlining
    ``tokens(text)`` into the per-shingle lambda re-ran the tokenizer for
    every shingle (lambda bodies are interpreted, no CSE) — a measured
    ~10x on every shingle consumer (ngram/minhash/winnowing families).
    """

    def build(toks: Column) -> Column:
        idx = F.sequence(F.lit(1), F.size(toks) - (n - 1))
        arr = F.array_distinct(
            F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
        )
        return F.when(F.size(toks) >= n, arr).otherwise(
            F.array().cast("array<string>")
        )

    return bind_once(tokens(text), build)


def ngram_jaccard_pairs(
    df: DataFrame,
    text: str = "text",
    key: str = "doc_id",
    *,
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_freq: int | None = 1000,
    arrs: DataFrame | None = None,
) -> DataFrame:
    """All pairs (a, b), a<b, with shingle-set Jaccard >= threshold.

    ``arrs``: optional prebuilt (id, _sharr) shingle-array table — callers
    running BOTH this and the MinHash pipeline over one corpus
    (dp_minhash_recall) compute the shingle pass ONCE and pass it to each
    (the caller owns checkpointing).

    Exact algorithm via inverted index: explode shingles, self-join on the
    shingle, count common shingles per pair, divide by the union size.
    ``max_shingle_freq`` drops ubiquitous shingles (stop-phrases, more
    than this many docs) before the join — the standard guard against
    quadratic hot buckets at scale (``skew.bucket_pairs``); ``None``
    turns it off.
    """
    # materialize the per-doc shingle ARRAYS once: three separate
    # exchanges (sizes, frequency census, the self-join input) otherwise
    # each re-run the tokenize+shingle expression from the scan — the
    # single most expensive map work in the pipeline (~3x cost measured;
    # 10.6 -> 6.7 s at sf0.1). The checkpoint is doc-grained (arrays,
    # not exploded rows); sizes becomes a map-only size() instead of a
    # groupBy shuffle. On a real cluster use checkpoint()/persist to
    # keep recompute safety against executor loss (same note as
    # dup_components).
    if arrs is None:
        arrs = df.select(
            F.col(key).alias("id"), shingles(text, n).alias("_sharr")
        ).localCheckpoint(eager=False)
    sh = arrs.select("id", F.explode("_sharr").alias("sh"))
    sizes = arrs.select("id", F.size("_sharr").alias("n_sh"))
    common = (
        bucket_pairs(sh, "id", ["sh"], max_bucket=max_shingle_freq)
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def h64(col: Column) -> Column:
    """Deterministic 60-bit hash as a long: conv(substr(md5(x),1,15),16,10).

    md5-based (not xxhash64) so oracles and tests can reproduce values
    anywhere — DuckDB twin: CAST('0x' || substr(md5(x),1,15) AS UBIGINT).
    """
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def winnowing_fingerprints(
    df: DataFrame,
    text: str = "text",
    key: str = "doc_id",
    *,
    k: int = 5,
    window: int = 4,
) -> DataFrame:
    """(id, fingerprints ARRAY<LONG>) — winnowing document fingerprints
    (Schleimer/Wilkerson/Aiken, SIGMOD 2003: the rolling-hash local
    fingerprinting behind MOSS): hash every positional k-token gram, slide a
    window of ``window`` hashes, keep each window's minimum, dedup.
    Guarantees any shared run of >= k+window-1 tokens yields a shared
    fingerprint — the containment-detection primitive exact/minhash dedup
    misses.

    Returns distinct ``(id, fp)`` rows (already exploded — join two
    documents' fingerprints on ``fp`` for containment candidates, an
    equi-join, never all-pairs).

    Shape: the gram-hash array is built ONCE per row and exploded; the
    sliding-window minima are window functions over (id, pos) — one
    spillable sort per doc id, linear in tokens. (A pure nested-lambda
    array form re-evaluates the md5 gram hashes for every window position —
    O(tokens²) md5 calls, measured 470 s vs ~3 s at sf0.1.)"""
    from pyspark.sql import Window

    def build_gram_hashes(toks: Column) -> Column:
        gidx = F.sequence(
            F.lit(1), F.greatest(F.size(toks) - (k - 1), F.lit(0))
        )
        return F.transform(
            gidx, lambda i: h64(F.concat_ws(" ", F.slice(toks, i, k)))
        )

    # token array bound once per row (bind_once): the inlined form re-ran
    # the tokenizer per gram position
    gram_hashes = bind_once(tokens(F.col(text)), build_gram_hashes)
    ex = df.select(
        F.col(key).alias("id"), F.posexplode(gram_hashes).alias("pos", "h")
    )
    w_all = Window.partitionBy("id")
    w_frame = (
        Window.partitionBy("id").orderBy("pos").rowsBetween(0, window - 1)
    )
    ex = (
        ex.withColumn("_n", F.count(F.lit(1)).over(w_all))
        .withColumn("_m", F.min("h").over(w_frame))
        .withColumn("_mall", F.min("h").over(w_all))
    )
    # full windows start at pos 0..n-window; short docs (< window hashes)
    # contribute the single global min
    kept = ex.filter(
        (F.col("pos") <= F.col("_n") - window)
        | ((F.col("_n") < window) & (F.col("pos") == 0))
    )
    return kept.select(
        "id",
        F.when(F.col("_n") < window, F.col("_mall")).otherwise(F.col("_m")).alias("fp"),
    ).dropDuplicates(["id", "fp"])


_MINHASH_PRIME = (1 << 31) - 1  # Mersenne: products stay inside a long


def minhash_params(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) universal-hash coefficients shared with the SQL
    oracle: h_i(x) = (a_i * (base(x) mod p) + b_i) mod p."""
    out = []
    for i in range(num_hashes):
        a = (2654435761 * (i + 1) + 101) % _MINHASH_PRIME | 1
        b = (40503 * (i + 7) + 8191) % _MINHASH_PRIME
        out.append((a, b))
    return out


def minhash_signatures(
    df: DataFrame,
    text: str = "text",
    key: str = "doc_id",
    *,
    n: int = 3,
    num_hashes: int = 32,
) -> DataFrame:
    """(id, minhash ARRAY<LONG>) — num_hashes independent min-hashes.

    Shape: explode shingles once, hash each shingle ONCE (md5-derived base),
    then ONE partial-aggregating groupBy whose num_hashes min() aggregates
    each apply a cheap universal-hash mix (a_i*base + b_i mod p) — pure long
    arithmetic, no per-seed md5. A single shuffle of (id, 32 longs),
    map-side combined. Earlier forms measured at sf0.1: per-seed array
    transforms ~84 s, per-seed md5 aggregation ~11 s, this ~4 s. Documents
    with < n tokens drop out (no shingles → no signature), matching the
    oracle.
    """
    arrs = df.select(F.col(key).alias("id"), shingles(text, n).alias("_sharr"))
    return _minhash_from_arrays(arrs, num_hashes)


def _minhash_from_arrays(arrs: DataFrame, num_hashes: int) -> DataFrame:
    """Signatures from a prebuilt (id, _sharr) table — lets callers that
    also need the shingle arrays (LSH exact verification) compute them
    ONCE."""
    ex = arrs.select("id", F.explode("_sharr").alias("sh"))
    base = F.pmod(h64(F.col("sh")), F.lit(_MINHASH_PRIME))
    ex = ex.select("id", base.alias("b"))
    aggs = [
        F.min((F.lit(a) * F.col("b") + F.lit(b)) % F.lit(_MINHASH_PRIME)).alias(f"_mh{i}")
        for i, (a, b) in enumerate(minhash_params(num_hashes))
    ]
    sig = ex.groupBy("id").agg(*aggs)
    return sig.select(
        "id", F.array(*[F.col(f"_mh{i}") for i in range(num_hashes)]).alias("minhash")
    )


def _signature_digest() -> Column:
    """Full-signature digest over the ``minhash`` column: the hot-bucket
    sub-key (identical signatures — exact/near-exact copies — keep pairing
    inside an over-cap bucket) and the exact-duplicate group key of
    :func:`minhash_dup_clusters`."""
    return F.md5(
        F.concat_ws(",", F.transform("minhash", lambda x: x.cast("string")))
    )


def _lsh_band_candidates(
    sigs: DataFrame, *, bands: int, rows_per_band: int, max_bucket: int | None
) -> DataFrame:
    """LSH candidate pairs (id_a, id_b) from (id, minhash) signatures: band
    the signature into ``bands`` md5 bucket keys, equi-join per band, and
    guard hot buckets (over ``max_bucket`` ids) by sub-bucketing on the
    full-signature digest (``skew.bucket_pairs`` with ``split``).
    Shared by the pair-mode verifier (minhash_lsh_pairs) and the
    cluster-mode quotient path (minhash_dup_clusters, where ``sigs`` holds
    one representative row per DISTINCT signature)."""
    banded = sigs.select(
        "id",
        _signature_digest().alias("_sd"),
        F.posexplode(
            F.array(
                *[
                    F.md5(
                        F.concat_ws(
                            ",",
                            F.lit(b),
                            *[
                                F.element_at("minhash", b * rows_per_band + r + 1).cast("string")
                                for r in range(rows_per_band)
                            ],
                        )
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band", "bucket"),
    )
    return bucket_pairs(
        banded, "id", ["band", "bucket"], max_bucket=max_bucket, split="_sd"
    ).dropDuplicates(["id_a", "id_b"])


def _estimate_verified(
    cands: DataFrame, sigs: DataFrame, num_hashes: int, threshold: float
) -> DataFrame:
    """(id_a, id_b, jaccard) for candidate pairs whose MinHash estimate —
    the fraction of matching signature components, the standard unbiased
    estimator — is at least ``threshold``. Only the num_hashes-long
    signatures join to each candidate (bounded payload per pair)."""
    va = sigs.select(F.col("id").alias("id_a"), F.col("minhash").alias("mh_a"))
    vb = sigs.select(F.col("id").alias("id_b"), F.col("minhash").alias("mh_b"))
    est = F.size(
        F.filter(F.zip_with("mh_a", "mh_b", lambda x, y: x == y), lambda m: m)
    ) / F.lit(float(num_hashes))
    return (
        cands.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("jaccard", est)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text: str = "text",
    key: str = "doc_id",
    *,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    verify: str = "exact",
    max_bucket: int | None = 1024,
    arrs: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate pairs via MinHash+LSH, verified per candidate pair.

    ``arrs``: optional prebuilt (id, _sharr) shingle-array table shared
    with a sibling pipeline over the same corpus (see ngram_jaccard_pairs).

    rows_per_band = num_hashes/bands sets the S-curve; with 32/8 the 50%%
    collision point is ~(1/8)^(1/4) ≈ 0.60 Jaccard. Candidates whose true
    Jaccard >= threshold survive. Shuffle is O(docs*bands) + candidate joins.

    ``verify``:
    - "exact": re-join the full shingle sets and compute true Jaccard —
      right while candidates ≪ corpus (the default, and what the oracle
      certifies).
    - "estimate": join only the num_hashes-long minhash signatures and use
      the matching-component fraction as the Jaccard estimate (the standard
      unbiased MinHash estimator). Verification payload is O(num_hashes)
      per side regardless of document length — the extreme-scale path when
      shipping full shingle arrays per candidate would dominate the job.

    ``max_bucket`` is the hot-bucket guard (the part that survives 100 TB):
    a dup-heavy web corpus makes some band buckets ENORMOUS — 1M copies of
    one boilerplate page collide in every band, and the bucket self-join is
    quadratic in the bucket (10^12 candidate rows from ONE page, per band).
    Band buckets holding more than ``max_bucket`` ids are sub-bucketed by
    the full-signature digest: inside a hot bucket only signature-IDENTICAL
    documents (exact and near-exact copies — the pairs a dedup pass
    actually needs there, scoring ~1.0 Jaccard) still pair; documents that
    merely share the one band can still meet through any of their other,
    non-hot bands. The census of hot buckets is ≤ docs·bands/max_bucket
    rows by construction and broadcasts. ``None`` disables the guard
    (same-signature sub-bucketing collapses the quadratic blowup to the
    true duplicate clusters; the residual risk is a cluster of identical
    signatures, which IS the answer's own size). The census and the
    sub-bucketed self-join are ``skew.bucket_pairs``, the guard every
    near-dup operator shares.
    """
    rows_per_band = num_hashes // bands
    # shingle arrays materialize ONCE and feed both the signatures and
    # (exact mode) the per-candidate verification sides — otherwise the
    # tokenize+shingle map work re-runs per consuming exchange (the
    # ngram_jaccard_pairs lesson; cluster note: checkpoint()/persist for
    # executor-loss recompute safety)
    if arrs is None:
        arrs = df.select(
            F.col(key).alias("id"), shingles(text, n).alias("_sharr")
        ).localCheckpoint(eager=False)
    sigs = _minhash_from_arrays(arrs, num_hashes)
    candidates = _lsh_band_candidates(
        sigs, bands=bands, rows_per_band=rows_per_band, max_bucket=max_bucket
    )
    if verify == "estimate":
        return _estimate_verified(candidates, sigs, num_hashes, threshold)
    # verify candidates with exact shingle Jaccard (arrays reused from
    # the checkpoint above — not recomputed from text)
    va = arrs.select(F.col("id").alias("id_a"), F.col("_sharr").alias("sh_a"))
    vb = arrs.select(F.col("id").alias("id_b"), F.col("_sharr").alias("sh_b"))
    return (
        candidates.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_dup_clusters(
    df: DataFrame,
    text: str = "text",
    key: str = "doc_id",
    *,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    max_bucket: int | None = 1024,
    max_iter: int = 20,
) -> DataFrame:
    """Near-duplicate CLUSTERS via MinHash+LSH — the flood-proof sibling of
    :func:`minhash_lsh_pairs` for consumers that only need cluster
    membership (which is all of them: dup_components/cluster_canonical
    immediately re-collapse pairs). Output: (key, component, is_duplicate),
    ONE row per input document — LINEAR in members by construction, where
    pair mode emits O(k²) rows for a k-copy flood before the components
    pass collapses them again.

    Semantics are SIGNATURE-resolution: documents with identical minhash
    signatures (exact and near-exact copies — estimated Jaccard 1.0) form
    exact groups; DISTINCT signatures pair through the same banded LSH
    join as pair mode (hot-bucket guarded at representative level) and are
    verified with the unbiased MinHash estimator (matching-component
    fraction ≥ ``threshold`` — pair mode's verify="estimate"); components
    close the relation transitively. Docs with < n tokens have no
    signature and are singleton components, matching pair mode.

    100 TB shape: one signature shuffle, one groupBy to the signature
    groups, the banded join runs over one row PER DISTINCT SIGNATURE (a
    10M-copy boilerplate page contributes one row per band), label
    propagation iterates over the distinct-signature quotient graph, and
    members appear exactly once — in the final linear expansion join.

    Guard semantics: with ``max_bucket=None`` the components equal
    dup_components over pair mode's verify="estimate" output exactly
    (tested on random corpora). With the guard ON, cluster mode has
    STRICTLY BETTER flood recall: pair mode's hot census counts member
    ids, so a copy flood saturates its band buckets and a near-VARIANT
    whose only agreeing buckets are flooded is missed; here the census
    counts DISTINCT signatures, the flood is one row, and the variant
    still pairs with the group representative."""
    rows_per_band = num_hashes // bands
    # NOTE (r17): a min(id)-over-window(_sd) one-exchange form of this
    # quotient was tried and reverted — it measured flat at bench scale
    # (the three exchanges it removes are broadcast-cheap and off the
    # critical path) and it would WEAKEN the flood story: a window
    # cannot be skew-split by AQE (guide §2.5 — skew handling applies
    # to joins only), so a 10M-copy flood's identical signatures would
    # pin one window reducer, while the groupBy below partial-aggregates
    # the flood map-side and the members join is AQE-skew-splittable.
    sigs = (
        minhash_signatures(df, text, key, n=n, num_hashes=num_hashes)
        .withColumn("_sd", _signature_digest())
        .localCheckpoint(eager=False)
    )
    groups = sigs.groupBy("_sd").agg(F.min("id").alias("_rep"))
    members = sigs.join(groups, "_sd").select(
        F.col("id").alias(key), F.col("_rep").alias("rep")
    )
    # one representative row per DISTINCT signature feeds the banded join
    rep_sigs = sigs.join(
        groups.select(F.col("_rep").alias("id")), "id", "left_semi"
    ).select("id", "minhash")
    cands = _lsh_band_candidates(
        rep_sigs, bands=bands, rows_per_band=rows_per_band, max_bucket=max_bucket
    )
    edges = _estimate_verified(cands, rep_sigs, num_hashes, threshold)
    return dup_components(
        df.select(key),
        edges.select("id_a", "id_b"),
        key,
        max_iter=max_iter,
        groups=members,
    )


def simhash_fingerprints(
    df: DataFrame, text: str = "text", key: str = "doc_id", *, bits: int = 60
) -> DataFrame:
    """(id, simhash) — SimHash of the token stream, zero-padded 16-hex chars.

    bit_i(doc) = sign of Σ_tokens freq * (bit_i(md5(token)) ? +1 : -1);
    60 usable bits from the 15-hex-char md5 prefix.

    Shape: explode tokens → groupBy(id, token) count → ONE groupBy(id) with
    `bits` signed-sum aggregates (map-side combined) → assemble the long and
    hex-format it. Pure long arithmetic in codegen; the expression-only form
    (nested array aggregates per bit) compiled to a megamorphic expression
    tree and was ~50x slower. Documents with zero tokens drop out.
    """
    ex = df.select(F.col(key).alias("id"), F.explode(tokens(text)).alias("v"))
    freqs = ex.groupBy("id", "v").agg(F.count(F.lit(1)).alias("freq"))
    freqs = freqs.withColumn("h", h64(F.col("v")))
    bit_sums = freqs.groupBy("id").agg(
        *[
            F.sum(
                F.when(F.shiftright("h", i).bitwiseAND(1) == 1, F.col("freq")).otherwise(
                    -F.col("freq")
                )
            ).alias(f"_b{i}")
            for i in range(bits)
        ]
    )
    value = F.lit(0).cast("long")
    for i in range(bits):
        value = value + F.when(F.col(f"_b{i}") > 0, F.lit(1 << i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return bit_sums.select("id", F.lpad(F.lower(F.hex(value)), 16, "0").alias("simhash"))


def simhash_dedup(
    df: DataFrame, text: str = "text", key: str = "doc_id"
) -> DataFrame:
    """Fingerprint + exact-match duplicate flag: docs with equal SimHash are
    duplicates (near-dup variants bucket on rotated prefixes, as in LSH)."""
    sims = simhash_fingerprints(df, text, key).withColumnRenamed("id", key)
    out = df.join(sims, key)
    w = Window.partitionBy("simhash")
    return out.withColumn("canonical_id", F.min(key).over(w)).withColumn(
        "is_duplicate", F.col(key) != F.col("canonical_id")
    )


def paragraph_chunks(
    text: Column | str, para_tokens: int = 20
) -> Column:
    """Split a document into fixed-size token chunks ("paragraphs").

    The synthetic corpus has no newlines, so paragraph boundaries are drawn
    every ``para_tokens`` word tokens — the CCNet paragraph unit (Wenzek et
    al. 2020, public paper) re-expressed deterministically. Empty documents
    yield an empty array (sequence(0, -1) counts DOWN in Spark — guarded).
    Token array bound once per row (bind_once) like every shingle builder.
    """

    def build(toks: Column) -> Column:
        n_paras = F.floor((F.size(toks) + (para_tokens - 1)) / para_tokens)
        arr = F.transform(
            F.sequence(F.lit(0), (n_paras - 1).cast("long")),
            lambda i: F.concat_ws(
                " ",
                F.slice(toks, (i * para_tokens + 1).cast("int"), para_tokens),
            ),
        )
        return F.when(F.size(toks) > 0, arr).otherwise(
            F.array().cast("array<string>")
        )

    return bind_once(tokens(text), build)


def paragraph_dedup(
    df: DataFrame,
    text: str = "text",
    key: str = "doc_id",
    *,
    para_tokens: int = 20,
) -> DataFrame:
    """CCNet-style paragraph-level exact dedup across the whole corpus.

    Output: one row per (doc, paragraph) with ``para_idx`` (0-based),
    ``para_hash`` (md5) and ``is_duplicate`` — true unless this is the first
    occurrence corpus-wide, ordered by (doc key, paragraph index).

    Scale shape: explode → ONE shuffle on the paragraph hash; the
    first-occurrence rule is a row_number window on that same key, so no
    second exchange. Downstream, docs rebuild their retained text by
    filtering ``is_duplicate`` and re-grouping on the doc key.
    """
    paras = df.select(
        F.col(key),
        F.posexplode(paragraph_chunks(F.col(text), para_tokens)).alias(
            "para_idx", "para"
        ),
    ).withColumn("para_hash", F.md5("para"))
    w = Window.partitionBy("para_hash").orderBy(key, "para_idx")
    return paras.select(
        key,
        "para_idx",
        "para_hash",
        (F.row_number().over(w) > 1).alias("is_duplicate"),
    )


def dup_components(
    nodes: DataFrame,
    pairs: DataFrame,
    key: str = "doc_id",
    *,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
    groups: DataFrame | None = None,
    rep: str = "rep",
) -> DataFrame:
    """Collapse near-duplicate PAIRS into duplicate CLUSTERS (connected
    components) by iterative min-label propagation: every node repeatedly
    adopts the smallest id reachable through a pair edge; the minimum id of
    each component becomes its canonical document.

    Output: (key, component, is_duplicate) for every node in ``nodes`` —
    singletons keep themselves as canonical.

    Scale shape: one shuffle per iteration (join on the edge endpoint), and
    the iteration count is the component DIAMETER, not size — dedup clusters
    are near-cliques, so 2-4 rounds in practice; ``max_iter`` bounds
    pathological chains.

    Only nodes that appear in a pair participate in the iteration: a node
    with no edges is its own component by definition, so the (typically
    dominant) singleton mass of the corpus joins the result exactly once at
    the end instead of riding every round's shuffle — per-round cost scales
    with the DUPLICATE subgraph, not the corpus.

    Convergence is read from a metric of the round's own output (the step
    compares new and old label row-wise), so no separate
    count()-with-self-join runs per round.

    ``groups`` (optional): pre-collapsed EXACT-duplicate groups as a
    (``key``, ``rep``) table — every member mapped to its group
    representative (the representative should itself be a member, e.g. the
    group's min id; a missing rep→rep self-row is tolerated). This is the
    flood-proof entry point: instead of expanding a k-copy group to O(k²)
    pair edges, the computation runs on the QUOTIENT graph — pair endpoints
    rewrite to their representatives, label propagation iterates over
    representatives + ungrouped nodes only, and members expand to their
    representative's component in ONE final linear join. A 10M-copy viral
    page contributes one node and zero pairs to every round. Components are
    identical to expanding each group as a star of pair edges; the
    component label is the min over quotient ids (= the true min member
    when representatives are group minima).
    """
    sym = pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b")).unionByName(
        pairs.select(F.col(id_b).alias("a"), F.col(id_a).alias("b"))
    )
    ids = nodes.select(F.col(key).alias("id")).distinct()  # native key type —
    # min-label works for numeric AND string ids
    g = None
    if groups is not None:
        g = (
            groups.select(F.col(key).alias("_gm"), F.col(rep).alias("_gr"))
            .unionByName(
                groups.select(F.col(rep).alias("_gm"), F.col(rep).alias("_gr"))
            )  # rep self-rows, so every quotient id expands at the end
            .distinct()
            # reused by the quotient joins and the final expansion
            .localCheckpoint(eager=False)
        )
        # quotient: pair endpoints rewrite to their representative
        # (broadcast-unsafe in general — groups scale with the corpus — so
        # these are shuffled equi-joins on the member id)
        for col in ("a", "b"):
            sym = (
                sym.join(
                    g.select(F.col("_gm").alias(col), "_gr"), col, "left"
                )
                .withColumn(col, F.coalesce("_gr", F.col(col)))
                .drop("_gr")
            )
        sym = sym.filter(F.col("a") != F.col("b"))
        # quotient node set: representatives + nodes outside every group
        ids = (
            ids.join(g.select(F.col("_gm").alias("id")), "id", "left_anti")
            .unionByName(g.select(F.col("_gr").alias("id")))
            .distinct()
        )
    edges = sym.distinct().localCheckpoint(eager=True)
    touched = edges.select(F.col("a").alias("id")).distinct()  # symmetric:
    # the a-side covers every endpoint
    labels = (
        ids.join(touched, "id", "left_semi")  # iterate ONLY the dup subgraph
        .withColumn("lab", F.col("id"))
        .localCheckpoint(eager=False)
    )
    singletons = ids.join(touched, "id", "left_anti")
    def step(lab_df: DataFrame) -> DataFrame:
        """One min-label propagation round: every node adopts the minimum
        of its own label and its neighbors' labels. Emits (id, lab, _chg)
        where _chg flags a row whose label shrank THIS round. Alias-scoped
        column refs, NOT DataFrame-attribute refs: ``edges`` appears twice
        in a composed two-round plan and DeduplicateRelations re-ids one
        occurrence — attribute refs captured from the original would
        mis-bind."""
        nb_min = (
            edges.alias("e")
            .join(lab_df.alias("l"), F.col("e.b") == F.col("l.id"))
            .groupBy(F.col("e.a").alias("a"))
            .agg(F.min(F.col("l.lab")).alias("nb_lab"))
        )
        new_lab = F.least(F.col("s.lab"), F.coalesce("n.nb_lab", F.col("s.lab")))
        return (
            lab_df.alias("s")
            .join(nb_min.alias("n"), F.col("s.id") == F.col("n.a"), "left")
            .select(
                F.col("s.id").alias("id"),
                new_lab.alias("lab"),
                (new_lab != F.col("s.lab")).cast("long").alias("_chg"),
            )
        )

    # Two rounds per checkpoint (r16): labels only ever DECREASE, so "no
    # label shrank in the block's second round" is the fixpoint test, and
    # one extra no-op round past the fixpoint changes nothing. An odd
    # max_iter ends with a single round, so max_iter bounds the TOTAL.
    labels, done = iterate(
        labels,
        lambda lab: step(step(lab)),
        max_iter // 2,
        observe=(F.sum("_chg").alias("changed"),),
        until=lambda _, m: not m["changed"],
    )
    if not done:
        labels, _ = iterate(labels, step, max_iter % 2)
    labels = labels.drop("_chg")
    out = labels.unionByName(singletons.withColumn("lab", F.col("id")))
    if g is not None:
        # expand the quotient: every group member adopts its
        # representative's component (ONE linear equi-join — the only
        # place a flood's members appear at all); ungrouped nodes pass
        # through as themselves
        grouped = (
            g.join(out.withColumnRenamed("id", "_gr"), "_gr")
            .select(F.col("_gm").alias("id"), "lab")
            .join(
                nodes.select(F.col(key).alias("id")).distinct(),
                "id",
                "left_semi",
            )  # keep the output universe == nodes
        )
        ungrouped = out.join(
            g.select(F.col("_gr").alias("id")).distinct(), "id", "left_anti"
        )
        out = grouped.unionByName(ungrouped)
    return out.select(
        F.col("id").alias(key),
        F.col("lab").alias("component"),
        (F.col("id") != F.col("lab")).alias("is_duplicate"),
    )


def exact_substring_spans(
    corpus: DataFrame,
    text: str = "text",
    key: str = "doc_id",
    *,
    n: int = 10,
    keep: str = "none",
) -> DataFrame:
    """ExactSubstr deduplication spans (Lee et al. 2021, "Deduplicating
    Training Data Makes Language Models Better" §4.1 — public paper; the
    suffix-array pass re-expressed relationally): any ``n``-token gram that
    occurs more than once ANYWHERE in the corpus marks its token span, and
    overlapping/adjacent marked positions merge into maximal per-document
    removal spans.

    ``keep``: "none" marks EVERY occurrence of duplicated text (the
    conservative variant); "first" exempts each gram's canonical first
    occurrence (min (doc, pos)) — the paper's "leave one copy" treatment,
    so one copy of the duplicated text survives removal.

    Output: one row per maximal duplicated span — (key, span_start,
    span_end): 1-based token index, end EXCLUSIVE, so the span covers
    tokens [span_start, span_end).

    Scale shape (the suffix array of the paper is a single-machine
    construct; this is the cluster shape): positional gram explode → one
    groupBy on the gram hash for the duplicate set → left-semi join back
    (no row amplification — semi joins never fan out, so a million-fold
    repeated gram costs its occurrence count, not occurrences²) → per-doc
    gaps-and-islands window (one keyed shuffle) to merge positions into
    spans. Every stage is a bounded keyed shuffle; nothing is quadratic.
    The keep="first" path swaps the semi-join for ONE window over the gram
    hash (rank by (doc, pos), keep rank > 1) — same shuffle key, a hot
    gram costs a spillable sort of its occurrence count.
    """
    if keep not in ("none", "first"):
        raise ValueError(f"keep must be 'none' or 'first', got {keep!r}")
    toks = tokens(F.col(text))
    base = corpus.select(F.col(key), toks.alias("_toks")).filter(
        F.size("_toks") >= n
    )
    grams = base.select(
        key,
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.size("_toks") - (n - 1)),
                lambda i: F.md5(F.concat_ws(" ", F.slice(F.col("_toks"), i, n))),
            )
        ).alias("_p0", "_h"),
    ).select(key, (F.col("_p0") + 1).alias("pos"), "_h")
    if keep == "first":
        # rank > 1 already implies the gram occurs >= 2 times — no separate
        # count window needed
        wg = Window.partitionBy("_h").orderBy(F.col(key).asc(), F.col("pos").asc())
        hits = (
            grams.withColumn("_rk", F.row_number().over(wg))
            .filter(F.col("_rk") > 1)
            .select(key, "pos", "_h")
        )
    else:
        dup = grams.groupBy("_h").count().filter(F.col("count") >= 2).select("_h")
        hits = grams.join(dup, "_h", "left_semi")
    w = Window.partitionBy(key).orderBy("pos")
    # two marked start positions p1 < p2 produce OVERLAPPING or ADJACENT
    # token spans whenever p2 - p1 <= n ([p1, p1+n) meets [p2, p2+n)), so
    # that is the island-merge condition — a gap-of-1 rule would emit
    # overlapping "maximal" spans and double-count shared tokens
    islands = (
        hits.withColumn(
            "_brk",
            F.when(F.col("pos") - F.lag("pos", 1).over(w) <= n, 0).otherwise(1),
        )
        .withColumn("_island", F.sum("_brk").over(w))
    )
    return islands.groupBy(key, "_island").agg(
        F.min("pos").cast("long").alias("span_start"),
        (F.max("pos") + n).cast("long").alias("span_end"),
    ).select(key, "span_start", "span_end")


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    text: str = "text",
    key: str = "doc_id",
    *,
    n: int = 13,
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing any n-token
    gram with an evaluation/benchmark set (the published GPT-3 appendix-C
    style 13-gram overlap rule).

    Output: corpus keys + ``matched_grams`` (distinct benchmark grams hit)
    + ``contaminated``.

    Scale shape: the benchmark gram set is tiny next to the corpus —
    broadcast equi-join against the exploded corpus grams, then ONE groupBy
    on the doc key. The corpus is exploded but never self-joined; shuffle is
    O(matching grams) only.
    """
    bench = (
        benchmark.select(F.explode(shingles(F.col(text), n)).alias("gram"))
        .distinct()
    )
    hits = (
        corpus.select(F.col(key), F.explode(shingles(F.col(text), n)).alias("gram"))
        .join(F.broadcast(bench), "gram")
        .groupBy(key)
        .agg(F.count("*").alias("matched_grams"))
    )
    return (
        corpus.select(key)
        .join(hits, key, "left")
        .select(
            key,
            F.coalesce("matched_grams", F.lit(0)).alias("matched_grams"),
            (F.coalesce("matched_grams", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def _symmetrize(e: DataFrame) -> DataFrame:
    """Both directions of a directed edge set — narrow (no shuffle).  When
    ``e`` is canonical (a > b, distinct) the result is dup-free too."""
    return e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))


def dup_components_star(
    nodes: DataFrame,
    pairs: DataFrame,
    key: str = "doc_id",
    *,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components by alternating large-star/small-star rounds
    (Kiveris et al. 2014, "Connected Components in MapReduce and Beyond" —
    public paper): the 100 TB path promised in SCALE.md, now implemented.

    Same contract as :func:`dup_components` — (key, component,
    is_duplicate) for every node, component = min id — but the round count
    is O(log n) in COMPONENT SIZE rather than O(diameter): a pathological
    duplication CHAIN (each doc near-dup of the next; plagiarism cascades
    and boilerplate drift produce exactly this) of length 10^6 converges in
    ~20 rounds here versus 10^6 rounds of label propagation.  For the
    common near-clique dedup cluster both converge in 2-4 rounds, so
    ``dup_components`` remains the cheaper default; this is the variant to
    select when cluster shapes are unknown.

    Per round: two groupBy(min)+equi-join passes (large then small star) —
    the same shuffle family as label propagation — and exactly ONE
    ``distinct`` on the round's output.  The edge state is kept CANONICAL
    (child > parent, distinct): both stars provably emit child-above-parent
    edges (large: v > u >= m; small: m = min <= v), so only the
    neighborhood views need symmetrizing, and that is a narrow dup-free
    union of a canonical set with its swap.  Convergence = edge-set
    fixpoint, detected by a (count, hash-sum) signature of the round's
    output equal to the previous round's.
    """
    raw = pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
    edges = (  # canonical: child (greater id) -> parent (smaller id)
        raw.filter(F.col("a") != F.col("b"))
        .select(
            F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
        )
        .distinct()
        .localCheckpoint(eager=False)
    )

    def star(sym: DataFrame, large: bool) -> DataFrame:
        """One star pass over a SYMMETRIC edge view; returns directed
        child->parent edges (possibly with duplicates — min-aggregates
        absorb them and the round-end distinct removes them)."""
        mins = sym.groupBy("a").agg(F.least(F.min("b"), F.first("a")).alias("m"))
        joined = sym.join(mins, "a")
        if large:
            # hang strictly-larger neighbors under the neighborhood min
            return joined.filter(F.col("b") > F.col("a")).select(
                F.col("b").alias("a"), F.col("m").alias("b")
            )
        # re-parent the <= neighbors AND u itself under the min
        return (
            joined.filter(F.col("b") <= F.col("a"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .unionByName(mins.select("a", F.col("m").alias("b")))
        )

    def star_round(e: DataFrame) -> DataFrame:
        small = star(_symmetrize(star(_symmetrize(e), large=True)), large=False)
        return small.filter(F.col("a") != F.col("b")).distinct()

    signature = (
        F.count(F.lit(1)).alias("n"),
        # decimal sum: a long sum of 64-bit hashes overflows under ANSI
        F.sum(F.xxhash64("a", "b").cast("decimal(38,0)")).alias("h"),
    )
    edges, converged = iterate(
        edges, star_round, max_iter, observe=signature, until=lambda p, m: m == p
    )
    if not converged:
        # a non-fixpoint edge set yields INCONSISTENT labels (a child's
        # parent may itself still have a smaller parent) — unlike label
        # propagation's still-meaningful partial minima, so fail loudly
        raise RuntimeError(
            f"dup_components_star did not reach the edge-set fixpoint in "
            f"{max_iter} rounds; raise max_iter (rounds needed ~ "
            f"log2(largest component size))"
        )

    # at the fixpoint every component is a star: child -> root(min id)
    labels = edges.groupBy("a").agg(F.min("b").alias("lab"))
    all_nodes = nodes.select(F.col(key).alias("id")).distinct()
    return (
        all_nodes.join(labels, all_nodes["id"] == labels["a"], "left")
        .select(
            F.col("id").alias(key),
            F.coalesce("lab", "id").alias("component"),
            (F.coalesce("lab", "id") != F.col("id")).alias("is_duplicate"),
        )
    )


def cluster_canonical(
    members: DataFrame,
    signals: DataFrame,
    key: str = "doc_id",
    *,
    quality: str = "quality_score",
    length: str = "n_tokens",
) -> DataFrame:
    """Quality-aware canonical selection per duplicate cluster — the
    "which copy do we KEEP" stage that turns :func:`dup_components` output
    into a retention decision. The min-id component label is an arbitrary
    graph artifact; a training-data pipeline keeps the BEST copy: highest
    ``quality`` (the composite from textstats.quality_metrics), longest
    ``length`` on ties (a near-copy that gained text usually subsumes the
    original), smallest ``key`` as the final deterministic tie-break.

    Inputs: ``members`` = (key, component) — dup_components/_star output;
    ``signals`` = (key, quality, length) — per-doc scoring columns.

    Output: (key, component, n_members, quality, is_canonical) for every
    member — exactly one ``is_canonical`` row per component (singletons are
    their own canonical), so ``filter(is_canonical)`` IS the deduplicated
    corpus and the rest is the drop list.

    Scale shape: one equi-join on ``key`` (both sides pre-partitioned by it
    upstream) and ONE shuffle on ``component`` shared by both window
    functions (rank + member count — same partitioning, one exchange). Dup
    clusters are near-cliques of planted/boilerplate copies, orders of
    magnitude smaller than the corpus; a pathological mega-cluster
    (site-wide boilerplate) sorts within one partition — cap it upstream
    with the pair generators' hot-key caps, which bound component size by
    construction."""
    # LEFT join: a member missing from ``signals`` must stay in the output
    # (NULL quality ranks last, so it can only be canonical when nothing
    # scored beats it) — an inner join would silently drop it from BOTH the
    # keep and drop lists and the is_canonical partition of the corpus
    # would no longer cover every member
    joined = members.select(key, "component").join(
        signals.select(key, quality, length), key, "left"
    )
    w = Window.partitionBy("component").orderBy(
        F.desc_nulls_last(quality), F.desc_nulls_last(length), F.asc(key)
    )
    return (
        joined.withColumn("_rk", F.row_number().over(w))
        .withColumn(
            "n_members", F.count(F.lit(1)).over(Window.partitionBy("component"))
        )
        .select(
            key,
            "component",
            "n_members",
            quality,
            (F.col("_rk") == 1).alias("is_canonical"),
        )
    )


def exact_substring_removal(
    corpus: DataFrame,
    text: str = "text",
    key: str = "doc_id",
    *,
    n: int = 10,
    keep: str = "none",
) -> DataFrame:
    """Apply ExactSubstr spans: drop every token inside a duplicated span
    (Lee et al. 2021 §4.1's actual treatment — the paper REMOVES the
    duplicated substring from the training corpus, keeping the remainder).

    Output: (key, kept_tokens) — the document's token array minus all
    spans, order preserved; documents with no spans keep everything.

    ``keep="none"`` removes EVERY occurrence of duplicated text (the
    conservative variant); ``keep="first"`` exempts each gram's canonical
    first occurrence — the paper's "leave one copy" rule.

    Scale shape: the spans pipeline's keyed shuffles plus ONE extra
    groupBy(key) to pack a doc's spans into an array and ONE join back to
    the corpus — both on the same doc key. The token surgery itself is a
    narrow per-row array filter (position-indexed lambda, codegen'd);
    span counts per doc are small (merged maximal islands), so the
    per-row cost is O(tokens × spans) with tiny constants, never a
    shuffle.  Tokenization runs once per CONSUMER (the spans branch and
    the apply branch each re-derive it from the scan) — deliberate: at
    corpus scale, caching a tokenized copy of the data costs far more
    memory than re-running the narrow regex stage."""
    spans = exact_substring_spans(corpus, text=text, key=key, n=n, keep=keep)
    packed = spans.groupBy(key).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("_spans")
    )
    base = corpus.select(F.col(key), tokens(F.col(text)).alias("_toks"))
    joined = base.join(packed, key, "left").withColumn(
        "_spans",
        F.coalesce(
            "_spans",
            F.array().cast("array<struct<span_start:bigint,span_end:bigint>>"),
        ),
    )
    # F.filter's second lambda arg is the 0-BASED element index; spans are
    # 1-based [start, end) token positions
    kept = F.filter(
        "_toks",
        lambda x, i: ~F.exists(
            "_spans",
            lambda s: (s["span_start"] <= i + 1) & (i + 1 < s["span_end"]),
        ),
    )
    return joined.select(F.col(key), kept.alias("kept_tokens"))


def winnowing_containment_pairs(
    df: DataFrame,
    text: str = "text",
    key: str = "doc_id",
    *,
    k: int = 5,
    window: int = 4,
    threshold: float = 0.5,
    max_fp_freq: int | None = 1000,
    round_to: int = 6,
) -> DataFrame:
    """Containment candidate pairs from winnowing fingerprints — the use
    case the fingerprints exist for: ``containment`` = shared fingerprints
    / the SMALLER document's fingerprint count, so a document embedded
    inside a larger one scores ~1 even though its Jaccard is tiny (the
    copy-inside-boilerplate case n-gram Jaccard structurally misses).

    Output: (id_a, id_b, shared_fps, containment) for pairs at or above
    ``threshold`` (containment rounded to ``round_to`` digits BEFORE the
    threshold so the cut is engine-reproducible).

    Scale shape: the same inverted-index discipline as
    :func:`ngram_jaccard_pairs` — equi-join on the fingerprint with
    ``max_fp_freq`` dropping ubiquitous fingerprints (boilerplate shared
    by millions of docs must not form a quadratic bucket; ``None`` turns
    the cap off); sizes join on the doc key. Never all-pairs.
    """
    # materialized once: the fingerprint pipeline (per-gram md5 + two
    # window passes) otherwise re-runs for the sizes aggregate, the
    # frequency census, and the self-join input (the ngram_jaccard_pairs
    # lesson; the checkpoint holds compact distinct (id, fp) rows)
    fps = winnowing_fingerprints(
        df, text, key, k=k, window=window
    ).localCheckpoint(eager=False)
    sizes = fps.groupBy("id").agg(F.count(F.lit(1)).alias("nf"))
    shared = (
        bucket_pairs(fps, "id", ["fp"], max_bucket=max_fp_freq)
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared_fps"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("nf").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("nf").alias("n_b"))
    return (
        shared.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "containment",
            F.round(
                F.col("shared_fps") / F.least("n_a", "n_b"), round_to
            ),
        )
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", F.col("shared_fps").cast("long").alias("shared_fps"), "containment")
    )
