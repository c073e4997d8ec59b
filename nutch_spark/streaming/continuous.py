"""Continuous crawling + streaming analytics (SURVEY.md §2.8).

The reference has no streaming (batch MR only); its only continuous behavior
is the Fetcher's in-task producer/consumer loop (Fetcher.java:67-102). On
Spark, the natural streaming surface is:

- ``continuous_crawl``: the frontier as a stream; each micro-batch runs one
  relational crawl round via ``foreachBatch`` (the batch operators are reused
  verbatim — identical semantics batch vs streaming, which is the point of
  foreachBatch).
- ``fetch_rate_windows``: watermarked tumbling-window fetch-rate dashboard
  (pages + bytes per host per window) tolerating late fetch completions.
- ``streaming_dedup``: drop repeated (url, signature) observations with
  bounded state via watermark — the streaming twin of DeduplicationJob.

All three are plain Structured Streaming plans: they run with
``readStream``/``writeStream`` on any source (kafka/files/rate); tests drive
them with a MemoryStream-equivalent and the batch-mode `df` path since the
plans are source-agnostic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nutch_spark.config import DEFAULT, NutchConfig
from nutch_spark.functions.urls import url_host


def fetch_rate_windows(
    fetch_log: DataFrame,
    *,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Tumbling-window per-host fetch-rate: (window, host, pages, errors).

    With a streaming input, the watermark bounds state: windows older than
    ``watermark`` are finalized and evicted. The identical plan runs in batch
    (tests + the driver's oracle use the batch path)."""
    df = fetch_log
    if df.isStreaming:
        df = df.withWatermark("fetch_time", watermark)
    return (
        df.groupBy(
            F.window("fetch_time", window).alias("win"), url_host("url").alias("host")
        )
        .agg(
            F.count(F.lit(1)).alias("pages"),
            F.count_if(F.col("status") != "fetch_success").alias("errors"),
        )
        .select(F.col("win.start").alias("win_start"), "host", "pages", "errors")
    )


def fetch_parse_join(
    fetch_log: DataFrame,
    parse_log: DataFrame,
    *,
    watermark: str = "1 hour",
    max_delay_s: int = 1800,
) -> DataFrame:
    """Stream-stream correlation of the fetch stream with the parse
    stream: one row per (url, fetch, parse) where the parse event lands
    within ``[fetch_time, fetch_time + max_delay_s]`` — the crawl
    observability join ("which fetches produced a parse, and how late")
    that in the reference is a segment-directory convention
    (crawl_fetch/ and parse_data/ written by the same task,
    FetcherThread → ParseSegment) and on a stream is Structured
    Streaming's canonical two-stream state shape.

    Stream-stream inner joins hold BOTH sides in state until the other
    side can no longer match: that is only bounded if (a) both sides are
    watermarked and (b) the join condition bounds event-time distance —
    this plan does both, so fetch state evicts once the parse watermark
    passes ``fetch_time + max_delay_s`` and parse state symmetrically.
    Batch fallback: the identical join predicate (tests + the driver's
    oracle certify on the batch path; the streaming path runs the same
    plan under readStream).

    Output: (url, fetch_time, status, parse_time, n_outlinks,
    parse_lag_s). 100 TB: both sides shuffle once on url; state is the
    watermark horizon's worth of rows per side, not the stream."""
    f = fetch_log
    p = parse_log
    if f.isStreaming:
        f = f.withWatermark("fetch_time", watermark)
    if p.isStreaming:
        p = p.withWatermark("parse_time", watermark)
    f = f.alias("f")
    p = p.alias("p")
    cond = (
        (F.col("f.url") == F.col("p.url"))
        & (F.col("p.parse_time") >= F.col("f.fetch_time"))
        & (
            F.col("p.parse_time")
            <= F.col("f.fetch_time")
            + F.expr(f"INTERVAL {int(max_delay_s)} SECONDS")
        )
    )
    return f.join(p, cond, "inner").select(
        F.col("f.url").alias("url"),
        F.col("f.fetch_time").alias("fetch_time"),
        F.col("f.status").alias("status"),
        F.col("p.parse_time").alias("parse_time"),
        F.col("p.n_outlinks").alias("n_outlinks"),
        (
            F.unix_timestamp("p.parse_time") - F.unix_timestamp("f.fetch_time")
        ).alias("parse_lag_s"),
    )


def streaming_dedup(
    fetch_log: DataFrame,
    *,
    watermark: str = "1 hour",
) -> DataFrame:
    """Keep the first observation of each (url, signature) within the
    watermark horizon — bounded-state streaming dedup
    (dropDuplicatesWithinWatermark; batch fallback: dropDuplicates)."""
    if fetch_log.isStreaming:
        return fetch_log.withWatermark("fetch_time", watermark).dropDuplicatesWithinWatermark(
            ["url", "signature"]
        )
    return fetch_log.dropDuplicates(["url", "signature"])


def streaming_hostdb(
    fetch_log: DataFrame,
    *,
    watermark: str = "1 hour",
    idle_timeout_ms: int = 30 * 60 * 1000,
) -> DataFrame:
    """HostDb as streaming state (the streaming twin of J6 update_hostdb):
    per-host running counters maintained with ``applyInPandasWithState``
    (arbitrary stateful processing — GroupState + processing-time timeout).
    Each micro-batch emits the host's updated totals; a host idle past
    ``idle_timeout_ms`` is evicted (bounded state — the same role the
    watermark plays for windows).

    Batch fallback: one groupBy(host) aggregation with identical output —
    tests and the oracle certify the semantics on the batch path, streaming
    runs the stateful path.
    """
    out_schema = (
        "host string, fetched long, errors long, last_fetch timestamp"
    )
    hosted = fetch_log.withColumn("host", url_host("url"))
    if not hosted.isStreaming:
        return hosted.groupBy("host").agg(
            F.count_if(F.col("status") == "fetch_success").alias("fetched"),
            F.count_if(F.col("status") != "fetch_success").alias("errors"),
            F.max("fetch_time").alias("last_fetch"),
        )

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    state_schema = "fetched long, errors long, last_fetch_ms long"

    def update(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        fetched, errors, last_ms = (
            state.get if state.exists else (0, 0, 0)
        )
        for pdf in pdfs:
            ok = (pdf["status"] == "fetch_success").sum()
            fetched += int(ok)
            errors += int(len(pdf) - ok)
            mx = pdf["fetch_time"].max()
            if pd.notna(mx):
                last_ms = max(last_ms, int(mx.value // 1_000_000))
        state.update((fetched, errors, last_ms))
        state.setTimeoutDuration(idle_timeout_ms)
        yield pd.DataFrame(
            {
                "host": [key[0]],
                "fetched": [fetched],
                "errors": [errors],
                "last_fetch": [pd.Timestamp(last_ms, unit="ms")],
            }
        )

    return (
        hosted.withWatermark("fetch_time", watermark)
        .groupBy("host")
        .applyInPandasWithState(
            update,
            out_schema,
            state_schema,
            "update",
            GroupStateTimeout.ProcessingTimeTimeout,
        )
    )


def continuous_crawl(
    frontier_stream: DataFrame,
    *,
    cfg: NutchConfig = DEFAULT,
    checkpoint_dir: str,
    state_dir: str,
    top_n_per_batch: int = 1000,
    trigger_seconds: int = 60,
):
    """Continuous crawl: each micro-batch of frontier URLs runs one
    fetch→parse→updatedb round with the BATCH operators via foreachBatch,
    persisting crawldb state to ``state_dir`` between batches.

    Returns the StreamingQuery. The frontier stream schema is the seeds
    schema (url, metadata)."""
    from nutch_spark.operators.fetcher import emit_parse_rows, fetch, parse
    from nutch_spark.operators.inject import inject
    from nutch_spark.operators.updatedb import update_crawldb

    spark = frontier_stream.sparkSession

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        try:
            crawldb = spark.read.parquet(state_dir)
        except Exception:  # first batch: empty db  # noqa: BLE001
            crawldb = spark.createDataFrame(
                [],
                "url string, status string, fetch_time timestamp, retries int, "
                "fetch_interval int, score float, signature binary, "
                "modified_time timestamp, metadata map<string,string>",
            )
        db = inject(crawldb, batch_df.select("url", "metadata"), cfg=cfg)
        fetchlist = db.filter(F.col("status") == "db_unfetched").limit(top_n_per_batch)
        fetch_log = fetch(fetchlist, cfg=cfg).localCheckpoint(eager=True)
        parse_data = parse(fetch_log, cfg=cfg)
        emits = emit_parse_rows(parse_data, db.select("url", "score"), cfg=cfg)
        new_db = update_crawldb(
            db,
            fetch_log.select("url", "status", "fetch_time", "signature", "metadata"),
            emits,
            cfg=cfg,
        )
        # state install: write-then-swap is handled by Spark's overwrite mode
        # (Delta would make this transactional, CrawlDb.java:148 install())
        new_db.write.mode("overwrite").parquet(state_dir + "_next")
        import shutil

        shutil.rmtree(state_dir, ignore_errors=True)
        shutil.move(state_dir + "_next", state_dir)

    return (
        frontier_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .start()
    )


def session_windows(
    fetch_log: DataFrame,
    *,
    key: str = "url",
    time_col: str = "fetch_time",
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Per-key session windows: events closer than ``gap`` merge into one
    session (Structured Streaming ``session_window``; the same expression
    runs in batch, which is how the oracle certifies it).

    Output: (key, session_start, session_end, n_events). With a streaming
    input the watermark bounds session state; closed sessions are emitted
    and evicted — the scale path for billions of keys."""
    df = fetch_log
    if df.isStreaming:
        df = df.withWatermark(time_col, watermark)
    return (
        df.groupBy(F.session_window(F.col(time_col), gap).alias("sw"), F.col(key))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            key,
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )


def streaming_clean(
    docs: DataFrame,
    benchmark_grams: list[str],
    *,
    text: str = "text",
    key: str = "doc_id",
    ts: str = "ingest_time",
    watermark: str = "10 minutes",
    min_tokens: int = 10,
    min_uniq_ratio: float = 0.1,
) -> DataFrame:
    """The corpus-cleaning pipeline in STREAMING form — clean documents as
    they arrive instead of in a batch sweep (dp_pipeline_clean's streaming
    twin; identical rules by construction, so a backfilled batch and the
    live stream agree).

    Stages, each stream-safe:
    - quality gate + PII scrub: stateless maps (identical expressions as
      the batch operators);
    - exact dedup: ``dropDuplicatesWithinWatermark`` on the content
      fingerprint — state bounded by the watermark horizon, the streaming
      replacement for the batch fingerprint window (first-seen wins, which
      within a watermark equals the batch min-key rule under at-once
      arrival and is the only causal choice on a stream);
    - decontamination: ``arrays_overlap`` against the benchmark 13-gram
      set compiled into the plan as a literal — benchmarks are SMALL by
      construction (same argument as batch decontaminate's broadcast), so
      the gram set ships like a broadcast dim; no stream-stream join, no
      unbounded state.

    ``benchmark_grams``: precompute once on the static side with
    ``dedup.shingles(text, 13)`` over the benchmark corpus and collect —
    bounded by benchmark size, not corpus size.
    """
    from nutch_spark.datapipe.dedup import shingles
    from nutch_spark.datapipe.textstats import (
        fingerprint,
        pii_scrub,
        quality_gate,
        tokens,
    )

    gated = docs.filter(
        quality_gate(text, min_tokens=min_tokens, min_uniq_ratio=min_uniq_ratio)
    )
    scrubbed = pii_scrub(gated, text).withColumn("_fp", fingerprint(F.col(text)))
    deduped = scrubbed.withWatermark(ts, watermark).dropDuplicatesWithinWatermark(
        ["_fp"]
    )
    gram_lits = F.array(*[F.lit(g) for g in benchmark_grams]) if benchmark_grams else None
    out = deduped
    if gram_lits is not None:
        out = out.filter(
            ~F.arrays_overlap(shingles(F.col("text_scrubbed"), 13), gram_lits)
        )
    return out.select(
        key,
        ts,
        F.col("text_scrubbed").alias("clean_text"),
        F.size(tokens(F.col("text_scrubbed"))).alias("n_tokens"),
    )


def _stream_dhash_stage(media: DataFrame, *, ts: str, hash_fn=None) -> DataFrame:
    """The stateless decode + dHash ``mapInPandas`` stage shared by
    ``streaming_image_dedup`` and ``streaming_image_near_dup`` — the same
    from-spec PNG/GIF/BMP/JPEG/TIFF decoders as the batch path, passing
    the event-time column through for the watermark. Undecodable payloads
    keep a NULL hash."""
    import pandas as pd

    from nutch_spark.datapipe.mediacodec import dhash64

    compute = hash_fn or dhash64

    def run(batches):
        for pdf in batches:
            rows = []
            for media_id, payload, when in zip(
                pdf["media_id"], pdf["payload"], pdf[ts]
            ):
                h = None
                if payload is not None:
                    try:
                        h = compute(bytes(payload))
                    except Exception:  # noqa: BLE001 — one bad blob
                        h = None
                if h is not None and h >= 1 << 63:
                    h -= 1 << 64
                rows.append({"media_id": media_id, "dhash": h, ts: when})
            # dhash as an OBJECT column of exact Python ints: pandas would
            # otherwise coerce int+None to float64 and round 64-bit hashes
            # past 2^53 (see multimodal._exact_frame)
            yield pd.DataFrame(
                {
                    "media_id": pd.Series([r["media_id"] for r in rows], dtype=object),
                    "dhash": pd.Series([r["dhash"] for r in rows], dtype=object),
                    ts: pd.Series([r[ts] for r in rows])
                    if rows
                    else pd.Series([], dtype="datetime64[ns]"),
                }
            )

    return media.select("media_id", "payload", ts).mapInPandas(
        run, f"media_id long, dhash long, {ts} timestamp"
    )


def _first_per_key(
    df: DataFrame, key: Column, fallback: Column, *, ts: str, watermark: str
) -> DataFrame:
    """Keep the first row per ``key`` within the ``watermark`` horizon
    (``dropDuplicatesWithinWatermark``). A row whose ``key`` is NULL is
    keyed by its ``fallback`` (the row id) instead, in a separate key
    space: it never matches a keyed row or another id, yet a redelivery
    of the same id within the watermark still emits once."""
    dedup_key = F.when(
        key.isNotNull(), F.concat(F.lit("k:"), key.cast("string"))
    ).otherwise(F.concat(F.lit("i:"), fallback.cast("string")))
    return (
        df.withColumn("_dedup_key", dedup_key)
        .withWatermark(ts, watermark)
        .dropDuplicatesWithinWatermark(["_dedup_key"])
        .drop("_dedup_key")
    )


def streaming_image_dedup(
    media: DataFrame,
    *,
    ts: str = "ingest_time",
    watermark: str = "10 minutes",
    hash_fn=None,
) -> DataFrame:
    """Perceptual image dedup in STREAMING form — hash and drop duplicate
    images as they arrive instead of in a batch sweep (mm_image_dhash +
    exact-hash dedup's streaming twin; the hash is the identical dhash64,
    so a backfilled batch and the live stream agree on what is a dup).

    Stages, each stream-safe:
    - pixel decode + dHash: a stateless ``mapInPandas`` stage (the same
      from-spec PNG/GIF/BMP/JPEG/TIFF decoders as the batch path) that
      passes the event-time column through for the watermark;
    - near-exact dedup: ``dropDuplicatesWithinWatermark`` on the 64-bit
      hash — state bounded by the watermark horizon; first-seen wins,
      the only causal choice on a stream. Undecodable payloads keep a
      NULL hash and are NOT deduped against each other (a NULL match is
      not evidence of duplication) — they ride the same dedup operator
      keyed by a media_id-salted synthetic key. INTENDED consequence: an
      at-least-once source re-delivering the same media_id within the
      watermark emits the undecodable row ONCE — the operator is
      idempotent under redelivery for decodable and undecodable rows
      alike (the pre-r12 passthrough branch re-emitted undecodables on
      every redelivery, so a retried micro-batch double-counted them
      downstream). Distinct undecodable media_ids never share a key, so
      nothing is ever dropped across different images.

    At crawl scale the decode stage scales out with executors exactly like
    the batch stage; the dedup state is one (hash, timestamp) entry per
    distinct image within the watermark."""
    hashed = _stream_dhash_stage(media, ts=ts, hash_fn=hash_fn)
    # one decode stage for BOTH decodable and undecodable rows: NULL-hash
    # rows get a media_id-salted synthetic key so they ride the same
    # dropDuplicatesWithinWatermark without ever matching each other —
    # a filter/union split here would re-run the mapInPandas decode once
    # per branch (the plan has no reuse point under streaming)
    return _first_per_key(
        hashed, F.col("dhash"), F.col("media_id"), ts=ts, watermark=watermark
    )


def streaming_image_near_dup(
    media: DataFrame,
    *,
    ts: str = "ingest_time",
    watermark: str = "10 minutes",
    max_hamming: int = 3,
    bands: int = 4,
    hash_fn=None,
    pre_hashed: bool = False,
) -> DataFrame:
    """Banded NEAR-duplicate detection in STREAMING form — the streaming
    analog of ``dhash_near_dup``/``dhash_dup_clusters``: where
    ``streaming_image_dedup`` drops exact-signature copies only, this
    surfaces arriving images within Hamming distance ``max_hamming`` of
    an earlier image. Returns the DUP-EVIDENCE stream
    ``(media_id, dup_of, hamming, ts)``: one row per arriving near-copy
    naming an earlier image it duplicates (earliest-wins causality by
    event time with id tie-break — enforced at emission, so the
    arbitrary claim order inside a micro-batch never flips a verdict's
    direction). Survivors are the ids that
    never appear in this stream — consumers suppress with a per-batch
    anti-join in ``foreachBatch`` (stream-stream ANTI joins don't exist,
    so the evidence stream IS the streaming-native shape).

    Construction, each stage stream-safe and watermark-bounded:
    - decode + dHash: the shared stateless stage (skipped when
      ``pre_hashed`` — then ``media`` must already carry ``dhash``);
    - band claims: each hash explodes into ``bands`` disjoint 16-bit
      band keys (pigeonhole: hamming < bands ⇒ at least one band
      IDENTICAL), and ``dropDuplicatesWithinWatermark`` per band key
      keeps the FIRST claimant as that band's representative — state is
      one row per distinct band key within the watermark horizon, the
      same census bound as the batch hot-band guard;
    - representative join back: arriving band rows stream-stream
      inner-join the representative claims on the band key within the
      watermark range, and one JVM-side ``bit_count(xor)`` verifies the
      true distance — exactly the batch candidate-then-verify shape,
      re-expressed with streaming state bounds.

    Caveats, stated honestly: (0) RECALL is high but not the batch
    pigeonhole guarantee: state keeps ONE representative per band key
    (that is what bounds it), so a pair whose every shared band was
    first claimed by a THIRD image outside the verify radius is missed —
    the same class of documented tradeoff as the batch hot-band cap
    (``dhash_near_dup(max_band_bucket=)``), which also trades tail
    recall for a bounded per-band census — run the exact-recall
    companion ``streaming_image_dedup`` (full-hash key, guaranteed for
    identical copies) alongside when exact dups must never slip;
    (1) a near-copy arriving AFTER the
    watermark horizon finds its bands' claims evicted, re-claims them,
    and survives — bounded state is the point, matching
    ``streaming_image_dedup``'s horizon semantics; (1b) within one
    micro-batch the claimant may be a MID-FAMILY member (claims follow
    processing order, not event order), and members earlier than the
    claimant only ever flag the claimant, not each other — so a dense
    same-batch family can keep several earliest members. Compose exact
    dedup upstream (``streaming_image_dedup`` drops identical copies
    regardless of claim order) and let this stream handle the far
    sparser hamming 1..d tail; that composition also keeps the evidence
    volume LINEAR in flood size (each copy emits at most ``bands`` rows
    against the claimant — never the O(k²) member pairs a batch
    pair-mode would); (2) the same
    (media_id, dup_of) pair may emit up to ``bands`` evidence rows (one
    per agreeing band) — an in-stream dedup of evidence would be a third
    stateful operator for zero semantic gain, consumers aggregate by
    media_id anyway; (3) the self-join means the decode stage runs twice
    (streams have no reuse point — the round-11 lesson applies to
    filter/union splits AND self-joins); feed ``pre_hashed`` rows from
    the upstream pipeline when decode dominates."""
    from nutch_spark.datapipe.multimodal import dhash_band_keys

    keys = dhash_band_keys(max_hamming, bands)
    hashed = (
        media.select("media_id", "dhash", ts)
        if pre_hashed
        else _stream_dhash_stage(media, ts=ts, hash_fn=hash_fn)
    )
    banded = (
        hashed.filter(F.col("dhash").isNotNull())
        .select("media_id", "dhash", ts, F.posexplode(keys).alias("band", "bkey"))
        .withColumn("_band_key", F.concat_ws(":", "band", "bkey"))
    )
    reps = (
        banded.withWatermark(ts, watermark)
        .dropDuplicatesWithinWatermark(["_band_key"])
        .select(
            F.col("media_id").alias("rep_id"),
            F.col("dhash").alias("rep_hash"),
            F.col(ts).alias("rep_ts"),
            F.col("_band_key").alias("rep_band_key"),
        )
    )
    probe = banded.withWatermark(ts, watermark)
    # SYMMETRIC time range: within one micro-batch the per-band claimant
    # is an arbitrary first-seen row, so the rep may carry the LATER
    # event time of a pair — a one-directional ts >= rep_ts filter would
    # silently drop that verdict. Both directions stay watermark-bounded
    # for state cleanup; emission direction is normalized below.
    joined = probe.join(
        reps,
        (F.col("_band_key") == F.col("rep_band_key"))
        & (F.col(ts) >= F.expr(f"rep_ts - INTERVAL {watermark}"))
        & (F.col(ts) <= F.expr(f"rep_ts + INTERVAL {watermark}")),
        "inner",
    )
    # causality: the LATER arrival is the dup, the earlier one the
    # representative it duplicates (event time, id tie-break) — claim
    # order inside a batch never flips a verdict's direction
    later_is_probe = (F.col(ts) > F.col("rep_ts")) | (
        (F.col(ts) == F.col("rep_ts")) & (F.col("media_id") > F.col("rep_id"))
    )
    return (
        joined.filter(F.col("rep_id") != F.col("media_id"))
        .withColumn(
            "hamming",
            F.bit_count(F.col("dhash").bitwiseXOR(F.col("rep_hash"))).cast("int"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select(
            F.when(later_is_probe, F.col("media_id"))
            .otherwise(F.col("rep_id"))
            .alias("media_id"),
            F.when(later_is_probe, F.col("rep_id"))
            .otherwise(F.col("media_id"))
            .alias("dup_of"),
            "hamming",
            F.when(later_is_probe, F.col(ts))
            .otherwise(F.col("rep_ts"))
            .alias(ts),
        )
    )


def streaming_video_dedup(
    media: DataFrame,
    *,
    ts: str = "ingest_time",
    watermark: str = "10 minutes",
    sig_frames: int = 16,
) -> DataFrame:
    """Clip-level video dedup in STREAMING form — the streaming twin of
    the batch ``video_frame_dhash`` + ``video_near_dup`` pair for the
    EXACT-copy case: as clips arrive, their frames decode through the
    same container walks as the batch path (MJPEG-AVI, animated GIF,
    QuickTime/MOV), the first ``sig_frames`` per-frame dHashes
    concatenate into an order-sensitive clip signature (md5), and
    ``dropDuplicatesWithinWatermark`` on the signature keeps the first
    copy — a re-containered upload of the same clip (AVI re-muxed to
    MOV, GIF re-wrapped) hashes frame-for-frame identically, so its
    signature matches and it drops. Stages, each stream-safe:

    - decode + sign: ONE stateless ``mapInPandas`` stage (no
      filter/union split — under streaming the plan has no reuse point,
      a split would decode every clip twice, the round-11 ADVICE
      lesson);
    - dedup: ``dropDuplicatesWithinWatermark`` on the signature, state
      bounded by the watermark horizon. Non-video payloads (and clips
      whose frames all fail to decode) keep a NULL signature and pass
      through keyed by media_id — a NULL match is not duplication
      evidence."""
    import hashlib

    import pandas as pd

    from nutch_spark.datapipe.mediacodec import (
        dhash64,
        extract_avi_mjpeg_frames,
        extract_gif_frames,
        extract_mov_mjpeg_frames,
    )

    def run(batches):
        for pdf in batches:
            ids, sigs, counts, whens = [], [], [], []
            for media_id, payload, when in zip(
                pdf["media_id"], pdf["payload"], pdf[ts]
            ):
                sig, n = None, 0
                if payload is not None:
                    try:
                        raw = bytes(payload)
                        info = (
                            extract_avi_mjpeg_frames(raw, max_frames=sig_frames)
                            or extract_gif_frames(raw, max_frames=sig_frames)
                            or extract_mov_mjpeg_frames(raw, max_frames=sig_frames)
                        )
                    except Exception:  # noqa: BLE001 — one bad container
                        info = None
                    if info:
                        hashes = []
                        for frame in info["frames"]:
                            try:
                                h = dhash64(frame)
                            except Exception:  # noqa: BLE001
                                h = None
                            hashes.append("x" if h is None else format(h, "016x"))
                        n = len(hashes)
                        if any(h != "x" for h in hashes):
                            sig = hashlib.md5(
                                "|".join(hashes).encode()
                            ).hexdigest()
                ids.append(media_id)
                sigs.append(sig)
                counts.append(n)
                whens.append(when)
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype=object),
                    "video_sig": pd.Series(sigs, dtype=object),
                    "n_frames": pd.Series(counts, dtype=object),
                    ts: pd.Series(whens)
                    if ids
                    else pd.Series([], dtype="datetime64[ns]"),
                }
            )

    signed = media.select("media_id", "payload", ts).mapInPandas(
        run, f"media_id long, video_sig string, n_frames int, {ts} timestamp"
    )
    return _first_per_key(
        signed, F.col("video_sig"), F.col("media_id"), ts=ts, watermark=watermark
    )


def streaming_embed_dedup(
    docs: DataFrame,
    *,
    text: str = "text",
    key: str = "doc_id",
    ts: str = "ingest_time",
    watermark: str = "10 minutes",
    dim: int = 64,
) -> DataFrame:
    """Streaming text dedup in EMBEDDING space — dp_text_embed_neardup's
    streaming twin: each arriving document keys on the QUANTIZED-vector
    identity digest of its feature-hashing embedding
    (similarity.row_embed_digest — one per-row expression, no
    aggregation, so the plan is a stateless map feeding ONE stateful
    operator) and ``dropDuplicatesWithinWatermark`` keeps the first
    arrival per digest. Two documents share a digest iff their hashed
    vectors are 1e-6-identical — the same token MULTISET, i.e.
    bag-of-words identity: exact AND reordered copies collapse,
    genuinely different documents never do.

    Deliberately NOT the sign-pattern bucket: component signs correlate
    across documents sharing a token distribution (a measured 6%+ of a
    synthetic corpus lands in ONE bucket), so first-arrival-per-bucket
    would wrongly drop distinct documents; the batch operator resolves a
    hot bucket with a census + digest sub-bucketing, and the digest IS
    the part of that rule a census-free stream can apply. Candidates the
    batch pass additionally scores (non-identical same-bucket pairs at
    cosine ≥ threshold) are out of streaming scope by design.

    ZERO-VECTOR documents — no tokens, or tokens that all CANCEL (same
    bucket, opposite signs: hashed vectors have no direction, so
    embedding identity is undefined for them) — get a ``key``-salted
    synthetic digest so they pass through without matching each other
    (idempotent under at-least-once redelivery of the same key within
    the watermark — the same documented semantics as
    streaming_image_dedup's undecodable rows). Both cases produce the
    all-zero quantized vector, whose digest is ONE constant, so the
    branch tests the computed digest against that constant — the text
    tokenizes exactly once per row.

    State is bounded by the watermark horizon; the digest is 32
    chars/row. 100 TB/day: a stateless codegen'd map plus one keyed
    state store — the same shape Spark runs exact streaming dedup
    with."""
    import hashlib

    from nutch_spark.datapipe.similarity import row_embed_digest

    zero_digest = hashlib.md5(",".join(["0"] * dim).encode()).hexdigest()
    digest = row_embed_digest(F.col(text), dim=dim)
    return _first_per_key(
        docs.withColumn("_dg", digest),
        F.when(F.col("_dg") != zero_digest, F.col("_dg")),
        F.col(key),
        ts=ts,
        watermark=watermark,
    ).drop("_dg")
