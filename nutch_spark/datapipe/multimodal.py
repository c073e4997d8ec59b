"""Multimodal column plumbing: image/audio/video as opaque BINARY columns
with typed metadata, processed in Arrow-batched Pandas UDFs.

Default decoders are REAL from-spec parsers (datapipe/mediacodec.py,
stdlib + numpy only): full PIXEL decode for BMP/PNG/GIF/JPEG (baseline +
progressive)/TIFF, SAMPLE decode for PCM/G.711/IMA-ADPCM WAV, FLAC, AIFF
and MPEG-1 Layer I/II, and FRAME extraction for MJPEG-AVI, animated GIF
and QuickTime/MOV. What still genuinely needs a codec library — WebP/AVIF
pixels, MPEG-1 Layer III, H.264, lossy re-encode — stays behind the
injectable ``decoder=``/``resizer=`` seams (no PIL/libvips/soundfile in
this container); undecodable formats yield NULL feature columns, never a
failed job.

Scale notes: binary payloads ride in their own column so column pruning keeps
them out of every query that doesn't touch them; feature extraction is
mapInPandas (arrow batches, no per-row pickling); repartition before decode
sizes batches to keep executor memory bounded (payload_bytes * batch_rows).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nutch_spark.datapipe.skew import bucket_pairs

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("media_type", T.StringType(), True),  # image|audio|video
        T.StructField("meta", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

IMAGE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("sha1", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("feature", T.ArrayType(T.FloatType()), True),
    ]
)


def _exact_frame(rows: list[dict], schema: T.StructType) -> pd.DataFrame:
    """rows → pandas frame WITHOUT integer-to-float coercion: a LongType
    column mixing None with values gets dtype float64 from pandas, and
    float64 silently rounds 64-bit hashes past 2^53 (a dhash batch with
    one undecodable payload corrupted EVERY hash in the batch by up to
    ±128 in the low bits). Long columns are built as object Series of
    exact Python ints; Arrow converts object int+None to int64 losslessly."""
    cols = {}
    for f in schema.fields:
        vals = [r[f.name] for r in rows]
        if isinstance(f.dataType, (T.LongType, T.IntegerType)):
            cols[f.name] = pd.Series(vals, dtype=object)
        else:
            cols[f.name] = pd.Series(vals, dtype=object) if not rows else pd.Series(vals)
    return pd.DataFrame(cols, columns=[f.name for f in schema.fields])


def _map_media(
    media: DataFrame,
    media_type: str | None,
    schema: T.StructType,
    row_fn,
    null_row_fn,
    batch_partitions: int | None,
) -> DataFrame:
    """Shared Arrow mapInPandas plumbing for every media stage: optional
    media_type filter, (media_id, payload) projection, per-batch loop with
    the NULL-payload short-circuit (missing media yields the stage's null
    row — a decoder never sees b''). One definition so batch handling and
    the null policy cannot diverge across image/audio/resize."""

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:
                    rows.append(null_row_fn(media_id))
                else:
                    rows.append(row_fn(media_id, bytes(payload)))
            yield _exact_frame(rows, schema)

    src = media
    if media_type is not None:
        src = src.filter(F.col("media_type") == media_type)
    src = src.select("media_id", "payload")
    if batch_partitions:
        src = src.repartition(batch_partitions)
    return src.mapInPandas(_run, schema)


def _decode_image_bytes(payload: bytes) -> tuple[int, int, list[float]]:
    """Default decode: REAL header-only dimension parse for PNG/GIF/BMP/
    JPEG/TIFF/WebP (datapipe/mediacodec.py, pure struct reads — no PIL)
    plus a normalized byte-histogram content feature. Formats without a
    stdlib header parser (AVIF, ...) raise NotImplementedError — the
    mapInPandas row loop converts that into NULL feature columns, and a
    full pixel decoder injects via the ``decoder=`` seam without touching
    the plan."""
    from nutch_spark.datapipe.mediacodec import byte_histogram, sniff_image_dimensions

    if payload is None:
        raise NotImplementedError("real image decoding requires PIL/libvips")
    dims = sniff_image_dimensions(payload)
    if dims is None:
        raise NotImplementedError(
            "no stdlib header parser for this image format — inject a "
            "PIL/libvips decoder via extract_image_features(decoder=...)"
        )
    _fmt, width, height = dims
    return width, height, byte_histogram(payload)


def extract_image_features(
    media: DataFrame,
    *,
    batch_partitions: int | None = None,
    decoder=None,
) -> DataFrame:
    """mapInPandas feature extraction over the binary payload column.

    ``decoder`` is the injection point for a real image library:
    ``payload_bytes -> (width, height, feature_list)``. It is captured in the
    mapInPandas closure, so it pickles to the executors with the stage — a
    production PIL/libvips decoder (or a test fake) slots in without touching
    the plan, schema, or batch shape. Defaults to the deterministic stub.
    """
    decode = decoder or _decode_image_bytes

    def row(media_id, raw):
        try:
            w, h, feat = decode(raw)
        except NotImplementedError:
            # undecodable format: byte-level columns stay real, decoded
            # columns go NULL — a 100 TB job must not die on one exotic blob
            w = h = feat = None
        return {
            "media_id": media_id,
            "n_bytes": len(raw),
            "sha1": hashlib.sha1(raw).hexdigest(),
            "width": w,
            "height": h,
            "feature": feat,
        }

    def null_row(media_id):
        return {
            "media_id": media_id,
            "n_bytes": 0,
            "sha1": None,
            "width": None,
            "height": None,
            "feature": None,
        }

    return _map_media(
        media, None, IMAGE_FEATURES_SCHEMA, row, null_row, batch_partitions
    )


MEDIA_INFO_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("brand", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_s", T.DoubleType(), True),
    ]
)


def probe_media_info(
    media: DataFrame, *, batch_partitions: int | None = None
) -> DataFrame:
    """Header-only ISO-BMFF probe (AVIF/HEIC/MP4/MOV): brand, ispe dims,
    mvhd duration — the real-decoder replacement for carrying ``duration_s``
    in the metadata map. Feed the result's ``duration_s`` into
    :func:`frame_sample_plan` via ``element_at``-style metadata, or join it
    back on ``media_id``. Map-only; non-BMFF payloads yield NULL columns."""
    from nutch_spark.datapipe.mediacodec import sniff_isobmff

    def row(media_id, raw):
        info = sniff_isobmff(raw) or {}
        return {
            "media_id": media_id,
            "brand": info.get("brand"),
            "width": info.get("width"),
            "height": info.get("height"),
            "duration_s": info.get("duration_s"),
        }

    def null_row(media_id):
        return {
            "media_id": media_id,
            "brand": None,
            "width": None,
            "height": None,
            "duration_s": None,
        }

    return _map_media(
        media, None, MEDIA_INFO_SCHEMA, row, null_row, batch_partitions
    )


def frame_sample_plan(media: DataFrame, *, every_n_seconds: int = 10) -> DataFrame:
    """Video frame-sampling *plan*: one row per (media_id, frame_ts) derived
    from duration metadata — the decode itself is the stubbed map stage."""
    duration = F.coalesce(F.element_at("meta", "duration_s").cast("int"), F.lit(0))
    return media.filter(F.col("media_type") == "video").select(
        "media_id",
        F.explode(
            F.sequence(F.lit(0), F.greatest(duration - 1, F.lit(0)), F.lit(every_n_seconds))
        ).alias("frame_ts"),
    )


_MAGIC = {  # (hex prefix, sniffed type) — functions/mime.py magic subset
    "jpeg": "ffd8ff",
    "png": "89504e470d0a1a0a",
    "gif": "474946383961",
}


def binary_metadata(
    media: DataFrame,
    *,
    payload: str = "payload",
    key: str = "media_id",
    digest: str = "bytes",
) -> DataFrame:
    """The NO-DECODE multimodal path: byte length, md5 digest and
    magic-byte type sniff over an opaque binary column — pure JVM column
    expressions, so a 100 TB media table never leaves the scan stage and
    the payload column is pruned from every query that skips it.
    """
    p = F.col(payload)
    hexp = F.lower(F.hex(p))
    sniff = F.when(hexp.startswith(_MAGIC["jpeg"]), "image/jpeg").when(
        hexp.startswith(_MAGIC["png"]), "image/png"
    ).when(hexp.startswith(_MAGIC["gif"]), "image/gif").otherwise("application/octet-stream")
    # digest="hex" digests the canonical hex form instead of the raw bytes —
    # the cross-engine-certifiable variant (DuckDB's md5 is VARCHAR-only)
    dig = F.md5(hexp) if digest == "hex" else F.md5(p)
    return media.select(
        F.col(key),
        F.length(p).cast("long").alias("n_bytes"),
        dig.alias("md5_hex"),
        sniff.alias("sniffed_type"),
    )


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("src_width", T.IntegerType(), True),
        T.StructField("src_height", T.IntegerType(), True),
        T.StructField("width", T.IntegerType(), False),
        T.StructField("height", T.IntegerType(), False),
        T.StructField("resized", T.BinaryType(), True),
    ]
)


def _resize_image_bytes(
    payload: bytes, width: int, height: int
) -> tuple[int, int, bytes]:
    """Default resize: REAL source dimensions from the stdlib header parse;
    the re-encoded output is a tagged digest placeholder (pixel resampling
    + re-encode genuinely needs a codec — PIL injects via ``resizer=``).
    The signature (payload, w, h) -> (src_w, src_h, resized_bytes) is the
    injection contract. Raises NotImplementedError for formats the header
    parser doesn't cover; the row loop converts that to a NULL row."""
    if payload is None:
        raise NotImplementedError("real image resizing requires PIL/libvips")
    src_w, src_h, _ = _decode_image_bytes(payload)
    tag = f"resized:{width}x{height}:".encode()
    return src_w, src_h, tag + hashlib.sha256(payload).digest()


def resize_images(
    media: DataFrame,
    width: int,
    height: int,
    *,
    batch_partitions: int | None = None,
    resizer=None,
) -> DataFrame:
    """Batch image resize over the binary payload column — the same
    mapInPandas slot as ``extract_image_features`` (Arrow batches, narrow,
    one Python invocation per batch). ``resizer`` injects a real library:
    ``(payload, w, h) -> (src_w, src_h, resized_bytes)``."""
    do_resize = resizer or _resize_image_bytes

    def row(media_id, raw):
        try:
            sw, sh, out = do_resize(raw, width, height)
        except NotImplementedError:
            sw = sh = out = None
        return {
            "media_id": media_id,
            "src_width": sw,
            "src_height": sh,
            "width": width,
            "height": height,
            "resized": out,
        }

    def null_row(media_id):
        return {
            "media_id": media_id,
            "src_width": None,
            "src_height": None,
            "width": width,
            "height": height,
            "resized": None,
        }

    return _map_media(
        media, "image", RESIZED_SCHEMA, row, null_row, batch_partitions
    )


AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("duration_s", T.FloatType(), True),
        T.StructField("mfcc", T.ArrayType(T.FloatType()), True),
    ]
)


def _decode_audio_bytes(payload: bytes) -> tuple[int, float, list[float]]:
    """Default audio decode: REAL RIFF/WAVE PCM parse (sample rate, exact
    duration from the data chunk) with a 13-bin rFFT spectral envelope as
    the mfcc-slot feature (datapipe/mediacodec.py, stdlib + numpy only).
    Non-WAV / compressed audio raises NotImplementedError — the row loop
    NULLs the feature columns; a real codec injects via ``decoder=``
    (signature ``payload -> (sample_rate, duration_s, mfcc_list)``)."""
    from nutch_spark.datapipe.mediacodec import (
        parse_flac_streaminfo,
        parse_wav,
        spectral_envelope,
    )

    if payload is None:
        raise NotImplementedError("real audio decoding requires soundfile/librosa")
    wav = parse_wav(payload)
    if wav is None and payload[:4] == b"fLaC":
        # lossless from-spec FLAC decode → full samples, same features
        from nutch_spark.datapipe.mediacodec import decode_flac_samples

        wav = decode_flac_samples(payload)
    if wav is None and payload[:4] == b"FORM":
        # AIFF / uncompressed AIFF-C: big-endian PCM, same feature path
        from nutch_spark.datapipe.mediacodec import parse_aiff

        wav = parse_aiff(payload)
    if wav is None and payload[:1] in (b"\xff", b"I"):
        # MPEG-1 Layer I/II: from-spec bitstream decode (Layer III falls
        # through to the header-only MP3 parse below — see
        # decode_mpeg_audio_samples's scoping note)
        from nutch_spark.datapipe.mediacodec import decode_mpeg_audio_samples

        wav = decode_mpeg_audio_samples(payload)
    if wav is None:
        # FLAC STREAMINFO (when frame decode failed) / MP3 frame headers
        # give real rate/duration without decoding frames; the spectral
        # feature stays NULL (samples are compressed)
        from nutch_spark.datapipe.mediacodec import parse_mp3_info

        for probe in (parse_flac_streaminfo, parse_mp3_info):
            info = probe(payload)
            if info is not None:
                return info["sample_rate"], info["duration_s"], None
        raise NotImplementedError(
            "no stdlib parser for this audio format (PCM WAV / FLAC / MP3 "
            "headers only) — inject a soundfile/librosa decoder via "
            "extract_audio_features(decoder=...)"
        )
    env = spectral_envelope(wav["samples"], wav["sample_rate"])
    return wav["sample_rate"], wav["duration_s"], env


def extract_audio_features(
    media: DataFrame,
    *,
    batch_partitions: int | None = None,
    decoder=None,
) -> DataFrame:
    """Audio feature extraction over the binary payload — identical Arrow
    plumbing to the image path; ``decoder`` injects a real audio library."""
    decode = decoder or _decode_audio_bytes

    def row(media_id, raw):
        try:
            sr, dur, mfcc = decode(raw)
        except NotImplementedError:
            sr = dur = mfcc = None
        return {
            "media_id": media_id,
            "n_bytes": len(raw),
            "sample_rate": sr,
            "duration_s": dur,
            "mfcc": mfcc,
        }

    def null_row(media_id):
        return {
            "media_id": media_id,
            "n_bytes": 0,
            "sample_rate": None,
            "duration_s": None,
            "mfcc": None,
        }

    return _map_media(
        media, "audio", AUDIO_FEATURES_SCHEMA, row, null_row, batch_partitions
    )


# ---------------------------------------------------------------------------
# Perceptual image near-dup: dHash (difference hash) + banded Hamming join
# ---------------------------------------------------------------------------

IMAGE_DHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("dhash", T.LongType(), True),  # 64-bit, None=undecodable
    ]
)


def image_dhash(
    media: DataFrame,
    *,
    batch_partitions: int | None = None,
    hash_fn=None,
) -> DataFrame:
    """(media_id, payload) → (media_id, dhash): the standard 64-bit
    difference hash over REAL decoded pixels. Decode is
    mediacodec.decode_gray_pixels's magic dispatch — from-spec pure-Python
    BMP (incl. paletted/RLE), PNG (zlib IDAT + the five scanline filters),
    GIF (LZW), JPEG (baseline AND progressive, T.81 Huffman + IDCT,
    EXIF-orientation-normalized), baseline TIFF (strips, PackBits/LZW/
    Deflate, predictor 2), WebP through the system libwebp (round 14),
    and AVIF/HEIC through the system libavif/libheif (round 15) — for
    the codec-library formats a MISSING library raises
    NotImplementedError into a NULL hash, never silently-wrong pixels.
    Anything else yields NULL and would plug in through ``hash_fn``
    exactly like the decoder seams elsewhere. Map-only."""
    from nutch_spark.datapipe.mediacodec import dhash64

    compute = hash_fn or dhash64

    def row(media_id, raw):
        try:
            h = compute(bytes(raw))
        except Exception:  # noqa: BLE001 — one bad blob never kills the job
            h = None
        # store as SIGNED 64-bit (Spark LongType): wrap the top bit
        if h is not None and h >= 1 << 63:
            h -= 1 << 64
        return {"media_id": media_id, "dhash": h}

    def null_row(media_id):
        return {"media_id": media_id, "dhash": None}

    return _map_media(
        media, None, IMAGE_DHASH_SCHEMA, row, null_row, batch_partitions
    )


def dhash_band_keys(max_hamming: int, bands: int) -> Column:
    """The ``bands`` disjoint bit-bands of the 64-bit ``dhash`` column as
    an array of band keys (band b = bits [b·w, (b+1)·w), w = 64 // bands).
    Two hashes within Hamming distance ``max_hamming`` agree on at least
    one band key whenever max_hamming < bands (pigeonhole), so
    ``max_hamming >= bands`` raises ``ValueError``. Shared by the batch
    and streaming dHash near-dup operators."""
    if max_hamming >= bands:
        raise ValueError(
            f"max_hamming={max_hamming} needs bands > max_hamming "
            f"(pigeonhole guarantee), got bands={bands}"
        )
    width = 64 // bands
    mask = (1 << width) - 1
    return F.array(
        *[
            F.shiftrightunsigned("dhash", b * width).bitwiseAND(F.lit(mask))
            for b in range(bands)
        ]
    )


def dhash_near_dup(
    hashes: DataFrame,
    *,
    max_hamming: int = 3,
    bands: int = 4,
    max_band_bucket: int | None = None,
) -> DataFrame:
    """Near-duplicate image pairs from dHash values: (id_a, id_b, hamming)
    with id_a < id_b and hamming <= max_hamming.

    NOTE: the default ``max_hamming`` tightened from 4 to 3 in round 11
    (the pigeonhole guarantee needs max_hamming < bands and the default
    band count is 4). Callers that relied on the old 4-bit radius should
    pass ``max_hamming=4, bands=5`` explicitly.

    100 TB shape — the SimHash trick, not an all-pairs join: a pair within
    Hamming distance d must agree EXACTLY on at least one of ``bands``
    disjoint bit-bands whenever d < bands (pigeonhole), so candidates come
    from band equi-joins on 16-bit band keys, then one JVM-side
    ``bit_count(xor)`` verifies the true distance. Requires
    max_hamming < bands (the pigeonhole guarantee — asserted).

    Two round-14 hardenings for the dup-flood regime (a viral image at
    web scale has millions of bitwise-identical copies):

    - **Exact-dup collapse**: identical hashes pair through a single
      equality self-join on ``dhash`` (hamming 0 by construction, output-
      sized); the banded candidate join runs over DISTINCT hash values
      only — a 10M-copy flood contributes ONE row to the banded join
      instead of 10M·bands rows and a 10^14·bands candidate blowup.
      Distinct-hash pairs expand back to member pairs at the very end,
      which is again output-sized work.
    - **Hot-band-key cap** (``max_band_bucket``, default None = OFF so the
      pigeonhole FULL-recall guarantee for d < bands holds exactly as
      documented; the 100 TB path opts in explicitly): a 16-bit band key
      shared by more than this many DISTINCT hash values marks a
      saturated band (at 1B distinct images, birthday pressure puts ~15k
      distinct hashes behind every 16-bit key — quadratic per bucket);
      that band's candidates for the hot key are dropped, and a true
      near-dup pair still surfaces through any of its other, non-hot
      agreeing bands. The census is ≤ 2^16·bands rows and broadcasts.
      Recall caveat: a pair whose ONLY agreeing band is hot is missed —
      the documented LSH-style tradeoff, same as minhash_lsh_pairs.
      Callers that enable the cap change the operator's SEMANTICS, not
      just its plan — the ``mm_dhash_flood`` oracle certifies the capped
      semantics ACTIVE on planted hot clusters; the cap stays opt-in so
      certified full-recall consumers (``mm_dhash_neardup`` and the
      audio/video near-dup wrappers) keep the semantics their oracles
      model."""
    keys = dhash_band_keys(max_hamming, bands)
    h = (
        hashes.filter(F.col("dhash").isNotNull())
        .select("media_id", "dhash")
        .localCheckpoint(eager=False)
    )
    # exact-duplicate pairs: one shuffle on the 64-bit hash; the join's
    # output IS the answer for identical images (hamming 0)
    exact = bucket_pairs(h, "media_id", ["dhash"], max_bucket=None).withColumn(
        "hamming", F.lit(0).cast("int")
    )
    # banded candidates over DISTINCT hash values only
    bd = h.select("dhash").distinct().select(
        "dhash", F.posexplode(keys).alias("band", "bkey")
    )
    hash_pairs = (
        bucket_pairs(bd, "dhash", ["band", "bkey"], max_bucket=max_band_bucket)
        .select(F.col("id_a").alias("_ha"), F.col("id_b").alias("_hb"))
        .dropDuplicates(["_ha", "_hb"])
        .withColumn(
            "hamming", F.bit_count(F.col("_ha").bitwiseXOR(F.col("_hb"))).cast("int")
        )
        .filter(F.col("hamming") <= max_hamming)
    )
    # expand verified hash pairs back to member pairs (each unordered
    # member pair belongs to exactly ONE unordered hash pair, so no dedup
    # is needed; least/greatest restores the id_a < id_b contract)
    amem = h.select(F.col("dhash").alias("_ha"), F.col("media_id").alias("_ia"))
    bmem = h.select(F.col("dhash").alias("_hb"), F.col("media_id").alias("_ib"))
    near = (
        hash_pairs.join(amem, "_ha")
        .join(bmem, "_hb")
        .select(
            F.least("_ia", "_ib").alias("id_a"),
            F.greatest("_ia", "_ib").alias("id_b"),
            "hamming",
        )
    )
    return exact.unionByName(near)


EXIF_META_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("orientation", T.IntegerType(), True),
        T.StructField("make", T.StringType(), True),
        T.StructField("model", T.StringType(), True),
        T.StructField("datetime", T.StringType(), True),
        T.StructField("gps_lat", T.DoubleType(), True),
        T.StructField("gps_lon", T.DoubleType(), True),
    ]
)


def exif_metadata(
    media: DataFrame,
    *,
    batch_partitions: int | None = None,
) -> DataFrame:
    """(media_id, payload) → the EXIF facts a filtering/geo-bucketing
    pipeline wants beyond orientation (mediacodec.parse_exif — TIFF 6.0 /
    EXIF 2.3 IFD walks): orientation, make, model, DateTimeOriginal
    (IFD0 DateTime fallback), GPS decimal degrees. Tika surfaces the
    same fields (tiff:Make/Model, exif:DateTimeOriginal, geo:lat/long).
    NULL row for payloads without EXIF. 100 TB: map-only Arrow stage."""
    from nutch_spark.datapipe.mediacodec import parse_exif

    def row(media_id, raw):
        try:
            info = parse_exif(raw)
        except Exception:  # noqa: BLE001 — one bad blob never kills the job
            info = None
        if info is None:
            return null_row(media_id)
        return {"media_id": media_id, **info}

    def null_row(media_id):
        return {
            "media_id": media_id, "orientation": None, "make": None,
            "model": None, "datetime": None, "gps_lat": None,
            "gps_lon": None,
        }

    return _map_media(
        media, None, EXIF_META_SCHEMA, row, null_row, batch_partitions
    )


MP4_INFO_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("brand", T.StringType(), True),
        T.StructField("duration_ms", T.LongType(), True),
        T.StructField("n_tracks", T.IntegerType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("video_codec", T.StringType(), True),
        T.StructField("audio_codec", T.StringType(), True),
    ]
)


def mp4_info(
    media: DataFrame,
    *,
    batch_partitions: int | None = None,
) -> DataFrame:
    """(media_id, payload) → MP4/MOV container identity
    (mediacodec.parse_mp4_info — ISO-BMFF moov/trak walk): ftyp brand,
    mvhd-exact duration, track census, first video trak's coded dims +
    codec fourcc, first audio codec fourcc. The symmetric twin of
    ``matroska_info`` so the two dominant video containers expose the
    same identity columns; no codec payload is decoded. NULL row for
    non-ISO-BMFF payloads. 100 TB: map-only Arrow stage, same plumbing
    as every media stage."""
    from nutch_spark.datapipe.mediacodec import parse_mp4_info

    def row(media_id, raw):
        try:
            info = parse_mp4_info(raw)
        except Exception:  # noqa: BLE001 — one bad blob never kills the job
            info = None
        if info is None:
            return null_row(media_id)
        return {"media_id": media_id, **info}

    def null_row(media_id):
        return {
            "media_id": media_id, "brand": None, "duration_ms": None,
            "n_tracks": None, "width": None, "height": None,
            "video_codec": None, "audio_codec": None,
        }

    return _map_media(
        media, None, MP4_INFO_SCHEMA, row, null_row, batch_partitions
    )


MATROSKA_INFO_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("doctype", T.StringType(), True),
        T.StructField("duration_ms", T.LongType(), True),
        T.StructField("n_tracks", T.IntegerType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("video_codec", T.StringType(), True),
        T.StructField("audio_codec", T.StringType(), True),
    ]
)


def matroska_info(
    media: DataFrame,
    *,
    batch_partitions: int | None = None,
) -> DataFrame:
    """(media_id, payload) → Matroska/WebM container identity
    (mediacodec.parse_matroska — RFC 8794 EBML walk): doctype,
    TimestampScale-exact duration, track census, first video track's
    dims + codec id, first audio codec id. The WebM sibling of the
    ISO-BMFF mvhd path that feeds the frame-sample plan; no codec
    payload is decoded. NULL row for non-EBML payloads. 100 TB: map-only
    Arrow stage, same plumbing as every media stage."""
    from nutch_spark.datapipe.mediacodec import parse_matroska

    def row(media_id, raw):
        try:
            info = parse_matroska(raw)
        except Exception:  # noqa: BLE001 — one bad blob never kills the job
            info = None
        if info is None:
            return null_row(media_id)
        return {
            "media_id": media_id,
            "doctype": info["doctype"],
            "duration_ms": info["duration_ms"],
            "n_tracks": info["n_tracks"],
            "width": info["width"],
            "height": info["height"],
            "video_codec": info["video_codec"],
            "audio_codec": info["audio_codec"],
        }

    def null_row(media_id):
        return {
            "media_id": media_id, "doctype": None, "duration_ms": None,
            "n_tracks": None, "width": None, "height": None,
            "video_codec": None, "audio_codec": None,
        }

    return _map_media(
        media, None, MATROSKA_INFO_SCHEMA, row, null_row, batch_partitions
    )


def dhash_dup_clusters(
    hashes: DataFrame,
    *,
    max_hamming: int = 3,
    bands: int = 4,
    max_band_bucket: int | None = None,
    max_iter: int = 20,
) -> DataFrame:
    """Flood-proof CLUSTER output for dHash near-dup: (media_id, component,
    is_duplicate), ONE row per non-null input hash — LINEAR in members,
    where :func:`dhash_near_dup` emits O(k²) rows for a k-copy flood (a
    10M-copy viral image is ~5·10¹³ pair rows) only for dup_components to
    re-collapse them. Consumers that need cluster membership — which is
    the whole retention chain — should use this.

    Construction: identical hashes collapse to EXACT groups (one groupBy,
    representative = min member id); the banded Hamming join of
    dhash_near_dup runs over one representative per DISTINCT hash (its
    existing distinct-hash collapse, minus the member-pair expansion);
    verified near pairs between representatives plus the exact groups feed
    dup_components' quotient path, so label propagation iterates over
    distinct hashes only and members surface exactly once, in the final
    linear expansion join. Component labels are the cluster's min member
    id; the transitive closure over near-pairs is the same relation
    dup_components(nodes, dhash_near_dup(...)) computes, without pairs
    ever materializing."""
    from nutch_spark.datapipe.dedup import dup_components

    h = (
        hashes.filter(F.col("dhash").isNotNull())
        .select("media_id", "dhash")
        .localCheckpoint(eager=False)
    )
    groups = h.groupBy("dhash").agg(F.min("media_id").alias("_rep"))
    members = h.join(groups, "dhash").select(
        "media_id", F.col("_rep").alias("rep")
    )
    # representatives carry their hash into the banded join: one member
    # per distinct hash, so the exact-dup self-join inside dhash_near_dup
    # matches nothing and the member-pair expansion is the identity
    reps = groups.select(F.col("_rep").alias("media_id"), "dhash")
    rep_pairs = dhash_near_dup(
        reps,
        max_hamming=max_hamming,
        bands=bands,
        max_band_bucket=max_band_bucket,
    )
    return dup_components(
        h.select("media_id"),
        rep_pairs.select("id_a", "id_b"),
        "media_id",
        max_iter=max_iter,
        groups=members,
    )


MP3_SIDEINFO_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("n_frames", T.IntegerType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("n_channels", T.IntegerType(), True),
        T.StructField("vbr", T.BooleanType(), True),
        T.StructField("duration_ms", T.LongType(), True),
        T.StructField("bitrate_kbps", T.IntegerType(), True),
        T.StructField("stream_sig", T.LongType(), True),
        T.StructField("p23_0", T.IntegerType(), True),
        T.StructField("bv_0", T.IntegerType(), True),
        T.StructField("bt_0", T.IntegerType(), True),
    ]
)


def mp3_sideinfo(
    media: DataFrame,
    *,
    batch_partitions: int | None = None,
) -> DataFrame:
    """(media_id, payload) → MPEG-1 Layer III frame census + stream
    signature (mediacodec.parse_mp3_sideinfo — the §2.4.1.7 fixed-width
    side-information walk; the sample-reconstruction tables stay scoped
    out). Output per payload: exact frame count / duration / VBR flag /
    channel+rate facts, a 60-bit md5 ``stream_sig`` over every frame's
    header+side-info bytes (ID3 tags and trailing junk excluded — the
    column MP3s join EXACT stream-level dedup on, closing the '.mp3
    NULL-fingerprints' gap at the identity level honest decode can't
    reach without the normative tables), and the first frame's
    granule-0 part2_3_length / big_values / block_type (``p23_0`` /
    ``bv_0`` / ``bt_0``) as bit-unpacking witnesses. NULL row for
    non-MP3 payloads. 100 TB: map-only Arrow stage, same plumbing as
    every media stage."""
    from nutch_spark.datapipe.mediacodec import parse_mp3_sideinfo

    def row(media_id, raw):
        try:
            info = parse_mp3_sideinfo(bytes(raw))
        except Exception:  # noqa: BLE001 — one bad blob
            info = None
        if info is None:
            return null_row(media_id)
        sig = info["stream_sig"]
        if sig >= 1 << 63:
            sig -= 1 << 64
        g0 = info["frames"][0]["granules"][0]
        return {
            "media_id": media_id,
            "n_frames": info["n_frames"],
            "sample_rate": info["sample_rate"],
            "n_channels": info["n_channels"],
            "vbr": info["vbr"],
            "duration_ms": info["n_frames"] * 1152 * 1000 // info["sample_rate"],
            "bitrate_kbps": info["bitrate_kbps"],
            "stream_sig": sig,
            "p23_0": g0["part2_3_length"],
            "bv_0": g0["big_values"],
            "bt_0": g0["block_type"],
        }

    def null_row(media_id):
        return {
            "media_id": media_id,
            "n_frames": None,
            "sample_rate": None,
            "n_channels": None,
            "vbr": None,
            "duration_ms": None,
            "bitrate_kbps": None,
            "stream_sig": None,
            "p23_0": None,
            "bv_0": None,
            "bt_0": None,
        }

    return _map_media(
        media, None, MP3_SIDEINFO_SCHEMA, row, null_row, batch_partitions
    )


OGG_IDENTITY_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("codec", T.StringType(), True),
        T.StructField("n_streams", T.IntegerType(), True),
        T.StructField("n_pages", T.IntegerType(), True),
        T.StructField("n_packets", T.IntegerType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("n_channels", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),
        T.StructField("stream_sig", T.LongType(), True),
        T.StructField("crc_ok", T.BooleanType(), True),
        T.StructField("eos", T.BooleanType(), True),
    ]
)


def ogg_identity(
    media: DataFrame,
    *,
    batch_partitions: int | None = None,
) -> DataFrame:
    """(media_id, payload) → Ogg stream identity
    (mediacodec.parse_ogg_info — the RFC 3533 page walk): codec
    (Vorbis/Opus/Theora/Ogg-FLAC/Speex), page/packet census, id-header
    rate/channel facts, true duration from the final granule position,
    and a 60-bit md5 ``stream_sig`` over the primary stream's
    length-delimited PACKET bytes — invariant under repagination, so a
    remuxed copy of the same encoded stream lands on the same signature
    and .ogg/.opus join exact stream-level dedup the way
    ``mp3_sideinfo`` put .mp3 there. Codec sample decode stays scoped
    out (normative codebooks — COVERAGE.md Known gaps). NULL row for
    non-Ogg payloads (page 0 must be a CRC-valid BOS page, the
    false-positive guard). 100 TB: map-only Arrow stage, zero shuffle."""
    from nutch_spark.datapipe.mediacodec import parse_ogg_info

    def row(media_id, raw):
        try:
            info = parse_ogg_info(bytes(raw))
        except Exception:  # noqa: BLE001 — one bad blob
            info = None
        if info is None:
            return null_row(media_id)
        return {
            "media_id": media_id,
            "codec": info["codec"],
            "n_streams": info["n_streams"],
            "n_pages": info["n_pages"],
            "n_packets": info["n_packets"],
            "sample_rate": info["sample_rate"],
            "n_channels": info["n_channels"],
            "duration_ms": info["duration_ms"],
            # 60 bits (15 md5 hex chars) always fit a signed long
            "stream_sig": info["stream_sig"],
            "crc_ok": info["crc_ok"],
            "eos": info["eos"],
        }

    def null_row(media_id):
        return {
            "media_id": media_id,
            "codec": None,
            "n_streams": None,
            "n_pages": None,
            "n_packets": None,
            "sample_rate": None,
            "n_channels": None,
            "duration_ms": None,
            "stream_sig": None,
            "crc_ok": None,
            "eos": None,
        }

    return _map_media(
        media, None, OGG_IDENTITY_SCHEMA, row, null_row, batch_partitions
    )


AUDIO_TAGS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("container", T.StringType(), True),
        T.StructField("title", T.StringType(), True),
        T.StructField("artist", T.StringType(), True),
        T.StructField("album", T.StringType(), True),
        T.StructField("n_tags", T.IntegerType(), True),
        T.StructField("vendor", T.StringType(), True),
    ]
)


def audio_tags(
    media: DataFrame,
    *,
    batch_partitions: int | None = None,
) -> DataFrame:
    """(media_id, payload) → audio metadata tags
    (mediacodec.parse_audio_tags): title/artist/album from ID3v2
    (v2.2/2.3/2.4 frames, all four declared text encodings),
    VorbisComment in Ogg (Vorbis/Opus comment headers via the RFC 3533
    page walk), and FLAC's native VORBIS_COMMENT block — the audio
    analogue of the image EXIF surface, the fields parse-tika exposes
    via Mp3Parser/VorbisParser. NULL row when no tag system is present.
    100 TB: map-only Arrow stage, zero shuffle."""
    from nutch_spark.datapipe.mediacodec import parse_audio_tags

    def row(media_id, raw):
        try:
            info = parse_audio_tags(bytes(raw))
        except Exception:  # noqa: BLE001 — one bad blob
            info = None
        if info is None:
            return null_row(media_id)
        return {
            "media_id": media_id,
            "container": info["container"],
            "title": info["title"],
            "artist": info["artist"],
            "album": info["album"],
            "n_tags": info["n_tags"],
            "vendor": info["vendor"],
        }

    def null_row(media_id):
        return {
            "media_id": media_id,
            "container": None,
            "title": None,
            "artist": None,
            "album": None,
            "n_tags": None,
            "vendor": None,
        }

    return _map_media(
        media, None, AUDIO_TAGS_SCHEMA, row, null_row, batch_partitions
    )


AUDIO_FP_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("afp", T.LongType(), True),  # 64-bit, None=non-PCM
    ]
)


def audio_fingerprints(
    media: DataFrame,
    *,
    batch_partitions: int | None = None,
    fingerprint_fn=None,
) -> DataFrame:
    """(media_id, payload) → (media_id, afp): the 64-bit spectral-peak
    fingerprint over REAL audio decode (mediacodec.audio_fingerprint —
    rFFT per time frame, dominant-band one-hot bits) of PCM / G.711
    µ-law/A-law / IMA-ADPCM WAV, FLAC, AIFF, and MPEG-1 Layer I/II —
    lossless codecs fingerprint identically by construction, and the
    lossy ones' quantization noise stays far under the dominant-band
    cut, so every container of the same audio lands on the same 64 bits.
    Same shape as the image dHash, so ``dhash_near_dup`` pairs
    near-identical audio with the identical banded Hamming join.
    MPEG-1 Layer III needs a codec library → NULL, pluggable through
    ``fingerprint_fn``."""
    from nutch_spark.datapipe.mediacodec import audio_fingerprint

    compute = fingerprint_fn or audio_fingerprint

    def row(media_id, raw):
        try:
            fp = compute(bytes(raw))
        except Exception:  # noqa: BLE001
            fp = None
        if fp is not None and fp >= 1 << 63:
            fp -= 1 << 64
        return {"media_id": media_id, "afp": fp}

    def null_row(media_id):
        return {"media_id": media_id, "afp": None}

    return _map_media(media, None, AUDIO_FP_SCHEMA, row, null_row, batch_partitions)


EMBEDDED_DHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("img_idx", T.IntegerType(), False),
        T.StructField("dhash", T.LongType(), True),
    ]
)


def embedded_image_dhash(
    media: DataFrame,
    *,
    batch_partitions: int | None = None,
    max_images: int = 64,
    hash_fn=None,
) -> DataFrame:
    """Perceptual hashes of the raster images EMBEDDED in container
    documents: ``parse_binary.extract_embedded_images`` unpacks each blob
    (PDF DCTDecode XObjects, zip-packaged OOXML/ODF/EPUB media members,
    email image/* parts — Tika's EmbeddedDocumentExtractor surface), and
    each image hashes through ``dhash64``. Output keys (media_id,
    img_idx), one row per embedded image (documents without images emit
    nothing), so embedded media joins ``dhash_near_dup``'s banded Hamming
    space alongside fetched standalone images — a re-packaged copy of a
    picture clusters with its original. 100 TB shape: identical to
    image_dhash — one map-only Arrow stage, zero shuffle; the payload
    column prunes away from every non-media query."""
    import pandas as pd

    from nutch_spark.datapipe.mediacodec import dhash64
    from nutch_spark.operators.parse_binary import extract_embedded_images

    compute = hash_fn or dhash64

    def run(batches):
        for pdf in batches:
            rows = []
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:
                    continue
                try:
                    images = extract_embedded_images(
                        bytes(payload), max_images=max_images
                    )
                except Exception:  # noqa: BLE001 — one bad container
                    continue
                for idx, img in enumerate(images):
                    try:
                        h = compute(img)
                    except Exception:  # noqa: BLE001
                        h = None
                    if h is not None and h >= 1 << 63:
                        h -= 1 << 64  # signed-64 wrap like image_dhash
                    rows.append(
                        {"media_id": media_id, "img_idx": idx, "dhash": h}
                    )
            yield _exact_frame(rows, EMBEDDED_DHASH_SCHEMA)

    src = media.select("media_id", "payload")
    if batch_partitions:
        src = src.repartition(batch_partitions)
    return src.mapInPandas(run, EMBEDDED_DHASH_SCHEMA)


VIDEO_FRAME_DHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("dhash", T.LongType(), True),
    ]
)


def video_frame_dhash(
    media: DataFrame,
    *,
    batch_partitions: int | None = None,
    max_frames: int = 64,
    stride: int = 1,
    hash_fn=None,
) -> DataFrame:
    """Perceptual hashes of VIDEO frames: each (media_id, payload) blob
    walks ``mediacodec.extract_avi_mjpeg_frames`` (RIFF/AVI container,
    Motion-JPEG video stream — the one mainstream video format whose
    frames are plain JPEG, so the already-certified T.81 decoder covers
    the pixels with no new codec), ``mediacodec.extract_gif_frames``
    (animated GIF — the web's most common short-clip format — composited
    per the GIF89a disposal / transparency rules and re-encoded as
    lossless gray BMPs), or ``mediacodec.extract_mov_mjpeg_frames``
    (QuickTime/MP4 Motion-JPEG via the stsd/stsz/stsc/stco sample
    tables — the photo-camera-era .mov sibling). Every
    ``stride``-th frame hashes through ``dhash64``, and the output keys
    (media_id, frame_idx) join ``dhash_near_dup``'s banded Hamming
    space — a re-encoded or re-containered copy of a clip clusters with
    its original frame by frame, and a still image extracted from a
    video clusters with the video itself. Payloads that are neither
    (or decode to zero frames; single-image GIFs stay on the still-image
    path) emit nothing, exactly like containers without embedded
    images. ``frame_idx`` is the index WITHIN the sampled sequence (the
    source frame number is frame_idx * stride).

    100 TB shape: identical to image_dhash — one map-only Arrow stage,
    zero shuffle; the payload column prunes away from every non-media
    query, and ``max_frames`` bounds per-row work against hostile or
    hour-long inputs."""
    import pandas as pd  # noqa: F401 — _exact_frame builds the batches

    from nutch_spark.datapipe.mediacodec import (
        dhash64,
        extract_avi_mjpeg_frames,
        extract_gif_frames,
        extract_mov_mjpeg_frames,
    )

    compute = hash_fn or dhash64

    def run(batches):
        for pdf in batches:
            rows = []
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:
                    continue
                try:
                    raw = bytes(payload)
                    info = (
                        extract_avi_mjpeg_frames(
                            raw, max_frames=max_frames * stride
                        )
                        or extract_gif_frames(
                            raw, max_frames=max_frames * stride
                        )
                        or extract_mov_mjpeg_frames(
                            raw, max_frames=max_frames * stride
                        )
                    )
                except Exception:  # noqa: BLE001 — one bad container
                    continue
                if not info:
                    continue
                for idx, frame in enumerate(info["frames"][::stride]):
                    try:
                        h = compute(frame)
                    except Exception:  # noqa: BLE001
                        h = None
                    if h is not None and h >= 1 << 63:
                        h -= 1 << 64  # signed-64 wrap like image_dhash
                    rows.append(
                        {"media_id": media_id, "frame_idx": idx, "dhash": h}
                    )
            yield _exact_frame(rows, VIDEO_FRAME_DHASH_SCHEMA)

    src = media.select("media_id", "payload")
    if batch_partitions:
        src = src.repartition(batch_partitions)
    return src.mapInPandas(run, VIDEO_FRAME_DHASH_SCHEMA)


def video_near_dup(
    frames: DataFrame, *, min_shared: int = 2, hot_hash_cap: int = 1024
) -> DataFrame:
    """VIDEO-level near-duplicate pairs from per-frame dHashes (the output
    of ``video_frame_dhash``): two clips are near-duplicates when they
    share ``min_shared`` or more distinct frame hashes. Output
    (id_a, id_b, shared_frames, containment) with id_a < id_b, where
    containment = shared / min(|frames_a|, |frames_b|) over DISTINCT
    non-NULL hashes — 1.0 means the shorter clip's sampled frames all
    appear in the longer one (a trailer cut from a feature, a re-upload
    with an added intro card).

    100 TB shape — an inverted frame-hash index, never an all-pairs join
    over videos: (video, hash) pairs dedup to one row each, hashes seen
    in more than ``hot_hash_cap`` videos are dropped before the
    candidate join (black frames / title cards / test patterns appear in
    unboundedly many videos and carry no identity signal — the
    ``skew.bucket_pairs`` guard, as for the n-gram shingle cap in
    dedup.ngram_jaccard_pairs), candidates come from ONE equi-join on
    the 64-bit hash, and per-video frame counts join back as a
    dimension-sized side. NULL hashes (undecodable frames) never index.
    """
    # materialized once: the distinct feeds both the sizes and the
    # guarded self-join, which are separate Spark jobs
    f = (
        frames.filter(F.col("dhash").isNotNull())
        .select("media_id", "dhash")
        .distinct()
        .localCheckpoint(eager=False)
    )
    sizes = f.groupBy("media_id").agg(F.count("*").alias("_n"))
    # f is distinct per (video, hash): a bucket's rows count its videos
    pairs = (
        bucket_pairs(f, "media_id", ["dhash"], max_bucket=hot_hash_cap)
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("shared_frames"))
        .filter(F.col("shared_frames") >= min_shared)
    )
    na = sizes.select(
        F.col("media_id").alias("id_a"), F.col("_n").alias("_na")
    )
    nb = sizes.select(
        F.col("media_id").alias("id_b"), F.col("_n").alias("_nb")
    )
    return (
        pairs.join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a",
            "id_b",
            "shared_frames",
            F.round(
                F.col("shared_frames") / F.least("_na", "_nb"), 6
            ).alias("containment"),
        )
    )


def video_dup_clusters(
    frames: DataFrame,
    *,
    min_shared: int = 2,
    hot_hash_cap: int = 1024,
    max_iter: int = 20,
) -> DataFrame:
    """Flood-proof CLUSTER output for video near-dup: (media_id,
    component, is_duplicate), ONE row per video — LINEAR in videos, where
    :func:`video_near_dup` emits C(k,2) pair rows for k identical
    re-uploads. Same construction as the dHash/MinHash cluster modes:
    videos with an IDENTICAL distinct-frame-hash set collapse to exact
    groups (signature = md5 of the sorted hash set, one groupBy;
    representative = min id); the inverted-index near join runs over the
    representatives only; dup_components' quotient path closes the
    relation and expands members once, linearly."""
    from nutch_spark.datapipe.dedup import dup_components

    f = (
        frames.filter(F.col("dhash").isNotNull())
        .select("media_id", "dhash")
        .distinct()
        .localCheckpoint(eager=False)
    )
    sigs = f.groupBy("media_id").agg(
        F.md5(
            F.concat_ws(
                ",",
                F.transform(
                    F.sort_array(F.collect_set("dhash")),
                    lambda x: x.cast("string"),
                ),
            )
        ).alias("_sig")
    )
    groups = sigs.groupBy("_sig").agg(F.min("media_id").alias("_rep"))
    members = sigs.join(groups, "_sig").select(
        "media_id", F.col("_rep").alias("rep")
    )
    rep_frames = f.join(
        groups.select(F.col("_rep").alias("media_id")), "media_id", "left_semi"
    )
    rep_pairs = video_near_dup(
        rep_frames, min_shared=min_shared, hot_hash_cap=hot_hash_cap
    )
    return dup_components(
        f.select("media_id").distinct(),
        rep_pairs.select("id_a", "id_b"),
        "media_id",
        max_iter=max_iter,
        groups=members,
    )


def audio_dup_clusters(
    fingerprints: DataFrame,
    *,
    max_hamming: int = 3,
    bands: int = 4,
    max_band_bucket: int | None = None,
    max_iter: int = 20,
) -> DataFrame:
    """Flood-proof CLUSTER output for audio near-dup — dhash_dup_clusters
    over the 64-bit spectral fingerprints, exactly as audio_near_dup is
    dhash_near_dup verbatim."""
    return dhash_dup_clusters(
        fingerprints.filter(F.col("afp").isNotNull()).select(
            "media_id", F.col("afp").alias("dhash")
        ),
        max_hamming=max_hamming,
        bands=bands,
        max_band_bucket=max_band_bucket,
        max_iter=max_iter,
    )


def audio_near_dup(
    fingerprints: DataFrame,
    *,
    max_hamming: int = 3,
    bands: int = 4,
    max_band_bucket: int | None = None,
) -> DataFrame:
    """Near-duplicate audio pairs from the 64-bit spectral fingerprints of
    ``audio_fingerprints``: (id_a, id_b, hamming) with id_a < id_b and
    hamming <= max_hamming. The fingerprint shares the image dHash's
    8x8-bit shape, so this is ``dhash_near_dup``'s banded Hamming join
    verbatim — bands equi-joins on 16-bit band keys (pigeonhole
    guarantees recall for hamming < bands), then one JVM-side
    bit_count(xor) verifies the true distance. Cross-codec by
    construction: WAV, FLAC, and MPEG-1 Layer I/II copies of the same
    audio fingerprint identically (hamming 0), and a re-encode with one
    drifted dominant band lands at hamming 2.

    BEHAVIOR CHANGE (round 15): ``max_band_bucket`` now defaults to
    ``None`` — full recall, NO hot-band flood guard — inherited from the
    same default change in ``dhash_near_dup``. Callers that relied on
    the old implicit 4096 cap (quadratic-blowup protection on hot bands)
    must now pass ``max_band_bucket=4096`` explicitly, or better, use
    the flood-proof cluster mode (``audio_dup_clusters``) which never
    expands pairs."""
    return dhash_near_dup(
        fingerprints.filter(F.col("afp").isNotNull()).select(
            "media_id", F.col("afp").alias("dhash")
        ),
        max_hamming=max_hamming,
        bands=bands,
        max_band_bucket=max_band_bucket,
    )
