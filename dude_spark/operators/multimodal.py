"""Multimodal column operators: decode, feature-extract, resize, sample.

Treats image/audio/video payloads as opaque ``binary`` columns with
typed metadata (the input_hint schema), processed in Arrow batches via
``mapInPandas`` — the Spark-side plumbing (schemas, batching,
partition preservation, skip-and-count error handling) is real and
tested.  The pixel codec is the deterministic container codec from
``imagecodec`` (real lossy/lossless semantics), and audio/video use
the sibling deterministic containers in ``mediacodec`` (DWAV PCM,
DVID length-prefixed frame packets); swapping in Pillow / soundfile /
pyav for production is a per-codec body change behind the same
signatures (module docstrings).  The feature DSP (RMS, zero
crossings, channel means, phash) operates on decoded samples/pixels
and is production-real regardless of codec.

Error contract everywhere: undecodable rows never fail the job — they
come back with ok=false and are countable (≅ the reference's
permission-error skip, /root/reference/internal/processing/
files.go:59-70, e2e contract dual_folder_test.go:1130-1189).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..imagecodec import CodecError, decode, encode, phash64
from ..session import pin

DECODED_SCHEMA = (
    "image_id string, fmt string, w int, h int, ok boolean, err string"
)
FEATURES_SCHEMA = (
    "image_id string, ok boolean, phash long, mean_r double, mean_g double, "
    "mean_b double, brightness double"
)
IMAGE_QUALITY_SCHEMA = (
    "image_id string, ok boolean, w int, h int, std_x100 long, quality string"
)

# image_quality thresholds (image analogue of functions/text's Gopher
# cuts): sides under MIN_SIDE are icons/thumbnails, aspect beyond
# MAX_ASPECT_X10/10 is banner/border strip, per-pixel std under
# MIN_STD_X100/100 is a solid-color or near-blank frame.
IMG_QUALITY_MIN_SIDE = 32
IMG_QUALITY_MAX_ASPECT_X10 = 40
IMG_QUALITY_MIN_STD_X100 = 200


def decode_images(images: DataFrame) -> DataFrame:
    """Validate/decode every payload → (image_id, fmt, w, h, ok, err).

    `ok=false` rows carry the codec error message; dims come from the
    DECODED pixels (not the metadata columns), so a metadata/payload
    mismatch is visible downstream.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples():
                try:
                    pix, fmt = decode(bytes(r.bytes) if r.bytes is not None else b"")
                    rows.append(
                        (r.image_id, fmt, pix.shape[1], pix.shape[0], True, None)
                    )
                except CodecError as e:
                    rows.append((r.image_id, None, None, None, False, str(e)))
            yield pd.DataFrame(
                rows, columns=["image_id", "fmt", "w", "h", "ok", "err"]
            )

    return images.select("image_id", "bytes").mapInPandas(run, DECODED_SCHEMA)


def extract_features(images: DataFrame) -> DataFrame:
    """Decode + perceptual features per row (phash, channel means,
    brightness).  Feature math is vectorized numpy per image; rows
    that fail to decode come back ok=false with null features."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples():
                try:
                    pix, _ = decode(bytes(r.bytes) if r.bytes is not None else b"")
                    means = pix.reshape(-1, 3).mean(axis=0)
                    rows.append(
                        (
                            r.image_id, True, phash64(pix),
                            float(means[0]), float(means[1]), float(means[2]),
                            float(means.mean()),
                        )
                    )
                except CodecError:
                    rows.append((r.image_id, False, None, None, None, None, None))
            yield pd.DataFrame(
                rows,
                columns=[
                    "image_id", "ok", "phash", "mean_r", "mean_g", "mean_b",
                    "brightness",
                ],
            )

    return images.select("image_id", "bytes").mapInPandas(run, FEATURES_SCHEMA)


def image_quality(
    images: DataFrame,
    min_side: int = IMG_QUALITY_MIN_SIDE,
    max_aspect_x10: int = IMG_QUALITY_MAX_ASPECT_X10,
    min_std_x100: int = IMG_QUALITY_MIN_STD_X100,
) -> DataFrame:
    """Per-image training-quality class — the image analogue of
    ``functions/text.quality_signals``, same first-match-cascade
    contract: undecodable → too_small → extreme_aspect → blank → ok.

    Dimensions come from the DECODED header, not the table's w/h
    metadata columns (caller metadata can lie; the decode is already
    paid for the blank check).  ``std_x100`` is the LARGEST per-channel
    standard deviation ×100 (integerized like every signal in this
    engine) — per-channel, not joint: a solid pure-red tile has zero
    variance within every channel but a joint std of ~120 from the
    cross-channel spread, and chromatic solid tiles are exactly the
    padding/tracking-pixel case the blank cut exists for.  Aspect is
    integer math: extreme iff ``w*10 > h*max_aspect_x10`` either way
    around.

    Same mapInPandas shape and ok=false skip-and-count contract as
    the other per-image operators; per-image work is inherently
    per-row, the inner std is one vectorized numpy pass."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples():
                try:
                    pix, _ = decode(bytes(r.bytes) if r.bytes is not None else b"")
                except CodecError:
                    rows.append((r.image_id, False, None, None, None, "undecodable"))
                    continue
                h, w = int(pix.shape[0]), int(pix.shape[1])
                std_x100 = int(
                    float(pix.reshape(-1, 3).astype(np.float64).std(axis=0).max())
                    * 100
                )
                if min(w, h) < min_side:
                    q = "too_small"
                elif w * 10 > h * max_aspect_x10 or h * 10 > w * max_aspect_x10:
                    q = "extreme_aspect"
                elif std_x100 < min_std_x100:
                    q = "blank"
                else:
                    q = "ok"
                rows.append((r.image_id, True, w, h, std_x100, q))
            yield pd.DataFrame(
                rows,
                columns=["image_id", "ok", "w", "h", "std_x100", "quality"],
            )

    return images.select("image_id", "bytes").mapInPandas(run, IMAGE_QUALITY_SCHEMA)


def resize_images(images: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """Deterministic nearest-neighbor resize, re-encoded in the source
    format → (image_id, bytes, w, h, fmt, ok).  Undecodable rows pass
    through with ok=false and null bytes.  Formats the container codec
    cannot write (a real WebP/BMP decoded via the Pillow fallback)
    re-encode as png — a decodable image must never come back
    ok=false just because its source format has no encoder here."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..imagecodec import MAGIC

        for pdf in batches:
            rows = []
            for r in pdf.itertuples():
                try:
                    pix, fmt = decode(bytes(r.bytes) if r.bytes is not None else b"")
                    h, w = pix.shape[:2]
                    yi = (np.arange(out_h) * h // out_h).clip(0, h - 1)
                    xi = (np.arange(out_w) * w // out_w).clip(0, w - 1)
                    out = pix[yi][:, xi]
                    enc_fmt = fmt if fmt in MAGIC else "png"
                    rows.append(
                        (r.image_id, encode(out, enc_fmt), out_w, out_h,
                         enc_fmt, True)
                    )
                except CodecError:
                    rows.append((r.image_id, None, None, None, None, False))
            yield pd.DataFrame(
                rows, columns=["image_id", "bytes", "w", "h", "fmt", "ok"]
            )

    return images.select("image_id", "bytes").mapInPandas(
        run, "image_id string, bytes binary, w int, h int, fmt string, ok boolean"
    )


# ------------------------------------------------------- audio / video

AUDIO_FEATURES_SCHEMA = (
    "clip_id string, ok boolean, duration_s double, rms double, "
    "zero_crossings long"
)
VIDEO_FRAMES_SCHEMA = (
    "video_id string, frame_idx int, frame_bytes binary, ts_ms long, ok boolean"
)


def extract_audio_features(clips: DataFrame) -> DataFrame:
    """(clip_id, bytes) → AUDIO_FEATURES_SCHEMA, one row per clip.

    Decodes the deterministic DWAV container (mediacodec — swap
    ``decode_audio`` for soundfile/ffmpeg in production behind the same
    signature); the feature DSP (duration, RMS, zero crossings) is
    production-real vectorized numpy.  Undecodable clips → ok=false,
    never fatal."""
    from ..mediacodec import audio_features, decode_audio

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples():
                try:
                    samples, rate = decode_audio(
                        bytes(r.bytes) if r.bytes is not None else b""
                    )
                    dur, rms, zc = audio_features(samples, rate)
                    rows.append((r.clip_id, True, dur, rms, zc))
                except CodecError:
                    rows.append((r.clip_id, False, None, None, None))
            yield pd.DataFrame(
                rows,
                columns=["clip_id", "ok", "duration_s", "rms", "zero_crossings"],
            )

    return clips.select("clip_id", "bytes").mapInPandas(run, AUDIO_FEATURES_SCHEMA)


def sample_video_frames(videos: DataFrame, every_ms: int = 1000) -> DataFrame:
    """(video_id, bytes) → one row per sampled frame, frames re-encoded
    with the image codec so downstream image operators (decode_images,
    extract_features, the D2 phash channel) consume them unchanged.

    Demuxes the deterministic DVID container (mediacodec — swap
    ``decode_video`` for pyav/ffmpeg in production behind the same
    signature); frames stream one at a time, so a long clip never
    holds all its pixels in memory.  Sampling keeps the first frame
    at/after each ``every_ms`` boundary (boundaries are MULTIPLES of
    every_ms, not offsets from the last kept frame — anchoring to the
    kept frame would drift on irregular timestamps).  Undecodable
    videos emit ONE ok=false row (skip-and-count, partial frames of a
    mid-stream corruption are discarded) instead of failing the job;
    a DECODABLE zero-frame video emits no rows at all — count inputs
    upstream if per-video accounting must reconcile."""
    from ..mediacodec import decode_video

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples():
                start = len(rows)
                try:
                    frames, _fps = decode_video(
                        bytes(r.bytes) if r.bytes is not None else b""
                    )
                    next_ts = 0
                    for idx, (ts_ms, pixels) in enumerate(frames):
                        if ts_ms < next_ts:
                            continue
                        next_ts = (ts_ms // every_ms + 1) * every_ms
                        rows.append(
                            (r.video_id, idx, encode(pixels, "jpeg"),
                             ts_ms, True)
                        )
                except CodecError:
                    del rows[start:]  # drop this video's partial frames
                    rows.append((r.video_id, None, None, None, False))
            yield pd.DataFrame(
                rows,
                columns=["video_id", "frame_idx", "frame_bytes", "ts_ms", "ok"],
            )

    return videos.select("video_id", "bytes").mapInPandas(run, VIDEO_FRAMES_SCHEMA)


TILE_FEATURES_SCHEMA = "image_id string, ok boolean, keys array<long>"


def extract_tile_features(images: DataFrame, grid: int = 2) -> DataFrame:
    """(image_id, ok, keys array<long>): the pyramid tile-phash key set
    — phash of the full image plus one per grid×grid tile, one shared
    hash space (imagecodec.pyramid_phash64).  Undecodable rows come
    back ok=false with null keys (skip-and-count, never a job
    failure)."""
    if grid < 1:
        raise ValueError(f"grid must be >= 1, got {grid}")

    from ..imagecodec import pyramid_phash64

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples():
                try:
                    pix, _ = decode(bytes(r.bytes) if r.bytes is not None else b"")
                    rows.append((r.image_id, True, pyramid_phash64(pix, grid)))
                except CodecError:
                    rows.append((r.image_id, False, None))
            yield pd.DataFrame(rows, columns=["image_id", "ok", "keys"])

    return images.select("image_id", "bytes").mapInPandas(
        run, TILE_FEATURES_SCHEMA
    )


def tile_phash_pairs(
    images: DataFrame, grid: int = 2, bucket_cap: int = 64
) -> tuple[DataFrame, DataFrame]:
    """(pairs, overcap): distinct (a, b) image pairs sharing at least
    one pyramid tile-phash key — exact duplicates (full≡full),
    tile-aligned collage reuse (tile≡tile), and exact tile crops
    (full≡tile) in ONE candidate pass.

    The multi-resolution trick: a cropped-out tile IS the full image
    of the crop, so hashing fulls and tiles into one key space makes
    containment a plain equality join — no sliding-window image
    search.  The contract is EXACT key equality (deterministic pixel
    regions: re-encoded lossless copies, collages assembled from the
    same sources); for Hamming-tolerant near-dup matching compose the
    full-image channel with detector D2's pigeonhole machinery
    instead.

    Scale shape: one decode pass (mapInPandas, skip-and-count),
    pinned before the EAGER pairs_from_buckets probe so
    the Python decode chain never re-runs; candidates ride
    ``pairs_from_buckets(exhaustive)`` — degenerate constant tiles
    (all-black borders hash to the same key in every image) are
    exactly the hot-bucket skew the salted grid caps, recorded in
    ``overcap``, never silent.
    """
    feats = pin(
        extract_tile_features(images, grid)
        .where(F.col("ok"))
        .select("image_id", F.explode("keys").alias("bucket"))
        .distinct()
    )
    from .candidates import pairs_from_buckets

    return pairs_from_buckets(
        feats, bucket_cap=bucket_cap, overcap_mode="exhaustive"
    )


def tile_hamming_match(pairs: DataFrame, tiles: DataFrame, radius: int) -> DataFrame:
    """Keep candidate (a, b) pairs where SOME tile-phash of a is within
    Hamming ``radius`` of SOME tile-phash of b.

    ``tiles`` is (image_id, tile_keys array<long>) — the pyramid key
    set per image (1 + grid² entries).  The existence check is a nested
    ``F.exists`` over the two small arrays with a JVM-side
    ``bit_count(xor)`` — whole-stage codegen, no Python, and at
    (1+grid²)² ≤ ~289 comparisons per pair (grid ≤ 4) it is a
    per-row constant, not a join blowup.  The shared exact-Hamming
    predicate for the batch operator and the streaming preset — change
    the match contract here and both move together.
    """
    a_keys = tiles.select(
        F.col("image_id").alias("a"), F.col("tile_keys").alias("_ka")
    )
    b_keys = tiles.select(
        F.col("image_id").alias("b"), F.col("tile_keys").alias("_kb")
    )
    hit = F.exists(
        F.col("_ka"),
        lambda ka: F.exists(
            F.col("_kb"),
            lambda kb: F.bit_count(ka.bitwiseXOR(kb)) <= F.lit(radius),
        ),
    )
    return (
        pairs.join(a_keys, "a")
        .join(b_keys, "b")
        .where(hit)
        .select("a", "b")
    )


def tile_phash_pairs_hamming(
    images: DataFrame,
    grid: int = 2,
    segments: int = 8,
    radius: int = 3,
    bucket_cap: int = 64,
) -> tuple[DataFrame, DataFrame]:
    """(pairs, overcap): distinct (a, b) image pairs where some pyramid
    tile-phash of a is within Hamming ``radius`` of some tile-phash of
    b — the NEAR-equality generalization of ``tile_phash_pairs``.

    Why it exists: ``tile_phash_pairs`` matches tiles by EXACT key
    equality, and D2's pigeonhole runs on the full-image phash channel
    only — so a JPEG-re-encoded crop (requantization perturbs the
    crop's phash by a few bits versus the source's tile phash) falls
    through both.  This operator closes that gap, the image analogue
    of the reference's content-equality semantics
    (/root/reference/internal/processing/hashing.go:289-319) under
    lossy re-encoding.

    Composition — both halves are existing, audited machinery:

    * candidates: every pyramid key (full + tiles, one shared hash
      space — the containment trick unchanged) goes through D2's
      generalized pigeonhole (``detectors.simhash.pigeonhole_key_array``,
      Manku WWW'07): C(m, r) subset keys per tile, exact recall within
      the Hamming ball — two tiles ≤ r bits apart ALWAYS share a
      bucket.  Keys are salted with tag "tileham" so they can never
      collide with D2's own channels.
    * verify: pigeonhole buckets overgenerate (a shared (m−r)-segment
      subset bounds nothing about the other r segments), so candidates
      are rechecked exactly via ``tile_hamming_match`` — JVM
      ``bit_count(xor)`` over the two per-image key arrays.

    Scale shape: ONE decode pass (the checkpointed feats frame feeds
    candidate generation and the verify attach); the explode ships
    C(m,r)·(1+grid²) 8-byte keys per image; constant-tile hot buckets
    (black borders) hit ``pairs_from_buckets``'s salted exhaustive
    grid and are recorded in ``overcap``, never silent.  radius=0
    with segments=1 degenerates to the exact operator (kept separate
    because exact needs no verify join at all).
    """
    if grid < 1:
        raise ValueError(f"grid must be >= 1, got {grid}")
    if segments not in (1, 2, 4, 8, 16):
        raise ValueError(f"segments must divide 64, got {segments}")
    if not 0 <= radius < segments:
        raise ValueError(
            f"radius must be in [0, segments), got {radius} (segments={segments})"
        )
    from ..detectors.simhash import pigeonhole_key_array
    from .candidates import pairs_from_buckets

    feats = pin(
        extract_tile_features(images, grid)
        .where(F.col("ok"))
        .select("image_id", F.col("keys").alias("tile_keys"))
    )
    buckets = (
        feats.select("image_id", F.explode("tile_keys").alias("_tile"))
        .select(
            "image_id",
            F.explode(
                pigeonhole_key_array(
                    F.col("_tile"), segments, radius, tag="tileham"
                )
            ).alias("bucket"),
        )
        .distinct()
    )
    cands, overcap = pairs_from_buckets(
        buckets, bucket_cap=bucket_cap, overcap_mode="exhaustive"
    )
    return tile_hamming_match(cands, feats, radius), overcap
