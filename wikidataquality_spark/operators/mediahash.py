"""Perceptual media fingerprints — image, audio, and video near-dup, the
media-modality members of the dedup family (exact / MinHash-Jaccard /
SimHash-cosine / embedding-LSH / THESE).

Parity: UniqueValueChecker's cross-row uniqueness ethos
(ref≈includes/ConstraintCheck/Checker/UniqueValueChecker.php:~30-80) applied
to the media table: a training-data crawl carries the same image re-encoded,
re-scaled, and lightly retouched thousands of times, and pixel-exact hashing
misses all of it. dHash (difference hash, the standard perceptual baseline):
decode → 8×9 block-mean luma grid → 64 horizontal-gradient sign bits. Small
retouches flip few bits, so near-dup = small Hamming distance.

Scale design (dedup.simhash_dedup's anchor-verify window,
dedup._verified_anchor_rows, with denser banding): hashes are one
mapInPandas decode pass (TOTAL — corrupt blobs become error rows, never
dead tasks); banding explodes to B key rows per image; the bucket anchor
comes from ONE min(struct) window; verification is inline bit_count(xor).
Everything after the decode moves ≤24-byte rows — blobs never shuffle.

dHash is gradient-based, so EVERY flat image (any solid color) hashes to 0:
without a guard, all-black and all-white would verify at Hamming 0 and
merge. The grid's mean luma rides along as a second verify term
(|luma_a − luma_b| ≤ tol) to kill exactly that class of false positive.
The same construction generalizes: audio fingerprints are gradient signs of
the energy envelope (scale-invariant, so requantized audio matches) with a
log-RMS guard, and video near-dup aggregates per-sampled-frame dHash marks
(frames bucket only with the same frame position) into a
fraction-of-frames-matched decision.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from wikidataquality_spark.errors import err_str as _err_str
from wikidataquality_spark.operators.dedup import _verified_anchor_rows
from wikidataquality_spark.operators.multimodal import decode_ppm

DHASH_GRID_H = 8
DHASH_GRID_W = 9  # 9 columns → 8 horizontal gradients per row → 64 bits

DHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("dhash", T.LongType(), True),  # NULL on decode error
        T.StructField("grid_luma", T.IntegerType(), True),  # 0..255 grid mean
        T.StructField("err", T.StringType(), True),  # NULL on success
    ]
)

# Banding for the bucket join: 8 bands of 8 bits guarantees (pigeonhole) a
# shared band for any pair with Hamming ≤ 7 — image retouches flip more bits
# than text-simhash token edits, so the image threshold is wider than
# dedup.SIMHASH_MAX_HAMMING and needs the denser banding. Candidate sets
# stay bounded: media tables are orders of magnitude smaller than the text
# corpus and bucket rows are ≤24 bytes.
DHASH_BANDS = 8
DHASH_MAX_HAMMING = 7
DHASH_LUMA_TOL = 8


def _pack_bits(bits: np.ndarray) -> int:
    """64 {0,1} values (LSB first) → int64 two's-complement."""
    sig = np.uint64(0)
    for idx in np.nonzero(bits.reshape(-1))[0]:
        sig |= np.uint64(1) << np.uint64(idx)
    return int(sig.astype(np.int64))


def dhash64(luma: np.ndarray) -> tuple[int, int]:
    """(dhash, grid_mean_luma) of a 2-D uint8 luma array. Deterministic
    integer/stride arithmetic only — same array, same hash, any host:
      - images smaller than the grid are integer-upsampled by np.repeat;
      - block sums via np.add.reduceat at floor-spaced boundaries;
      - bit (r, c) = 1 iff block[r, c+1] > block[r, c], packed row-major
        (r*8+c is the bit index from the LSB)."""
    h, w = luma.shape
    if h == 0 or w == 0:
        raise ValueError("dhash: empty image")
    if h < DHASH_GRID_H:
        luma = np.repeat(luma, -(-DHASH_GRID_H // h), axis=0)
    if w < DHASH_GRID_W:
        luma = np.repeat(luma, -(-DHASH_GRID_W // w), axis=1)
    h, w = luma.shape
    rb = (np.arange(DHASH_GRID_H) * h) // DHASH_GRID_H
    cb = (np.arange(DHASH_GRID_W) * w) // DHASH_GRID_W
    sums = np.add.reduceat(np.add.reduceat(luma.astype(np.int64), rb, axis=0), cb, axis=1)
    rows = np.diff(np.append(rb, h))
    cols = np.diff(np.append(cb, w))
    block = sums / (rows[:, None] * cols[None, :])  # float block means
    bits = (block[:, 1:] > block[:, :-1]).astype(np.uint64)
    return _pack_bits(bits), int(block.mean())


def _fingerprint_features(media: DataFrame, schema, compute) -> DataFrame:
    """The ONE total decode→fingerprint loop behind the image and audio
    feature passes: (media_id, blob) → schema rows, where compute(blob)
    returns the schema's value fields. NULL blobs are dropped (metadata-only
    rows, nothing to hash); a raising compute yields an error row with every
    value field NULL — which every downstream banding step exempts (a
    constant error hash would otherwise hub-bucket exactly like
    xxhash64(NULL)). The frame-level loop (frame_dhash_features) stays
    separate ON PURPOSE: its NULL blobs are demux ERROR rows whose
    accounting must pass through, the opposite NULL policy."""
    value_fields = [f.name for f in schema.fields if f.name not in ("media_id", "err")]

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            keep = pdf[pdf["blob"].notna()]
            rows = []
            for mid, blob in zip(keep["media_id"], keep["blob"]):
                base = {"media_id": int(mid)}
                try:
                    vals = compute(bytes(blob))
                except Exception as e:  # noqa: BLE001 — totality on purpose
                    rows.append(
                        {**base, **dict.fromkeys(value_fields), "err": _err_str(e)}
                    )
                    continue
                rows.append({**base, **vals, "err": None})
            yield pd.DataFrame(rows, columns=[f.name for f in schema.fields])

    return media.select("media_id", "blob").mapInPandas(process, schema)


def _dhash_of_blob(blob: bytes) -> dict:
    px = decode_ppm(blob)
    luma = (px.astype(np.uint32).sum(axis=2) // 3).astype(np.uint8)
    sig, gl = dhash64(luma)
    return {"dhash": sig, "grid_luma": gl}


def dhash_features(media: DataFrame) -> DataFrame:
    """(media_id, blob) → (media_id, dhash, grid_luma, err): one iterator
    mapInPandas decode pass, total in the multimodal sense."""
    return _fingerprint_features(media, DHASH_SCHEMA, _dhash_of_blob)


def image_neardup_marks(
    features: DataFrame,
    id_col: str = "media_id",
    max_hamming: int = DHASH_MAX_HAMMING,
    luma_tol: int = DHASH_LUMA_TOL,
) -> DataFrame:
    """Annotate dhash_features output with (is_image_neardup, neardup_of):
    greedy min-anchor LSH semantics exactly as dedup.simhash_dedup — each
    image is verified only against its buckets' minimum-id row (recall
    bounded by anchor choice, precision never: every flag is verified by
    exact Hamming + luma distance). neardup_of is the smallest verified
    anchor id; the anchor itself (and every error/hashless row) is never
    flagged, so at least one copy always survives."""
    flagged = (
        _verified_anchor_rows(
            features, id_col, "dhash", DHASH_BANDS, max_hamming,
            [("grid_luma", luma_tol)],
        )
        .groupBy(id_col)
        .agg(F.min("_anchor_id").alias("neardup_of"))
    )
    return (
        features.join(flagged, id_col, "left")
        .withColumn("is_image_neardup", F.col("neardup_of").isNotNull())
    )


# ---------------------------------------------------------------------------
# Audio fingerprint: the same gradient-sign construction over the energy
# ENVELOPE — 65 equal windows of mean-square energy → 64 sign bits. Positive
# amplitude scaling (volume change, 8-bit → 16-bit requantization) preserves
# every gradient sign, so re-encoded audio hashes within small Hamming
# distance; the guard is log-RMS (centi-decades), which moves slowly under
# requantization but separates genuinely different loudness classes.
# ---------------------------------------------------------------------------

AUDIO_SIG_WINDOWS = 65  # 65 window energies → 64 gradient bits
AUDIO_GUARD_TOL = 35  # |Δ 100·log10(1+rms)| ≤ 35 ≈ within ~7 dB

AUDIO_FP_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("afp", T.LongType(), True),  # NULL on decode error
        T.StructField("log_rms", T.IntegerType(), True),  # 100·log10(1+rms)
        T.StructField("err", T.StringType(), True),
    ]
)


def audio_sig64(samples: np.ndarray) -> tuple[int, int]:
    """(fingerprint, log-RMS guard) of an int16 sample array. Deterministic:
    window boundaries are floor-spaced, energies are float64 means of int64
    squares, bits are strict > comparisons."""
    if len(samples) == 0:
        raise ValueError("audio fingerprint: empty signal")
    x = samples.astype(np.int64)
    if len(x) < AUDIO_SIG_WINDOWS:
        x = np.repeat(x, -(-AUDIO_SIG_WINDOWS // len(x)))
    b = (np.arange(AUDIO_SIG_WINDOWS) * len(x)) // AUDIO_SIG_WINDOWS
    sums = np.add.reduceat(x * x, b)
    widths = np.diff(np.append(b, len(x)))
    energy = sums / widths
    sig = _pack_bits((energy[1:] > energy[:-1]).astype(np.uint64))
    rms = float(np.sqrt((x * x).mean()))
    return sig, int(100 * np.log10(1.0 + rms))


def _audio_fp_of_blob(blob: bytes) -> dict:
    from wikidataquality_spark.operators.multimodal import decode_wav

    samples, _sr = decode_wav(blob)
    sig, gl = audio_sig64(samples)
    return {"afp": sig, "log_rms": gl}


def audio_fingerprints(media: DataFrame) -> DataFrame:
    """(media_id, blob) → (media_id, afp, log_rms, err): one total
    mapInPandas decode pass (decode_wav handles mono/stereo, 8/16-bit) —
    the shared _fingerprint_features loop with the audio codec plugged in."""
    return _fingerprint_features(media, AUDIO_FP_SCHEMA, _audio_fp_of_blob)


def audio_neardup_marks(
    features: DataFrame,
    id_col: str = "media_id",
    max_hamming: int = DHASH_MAX_HAMMING,
    guard_tol: int = AUDIO_GUARD_TOL,
) -> DataFrame:
    """(is_audio_neardup, neardup_of) over audio_fingerprints output — the
    audio twin of image_neardup_marks, same anchor semantics and plan."""
    flagged = (
        _verified_anchor_rows(
            features, id_col, "afp", DHASH_BANDS, max_hamming,
            [("log_rms", guard_tol)],
        )
        .groupBy(id_col)
        .agg(F.min("_anchor_id").alias("neardup_of"))
    )
    return (
        features.join(flagged, id_col, "left")
        .withColumn("is_audio_neardup", F.col("neardup_of").isNotNull())
    )


# ---------------------------------------------------------------------------
# Video near-dup: per-sampled-frame dHash, frames bucket only with the SAME
# frame position in other videos (bucket_extra=frame_index), and a video is
# flagged when ≥ min_match_frac of its hashed frames verify against one
# anchor video. Composes with multimodal.sample_frames — each sampled
# frame_blob is itself a P6 image.
# ---------------------------------------------------------------------------

FRAME_DHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_index", T.IntegerType(), False),
        T.StructField("dhash", T.LongType(), True),
        T.StructField("grid_luma", T.IntegerType(), True),
        T.StructField("err", T.StringType(), True),
    ]
)

VIDEO_MIN_MATCH_FRAC = 0.5


def frame_dhash_features(frames: DataFrame) -> DataFrame:
    """sample_frames output → per-frame dHash rows. Demux error rows
    (frame_index −1, NULL blob) pass through as hashless error rows so the
    accounting stays total end-to-end."""

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, fidx, blob, err in zip(
                pdf["media_id"], pdf["frame_index"], pdf["frame_blob"], pdf["err"]
            ):
                base = {"media_id": int(mid), "frame_index": int(fidx)}
                if blob is None:
                    rows.append(
                        {**base, "dhash": None, "grid_luma": None,
                         "err": err if err is not None else "ValueError: null frame"}
                    )
                    continue
                try:
                    px = decode_ppm(bytes(blob))
                    luma = (px.astype(np.uint32).sum(axis=2) // 3).astype(np.uint8)
                    sig, gl = dhash64(luma)
                except Exception as e:  # noqa: BLE001 — totality on purpose
                    rows.append(
                        {**base, "dhash": None, "grid_luma": None, "err": _err_str(e)}
                    )
                    continue
                rows.append({**base, "dhash": sig, "grid_luma": gl, "err": None})
            yield pd.DataFrame(rows, columns=[f.name for f in FRAME_DHASH_SCHEMA.fields])

    return frames.select("media_id", "frame_index", "frame_blob", "err").mapInPandas(
        process, FRAME_DHASH_SCHEMA
    )


def video_neardup_marks(
    frame_features: DataFrame,
    id_col: str = "media_id",
    max_hamming: int = DHASH_MAX_HAMMING,
    luma_tol: int = DHASH_LUMA_TOL,
    min_match_frac: float = VIDEO_MIN_MATCH_FRAC,
) -> DataFrame:
    """(media_id, neardup_of, matched_frames, total_frames,
    is_video_neardup): a video is a near-dup of an anchor video when at
    least min_match_frac of its HASHED frames verify (Hamming + luma)
    against the same-position frame of that anchor. Anchor semantics are
    per-(frame_index, band) bucket min — recall bounded by anchor choice,
    precision by exact per-frame verification; ties across several anchor
    videos resolve to the smallest anchor id."""
    # totals over ALL videos present in the features (count(dhash) skips
    # NULLs): an all-corrupt video keeps a row with total_frames 0 and
    # is_video_neardup false instead of vanishing — the same totality
    # accounting the image/audio twins give error rows (r04 session review)
    totals = frame_features.groupBy(id_col).agg(
        F.count(F.col("dhash")).alias("total_frames")
    )
    pair_frames = (
        _verified_anchor_rows(
            frame_features, id_col, "dhash", DHASH_BANDS, max_hamming,
            [("grid_luma", luma_tol)], bucket_extra=("frame_index",),
        )
        # a frame can verify against the same anchor via several bands —
        # count each (video, anchor, frame position) once
        .select(id_col, "_anchor_id", "frame_index")
        .distinct()
        .groupBy(id_col, "_anchor_id")
        .agg(F.count("*").alias("matched_frames"))
    )
    best = (
        pair_frames.join(totals, id_col)
        .filter(F.col("matched_frames") >= min_match_frac * F.col("total_frames"))
        .groupBy(id_col)
        .agg(
            F.min_by(
                F.struct("_anchor_id", "matched_frames"), F.col("_anchor_id")
            ).alias("_best"),
        )
        .select(
            id_col,
            F.col("_best")["_anchor_id"].alias("neardup_of"),
            F.col("_best")["matched_frames"].alias("matched_frames"),
        )
    )
    return (
        totals.join(best, id_col, "left")
        .withColumn("is_video_neardup", F.col("neardup_of").isNotNull())
        .select(
            id_col, "neardup_of", "matched_frames", "total_frames", "is_video_neardup"
        )
    )
