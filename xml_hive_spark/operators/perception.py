"""Perception-layer multimodal analytics: image near-duplicate
detection via perceptual hashing over REAL decoded PNG pixels, and an
audio decode → resample → re-encode pipeline over REAL WAV containers.

The codec round-trips (operators/png.py, operators/wav.py — stdlib
only) supply the pixels/samples; everything downstream of the decode is
deterministic integer arithmetic, so DuckDB recomputes the identical
perceptual hashes and resampled checksums from the synthesis formulas
WITHOUT a codec — full driver value oracles over real media work, the
``multimodal_*_codec`` design extended from "decode checksums" to the
dedup/transform operations a multimodal training pipeline actually
runs. The reference has no multimodal tier (BASELINE.md north_star);
parity anchor for the dedup shape is ``dedup_simhash``'s banded
blocking, here fed by image content instead of text shingles.

Scale notes (100 TB): the fingerprint table is 4 smallints per image —
candidate generation is an equi-join on (band_idx, band_value), never
an all-pairs comparison (pigeonhole: hamming ≤ 3 over 4 × 16-bit bands
guarantees ≥ 1 exact band, so blocking has ZERO recall loss — proven
by the naive O(n²) oracle). The resample pipeline is embarrassingly
parallel row kernels over Arrow batches with no shuffle at all.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xml_hive_spark.operators import (band_pairs, fan_out, map_rows, persisted,
                                      query, t)
from xml_hive_spark.operators.gif import gif_decode_frames, gif_encode_animation
from xml_hive_spark.operators.multimodal import sum_dot, synth_png
from xml_hive_spark.operators.png import png_decode, png_encode
from xml_hive_spark.operators.wav import wav_decode, wav_encode

# Perceptual-hash corpus: doc pairs (2k, 2k+1) share base = 2k. Pair
# dims/pixels derive from the BASE id — w = 12 + base%5, h = 12 +
# base%3 (so n = w·h ∈ [144, 224] ≥ 128: sampled positions are ≥ 2
# apart, see below) — and the ODD member is perturbed SUM-NEUTRALLY at
# two never-sampled positions, so the pair's perceptual hashes are
# bit-identical (hamming 0) while the payload bytes differ.
_PX_A, _PX_B = 2654435761, 40503  # Knuth multiplicative + step (shared
# with multimodal.synth_png so the oracles stay in one constant family).
# The linear + quadratic i-terms carry PER-BASE multipliers (base mod
# 251/241 — coprime cycles): with a shared i-term, every image is the
# same sequence shifted by a constant, sampled pixels follow one orbit
# and unrelated images land within hamming 3 (measured: 914 spurious
# pairs over 50 docs). Per-base mixing measured over 1000 ids: exactly
# the 500 planted pairs, zero spurious, max band bucket 4.


def _phash_bands(px_flat) -> list[int]:
    """4 × 16-bit average-hash bands from a flat uint8 pixel array.

    bit_j = [ px[(j·n)//64] · n > Σpx ]  (the mean compare kept in
    integers — px·n > sum avoids a float mean), j = 0..63, packed
    little-endian into 4 bands of 16. Positions (j·n)//64 step by
    ⌊n/64⌋ ≥ 2 for n ≥ 128, which is what makes sum-neutral
    perturbation at positions s_0+1 and s_2+1 hash-invisible."""
    px = px_flat.astype(np.int64)
    n = int(px.size)
    total = int(px.sum())
    s = (np.arange(64, dtype=np.int64) * n) // 64
    bits = (px[s] * n > total).astype(np.int64)
    w = 1 << np.arange(16, dtype=np.int64)
    return [int((bits[16 * b : 16 * b + 16] * w).sum()) for b in range(4)]


def synth_pair_png(did):
    """Row kernel: one REAL compressed PNG (``png.png_encode``) from the
    pair-corpus formula: base = id − id%2, w = 12 + base%5,
    h = 12 + base%3, pb[i] = (base·2654435761 + i·40503·(base%251 + 1)
    + i²·(base%241 + 1)) mod 256; odd ids move
    d = min(255 − pb[p1], pb[p2], 7) from position p2 = (2n)//64 + 1 to
    position p1 = 1 (both provably never sampled by the hash for
    n ≥ 128, and the move keeps Σpx exact), so each odd payload is a
    distinct byte stream whose perceptual hash equals its even
    partner's."""
    did = int(did)
    base = did - did % 2
    w, h = 12 + base % 5, 12 + base % 3
    n = w * h
    i = np.arange(n, dtype=np.int64)
    px = (base * _PX_A + i * _PX_B * (base % 251 + 1) + i * i * (base % 241 + 1)) % 256
    if did % 2 == 1:
        p1, p2 = 1, (2 * n) // 64 + 1
        d = min(255 - int(px[p1]), int(px[p2]), 7)
        px[p1] += d
        px[p2] -= d
    yield did, png_encode(px.astype(np.uint8).reshape(h, w))


def phash_fingerprint(did, payload):
    """Row kernel: full PNG decode (chunk walk + CRC verify + inflate +
    unfilter), then the 64-bit average-hash as 4 × 16-bit band integers
    — the per-image fingerprint a dedup index stores."""
    yield (int(did), *_phash_bands(png_decode(bytes(payload)).reshape(-1)))


@query(
    "image_phash_dedup",
    oracle="""
WITH dim AS (
  SELECT doc_id,
         doc_id - (doc_id % 2) AS base,
         (12 + (doc_id - (doc_id % 2)) % 5)
           * (12 + (doc_id - (doc_id % 2)) % 3) AS n
  FROM documents
),
px AS (  -- odd-id perturbation is sum-neutral, so base formula sums apply
  SELECT m.doc_id, m.base, m.n,
         SUM((m.base * 2654435761
              + t.i * 40503 * (m.base % 251 + 1)
              + t.i * t.i * (m.base % 241 + 1)) % 256) AS px_sum
  FROM dim m CROSS JOIN range(0, 224) t(i)
  WHERE t.i < m.n
  GROUP BY m.doc_id, m.base, m.n
),
bits AS (  -- sampled positions are never perturbed: base formula applies
  SELECT p.doc_id, t.j,
         CASE WHEN ((p.base * 2654435761
                     + ((t.j * p.n) // 64) * 40503 * (p.base % 251 + 1)
                     + ((t.j * p.n) // 64) * ((t.j * p.n) // 64)
                       * (p.base % 241 + 1)) % 256)
                   * p.n > p.px_sum
              THEN 1 ELSE 0 END AS bit
  FROM px p CROSS JOIN range(0, 64) t(j)
),
sig AS (  -- one BIGINT per image before the all-pairs step; bit 63 is
          -- the sign bit, which a left shift may not reach
  SELECT doc_id,
         bit_or(CASE WHEN bit = 0 THEN 0
                     WHEN j = 63 THEN CAST(-9223372036854775808 AS BIGINT)
                     ELSE CAST(1 AS BIGINT) << j END) AS h
  FROM bits GROUP BY doc_id
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.h, b.h)) AS INT) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.h, b.h)) <= 3
""",
    tags=("multimodal", "image", "dedup", "phash", "codec"),
)
def image_phash_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """IMAGE near-duplicate detection by perceptual hash over real
    codec output: encode one compressed PNG per document (consecutive
    id pairs are near-dup images — byte-distinct payloads, perceptually
    identical), decode every payload with the full PNG pipeline,
    fingerprint each image with a 64-bit integer average-hash packed as
    4 × 16-bit bands, and report all pairs within hamming distance 3.

    Candidate generation is ``dedup_simhash``'s pigeonhole blocking
    fed by image content: hamming ≤ 3 over 4 bands ⇒ ≥ 1 band exactly
    equal, so an equi-join on (band_idx, band_value) finds every
    qualifying pair — the naive O(n²) DuckDB oracle (which recomputes
    the hashes from the pixel formulas, codec-free) proves ZERO recall
    loss. The fingerprint table (4 smallints/image) is persisted before
    the self-join so the codec runs ONCE per image, not once per plan
    subtree — at 100 TB the fingerprints are the stored index; images
    never enter the join.

    The whole 8-byte fingerprint rides :func:`band_pairs` as payload and
    the hamming filter runs inside the join stage, so random 16-bit band
    collisions (quadratic at the fixed 65 536-bucket band space, the r11
    byte-audit finding in SCALE.md) never reach an exchange."""
    docs = t(spark, sf, "documents").select("doc_id")
    bands = persisted(map_rows(
        fan_out(docs), "doc_id long, b0 int, b1 int, b2 int, b3 int",
        synth_pair_png, phash_fingerprint))
    fp_cols = ("b0", "b1", "b2", "b3")
    hamming = sum(
        F.bit_count(F.col(f"{c}_a").bitwiseXOR(F.col(f"{c}_b"))) for c in fp_cols
    )
    return (
        band_pairs(bands, "doc_id", [F.col(c) for c in fp_cols], payload=fp_cols)
        .select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"),
                hamming.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= 3)
    )


def synth_mono_wav(did):
    """Row kernel: one REAL mono PCM WAV (``wav.wav_encode``) at 16 kHz:
    frames = 128 + id%101, s[k] = ((id·48271 + k·12345) mod 65536) −
    32768 — the ``multimodal.synth_wav`` formula family pinned to one
    channel so decimation is channel-free."""
    did = int(did)
    k = np.arange(128 + did % 101, dtype=np.int64)
    s = ((did * 48271 + k * 12345) % 65536 - 32768).astype(np.int16)
    yield did, wav_encode(s.reshape(-1, 1), 16000, 16)


def resample_wav(did, payload):
    """Row kernel: decode (RIFF walk) → decimate by 2 (adjacent-pair
    mean in the UNSIGNED domain: out[m] = (u[2m]+u[2m+1])//2 − 32768
    with u = s + 32768, so the //2 truncation is floor on every engine)
    → re-encode at half the rate → decode AGAIN, emitting the resampled
    stream's length, rate and :func:`sum_dot`. Both codec directions
    run twice per row; any mis-parsed byte anywhere changes rs_dot."""
    a, rate = wav_decode(bytes(payload))
    u = a.reshape(-1).astype(np.int64) + 32768
    n_out = u.size // 2
    dec = (u[: 2 * n_out : 2] + u[1 : 2 * n_out : 2]) // 2 - 32768
    b, rate2 = wav_decode(wav_encode(dec.astype(np.int16).reshape(n_out, 1), rate // 2, 16))
    yield (int(did), b.size, int(rate2), *sum_dot(b))


@query(
    "audio_resample_decimate",
    oracle="""
WITH d AS (
  SELECT doc_id, 128 + doc_id % 101 AS n_in FROM documents
),
o AS (
  SELECT d.doc_id, d.n_in // 2 AS n_out, t.m,
         (((d.doc_id * 48271 + (2 * t.m) * 12345) % 65536)
          + ((d.doc_id * 48271 + (2 * t.m + 1) * 12345) % 65536)) // 2
           - 32768 AS s
  FROM d CROSS JOIN range(0, 114) t(m)  -- 114 = max n_out = 228//2
  WHERE t.m < d.n_in // 2
)
SELECT doc_id,
       CAST(MAX(n_out) AS INT) AS n_out_frames,
       CAST(8000 AS INT) AS out_rate,
       CAST(SUM(s) AS BIGINT) AS rs_sum,
       CAST(SUM(t.m * s) AS BIGINT) AS rs_dot
FROM o t
GROUP BY doc_id
""",
    tags=("multimodal", "audio", "resample", "codec"),
)
def audio_resample_decimate(spark: SparkSession, sf: str) -> DataFrame:
    """AUDIO transform pipeline, distributed, with a full SQL value
    oracle: synthesize one real mono 16 kHz WAV per document, decode it
    (RIFF chunk walk), decimate 2:1 with an integer adjacent-pair mean,
    re-encode the result as a real 8 kHz WAV, decode THAT, and emit
    order-sensitive checksums of the resampled stream. Four codec
    passes per row; because the decimation is exact integer arithmetic
    in the unsigned sample domain, DuckDB recomputes the final stream
    from the (doc_id, k) synthesis formula codec-free and the driver's
    hash gate value-checks the entire decode→transform→encode→decode
    chain — the canonical shape of a multimodal feature-prep job
    (decode, downsample, re-store).

    Scale shape: mapInPandas over Arrow batches with zero shuffles —
    parallelism is input splits; per-row Python IS the codec work, the
    point of the query (same adjudication as the codec entries)."""
    docs = t(spark, sf, "documents").select("doc_id")
    return map_rows(fan_out(docs),
                    "doc_id long, n_out_frames int, out_rate int, rs_sum long, rs_dot long",
                    synth_mono_wav, resample_wav)


def synth_animation(did):
    """Row kernel: one REAL animated GIF
    (``gif.gif_encode_animation``: NETSCAPE loop extension + per-frame
    Graphic Control delays + real LZW per frame). Frame count, dims,
    palette, indices, and delays are pure (doc_id, f, i) formulas:
    nf = 3 + id%4, w = 8 + id%5, h = 8 + id%3, palette[j] =
    ((id·31 + j·67) % 256) greyscale, idx[f,i] = (id·7919 + f·131 +
    i·104729) % 16, delay[f] = 4 + (id+f)%6 — so a SQL oracle
    recomputes frame-sampled checksums codec-free."""
    did = int(did)
    nf, w, h = 3 + did % 4, 8 + did % 5, 8 + did % 3
    i = np.arange(w * h, dtype=np.int64)
    frames = [((did * 7919 + f * 131 + i * 104729) % 16).astype(np.uint8).reshape(h, w)
              for f in range(nf)]
    grey = ((did * 31 + np.arange(16, dtype=np.int64) * 67) % 256).astype(np.uint8)
    yield did, gif_encode_animation(frames, np.stack([grey, grey, grey], axis=1),
                                    [4 + (did + f) % 6 for f in range(nf)])


def gif_frame_sample(did, payload):
    """Row kernel: decode EVERY frame of an animated GIF (container
    walk, GCE delay parsing, per-frame LZW), keep every 2nd frame
    (stride sampling — the video keyframe-extraction shape), map sampled
    indices through the red palette channel, and emit order-sensitive
    checksums plus the total declared animation delay (which
    value-checks the Graphic Control Extension parsing, not just the
    pixel path)."""
    frames, pal, delays = gif_decode_frames(bytes(payload))
    npx = frames[0].size
    vs_sum = vs_dot = 0
    for f in range(0, len(frames), 2):
        r = pal[frames[f].reshape(-1), 0].astype(np.int64)
        vs_sum += int(r.sum())
        vs_dot += int(((f * npx + np.arange(npx, dtype=np.int64)) * r).sum())
    yield int(did), len(frames), (len(frames) + 1) // 2, int(sum(delays)), vs_sum, vs_dot


@query(
    "multimodal_video_framesample",
    oracle="""
WITH d AS (
  SELECT doc_id, 3 + doc_id % 4 AS nf,
         (8 + doc_id % 5) * (8 + doc_id % 3) AS npx
  FROM documents
),
fr AS (
  SELECT d.doc_id, d.nf, d.npx, t.f
  FROM d CROSS JOIN range(0, 6) t(f) WHERE t.f < d.nf
),
dl AS (
  SELECT doc_id,
         CAST(MAX(nf) AS INT) AS n_frames,
         CAST(SUM(CASE WHEN f % 2 = 0 THEN 1 ELSE 0 END) AS INT)
           AS n_sampled,
         CAST(SUM(4 + (doc_id + f) % 6) AS BIGINT) AS delay_total
  FROM fr GROUP BY doc_id
),
px AS (
  SELECT fr.doc_id, fr.f, fr.npx, t.i,
         (fr.doc_id * 31
          + ((fr.doc_id * 7919 + fr.f * 131 + t.i * 104729) % 16) * 67)
           % 256 AS r
  FROM fr CROSS JOIN range(0, 120) t(i)
  WHERE t.i < fr.npx AND fr.f % 2 = 0
),
s AS (
  SELECT doc_id,
         CAST(SUM(r) AS BIGINT) AS vs_sum,
         CAST(SUM((f * npx + i) * r) AS BIGINT) AS vs_dot
  FROM px GROUP BY doc_id
)
SELECT dl.doc_id, dl.n_frames, dl.n_sampled, dl.delay_total,
       s.vs_sum, s.vs_dot
FROM dl JOIN s USING (doc_id)
""",
    tags=("multimodal", "video", "gif", "framesample", "codec"),
)
def multimodal_video_framesample(spark: SparkSession, sf: str) -> DataFrame:
    """VIDEO-modality frame sampling over a real multi-frame container,
    with a full SQL value oracle: one animated GIF per document (real
    LZW per frame, NETSCAPE loop block, per-frame Graphic Control
    delays), every frame decoded, every 2nd frame kept (stride
    keyframe sampling), sampled indices mapped through the palette.
    ``delay_total`` value-checks the GCE walk itself — a decoder that
    skipped or mis-parsed control extensions would hash-fail even with
    perfect pixels. This upgrades the r1 ``multimodal_frame_sample``
    stub (rows-only, fake frames) to a driver-hashable query over real
    codec work on every row.

    Scale shape: mapInPandas over Arrow batches, zero shuffles;
    parallelism = input splits (the codec adjudication of the
    ``multimodal_*_codec`` entries applies unchanged)."""
    docs = t(spark, sf, "documents").select("doc_id")
    return map_rows(
        fan_out(docs),
        "doc_id long, n_frames int, n_sampled int, delay_total long, vs_sum long, vs_dot long",
        synth_animation, gif_frame_sample,
    )


def augment_checksums(did, payload):
    """Row kernel: decode (full PNG pipeline) → two standard training
    augmentations — horizontal flip and 90° clockwise rotation — each
    RE-ENCODED as a real PNG and decoded AGAIN, emitting the flip's
    :func:`sum_dot` and the rotation's order-sensitive checksum. Any
    error in either codec direction or in the geometric index mapping
    changes f_dot / r_dot."""
    img = png_decode(bytes(payload))
    flip = png_decode(png_encode(img[:, ::-1]))
    rot = png_decode(png_encode(np.rot90(img, k=-1)))
    yield (int(did), *sum_dot(flip), sum_dot(rot)[1])


@query(
    "multimodal_image_augment",
    oracle="""
WITH d AS (
  SELECT doc_id,
         8 + doc_id % 9 AS w,
         8 + (doc_id * 3) % 7 AS h
  FROM documents
)
SELECT d.doc_id,
       CAST(SUM((d.doc_id * 2654435761 + t.i * 40503) % 256) AS BIGINT)
         AS f_sum,
       CAST(SUM(t.i * ((d.doc_id * 2654435761
              + ((t.i // d.w) * d.w + (d.w - 1 - t.i % d.w)) * 40503)
             % 256)) AS BIGINT) AS f_dot,
       CAST(SUM(t.i * ((d.doc_id * 2654435761
              + ((d.h - 1 - (t.i % d.h)) * d.w + (t.i // d.h)) * 40503)
             % 256)) AS BIGINT) AS r_dot
FROM d CROSS JOIN range(0, 224) t(i)
WHERE t.i < d.w * d.h
GROUP BY d.doc_id
""",
    tags=("multimodal", "image", "augment", "codec"),
)
def multimodal_image_augment(spark: SparkSession, sf: str) -> DataFrame:
    """IMAGE training augmentation, distributed, with a full SQL value
    oracle: one real PNG per document (the ``multimodal_png_codec``
    corpus formula), decoded, flipped horizontally AND rotated 90°
    clockwise, each augmentation re-encoded as a real PNG and decoded
    again — six codec passes per row. The oracle recomputes both
    augmented pixel streams purely by INDEX REMAPPING of the synthesis
    formula (flip: j = (i÷w)·w + (w−1−i mod w); rot90cw onto a (w, h)
    canvas: j = (h−1−(i mod h))·w + i÷h), so a single misplaced pixel
    in either geometric transform or any codec direction fails the
    driver's hash. f_sum doubles as the no-pixel-lost check (flip is a
    permutation, so it must equal the original pixel sum).

    Scale shape: mapInPandas over Arrow batches, no shuffle — the
    standard augment-on-read training-input pipeline stage."""
    docs = t(spark, sf, "documents").select("doc_id")
    return map_rows(fan_out(docs), "doc_id long, f_sum long, f_dot long, r_dot long",
                    synth_png, augment_checksums)


def synth_group_png(did):
    """Row kernel: one real PNG with GROUP-UNIFORM dims (4 consecutive
    ids share base = id − id%4; w = 8 + base%5, h = 8 + base%3) so
    group members tile; pixels px[i] = (id·2654435761 + i·40503) mod
    256 stay per-MEMBER."""
    did = int(did)
    base = did - did % 4
    w, h = 8 + base % 5, 8 + base % 3
    i = np.arange(w * h, dtype=np.int64)
    yield did, base, png_encode(((did * _PX_A + i * _PX_B) % 256).astype(np.uint8).reshape(h, w))


@query(
    "multimodal_tile_composite",
    oracle="""
WITH g AS (
  SELECT DISTINCT doc_id - (doc_id % 4) AS base FROM documents
  WHERE EXISTS (SELECT 1 FROM documents d2
                WHERE d2.doc_id = doc_id - (doc_id % 4) + 3)
),
dims AS (
  SELECT base, 8 + base % 5 AS w, 8 + base % 3 AS h FROM g
)
SELECT d.base,
       CAST(2 * d.h AS INT) AS out_h,
       CAST(2 * d.w AS INT) AS out_w,
       CAST(SUM(((d.base + (t.i // (2 * d.w * d.h)) * 2
                  + ((t.i % (2 * d.w)) // d.w)) * 2654435761
                 + (((t.i // (2 * d.w)) % d.h) * d.w + t.i % d.w) * 40503)
                % 256) AS BIGINT) AS c_sum,
       CAST(SUM(t.i * (((d.base + (t.i // (2 * d.w * d.h)) * 2
                  + ((t.i % (2 * d.w)) // d.w)) * 2654435761
                 + (((t.i // (2 * d.w)) % d.h) * d.w + t.i % d.w) * 40503)
                % 256)) AS BIGINT) AS c_dot
FROM dims d CROSS JOIN range(0, 480) t(i)  -- 480 = max 2h*2w = 20*24
WHERE t.i < 4 * d.w * d.h
GROUP BY d.base, d.w, d.h
""",
    tags=("multimodal", "image", "composite", "codec", "grouped"),
)
def multimodal_tile_composite(spark: SparkSession, sf: str) -> DataFrame:
    """GROUPED image composition (the contact-sheet / sprite-sheet
    transform): each group of 4 consecutive documents' PNGs is decoded,
    tiled 2×2 into one composite canvas, the composite RE-ENCODED as a
    real PNG and decoded again, with order-sensitive checksums over the
    composite stream. The grouped shape runs as ``applyInPandas`` over
    the base key — the multi-INPUT multimodal operator the per-row
    pipelines don't exercise (group members must meet in one task).
    The oracle recomputes the composite purely by index arithmetic
    (quadrant = (row÷h)·2 + col÷w selects the member id; inner offset
    re-indexes into that member's formula).

    Scale shape: one hash-shuffle on the group key (bounded groups of
    4), then per-group Python = the codec work; composite groups are
    the unit of parallelism."""
    docs = t(spark, sf, "documents").select("doc_id")
    staged = map_rows(fan_out(docs), "doc_id long, base long, payload binary", synth_group_png)

    def compose(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) != 4:  # incomplete trailing group: no composite
            return pd.DataFrame(
                {"base": [], "out_h": [], "out_w": [],
                 "c_sum": [], "c_dot": []}
            ).astype({"base": "int64", "out_h": "int32",
                      "out_w": "int32", "c_sum": "int64", "c_dot": "int64"})
        pdf = pdf.sort_values("doc_id")
        imgs = [png_decode(bytes(p)) for p in pdf["payload"]]
        h, w = imgs[0].shape
        canvas = np.zeros((2 * h, 2 * w), dtype=np.uint8)
        for q, img in enumerate(imgs):
            r0, c0 = (q // 2) * h, (q % 2) * w
            canvas[r0 : r0 + h, c0 : c0 + w] = img
        c_sum, c_dot = sum_dot(png_decode(png_encode(canvas)))
        return pd.DataFrame(
            {"base": [int(pdf["base"].iloc[0])],
             "out_h": [2 * h], "out_w": [2 * w],
             "c_sum": [c_sum], "c_dot": [c_dot]}
        )

    return staged.groupBy("base").applyInPandas(
        compose,
        schema="base long, out_h int, out_w int, c_sum long, c_dot long",
    )
