"""Registry entries for the REAL media decode paths (operators/media.py):
BMP image decode, nearest-neighbor resize, and WAV PCM16 audio decode.

Grading pattern is the same first-principles split the WARC splitter uses
(queries_webingest): the Spark side SYNTHESIZES deterministic media bytes
from integer parameters of doc_id (no external data), runs the REAL
byte-level decoder on them, and returns integer features; the DuckDB
oracle never sees a byte — it recomputes the expected features in closed
form from the same integer parameters (nested list_transform/list_sum
over the pixel/sample index ranges). So header layout, row padding,
bottom-up row order, BGR channel order, RIFF chunk walking, and the
resize index map are all under the driver's value hash: any decoder bug
shifts a sum and the hash breaks.

Image parameters are chosen adversarially: widths 17..29 cover every
w % 4 residue (BMP rows pad to 4-byte boundaries — the classic decoder
bug), and the three channels use row-gradient / column-gradient /
diagonal-gradient patterns so a flipped row order, swapped channel, or
transposed axis each corrupt a different sum.

Scale shape: synth and decode are each ONE Arrow-batched mapInPandas at
scan parallelism — zero Exchange end-to-end (pinned in PLANS.md). At
100 TB the payloads stay columnar in executor-local Arrow batches and
never hit the driver.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ocr_spark.operators.media import (
    bmp_features,
    bmp_resize,
    encode_bmp,
    encode_wav,
    wav_features,
)
from ocr_spark.queries import register, t

# BMP synth parameters — every value a closed-form function of doc_id.
#   w = 17 + doc_id % 13   (17..29: all four w % 4 residues)
#   h = 9 + doc_id % 7     (9..15)
#   R[r, c] = (base_r + r) % 256        base_r = (doc_id * 37) % 256
#   G[r, c] = (base_g + c) % 256        base_g = (doc_id * 59) % 256
#   B[r, c] = (base_b + r + c) % 256    base_b = (doc_id * 83) % 256
RESIZE_W = 16
RESIZE_H = 8

# WAV synth parameters.
#   rate = 8000 + (doc_id % 5) * 1000
#   n    = 200 + doc_id % 300
#   s[i] = ((doc_id * 7919 + i * 104729) % 4001) - 2000   (int16-safe)


def _bmp_params(doc_id: int):
    return (
        17 + doc_id % 13,
        9 + doc_id % 7,
        (doc_id * 37) % 256,
        (doc_id * 59) % 256,
        (doc_id * 83) % 256,
    )


def synth_bmp(doc_id: int) -> bytes:
    w, h, br, bg, bb = _bmp_params(doc_id)
    r = np.arange(h, dtype=np.int64)[:, None]
    c = np.arange(w, dtype=np.int64)[None, :]
    px = np.stack(
        [
            np.broadcast_to((br + r) % 256, (h, w)),
            np.broadcast_to((bg + c) % 256, (h, w)),
            (bb + r + c) % 256,
        ],
        axis=2,
    ).astype(np.uint8)
    return encode_bmp(px)


def synth_wav(doc_id: int) -> bytes:
    rate = 8000 + (doc_id % 5) * 1000
    n = 200 + doc_id % 300
    i = np.arange(n, dtype=np.int64)
    s = ((doc_id * 7919 + i * 104729) % 4001 - 2000).astype(np.int16)
    return encode_wav(s, rate)


def _synth_stage(make) -> callable:
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].values,
                    "payload": [make(int(d)) for d in pdf["doc_id"]],
                }
            )

    return fn


def _payloads(spark: SparkSession, sf_dir: str, make) -> DataFrame:
    return (
        t(spark, sf_dir, "documents")
        .select("doc_id")
        .mapInPandas(_synth_stage(make), "doc_id bigint, payload binary")
    )


# Oracle fragments: closed-form channel sums over the synth gradients.
_BMP_P_SQL = """
p AS (
  SELECT doc_id,
    17 + doc_id % 13 AS w, 9 + doc_id % 7 AS h,
    (doc_id * 37) % 256 AS br, (doc_id * 59) % 256 AS bg,
    (doc_id * 83) % 256 AS bb
  FROM documents
)
"""


@register(
    "mm_decode_bmp",
    f"""
WITH {_BMP_P_SQL}
SELECT doc_id, true AS ok, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
  CAST(w * list_sum(list_transform(range(0, h), r -> (br + r) % 256))
       AS BIGINT) AS sum_r,
  CAST(h * list_sum(list_transform(range(0, w), c -> (bg + c) % 256))
       AS BIGINT) AS sum_g,
  CAST(list_sum(list_transform(range(0, h), r ->
         list_sum(list_transform(range(0, w), c -> (bb + r + c) % 256))))
       AS BIGINT) AS sum_b
FROM p
""",
)
def q_mm_decode_bmp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize a gradient BMP per doc, decode it with the REAL parser,
    grade dimensions + exact per-channel pixel sums against the oracle's
    closed-form recomputation."""
    return bmp_features(_payloads(spark, sf_dir, synth_bmp))


@register(
    "mm_resize_bmp",
    f"""
WITH {_BMP_P_SQL}
SELECT doc_id, true AS ok,
  CAST({RESIZE_W} AS INT) AS width, CAST({RESIZE_H} AS INT) AS height,
  CAST({RESIZE_W} * list_sum(list_transform(range(0, {RESIZE_H}),
         r2 -> (br + (r2 * h) // {RESIZE_H}) % 256)) AS BIGINT) AS sum_r,
  CAST({RESIZE_H} * list_sum(list_transform(range(0, {RESIZE_W}),
         c2 -> (bg + (c2 * w) // {RESIZE_W}) % 256)) AS BIGINT) AS sum_g,
  CAST(list_sum(list_transform(range(0, {RESIZE_H}), r2 ->
         list_sum(list_transform(range(0, {RESIZE_W}), c2 ->
           (bb + (r2 * h) // {RESIZE_H} + (c2 * w) // {RESIZE_W}) % 256))))
       AS BIGINT) AS sum_b
FROM p
""",
)
def q_mm_resize_bmp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode -> nearest-neighbor resize to {W}x{H} -> re-encode ->
    decode AGAIN: two independent trips through the real parser, with the
    oracle recomputing the resampled gradient sums from the floor-index
    map (out[r2,c2] = in[(r2*h)//H, (c2*w)//W])."""
    resized = bmp_resize(
        _payloads(spark, sf_dir, synth_bmp), RESIZE_W, RESIZE_H
    ).select("doc_id", "resized")
    return bmp_features(resized, payload_col="resized")


@register(
    "mm_audio_wav",
    """
WITH p AS (
  SELECT doc_id, 8000 + (doc_id % 5) * 1000 AS rate,
    200 + doc_id % 300 AS n
  FROM documents
)
SELECT doc_id, true AS ok, CAST(rate AS INT) AS sample_rate,
  CAST(n AS INT) AS n_samples,
  CAST(list_sum(list_transform(range(0, n), i ->
         abs((doc_id * 7919 + i * 104729) % 4001 - 2000))) AS BIGINT)
    AS sum_abs
FROM p
""",
)
def q_mm_audio_wav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize a PCM16 WAV per doc, decode it with the real RIFF chunk
    walker, grade rate + sample count + exact sum of |sample|."""
    return wav_features(_payloads(spark, sf_dir, synth_wav))


# --- netpbm (P6/P5) -------------------------------------------------------------------
# Synth parameters, every value a closed-form function of doc_id:
#   fmt = P6 if doc_id % 2 = 0 else P5; header_style = doc_id % 3 (the
#   LEGAL grammar variants: whitespace runs, comments, maxval-on-same-line)
#   w = 11 + doc_id % 10, h = 5 + doc_id % 6
#   P6: R = (br + r) % 256, G = (bg + c) % 256, B = (bb + r + c) % 256
#       (br/bg/bb as in the BMP synth)
#   P5: gray = (bg + 2r + 3c) % 256


def synth_netpbm(doc_id: int) -> bytes:
    from ocr_spark.operators.media import encode_pgm, encode_ppm

    w = 11 + doc_id % 10
    h = 5 + doc_id % 6
    br, bg, bb = (
        (doc_id * 37) % 256, (doc_id * 59) % 256, (doc_id * 83) % 256
    )
    r = np.arange(h, dtype=np.int64)[:, None]
    c = np.arange(w, dtype=np.int64)[None, :]
    if doc_id % 2 == 0:
        px = np.stack(
            [
                np.broadcast_to((br + r) % 256, (h, w)),
                np.broadcast_to((bg + c) % 256, (h, w)),
                (bb + r + c) % 256,
            ],
            axis=2,
        ).astype(np.uint8)
        return encode_ppm(px, header_style=doc_id % 3)
    gray = ((bg + 2 * r + 3 * c) % 256).astype(np.uint8)
    return encode_pgm(gray, header_style=doc_id % 2)


_PNM_ORACLE = """
WITH p AS (
  SELECT doc_id,
    11 + doc_id % 10 AS w, 5 + doc_id % 6 AS h,
    (doc_id * 37) % 256 AS br, (doc_id * 59) % 256 AS bg,
    (doc_id * 83) % 256 AS bb
  FROM documents
)
SELECT doc_id, true AS ok, 'P6' AS fmt,
  CAST(w AS INT) AS width, CAST(h AS INT) AS height,
  CAST(w * list_sum(list_transform(range(0, h), r -> (br + r) % 256))
    AS BIGINT) AS sum_r,
  CAST(h * list_sum(list_transform(range(0, w), c -> (bg + c) % 256))
    AS BIGINT) AS sum_g,
  CAST(list_sum(list_transform(range(0, h), r ->
    list_sum(list_transform(range(0, w), c -> (bb + r + c) % 256))))
    AS BIGINT) AS sum_b
FROM p WHERE doc_id % 2 = 0
UNION ALL
SELECT doc_id, true AS ok, 'P5' AS fmt,
  CAST(w AS INT) AS width, CAST(h AS INT) AS height,
  CAST(list_sum(list_transform(range(0, h), r ->
    list_sum(list_transform(range(0, w), c -> (bg + 2*r + 3*c) % 256))))
    AS BIGINT) AS sum_r,
  NULL AS sum_g, NULL AS sum_b
FROM p WHERE doc_id % 2 = 1
"""


@register("mm_decode_netpbm", _PNM_ORACLE)
def q_mm_decode_netpbm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """netpbm decode through the REAL grammar parser (comments,
    whitespace runs, the single-whitespace raster boundary — three legal
    header spellings synthesized per doc_id), graded first-principles:
    the oracle recomputes every channel sum from the gradient formulas
    without seeing a byte. Same zero-Exchange two-Arrow-hop shape as the
    BMP/WAV rows."""
    from ocr_spark.operators.media import netpbm_features

    return netpbm_features(_payloads(spark, sf_dir, synth_netpbm))


# --- perceptual-hash (aHash) image dedup ----------------------------------------------
# The multimodal face of the dedup family: group images whose 8x8
# average-hash coincides (re-encoded thumbnails, recolored mirrors). The
# hash path is the REAL decoder (operators/media.bmp_phash: decode ->
# nearest-neighbor 8x8 sample -> integer above-mean bits); grouping is the
# same skew-immune groupBy-min + join-back used by dedup_para_keepfirst —
# a viral image (one hash, 10^8 copies) is absorbed by partial
# aggregation, never a window partition. The oracle recomputes all 64
# bits in closed form from the gradient synth parameters (the floor index
# map (k//8*h)//8, the channel formulas, the cell*64 > total threshold)
# and groups with a window — DuckDB never sees a byte.

_PHASH_CELLS_SQL = """
cv AS (
  SELECT doc_id,
    list_transform(range(0, 64), k ->
      ((br + ((k // 8) * h) // 8) % 256)
      + ((bg + ((k % 8) * w) // 8) % 256)
      + ((bb + ((k // 8) * h) // 8 + ((k % 8) * w) // 8) % 256)
    ) AS cells
  FROM p
),
hb AS (
  SELECT doc_id,
    CAST(list_sum(list_transform(range(0, 32), k ->
      CASE WHEN cells[CAST(k AS INT) + 33] * 64 > list_sum(cells)
           THEN (CAST(1 AS BIGINT) << k) ELSE 0 END)) AS BIGINT)
      AS phash_hi,
    CAST(list_sum(list_transform(range(0, 32), k ->
      CASE WHEN cells[CAST(k AS INT) + 1] * 64 > list_sum(cells)
           THEN (CAST(1 AS BIGINT) << k) ELSE 0 END)) AS BIGINT)
      AS phash_lo
  FROM cv
)
"""


@register(
    "mm_phash_dedup",
    f"""
WITH {_BMP_P_SQL},
{_PHASH_CELLS_SQL}
SELECT doc_id, phash_hi, phash_lo,
  min(doc_id) OVER (PARTITION BY phash_hi, phash_lo) AS rep_id
FROM hb
""",
)
def q_mm_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every doc labeled with its image's 64-bit aHash and the min doc_id
    sharing that hash. Bit k (row-major cell r*8+c) lives in phash_lo for
    k<32, phash_hi-bit (k-32) otherwise."""
    from pyspark.sql import functions as F

    from ocr_spark.operators.media import bmp_phash

    hashed = bmp_phash(_payloads(spark, sf_dir, synth_bmp)).select(
        "doc_id", "phash_hi", "phash_lo"
    )
    reps = hashed.groupBy("phash_hi", "phash_lo").agg(
        F.min("doc_id").alias("rep_id")
    )
    return hashed.join(reps, ["phash_hi", "phash_lo"]).select(
        "doc_id", "phash_hi", "phash_lo", "rep_id"
    )


# --- PNG (stdlib-zlib real decode) ----------------------------------------------------
# Synth parameters, every value a closed-form function of doc_id:
#   color type: doc_id % 3 -> {0: grey (1ch), 1: RGB (3ch), 2: RGBA (4ch)}
#   w = 11 + doc_id % 8 (11..18), h = 7 + doc_id % 6 (7..12) — h >= 5, so
#   the encoder's filter cycle (row r written with filter r % 5) forces
#   the decoder through ALL FIVE scanline filters on every image
#   px[r, c, k] = (doc_id * 29 + r * 5 + c * 3 + k * 113) % 256
# Reject families (ok=false under the hash):
#   doc_id % 17 = 0 -> second IDAT chunk's CRC corrupted
#   doc_id % 13 = 0 (and not % 17) -> IHDR interlace flag = 1 (Adam7 is
#   outside the supported profile; header-level honest reject)


def synth_png(doc_id: int) -> bytes:
    from ocr_spark.operators.media import encode_png

    ctype = (0, 2, 6)[doc_id % 3]
    ch = {0: 1, 2: 3, 6: 4}[ctype]
    w, h = 11 + doc_id % 8, 7 + doc_id % 6
    r = np.arange(h, dtype=np.int64)[:, None, None]
    c = np.arange(w, dtype=np.int64)[None, :, None]
    k = np.arange(ch, dtype=np.int64)[None, None, :]
    px = ((doc_id * 29 + r * 5 + c * 3 + k * 113) % 256).astype(np.uint8)
    return encode_png(
        px,
        ctype,
        interlace=1 if (doc_id % 13 == 0 and doc_id % 17 != 0) else 0,
        corrupt_crc=doc_id % 17 == 0,
    )


@register(
    "mm_decode_png",
    """
WITH p AS (
  SELECT doc_id, 11 + doc_id % 8 AS w, 7 + doc_id % 6 AS h,
    CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 3 ELSE 4 END AS ch,
    (doc_id % 17 = 0) OR (doc_id % 13 = 0) AS bad
  FROM documents
)
SELECT doc_id, NOT bad AS ok,
  CASE WHEN bad THEN NULL ELSE CAST(w AS INT) END AS width,
  CASE WHEN bad THEN NULL ELSE CAST(h AS INT) END AS height,
  CASE WHEN bad THEN NULL ELSE CAST(ch AS INT) END AS channels,
  CASE WHEN bad THEN NULL ELSE CAST(list_sum(list_transform(range(0, h),
    r -> list_sum(list_transform(range(0, w), c ->
      (doc_id * 29 + r * 5 + c * 3) % 256)))) AS BIGINT) END AS sum_c0,
  CASE WHEN bad OR ch < 3 THEN NULL ELSE CAST(list_sum(list_transform(
    range(0, h), r -> list_sum(list_transform(range(0, w), c ->
      (doc_id * 29 + r * 5 + c * 3 + 113) % 256)))) AS BIGINT) END AS sum_c1,
  CASE WHEN bad OR ch < 3 THEN NULL ELSE CAST(list_sum(list_transform(
    range(0, h), r -> list_sum(list_transform(range(0, w), c ->
      (doc_id * 29 + r * 5 + c * 3 + 226) % 256)))) AS BIGINT) END AS sum_c2,
  CASE WHEN bad OR ch < 4 THEN NULL ELSE CAST(list_sum(list_transform(
    range(0, h), r -> list_sum(list_transform(range(0, w), c ->
      (doc_id * 29 + r * 5 + c * 3 + 339) % 256)))) AS BIGINT) END AS sum_c3
FROM p
""",
)
def q_mm_decode_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize a gradient PNG per doc (color type cycling
    grey/RGB/RGBA, every scanline filter exercised, IDAT split in two),
    decode with the REAL stdlib-zlib parser, grade dimensions + exact
    per-channel sums; the CRC-corrupt and Adam7-flagged families must
    come back ok=false. The oracle recomputes everything closed-form and
    never sees a PNG byte — chunk framing, CRC checks, inflate, filter
    inversion and channel order all sit under the value hash."""
    from ocr_spark.operators.media import png_features

    return png_features(_payloads(spark, sf_dir, synth_png))


# --- GIF (hand-rolled LZW real decode) --------------------------------------------------
# Synth parameters, closed-form in doc_id:
#   psize = 4 + doc_id % 29 (4..32 palette entries -> LZW min code size
#   2..5), w = 9 + doc_id % 10, h = 6 + doc_id % 7
#   idx[r, c]  = (doc_id * 13 + r * 3 + c) % psize
#   pal[i] = ((d*41 + i*7) % 256, (d*43 + i*11) % 256, (d*47 + i*13) % 256)
# Stream-variant families (identical pixels, different bytes — the oracle
# is variant-blind, so every variant must decode identically):
#   doc_id % 5 = 0 -> interlaced (4-pass row order; the placement
#   checksum `chk` is what catches a wrong de-interlace — channel sums
#   alone are row-permutation invariant)
#   doc_id % 7 = 0 -> 'uncompressed' LZW (clear-code-spam stream with
#   mid-stream clears)   doc_id % 3 = 0 -> local color table
# Reject family: doc_id % 19 = 0 -> truncated sub-block stream.


def synth_gif(doc_id: int) -> bytes:
    from ocr_spark.operators.media import encode_gif

    psize = 4 + doc_id % 29
    w, h = 9 + doc_id % 10, 6 + doc_id % 7
    r = np.arange(h, dtype=np.int64)[:, None]
    c = np.arange(w, dtype=np.int64)[None, :]
    idx = ((doc_id * 13 + r * 3 + c) % psize).astype(np.uint8)
    i = np.arange(psize, dtype=np.int64)
    pal = np.stack(
        [(doc_id * 41 + i * 7) % 256,
         (doc_id * 43 + i * 11) % 256,
         (doc_id * 47 + i * 13) % 256],
        axis=1,
    ).astype(np.uint8)
    return encode_gif(
        idx, pal,
        interlace=doc_id % 5 == 0,
        uncompressed=doc_id % 7 == 0,
        local_palette=doc_id % 3 == 0,
        truncate=doc_id % 19 == 0,
    )


@register(
    "mm_decode_gif",
    """
WITH p AS (
  SELECT doc_id, 4 + doc_id % 29 AS psize,
    9 + doc_id % 10 AS w, 6 + doc_id % 7 AS h,
    doc_id % 19 = 0 AS bad
  FROM documents
)
SELECT doc_id, NOT bad AS ok,
  CASE WHEN bad THEN NULL ELSE CAST(w AS INT) END AS width,
  CASE WHEN bad THEN NULL ELSE CAST(h AS INT) END AS height,
  CASE WHEN bad THEN NULL ELSE CAST(list_sum(list_transform(range(0, h),
    r -> list_sum(list_transform(range(0, w), c ->
      (doc_id * 41 + ((doc_id * 13 + r * 3 + c) % psize) * 7) % 256))))
    AS BIGINT) END AS sum_r,
  CASE WHEN bad THEN NULL ELSE CAST(list_sum(list_transform(range(0, h),
    r -> list_sum(list_transform(range(0, w), c ->
      (doc_id * 43 + ((doc_id * 13 + r * 3 + c) % psize) * 11) % 256))))
    AS BIGINT) END AS sum_g,
  CASE WHEN bad THEN NULL ELSE CAST(list_sum(list_transform(range(0, h),
    r -> list_sum(list_transform(range(0, w), c ->
      (doc_id * 47 + ((doc_id * 13 + r * 3 + c) % psize) * 13) % 256))))
    AS BIGINT) END AS sum_b,
  CASE WHEN bad THEN NULL ELSE CAST(list_sum(list_transform(range(0, h),
    r -> list_sum(list_transform(range(0, w), c ->
      (r * w + c + 1) *
      ((doc_id * 41 + ((doc_id * 13 + r * 3 + c) % psize) * 7) % 256)))))
    AS BIGINT) END AS chk
FROM p
""",
)
def q_mm_decode_gif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize a palette GIF per doc (palette size / dims / gradient
    all doc_id-closed-form; interlace, 'uncompressed' LZW, and
    local-color-table stream variants cycle through the corpus), decode
    with the REAL hand-rolled LZW + block-grammar parser, grade dims +
    per-channel sums + a (row, col)-weighted placement checksum. The
    oracle recomputes everything from the index formula and never sees a
    GIF byte — LZW bit unpacking, code growth, clear codes, palette
    mapping AND de-interlacing all sit under the value hash."""
    from ocr_spark.operators.media import gif_features

    return gif_features(_payloads(spark, sf_dir, synth_gif))


# --- audio frame features + mixed-format sniffing ------------------------------------


@register(
    "mm_audio_frames",
    """
WITH p AS (SELECT doc_id, 200 + doc_id % 300 AS n FROM documents),
f AS (SELECT doc_id, unnest(range(0, n // 64)) AS frame_id FROM p)
SELECT doc_id, CAST(frame_id AS INT) AS frame_id, true AS ok,
  CAST(list_sum(list_transform(range(frame_id * 64, frame_id * 64 + 64),
    i -> ((doc_id * 7919 + i * 104729) % 4001 - 2000)
       * ((doc_id * 7919 + i * 104729) % 4001 - 2000)))
    AS BIGINT) AS sumsq,
  CAST(list_sum(list_transform(range(frame_id * 64 + 1, frame_id * 64 + 64),
    i -> CASE WHEN
      ((doc_id * 7919 + (i - 1) * 104729) % 4001 - 2000)
      * ((doc_id * 7919 + i * 104729) % 4001 - 2000) < 0
      THEN 1 ELSE 0 END)) AS BIGINT) AS zc
FROM f
""",
)
def q_mm_audio_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The audio feature-extract stage: decode each synthetic WAV with the
    real RIFF walker, emit one row per 64-sample frame with exact integer
    energy (sum of squares) and strict-sign zero-crossing count. Frame
    boundary arithmetic, the dropped partial tail frame, and within-frame
    adjacency are all under the hash (the oracle re-derives every sample
    from the synth formula)."""
    from ocr_spark.operators.media import wav_frame_features

    return wav_frame_features(_payloads(spark, sf_dir, synth_wav))


def synth_image_any(doc_id: int) -> bytes:
    """Mixed-format corpus: format chosen by doc_id % 3, payload produced
    by the per-format synths (inheriting their reject families)."""
    sel = doc_id % 3
    if sel == 0:
        return synth_bmp(doc_id)
    if sel == 1:
        return synth_png(doc_id)
    return synth_gif(doc_id)


@register(
    "mm_sniff_decode",
    """
WITH p AS (
  SELECT doc_id, doc_id % 3 AS sel,
    -- bmp params
    17 + doc_id % 13 AS bw, 9 + doc_id % 7 AS bh,
    (doc_id * 37) % 256 AS br, (doc_id * 59) % 256 AS bg,
    (doc_id * 83) % 256 AS bb,
    -- png params (sel=1 -> color type 2, 3 channels)
    11 + doc_id % 8 AS pw, 7 + doc_id % 6 AS ph,
    -- gif params
    4 + doc_id % 29 AS psize, 9 + doc_id % 10 AS gw, 6 + doc_id % 7 AS gh,
    CASE
      WHEN doc_id % 3 = 1 THEN (doc_id % 17 = 0) OR (doc_id % 13 = 0)
      WHEN doc_id % 3 = 2 THEN doc_id % 19 = 0
      ELSE false
    END AS bad
  FROM documents
)
SELECT doc_id, NOT bad AS ok,
  CASE WHEN bad THEN NULL
       WHEN sel = 0 THEN 'bmp' WHEN sel = 1 THEN 'png' ELSE 'gif'
  END AS fmt,
  CASE WHEN bad THEN NULL
       WHEN sel = 0 THEN CAST(bw AS INT) WHEN sel = 1 THEN CAST(pw AS INT)
       ELSE CAST(gw AS INT) END AS width,
  CASE WHEN bad THEN NULL
       WHEN sel = 0 THEN CAST(bh AS INT) WHEN sel = 1 THEN CAST(ph AS INT)
       ELSE CAST(gh AS INT) END AS height,
  CASE WHEN bad THEN NULL
    WHEN sel = 0 THEN CAST(
      bw * list_sum(list_transform(range(0, bh), r -> (br + r) % 256))
      + bh * list_sum(list_transform(range(0, bw), c -> (bg + c) % 256))
      + list_sum(list_transform(range(0, bh), r ->
          list_sum(list_transform(range(0, bw), c -> (bb + r + c) % 256))))
      AS BIGINT)
    WHEN sel = 1 THEN CAST(
      list_sum(list_transform(range(0, ph), r ->
        list_sum(list_transform(range(0, pw), c ->
          (doc_id * 29 + r * 5 + c * 3) % 256
          + (doc_id * 29 + r * 5 + c * 3 + 113) % 256
          + (doc_id * 29 + r * 5 + c * 3 + 226) % 256))))
      AS BIGINT)
    ELSE CAST(
      list_sum(list_transform(range(0, gh), r ->
        list_sum(list_transform(range(0, gw), c ->
          (doc_id * 41 + ((doc_id * 13 + r * 3 + c) % psize) * 7) % 256
          + (doc_id * 43 + ((doc_id * 13 + r * 3 + c) % psize) * 11) % 256
          + (doc_id * 47 + ((doc_id * 13 + r * 3 + c) % psize) * 13) % 256))))
      AS BIGINT)
  END AS sum_all
FROM p
""",
)
def q_mm_sniff_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed-format image ingest, the production shape: a binary column
    whose codec varies row to row. Magic-byte sniffing dispatches to the
    real BMP/PNG/GIF decoders; the oracle recomputes format, dimensions
    and the all-channel pixel sum per branch closed-form. A wrong
    dispatch, or any per-format decode bug, lands in the wrong CASE arm
    and breaks the hash; the PNG/GIF reject families stay ok=false."""
    from ocr_spark.operators.media import image_sniff_features

    return image_sniff_features(_payloads(spark, sf_dir, synth_image_any))


# --- TIFF (byte-order-honoring real decode) ---------------------------------------------
# Synth parameters, closed-form in doc_id:
#   big-endian (MM) when doc_id % 2 = 1 — byte order is THE adversarial
#   axis here: a decoder that hard-codes II reads garbage on half the
#   corpus and every graded column breaks
#   grey (1ch) when doc_id % 3 = 0 else RGB; w = 10 + d % 9, h = 5 + d % 8
#   rows_per_strip = 1 + d % 5 (multi-strip assembly; chk catches a
#   wrong strip order)   px[r, c, k] = (d*31 + r*7 + c*5 + k*97) % 256
# Reject family: d % 23 = 0 -> truncated final strip.


def synth_tiff(doc_id: int) -> bytes:
    from ocr_spark.operators.media import encode_tiff

    ch = 1 if doc_id % 3 == 0 else 3
    w, h = 10 + doc_id % 9, 5 + doc_id % 8
    r = np.arange(h, dtype=np.int64)[:, None, None]
    c = np.arange(w, dtype=np.int64)[None, :, None]
    k = np.arange(ch, dtype=np.int64)[None, None, :]
    px = ((doc_id * 31 + r * 7 + c * 5 + k * 97) % 256).astype(np.uint8)
    return encode_tiff(
        px,
        big_endian=doc_id % 2 == 1,
        rows_per_strip=1 + doc_id % 5,
        truncate=doc_id % 23 == 0,
    )


@register(
    "mm_decode_tiff",
    """
WITH p AS (
  SELECT doc_id,
    CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 3 END AS ch,
    10 + doc_id % 9 AS w, 5 + doc_id % 8 AS h,
    doc_id % 23 = 0 AS bad
  FROM documents
)
SELECT doc_id, NOT bad AS ok,
  CASE WHEN bad THEN NULL ELSE CAST(w AS INT) END AS width,
  CASE WHEN bad THEN NULL ELSE CAST(h AS INT) END AS height,
  CASE WHEN bad THEN NULL ELSE CAST(ch AS INT) END AS channels,
  CASE WHEN bad THEN NULL ELSE CAST(list_sum(list_transform(range(0, h),
    r -> list_sum(list_transform(range(0, w), c ->
      (doc_id * 31 + r * 7 + c * 5) % 256)))) AS BIGINT) END AS sum_c0,
  CASE WHEN bad OR ch < 3 THEN NULL ELSE CAST(list_sum(list_transform(
    range(0, h), r -> list_sum(list_transform(range(0, w), c ->
      (doc_id * 31 + r * 7 + c * 5 + 97) % 256)))) AS BIGINT) END AS sum_c1,
  CASE WHEN bad OR ch < 3 THEN NULL ELSE CAST(list_sum(list_transform(
    range(0, h), r -> list_sum(list_transform(range(0, w), c ->
      (doc_id * 31 + r * 7 + c * 5 + 194) % 256)))) AS BIGINT) END AS sum_c2,
  CASE WHEN bad THEN NULL ELSE CAST(list_sum(list_transform(range(0, h),
    r -> list_sum(list_transform(range(0, w), c ->
      (r * w + c + 1) * ((doc_id * 31 + r * 7 + c * 5) % 256)))))
    AS BIGINT) END AS chk
FROM p
""",
)
def q_mm_decode_tiff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize a baseline TIFF per doc — byte order alternating II/MM
    row by row, grey/RGB, varying strip heights — decode with the REAL
    IFD walker, grade dims + channel sums + the placement checksum. The
    oracle recomputes everything closed-form; a hard-coded byte order,
    wrong inline-vs-offset resolution, or mis-assembled strips all break
    the hash; truncated strips reject."""
    from ocr_spark.operators.media import tiff_features

    return tiff_features(_payloads(spark, sf_dir, synth_tiff))


# --- MP4 structural metadata ---------------------------------------------------------
# Synth axes chosen adversarially: mvhd/mdhd FullBox VERSION alternates
# per doc (v1 durations get +2^33, so a u32 read breaks half the corpus),
# track count 1..3 (DC-prediction-style per-track state), largesize mdat
# every 4th doc (the u64 size path), skippable free/udta boxes always /
# every other doc, and two reject families (mid-moov truncation, inner
# size < 8).

_MP4_DUR_HI = 8589934592  # 2^33 — added to every version-1 duration


def synth_mp4(doc_id: int) -> bytes:
    from ocr_spark.operators.media import encode_mp4

    d = doc_id
    mv_version = d % 2
    brand = (b"isom", b"mp42", b"avc1")[d % 3]
    mv_ts = 600 * (1 + d % 4)
    mv_dur = 10000 + (d * 97) % 90000 + (_MP4_DUR_HI if mv_version else 0)
    tracks = []
    for k in range(1 + d % 3):
        tv = (d + k) % 2
        tracks.append(
            dict(
                version=tv,
                track_id=k + 1,
                handler=(b"vide", b"soun", b"text")[k],
                width=320 + 16 * (d % 8) if k == 0 else 0,
                height=240 + 16 * (d % 5) if k == 0 else 0,
                md_timescale=1000 * (1 + (d + k) % 3),
                md_duration=5000 + (d * 31 + k * 7919) % 50000
                + (_MP4_DUR_HI if tv else 0),
            )
        )
    return encode_mp4(
        brand,
        mv_version,
        mv_ts,
        mv_dur,
        tracks,
        largesize_mdat=d % 4 == 0,
        with_udta=d % 2 == 1,
        truncate=d % 17 == 0,
        corrupt_size=d % 23 == 0,
    )


@register(
    "mm_mp4_meta",
    f"""
WITH p AS (
  SELECT doc_id,
    doc_id % 17 = 0 OR doc_id % 23 = 0 AS bad,
    10000 + (doc_id * 97) % 90000
      + CASE WHEN doc_id % 2 = 1 THEN {_MP4_DUR_HI} ELSE 0 END AS mv_dur,
    600 * (1 + doc_id % 4) AS mv_ts,
    1 + doc_id % 3 AS n_tracks
  FROM documents
)
SELECT doc_id, NOT bad AS ok,
  CASE WHEN bad THEN NULL
    ELSE (CASE doc_id % 3 WHEN 0 THEN 'isom' WHEN 1 THEN 'mp42'
          ELSE 'avc1' END) END AS brand,
  CASE WHEN bad THEN NULL
    ELSE CAST((mv_dur * 1000) // mv_ts AS BIGINT) END AS dur_ms,
  CASE WHEN bad THEN NULL ELSE CAST(n_tracks AS INT) END AS n_tracks,
  CASE WHEN bad THEN NULL ELSE 1 END AS n_video,
  CASE WHEN bad THEN NULL
    ELSE CAST(320 + 16 * (doc_id % 8) AS BIGINT) END AS width_sum,
  CASE WHEN bad THEN NULL
    ELSE CAST(240 + 16 * (doc_id % 5) AS BIGINT) END AS height_sum,
  CASE WHEN bad THEN NULL ELSE CAST(list_sum(list_transform(
    range(0, n_tracks), k ->
      ((5000 + (doc_id * 31 + k * 7919) % 50000
        + ((doc_id + k) % 2) * {_MP4_DUR_HI}) * 1000)
      // (1000 * (1 + (doc_id + k) % 3))
  )) AS BIGINT) END AS track_ms_sum,
  CASE WHEN bad THEN NULL ELSE CAST(list_sum(list_transform(
    range(0, n_tracks), k -> (k + 1) * (CASE k WHEN 0 THEN 1986618469
      WHEN 1 THEN 1936684398 ELSE 1952807028 END)
  )) AS BIGINT) END AS handler_chk
FROM p
""",
)
def q_mm_mp4_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize an ISO-BMFF structure per doc (version/largesize/track
    axes above), parse it with the REAL box walker, grade brand,
    timescale-normalized durations, track dims and the order-sensitive
    handler checksum. The oracle recomputes everything closed-form from
    doc_id — a u32 read of a v1 duration, a missed largesize, a skipped
    box mishandled, or a wrong version offset each shift a feature."""
    from ocr_spark.operators.media import mp4_features

    return mp4_features(_payloads(spark, sf_dir, synth_mp4))


# --- baseline JPEG decode --------------------------------------------------------------
# Exactness trick (operators/jpeg.py header): DC-only 8x8 blocks with DC
# quant 8 make the lossy-format roundtrip pixel-exact, so the full real
# entropy/marker machinery (canonical Huffman, DC prediction, restart
# resets, byte unstuffing, 4:2:0 upsample, YCbCr transform with constant
# chroma) sits under a closed-form value hash. Axes: gray/color per
# parity, restart interval every 3rd doc, w covers all w%8 residues
# (partial right-edge MCUs), two reject families (entropy truncation,
# SOF2 progressive flip).


def synth_jpeg(doc_id: int) -> bytes:
    import numpy as np

    from ocr_spark.operators.jpeg import encode_jpeg_blocks

    d = doc_id
    w, h = 17 + d % 16, 9 + d % 12
    bw, bh = -(-w // 8), -(-h // 8)
    bi = np.arange(bh, dtype=np.int64)[:, None]
    bj = np.arange(bw, dtype=np.int64)[None, :]
    vals = 64 + (d * 37 + bi * 29 + bj * 13) % 128
    data = encode_jpeg_blocks(
        vals,
        color=d % 2 == 1,
        restart_interval=2 if d % 3 == 0 else 0,
        width=w,
        height=h,
    )
    if d % 19 == 0:
        return data[: int(len(data) * 0.6)]
    if d % 29 == 0:
        out = bytearray(data)
        out[out.find(b"\xff\xc0") + 1] = 0xC2  # pretend progressive
        return bytes(out)
    return data


@register(
    "mm_decode_jpeg",
    """
WITH p AS (
  SELECT doc_id, doc_id % 2 = 1 AS color,
    17 + doc_id % 16 AS w, 9 + doc_id % 12 AS h,
    doc_id % 19 = 0 OR doc_id % 29 = 0 AS bad
  FROM documents
)
SELECT doc_id, NOT bad AS ok,
  CASE WHEN bad THEN NULL ELSE CAST(w AS INT) END AS width,
  CASE WHEN bad THEN NULL ELSE CAST(h AS INT) END AS height,
  CASE WHEN bad THEN NULL WHEN color THEN 3 ELSE 1 END AS channels,
  CASE WHEN bad THEN NULL ELSE CAST(list_sum(list_transform(range(0, h),
    r -> list_sum(list_transform(range(0, w), c ->
      64 + (doc_id * 37 + (r // 8) * 29 + (c // 8) * 13) % 128))))
    AS BIGINT) END AS sum_c0,
  CASE WHEN bad OR NOT color THEN NULL ELSE CAST(list_sum(list_transform(
    range(0, h), r -> list_sum(list_transform(range(0, w), c ->
      64 + (doc_id * 37 + (r // 8) * 29 + (c // 8) * 13) % 128))))
    AS BIGINT) END AS sum_c1,
  CASE WHEN bad OR NOT color THEN NULL ELSE CAST(list_sum(list_transform(
    range(0, h), r -> list_sum(list_transform(range(0, w), c ->
      64 + (doc_id * 37 + (r // 8) * 29 + (c // 8) * 13) % 128))))
    AS BIGINT) END AS sum_c2,
  CASE WHEN bad THEN NULL ELSE CAST(list_sum(list_transform(range(0, h),
    r -> list_sum(list_transform(range(0, w), c ->
      (r * w + c + 1) * (64 + (doc_id * 37 + (r // 8) * 29
                               + (c // 8) * 13) % 128)))))
    AS BIGINT) END AS chk
FROM p
""",
)
def q_mm_decode_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize a DC-only baseline JPEG per doc (gray/4:2:0, restart
    markers, partial-MCU edges), decode with the REAL entropy decoder,
    grade dims/channels/sums/placement checksum against the closed-form
    oracle. A DC-prediction bug, a missed restart reset, wrong Huffman
    table routing, or a misplaced Y block inside the MCU each shift chk
    or a sum."""
    from ocr_spark.operators.jpeg import jpeg_features

    return jpeg_features(_payloads(spark, sf_dir, synth_jpeg))


# --- full-dispatch sniffing (five real decoders) ---------------------------------------


def synth_image_all(doc_id: int) -> bytes:
    """Mixed five-format corpus: doc_id % 5 selects bmp/png/gif/tiff/
    jpeg, payload produced by that format's synth (inheriting its reject
    families)."""
    sel = doc_id % 5
    if sel == 0:
        return synth_bmp(doc_id)
    if sel == 1:
        return synth_png(doc_id)
    if sel == 2:
        return synth_gif(doc_id)
    if sel == 3:
        return synth_tiff(doc_id)
    return synth_jpeg(doc_id)


@register(
    "mm_sniff_all",
    """
WITH p AS (
  SELECT doc_id, doc_id % 5 AS sel,
    -- bmp
    17 + doc_id % 13 AS bw, 9 + doc_id % 7 AS bh,
    (doc_id * 37) % 256 AS br, (doc_id * 59) % 256 AS bg,
    (doc_id * 83) % 256 AS bb,
    -- png (color type cycles with doc_id % 3)
    11 + doc_id % 8 AS pw, 7 + doc_id % 6 AS ph,
    CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 3 ELSE 4 END AS pch,
    -- gif
    4 + doc_id % 29 AS psize, 9 + doc_id % 10 AS gw, 6 + doc_id % 7 AS gh,
    -- tiff
    10 + doc_id % 9 AS tw, 5 + doc_id % 8 AS th,
    CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 3 END AS tch,
    -- jpeg
    17 + doc_id % 16 AS jw, 9 + doc_id % 12 AS jh,
    CASE WHEN doc_id % 2 = 1 THEN 3 ELSE 1 END AS jch,
    CASE doc_id % 5
      WHEN 1 THEN (doc_id % 17 = 0) OR (doc_id % 13 = 0)
      WHEN 2 THEN doc_id % 19 = 0
      WHEN 3 THEN doc_id % 23 = 0
      WHEN 4 THEN (doc_id % 19 = 0) OR (doc_id % 29 = 0)
      ELSE false
    END AS bad
  FROM documents
)
SELECT doc_id, NOT bad AS ok,
  CASE WHEN bad THEN NULL
       WHEN sel = 0 THEN 'bmp' WHEN sel = 1 THEN 'png'
       WHEN sel = 2 THEN 'gif' WHEN sel = 3 THEN 'tiff' ELSE 'jpeg'
  END AS fmt,
  CASE WHEN bad THEN NULL
       WHEN sel = 0 THEN CAST(bw AS INT) WHEN sel = 1 THEN CAST(pw AS INT)
       WHEN sel = 2 THEN CAST(gw AS INT) WHEN sel = 3 THEN CAST(tw AS INT)
       ELSE CAST(jw AS INT) END AS width,
  CASE WHEN bad THEN NULL
       WHEN sel = 0 THEN CAST(bh AS INT) WHEN sel = 1 THEN CAST(ph AS INT)
       WHEN sel = 2 THEN CAST(gh AS INT) WHEN sel = 3 THEN CAST(th AS INT)
       ELSE CAST(jh AS INT) END AS height,
  CASE WHEN bad THEN NULL
    WHEN sel = 0 THEN CAST(
      bw * list_sum(list_transform(range(0, bh), r -> (br + r) % 256))
      + bh * list_sum(list_transform(range(0, bw), c -> (bg + c) % 256))
      + list_sum(list_transform(range(0, bh), r ->
          list_sum(list_transform(range(0, bw), c -> (bb + r + c) % 256))))
      AS BIGINT)
    WHEN sel = 1 THEN CAST(
      list_sum(list_transform(range(0, pch), k ->
        list_sum(list_transform(range(0, ph), r ->
          list_sum(list_transform(range(0, pw), c ->
            (doc_id * 29 + r * 5 + c * 3 + k * 113) % 256))))))
      AS BIGINT)
    WHEN sel = 2 THEN CAST(
      list_sum(list_transform(range(0, gh), r ->
        list_sum(list_transform(range(0, gw), c ->
          (doc_id * 41 + ((doc_id * 13 + r * 3 + c) % psize) * 7) % 256
          + (doc_id * 43 + ((doc_id * 13 + r * 3 + c) % psize) * 11) % 256
          + (doc_id * 47 + ((doc_id * 13 + r * 3 + c) % psize) * 13) % 256))))
      AS BIGINT)
    WHEN sel = 3 THEN CAST(
      list_sum(list_transform(range(0, th), r ->
        list_sum(list_transform(range(0, tw), c ->
          (doc_id * 31 + r * 7 + c * 5) % 256
          + CASE WHEN tch = 3 THEN
              (doc_id * 31 + r * 7 + c * 5 + 97) % 256
              + (doc_id * 31 + r * 7 + c * 5 + 194) % 256
            ELSE 0 END))))
      AS BIGINT)
    ELSE CAST(
      jch * list_sum(list_transform(range(0, jh), r ->
        list_sum(list_transform(range(0, jw), c ->
          64 + (doc_id * 37 + (r // 8) * 29 + (c // 8) * 13) % 128))))
      AS BIGINT)
  END AS sum_all
FROM p
""",
)
def q_mm_sniff_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL magic-byte dispatch: five real decoders (BMP, PNG, GIF,
    TIFF both byte orders, baseline JPEG) behind one binary column, each
    format's dimensions and all-channel pixel sum recomputed closed-form
    in its own oracle CASE arm. A wrong dispatch lands in the wrong arm;
    each format's reject families stay ok=false."""
    from ocr_spark.operators.media import image_sniff_features

    return image_sniff_features(_payloads(spark, sf_dir, synth_image_all))


# --- ViT-style tile/patch extraction (round 4 close) ---------------------------------
# The patching step between image decode and an encoder: each image
# splits into a 3x3 grid of tiles at exact integer boundaries (every
# pixel in exactly one tile), one row per tile with exact channel sums.
# Runs through the REAL BMP decoder; the oracle recomputes every tile
# sum from the gradient synth formulas over the tile's row/col ranges —
# a boundary error in the patching shifts a sum and breaks the hash.

_TILES_ORACLE = f"""
WITH {_BMP_P_SQL},
g AS (
  SELECT p.*, ti, tj,
    (ti * h) // 3 AS r0, ((ti + 1) * h) // 3 AS r1,
    (tj * w) // 3 AS c0, ((tj + 1) * w) // 3 AS c1
  FROM p, generate_series(0, 2) AS a(ti), generate_series(0, 2) AS b(tj)
)
SELECT doc_id, true AS ok,
  CAST(ti AS INT) AS tile_r, CAST(tj AS INT) AS tile_c,
  CAST(r1 - r0 AS INT) AS th, CAST(c1 - c0 AS INT) AS tw,
  CAST((c1 - c0) * list_sum(list_transform(range(r0, r1), r ->
    (br + r) % 256)) AS BIGINT) AS sum_r,
  CAST((r1 - r0) * list_sum(list_transform(range(c0, c1), c ->
    (bg + c) % 256)) AS BIGINT) AS sum_g,
  CAST(list_sum(list_transform(range(r0, r1), r ->
    list_sum(list_transform(range(c0, c1), c ->
      (bb + r + c) % 256)))) AS BIGINT) AS sum_b
FROM g
"""


@register("mm_image_tiles", _TILES_ORACLE)
def q_mm_image_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3x3 tile grid per image through the real BMP decoder: exact
    integer boundaries, per-tile channel sums (block comment)."""
    from ocr_spark.operators.media import bmp_tiles

    return bmp_tiles(_payloads(spark, sf_dir, synth_bmp))
