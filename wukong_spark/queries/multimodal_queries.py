"""Multimodal decode queries through the driver contract (SURVEY.md §2.3).

The media decode path (operators/multimodal.py) gets driver-hash-checkable
registry entries here: payloads are generated IN-PLAN from seeds (real BMP
and PCM-WAV bytes via the module's own encoders), decoded by the REAL
decoders — no fake_decoder — and reduced to integer-exact contracts
(channel sums, PCM peaks) that literal SELECT oracles verify end-to-end,
the la_sparse_colsums pattern (VERDICT r2 #1).

Reference-parity justification: serialization families for media-adjacent
types at `wukong/protocol/__init__.py:27-67`; the decode/resize/feature
shape mirrors what a training-data pipeline runs at 100 TB — bytes stay in
Arrow batches, one vectorized decode per batch, never per-row Python.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wukong_spark.operators.multimodal import (
    attach_media_metadata,
    decode_audio,
    decode_images,
    encode_bmp,
    encode_png,
    encode_wav_float32,
    encode_wav_g711,
    encode_wav_pcm16,
)
from wukong_spark.queries import query
from wukong_spark.queries.helpers import local_frame

#: image workload dims: 16 seeded 24×18 RGB images, decoded + resized to 8×8
N_IMG, IMG_H, IMG_W = 16, 24, 18
#: audio workload dims: 8 seeded sine clips at 16 kHz, 1/8 s each
N_CLIP, CLIP_SR = 8, 16000


def _gen_bmp_media(spark: SparkSession) -> DataFrame:
    """Seeded BMP payloads generated per-partition (deterministic per id,
    like BlockMatrix.random) — real 24-bit BI_RGB bytes."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                px = np.random.default_rng(1000 + int(i)).integers(
                    0, 256, size=(IMG_H, IMG_W, 3), dtype=np.uint8
                )
                rows.append((int(i), bytearray(encode_bmp(px))))
            yield pd.DataFrame(rows, columns=["doc_id", "blob"])

    raw = spark.range(0, N_IMG, 1, 4).mapInPandas(gen, "doc_id long, blob binary")
    return attach_media_metadata(
        raw, "blob", kind="image", mime="image/bmp", id_col="doc_id"
    )


def _gen_wav_media(spark: SparkSession) -> DataFrame:
    """Seeded PCM16 WAV payloads: clip i is a (0.1 + 0.1·i)-amplitude sine
    at 220 + 110·i Hz — real RIFF/WAVE bytes."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                k = int(i)
                t = np.arange(CLIP_SR // 8) / CLIP_SR
                x = (0.1 + 0.1 * k) * np.sin(2 * np.pi * (220 + 110 * k) * t)
                rows.append((k, bytearray(encode_wav_pcm16(x, CLIP_SR))))
            yield pd.DataFrame(rows, columns=["doc_id", "blob"])

    raw = spark.range(0, N_CLIP, 1, 4).mapInPandas(gen, "doc_id long, blob binary")
    return attach_media_metadata(
        raw, "blob", kind="audio", mime="audio/wav", id_col="doc_id"
    )


def _channel_sum(ch: int):
    """Exact integer channel sum over the flattened interleaved pixel array
    — pure JVM higher-order functions, hash-safe cross-engine."""
    return F.expr(
        f"aggregate(transform(pixels, (x, i) -> "
        f"CASE WHEN i % 3 = {ch} THEN CAST(x AS BIGINT) ELSE 0L END), "
        f"0L, (a, x) -> a + x)"
    )


@query(
    "multimodal_decode_bmp",
    # literal oracle: exact integer channel sums of the seeded-BMP decode
    # (captured from the deterministic pipeline; sf-invariant — the inputs
    # are generated, not read from tables)
    oracle="""
    SELECT * FROM (VALUES
      (0, 8, 8, 7107, 8216, 8152), (1, 8, 8, 7773, 9021, 8354),
      (2, 8, 8, 7844, 6963, 6629), (3, 8, 8, 7668, 8085, 8044),
      (4, 8, 8, 9035, 8298, 8141), (5, 8, 8, 8245, 7220, 8088),
      (6, 8, 8, 6981, 8557, 9036), (7, 8, 8, 8532, 8081, 8844),
      (8, 8, 8, 8059, 8313, 7538), (9, 8, 8, 7886, 8431, 8867),
      (10, 8, 8, 9209, 7418, 7878), (11, 8, 8, 9265, 8323, 6966),
      (12, 8, 8, 8185, 8477, 7631), (13, 8, 8, 7988, 8894, 8320),
      (14, 8, 8, 8150, 9624, 8162), (15, 8, 8, 7145, 8150, 7376))
      AS t(media_id, height, width, sum_r, sum_g, sum_b)
    ORDER BY media_id
    """,
)
def multimodal_decode_bmp(spark: SparkSession, sf_dir: str):
    """Seeded BMP bytes → REAL decode (magic-byte dispatch, no fake) →
    nearest-neighbor resize to 8×8 → exact integer channel sums.

    The literal oracle pins the decoded content: any regression in the BMP
    parser, the resize gather, or the Arrow plumbing flips a sum."""
    dec = decode_images(_gen_bmp_media(spark), height=8, width=8)
    return dec.select(
        "media_id",
        "height",
        "width",
        _channel_sum(0).alias("sum_r"),
        _channel_sum(1).alias("sum_g"),
        _channel_sum(2).alias("sum_b"),
    ).orderBy("media_id")


def _gen_png_media(spark: SparkSession) -> DataFrame:
    """Seeded PNG payloads generated per-partition: image i cycles color
    type by i % 3 (RGB / RGBA / greyscale) and encodes with mixed per-row
    filters (row y gets filter y % 5), so one decode pass exercises every
    unfilter path and every channel→RGB conversion."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                k = int(i)
                ch = (3, 4, 1)[k % 3]
                px = np.random.default_rng(2000 + k).integers(
                    0, 256, size=(IMG_H, IMG_W, ch), dtype=np.uint8
                )
                rows.append((k, bytearray(encode_png(px, filter_mode="mixed"))))
            yield pd.DataFrame(rows, columns=["doc_id", "blob"])

    raw = spark.range(0, N_IMG, 1, 4).mapInPandas(gen, "doc_id long, blob binary")
    return attach_media_metadata(
        raw, "blob", kind="image", mime="image/png", id_col="doc_id"
    )


@query(
    "multimodal_decode_png",
    # literal oracle: exact integer channel sums of the seeded-PNG decode
    # (captured from the deterministic pipeline; sf-invariant — the inputs
    # are generated, not read from tables)
    oracle="""
    SELECT * FROM (VALUES
      (0, 8, 8, 7754, 8123, 7907), (1, 8, 8, 8701, 7993, 8430),
      (2, 8, 8, 8595, 8595, 8595), (3, 8, 8, 7982, 9469, 8352),
      (4, 8, 8, 7818, 9368, 6872), (5, 8, 8, 8677, 8677, 8677),
      (6, 8, 8, 7752, 7717, 7037), (7, 8, 8, 8518, 7066, 8850),
      (8, 8, 8, 7956, 7956, 7956), (9, 8, 8, 8477, 7518, 8479),
      (10, 8, 8, 7794, 8153, 8399), (11, 8, 8, 8107, 8107, 8107),
      (12, 8, 8, 7933, 8647, 8832), (13, 8, 8, 9165, 7887, 7461),
      (14, 8, 8, 8265, 8265, 8265), (15, 8, 8, 7713, 8030, 8694))
      AS t(media_id, height, width, sum_r, sum_g, sum_b)
    ORDER BY media_id
    """,
)
def multimodal_decode_png(spark: SparkSession, sf_dir: str):
    """Seeded 8-bit PNG bytes (mixed filter rows, RGB/RGBA/greyscale) →
    REAL stdlib-zlib decode + numpy unfiltering → nearest-neighbor resize
    to 8×8 → exact integer channel sums.

    The literal oracle pins the decoded content: any regression in chunk
    parsing, inflate, any of the five unfilter paths, the channel→RGB
    conversion, or the Arrow plumbing flips a sum.  Greyscale ids
    (i % 3 == 2) must show sum_r == sum_g == sum_b; RGBA ids prove alpha
    is dropped, not blended."""
    dec = decode_images(_gen_png_media(spark), height=8, width=8)
    return dec.select(
        "media_id",
        "height",
        "width",
        _channel_sum(0).alias("sum_r"),
        _channel_sum(1).alias("sum_g"),
        _channel_sum(2).alias("sum_b"),
    ).orderBy("media_id")


def _gen_png_palette_media(spark: SparkSession) -> DataFrame:
    """Seeded palette-indexed (color type 3) PNG payloads: image i cycles
    bit depth 8/4/2/1 with a matching palette size, mixed per-row
    filters, and a tRNS alpha chunk on every third id (alpha must be
    dropped, not blended — operators/multimodal.py, r9)."""
    from wukong_spark.operators.multimodal import encode_png_palette

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                k = int(i)
                rng = np.random.default_rng(9000 + k)
                depth = (8, 4, 2, 1)[k % 4]
                n = (199, 13, 4, 2)[k % 4]
                pal = rng.integers(0, 256, (n, 3), dtype=np.uint8)
                idx = rng.integers(0, n, (IMG_H, IMG_W), dtype=np.uint8)
                trns = (
                    bytes(rng.integers(0, 256, min(n, 7), dtype=np.uint8))
                    if k % 3 == 0
                    else None
                )
                rows.append(
                    (k, bytearray(encode_png_palette(
                        idx, pal, trns=trns, depth=depth, filter_mode="mixed"
                    )))
                )
            yield pd.DataFrame(rows, columns=["doc_id", "blob"])

    raw = spark.range(0, N_IMG, 1, 4).mapInPandas(gen, "doc_id long, blob binary")
    return attach_media_metadata(
        raw, "blob", kind="image", mime="image/png", id_col="doc_id"
    )


@query(
    "multimodal_decode_png_palette",
    # literal oracle: exact integer channel sums — the palette pipeline is
    # lossless integer end-to-end (unfilter, bit-unpack, PLTE lookup,
    # nearest-neighbor gather), zero float risk
    oracle="""
    SELECT * FROM (VALUES
      (0, 8, 8, 8606, 8568, 8611), (1, 8, 8, 6723, 8874, 8493),
      (2, 8, 8, 9808, 12965, 12656), (3, 8, 8, 9735, 4449, 12157),
      (4, 8, 8, 10012, 7796, 7587), (5, 8, 8, 7394, 7937, 11493),
      (6, 8, 8, 6561, 11812, 7861), (7, 8, 8, 9014, 7272, 12300),
      (8, 8, 8, 8475, 8906, 8183), (9, 8, 8, 8545, 7468, 5705),
      (10, 8, 8, 9449, 9524, 8716), (11, 8, 8, 6053, 5957, 6080),
      (12, 8, 8, 8063, 7777, 7464), (13, 8, 8, 9208, 10451, 9647),
      (14, 8, 8, 9822, 9846, 11667), (15, 8, 8, 9036, 6964, 6506))
      AS t(media_id, height, width, sum_r, sum_g, sum_b)
    ORDER BY media_id
    """,
)
def multimodal_decode_png_palette(spark: SparkSession, sf_dir: str):
    """Seeded palette PNG bytes (color type 3; depths 8/4/2/1; tRNS on
    every third id) → REAL decode (byte-level unfiltering, MSB-first bit
    unpack, PLTE lookup, alpha drop) → nearest-neighbor resize to 8×8 →
    exact integer channel sums.  Palette indexing dominates favicons and
    legacy web graphics; all four bit depths are pinned."""
    dec = decode_images(_gen_png_palette_media(spark), height=8, width=8)
    return dec.select(
        "media_id",
        "height",
        "width",
        _channel_sum(0).alias("sum_r"),
        _channel_sum(1).alias("sum_g"),
        _channel_sum(2).alias("sum_b"),
    ).orderBy("media_id")


def _gen_png_adam7_media(spark: SparkSession) -> DataFrame:
    """Seeded Adam7-INTERLACED PNG payloads: even ids are truecolor
    (channel count cycling RGB/RGBA/grey), odd ids palette-indexed
    (depth cycling 8/4/2/1) — every pass independently filtered
    (operators/multimodal.py, r9)."""
    from wukong_spark.operators.multimodal import encode_png, encode_png_palette

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                k = int(i)
                rng = np.random.default_rng(9800 + k)
                if k % 2 == 0:
                    ch = (3, 4, 1)[(k // 2) % 3]
                    px = rng.integers(0, 256, (IMG_H, IMG_W, ch), dtype=np.uint8)
                    blob = encode_png(px, filter_mode="mixed", interlace=True)
                else:
                    depth = (8, 4, 2, 1)[(k // 2) % 4]
                    n = (199, 13, 4, 2)[(k // 2) % 4]
                    pal = rng.integers(0, 256, (n, 3), dtype=np.uint8)
                    idx = rng.integers(0, n, (IMG_H, IMG_W), dtype=np.uint8)
                    blob = encode_png_palette(idx, pal, depth=depth, interlace=True)
                rows.append((k, bytearray(blob)))
            yield pd.DataFrame(rows, columns=["doc_id", "blob"])

    raw = spark.range(0, N_IMG, 1, 4).mapInPandas(gen, "doc_id long, blob binary")
    return attach_media_metadata(
        raw, "blob", kind="image", mime="image/png", id_col="doc_id"
    )


@query(
    "multimodal_decode_png_adam7",
    # literal oracle: exact integer channel sums — the interlace scatter,
    # unfiltering, and palette lookup are all lossless integer
    oracle="""
    SELECT * FROM (VALUES
      (0, 8, 8, 9039, 7958, 8339), (1, 8, 8, 7504, 8822, 8882),
      (2, 8, 8, 8973, 8403, 6805), (3, 8, 8, 7839, 8377, 8352),
      (4, 8, 8, 8510, 8510, 8510), (5, 8, 8, 6269, 3462, 12058),
      (6, 8, 8, 8458, 8497, 7884), (7, 8, 8, 5444, 3504, 6886),
      (8, 8, 8, 8822, 8925, 8821), (9, 8, 8, 8820, 7100, 8056),
      (10, 8, 8, 7792, 7792, 7792), (11, 8, 8, 8504, 6837, 7222),
      (12, 8, 8, 8401, 7987, 8047), (13, 8, 8, 5709, 11225, 7256),
      (14, 8, 8, 8905, 7332, 8697), (15, 8, 8, 14553, 3608, 3561))
      AS t(media_id, height, width, sum_r, sum_g, sum_b)
    ORDER BY media_id
    """,
)
def multimodal_decode_png_adam7(spark: SparkSession, sf_dir: str):
    """Seeded Adam7-interlaced PNG bytes (truecolor RGB/RGBA/grey on even
    ids, palette depths 8/4/2/1 on odd) → REAL 7-pass decode (per-pass
    unfiltering + lattice scatter, sub-byte per-pass packing) →
    nearest-neighbor resize to 8×8 → exact integer channel sums.
    Interlaced PNGs are common in older web corpora; every pass shape
    (including empty-pass small dims via the 8×8 entries' resize) and
    both pixel models are pinned."""
    dec = decode_images(_gen_png_adam7_media(spark), height=8, width=8)
    return dec.select(
        "media_id",
        "height",
        "width",
        _channel_sum(0).alias("sum_r"),
        _channel_sum(1).alias("sum_g"),
        _channel_sum(2).alias("sum_b"),
    ).orderBy("media_id")


def _gen_png16_pnm_media(spark: SparkSession) -> DataFrame:
    """Seeded deep-sample-format payloads (r9): id mod 4 cycles 16-bit
    PNG (RGB/grey, one interlaced), P5 greymap (1- and 2-byte samples),
    P4 bitmap (packed bits, 1 = black), and P6 pixmap with non-255
    maxval (the round-half-up rescale path)."""
    from wukong_spark.operators.multimodal import encode_png16

    def pnm(magic: bytes, w: int, h: int, maxval, body: bytes) -> bytes:
        head = magic + b"\n%d %d\n" % (w, h)
        if maxval is not None:
            head += b"%d\n" % maxval
        return head + body

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                k = int(i)
                rng = np.random.default_rng(9900 + k)
                m = k % 4
                if m == 0:
                    ch = (3, 1)[(k // 4) % 2]
                    px16 = rng.integers(0, 65536, (IMG_H, IMG_W, ch), dtype=np.uint16)
                    blob = encode_png16(px16, interlace=bool(k % 8 == 4))
                elif m == 1:
                    mv = 255 if k % 8 == 1 else 65535
                    if mv == 255:
                        g = rng.integers(0, 256, (IMG_H, IMG_W), dtype=np.uint8)
                        blob = pnm(b"P5", IMG_W, IMG_H, mv, g.tobytes())
                    else:
                        g = rng.integers(0, 65536, (IMG_H, IMG_W), dtype=np.uint16)
                        blob = pnm(b"P5", IMG_W, IMG_H, mv, g.astype(">u2").tobytes())
                elif m == 2:
                    bits = rng.integers(0, 2, (IMG_H, IMG_W), dtype=np.uint8)
                    packed = np.packbits(
                        np.pad(bits, ((0, 0), (0, (-IMG_W) % 8))).astype(bool), axis=1
                    )
                    blob = pnm(b"P4", IMG_W, IMG_H, None, packed.tobytes())
                else:
                    mv = (100, 1000)[(k // 4) % 2]
                    if mv <= 255:
                        c = rng.integers(0, mv + 1, (IMG_H, IMG_W, 3), dtype=np.uint8)
                        blob = pnm(b"P6", IMG_W, IMG_H, mv, c.tobytes())
                    else:
                        c = rng.integers(0, mv + 1, (IMG_H, IMG_W, 3), dtype=np.uint16)
                        blob = pnm(b"P6", IMG_W, IMG_H, mv, c.astype(">u2").tobytes())
                rows.append((k, bytearray(blob)))
            yield pd.DataFrame(rows, columns=["doc_id", "blob"])

    raw = spark.range(0, N_IMG, 1, 4).mapInPandas(gen, "doc_id long, blob binary")
    return attach_media_metadata(
        raw, "blob", kind="image", mime="image/png", id_col="doc_id"
    )


@query(
    "multimodal_decode_png16_pnm",
    # literal oracle: exact integer channel sums — 16-bit PNG strips to
    # the high byte, PNM rescale is integer round-half-up; all lossless
    # integer end-to-end
    oracle="""
    SELECT * FROM (VALUES
      (0, 8, 8, 8388, 7153, 7054), (1, 8, 8, 7873, 7873, 7873),
      (2, 8, 8, 7905, 7905, 7905), (3, 8, 8, 7490, 8004, 8611),
      (4, 8, 8, 7982, 7982, 7982), (5, 8, 8, 9260, 9260, 9260),
      (6, 8, 8, 7140, 7140, 7140), (7, 8, 8, 8152, 7115, 7810),
      (8, 8, 8, 8339, 8456, 7638), (9, 8, 8, 8083, 8083, 8083),
      (10, 8, 8, 9180, 9180, 9180), (11, 8, 8, 8426, 7579, 7989),
      (12, 8, 8, 8487, 8487, 8487), (13, 8, 8, 8479, 8479, 8479),
      (14, 8, 8, 8160, 8160, 8160), (15, 8, 8, 8093, 7490, 7654))
      AS t(media_id, height, width, sum_r, sum_g, sum_b)
    ORDER BY media_id
    """,
)
def multimodal_decode_png16_pnm(spark: SparkSession, sf_dir: str):
    """Seeded deep-sample-format bytes — 16-bit PNG (big-endian samples,
    high-byte strip, incl. one Adam7), P5 greymap at both sample widths,
    P4 bitmap, and P6 pixmap with non-255 maxval (round-half-up
    rescale) — → REAL decode → nearest-neighbor resize to 8×8 → exact
    integer channel sums.  P4/P5 and grey-PNG rows must show
    sum_r == sum_g == sum_b (grey broadcast)."""
    dec = decode_images(_gen_png16_pnm_media(spark), height=8, width=8)
    return dec.select(
        "media_id",
        "height",
        "width",
        _channel_sum(0).alias("sum_r"),
        _channel_sum(1).alias("sum_g"),
        _channel_sum(2).alias("sum_b"),
    ).orderBy("media_id")


def _gen_jpeg_media(spark: SparkSession) -> DataFrame:
    """Seeded baseline-JPEG payloads generated per-partition: image i
    alternates 4:4:4 / 4:2:0 chroma subsampling, quality 90 — real JFIF
    bytes from the module's own encoder (operators/jpeg.py)."""
    from wukong_spark.operators.jpeg import encode_jpeg

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                k = int(i)
                px = np.random.default_rng(3000 + k).integers(
                    0, 256, size=(IMG_H, IMG_W, 3), dtype=np.uint8
                )
                sub = "420" if k % 2 else "444"
                rows.append(
                    (k, bytearray(encode_jpeg(px, quality=90, subsampling=sub)))
                )
            yield pd.DataFrame(rows, columns=["doc_id", "blob"])

    raw = spark.range(0, N_IMG, 1, 4).mapInPandas(gen, "doc_id long, blob binary")
    return attach_media_metadata(
        raw, "blob", kind="image", mime="image/jpeg", id_col="doc_id"
    )


@query(
    "multimodal_decode_jpeg",
    # literal oracle: exact integer channel sums of the seeded-JPEG decode.
    # Unlike BMP/PNG the pipeline is float (DCT/IDCT + YCbCr round), but
    # it is deterministic IEEE arithmetic on identical bytes, and no
    # rounded pixel sits near a .5 boundary at double precision — the
    # same determinism class as the WAV rms_e6 oracle.
    oracle="""
    SELECT * FROM (VALUES
      (0, 8, 8, 7708, 7611, 8328), (1, 8, 8, 7734, 8208, 8003),
      (2, 8, 8, 7781, 7259, 8144), (3, 8, 8, 8557, 8437, 9260),
      (4, 8, 8, 8572, 8815, 8083), (5, 8, 8, 8505, 7976, 8063),
      (6, 8, 8, 8168, 8359, 7787), (7, 8, 8, 8401, 8332, 7670),
      (8, 8, 8, 8011, 8440, 7774), (9, 8, 8, 8217, 8551, 8694),
      (10, 8, 8, 8262, 8084, 7278), (11, 8, 8, 8037, 8186, 7945),
      (12, 8, 8, 8697, 7661, 7961), (13, 8, 8, 8163, 7508, 8588),
      (14, 8, 8, 8663, 8289, 7600), (15, 8, 8, 8356, 8086, 8534))
      AS t(media_id, height, width, sum_r, sum_g, sum_b)
    ORDER BY media_id
    """,
)
def multimodal_decode_jpeg(spark: SparkSession, sf_dir: str):
    """Seeded baseline-JPEG bytes (alternating 4:4:4 / 4:2:0) → REAL
    decode (segment walk, Huffman entropy decode, dequantize + IDCT,
    chroma upsample, YCbCr→RGB — operators/jpeg.py, r7) →
    nearest-neighbor resize to 8×8 → exact integer channel sums.

    The literal oracle pins the decoded content: any regression in the
    entropy decoder, the IDCT, either chroma path, or the color
    conversion flips a sum."""
    dec = decode_images(_gen_jpeg_media(spark), height=8, width=8)
    return dec.select(
        "media_id",
        "height",
        "width",
        _channel_sum(0).alias("sum_r"),
        _channel_sum(1).alias("sum_g"),
        _channel_sum(2).alias("sum_b"),
    ).orderBy("media_id")


def _gen_jpeg_prog_media(spark: SparkSession) -> DataFrame:
    """Same seeded pixels as `_gen_jpeg_media`, but transmitted as
    PROGRESSIVE (SOF2) JPEG — libjpeg's 10-scan script with per-scan
    optimal Huffman tables (operators/jpeg.py, r9)."""
    from wukong_spark.operators.jpeg import encode_jpeg_progressive

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                k = int(i)
                px = np.random.default_rng(3000 + k).integers(
                    0, 256, size=(IMG_H, IMG_W, 3), dtype=np.uint8
                )
                sub = "420" if k % 2 else "444"
                rows.append(
                    (k, bytearray(encode_jpeg_progressive(px, quality=90, subsampling=sub)))
                )
            yield pd.DataFrame(rows, columns=["doc_id", "blob"])

    raw = spark.range(0, N_IMG, 1, 4).mapInPandas(gen, "doc_id long, blob binary")
    return attach_media_metadata(
        raw, "blob", kind="image", mime="image/jpeg", id_col="doc_id"
    )


@query(
    "multimodal_decode_jpeg_prog",
    # literal oracle: IDENTICAL values to multimodal_decode_jpeg's — the
    # progressive bytes carry the same quantized coefficients, so the
    # SOF2 multi-scan decode (DC first/refine, AC bands with EOB runs,
    # successive approximation) must reproduce the baseline decode
    # bit-for-bit.  A hash-green row here IS the cross-encoding contract.
    oracle="""
    SELECT * FROM (VALUES
      (0, 8, 8, 7708, 7611, 8328), (1, 8, 8, 7734, 8208, 8003),
      (2, 8, 8, 7781, 7259, 8144), (3, 8, 8, 8557, 8437, 9260),
      (4, 8, 8, 8572, 8815, 8083), (5, 8, 8, 8505, 7976, 8063),
      (6, 8, 8, 8168, 8359, 7787), (7, 8, 8, 8401, 8332, 7670),
      (8, 8, 8, 8011, 8440, 7774), (9, 8, 8, 8217, 8551, 8694),
      (10, 8, 8, 8262, 8084, 7278), (11, 8, 8, 8037, 8186, 7945),
      (12, 8, 8, 8697, 7661, 7961), (13, 8, 8, 8163, 7508, 8588),
      (14, 8, 8, 8663, 8289, 7600), (15, 8, 8, 8356, 8086, 8534))
      AS t(media_id, height, width, sum_r, sum_g, sum_b)
    ORDER BY media_id
    """,
)
def multimodal_decode_jpeg_prog(spark: SparkSession, sf_dir: str):
    """Seeded PROGRESSIVE-JPEG bytes (same pixels/quality/subsampling as
    multimodal_decode_jpeg, SOF2 10-scan transmission) → REAL multi-scan
    decode → nearest-neighbor resize to 8×8 → exact integer channel sums.

    The oracle literals are copied verbatim from the baseline entry:
    progressive transmission is lossless over the quantized coefficients,
    so any divergence in the scan accumulation (EOB-run arithmetic,
    refinement bits, band boundaries) flips a sum."""
    dec = decode_images(_gen_jpeg_prog_media(spark), height=8, width=8)
    return dec.select(
        "media_id",
        "height",
        "width",
        _channel_sum(0).alias("sum_r"),
        _channel_sum(1).alias("sum_g"),
        _channel_sum(2).alias("sum_b"),
    ).orderBy("media_id")


def _gen_gif_media(spark: SparkSession) -> DataFrame:
    """Seeded GIF payloads generated per-partition: image i cycles palette
    size 256/16/64/4 and alternates interlaced rows — real GIF89a bytes
    from the module's own LZW encoder (operators/gif.py)."""
    from wukong_spark.operators.gif import encode_gif

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                k = int(i)
                rng = np.random.default_rng(4000 + k)
                npal = (256, 16, 64, 4)[k % 4]
                pal = rng.integers(0, 256, size=(npal, 3), dtype=np.uint8)
                idx = rng.integers(0, npal, size=(IMG_H, IMG_W), dtype=np.uint8)
                rows.append(
                    (k, bytearray(encode_gif(idx, pal, interlace=bool(k % 2))))
                )
            yield pd.DataFrame(rows, columns=["doc_id", "blob"])

    raw = spark.range(0, N_IMG, 1, 4).mapInPandas(gen, "doc_id long, blob binary")
    return attach_media_metadata(
        raw, "blob", kind="image", mime="image/gif", id_col="doc_id"
    )


@query(
    "multimodal_decode_gif",
    # literal oracle: exact integer channel sums of the seeded-GIF decode
    # — GIF is lossless over its palette and the whole pipeline is integer,
    # so the sums are exact by construction (BMP/PNG determinism class)
    oracle="""
    SELECT * FROM (VALUES
      (0, 8, 8, 7544, 7396, 8150), (1, 8, 8, 8127, 4787, 8339),
      (2, 8, 8, 7919, 8960, 6818), (3, 8, 8, 6930, 7986, 9958),
      (4, 8, 8, 9501, 7305, 8960), (5, 8, 8, 8262, 8276, 8626),
      (6, 8, 8, 9479, 8219, 7372), (7, 8, 8, 9384, 10105, 6632),
      (8, 8, 8, 8482, 8675, 9459), (9, 8, 8, 6417, 8328, 8504),
      (10, 8, 8, 8125, 8967, 8790), (11, 8, 8, 9974, 6396, 8208),
      (12, 8, 8, 9025, 7360, 7513), (13, 8, 8, 11241, 11192, 6667),
      (14, 8, 8, 6988, 8258, 8002), (15, 8, 8, 7662, 11049, 6684))
      AS t(media_id, height, width, sum_r, sum_g, sum_b)
    ORDER BY media_id
    """,
)
def multimodal_decode_gif(spark: SparkSession, sf_dir: str):
    """Seeded GIF bytes (palette sizes 256/16/64/4, alternating 4-pass
    interlace) → REAL decode (LZW decompression with variable-width codes
    and clear handling, palette lookup, interlace reorder —
    operators/gif.py, r7) → nearest-neighbor resize to 8×8 → exact
    integer channel sums.

    The literal oracle pins the decoded content: any regression in the
    LZW decoder, the palette lookup, or the interlace reorder flips a
    sum."""
    dec = decode_images(_gen_gif_media(spark), height=8, width=8)
    return dec.select(
        "media_id",
        "height",
        "width",
        _channel_sum(0).alias("sum_r"),
        _channel_sum(1).alias("sum_g"),
        _channel_sum(2).alias("sum_b"),
    ).orderBy("media_id")


@query(
    "multimodal_audio_wav",
    # literal oracle: exact PCM peaks + 1e-6-scaled RMS of the seeded-WAV
    # decode (deterministic IEEE arithmetic on identical bytes)
    oracle="""
    SELECT * FROM (VALUES
      (0, 16000, 1, 2000, 3277, 70710),
      (1, 16000, 1, 2000, 6554, 141386),
      (2, 16000, 1, 2000, 9830, 212131),
      (3, 16000, 1, 2000, 13107, 282772),
      (4, 16000, 1, 2000, 16384, 353552),
      (5, 16000, 1, 2000, 19661, 424159),
      (6, 16000, 1, 2000, 22938, 494975),
      (7, 16000, 1, 2000, 26214, 565543))
      AS t(media_id, sample_rate, n_channels, n_samples, peak_pcm, rms_e6)
    ORDER BY media_id
    """,
)
def multimodal_audio_wav(spark: SparkSession, sf_dir: str):
    """Seeded PCM16 WAV bytes → REAL stdlib decode → per-clip features.

    peak_pcm = peak × 32768 is an exact integer (the max |int16| sample);
    rms_e6 = round(rms × 1e6) is stable because the whole pipeline is
    deterministic IEEE arithmetic on identical bytes."""
    dec = decode_audio(_gen_wav_media(spark))
    return dec.select(
        "media_id",
        "sample_rate",
        "n_channels",
        "n_samples",
        F.round(F.col("peak") * 32768).cast("bigint").alias("peak_pcm"),
        F.round(F.col("rms") * 1e6).cast("bigint").alias("rms_e6"),
    ).orderBy("media_id")


def _gen_g711_media(spark: SparkSession) -> DataFrame:
    """Seeded audio clips cycling encoding by id % 3 — G.711 µ-law, G.711
    A-law, IEEE-float32 WAV (the non-PCM encodings decode_wav grew in r7);
    clip k is a (0.08 + 0.09·k)-amplitude sine at 200 + 90·k Hz, 8 kHz."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                k = int(i)
                t = np.arange(8000 // 8) / 8000
                x = (0.08 + 0.09 * k) * np.sin(2 * np.pi * (200 + 90 * k) * t)
                if k % 3 == 0:
                    b = encode_wav_g711(x, 8000, "ulaw")
                elif k % 3 == 1:
                    b = encode_wav_g711(x, 8000, "alaw")
                else:
                    b = encode_wav_float32(x, 8000)
                rows.append((k, bytearray(b)))
            yield pd.DataFrame(rows, columns=["doc_id", "blob"])

    raw = spark.range(0, 9, 1, 3).mapInPandas(gen, "doc_id long, blob binary")
    return attach_media_metadata(
        raw, "blob", kind="audio", mime="audio/wav", id_col="doc_id"
    )


@query(
    "multimodal_audio_g711",
    # literal oracle: peaks (exact k/32768 integers for the G.711 clips)
    # + 1e-6-scaled RMS of the seeded decode; worst rounding-boundary
    # margin 0.074 vs ~1e-9 deterministic-IEEE drift
    oracle="""
    SELECT * FROM (VALUES
      (0, 8000, 1, 1000, 2620, 56894),
      (1, 8000, 1, 1000, 5504, 120010),
      (2, 8000, 1, 1000, 8520, 183848),
      (3, 8000, 1, 1000, 11388, 247371),
      (4, 8000, 1, 1000, 14592, 310599),
      (5, 8000, 1, 1000, 17367, 374579),
      (6, 8000, 1, 1000, 19836, 437053),
      (7, 8000, 1, 1000, 23040, 501519),
      (8, 8000, 1, 1000, 26214, 565685))
      AS t(media_id, sample_rate, n_channels, n_samples, peak_pcm, rms_e6)
    ORDER BY media_id
    """,
)
def multimodal_audio_g711(spark: SparkSession, sf_dir: str):
    """Seeded G.711 µ-law / A-law / IEEE-float32 WAV bytes → REAL decode
    (manual RIFF walk + vectorized companding expansion, bit-identical to
    the Sun g711.c reference — operators/multimodal.py, r7) → per-clip
    features.  Covers the telephony-corpus encodings the stdlib ``wave``
    module rejects; the literal oracle pins all three decode paths."""
    dec = decode_audio(_gen_g711_media(spark))
    return dec.select(
        "media_id",
        "sample_rate",
        "n_channels",
        "n_samples",
        F.round(F.col("peak") * 32768).cast("bigint").alias("peak_pcm"),
        F.round(F.col("rms") * 1e6).cast("bigint").alias("rms_e6"),
    ).orderBy("media_id")


def _gen_mjpeg_media(spark: SparkSession) -> DataFrame:
    """Seeded MJPEG-AVI payloads generated per-partition: video v holds 6
    random 16×16 frames encoded at quality 90 — real RIFF/AVI bytes from
    operators/video.py's own writer."""
    from wukong_spark.operators.video import encode_mjpeg_avi

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                v = int(i)
                rng = np.random.default_rng(5000 + v)
                frames = [
                    rng.integers(0, 256, size=(16, 16, 3), dtype=np.uint8)
                    for _ in range(6)
                ]
                rows.append(
                    (v, bytearray(encode_mjpeg_avi(frames, fps=4, quality=90)))
                )
            yield pd.DataFrame(rows, columns=["doc_id", "blob"])

    raw = spark.range(0, 6, 1, 3).mapInPandas(gen, "doc_id long, blob binary")
    return attach_media_metadata(
        raw, "blob", kind="video", mime="video/x-msvideo", id_col="doc_id"
    )


@query(
    "multimodal_frame_sample",
    # literal oracle: exact integer channel sums of each sampled frame —
    # decoded pixels are uint8, so the sums are exact; the pipeline is
    # deterministic IEEE arithmetic on identical bytes (the
    # multimodal_decode_jpeg determinism class)
    oracle="""
    SELECT * FROM (VALUES
      (0, 0, 0, 32930, 33359, 30705), (0, 1, 2, 32908, 31415, 33248),
      (0, 2, 5, 31525, 34064, 30935), (1, 0, 0, 33271, 34113, 32862),
      (1, 1, 2, 32666, 33034, 31566), (1, 2, 5, 31260, 33889, 34079),
      (2, 0, 0, 31664, 34629, 31506), (2, 1, 2, 33342, 33908, 32488),
      (2, 2, 5, 33928, 31280, 33134), (3, 0, 0, 29918, 34479, 34467),
      (3, 1, 2, 33547, 32445, 31151), (3, 2, 5, 32388, 32173, 31468),
      (4, 0, 0, 31209, 33495, 30581), (4, 1, 2, 32614, 32492, 31063),
      (4, 2, 5, 33619, 34213, 33141), (5, 0, 0, 33254, 33926, 32280),
      (5, 1, 2, 32491, 32454, 32759), (5, 2, 5, 31880, 32752, 33741))
      AS t(media_id, frame_idx, frame_no, sum_r, sum_g, sum_b)
    ORDER BY media_id, frame_idx
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str):
    """Seeded MJPEG-AVI bytes → REAL video frame sampling (RIFF container
    walk → 3 evenly-spaced frames per clip → baseline-JPEG decode —
    operators/video.py + jpeg.py, r7) → exact integer channel sums per
    sampled frame.

    The video leg of the multimodal triad, no fake decoder: any
    regression in the AVI chunk walk, the frame-selection arithmetic, or
    the JPEG decode flips a sum."""
    from wukong_spark.operators.multimodal import frame_sample

    dec = frame_sample(_gen_mjpeg_media(spark), n_frames=3)
    return dec.select(
        "media_id", "frame_idx", "frame_no", "sum_r", "sum_g", "sum_b"
    ).orderBy("media_id", "frame_idx")


def _gen_gif_anim_media(spark: SparkSession) -> DataFrame:
    """Seeded animated-GIF payloads (r9): 6 frames per clip — a full
    first frame then partial rectangles cycling transparency on/off and
    all four disposal methods (none/keep/restore-bg/restore-prev)."""
    from wukong_spark.operators.gif import encode_gif_animation

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                k = int(i)
                rng = np.random.default_rng(10500 + k)
                n = (16, 64, 4)[k % 3]
                pal = rng.integers(0, 256, (n, 3), dtype=np.uint8)
                entries = [
                    (rng.integers(0, n, (24, 18), dtype=np.uint8), 0, 0, None, 1)
                ]
                for f in range(1, 6):
                    h = int(rng.integers(3, 12))
                    w = int(rng.integers(3, 10))
                    top = int(rng.integers(0, 24 - h))
                    left = int(rng.integers(0, 18 - w))
                    idx = rng.integers(0, n, (h, w), dtype=np.uint8)
                    tidx = int(rng.integers(0, n)) if f % 2 else None
                    entries.append((idx, left, top, tidx, (0, 1, 2, 3)[f % 4]))
                blob = encode_gif_animation(entries, pal, screen=(18, 24))
                rows.append((k, bytearray(blob)))
            yield pd.DataFrame(rows, columns=["doc_id", "blob"])

    raw = spark.range(0, 8, 1, 4).mapInPandas(gen, "doc_id long, blob binary")
    return attach_media_metadata(
        raw, "blob", kind="video", mime="image/gif", id_col="doc_id"
    )


@query(
    "multimodal_gif_frame_sample",
    # literal oracle: exact integer channel sums of 3 evenly-spaced
    # composited frames per clip — palette lookup, rectangle compositing,
    # transparency masking, and disposal restoration are all lossless
    # integer
    oracle="""
    SELECT * FROM (VALUES
      (0, 0, 0, 55005, 60079, 47554), (0, 1, 2, 54557, 59459, 44060),
      (0, 2, 5, 44493, 57817, 44360), (1, 0, 0, 58119, 63522, 54466),
      (1, 1, 2, 58593, 62576, 54384), (1, 2, 5, 56614, 61839, 56097),
      (2, 0, 0, 37232, 47791, 60023), (2, 1, 2, 39856, 49627, 58379),
      (2, 2, 5, 41476, 49212, 59058), (3, 0, 0, 47815, 59346, 59733),
      (3, 1, 2, 48106, 59651, 59624), (3, 2, 5, 46731, 59730, 60968),
      (4, 0, 0, 55496, 58091, 62632), (4, 1, 2, 55357, 59068, 60684),
      (4, 2, 5, 52216, 60039, 61342), (5, 0, 0, 22704, 67211, 80529),
      (5, 1, 2, 22916, 66969, 80670), (5, 2, 5, 22648, 65997, 79587),
      (6, 0, 0, 56826, 53492, 50866), (6, 1, 2, 56257, 52335, 51379),
      (6, 2, 5, 56707, 49029, 48102), (7, 0, 0, 54082, 51537, 60890),
      (7, 1, 2, 53574, 52093, 60223), (7, 2, 5, 51987, 55090, 64280))
      AS t(media_id, frame_idx, frame_no, sum_r, sum_g, sum_b)
    ORDER BY media_id, frame_idx
    """,
)
def multimodal_gif_frame_sample(spark: SparkSession, sf_dir: str):
    """Seeded animated-GIF bytes → REAL frame sampling through the same
    `frame_sample` operator the AVI path uses (full GIF89a compositing:
    partial rectangles, Graphic Control transparency, all four disposal
    methods — operators/gif.py, r9) → exact integer channel sums of 3
    evenly-spaced composited frames per clip.  Any regression in the
    compositing state machine flips a sum of a LATER frame even when
    frame 0 still decodes."""
    from wukong_spark.operators.multimodal import frame_sample

    dec = frame_sample(_gen_gif_anim_media(spark), n_frames=3)
    return dec.select(
        "media_id", "frame_idx", "frame_no", "sum_r", "sum_g", "sum_b"
    ).orderBy("media_id", "frame_idx")


@query(
    "archive_bz2_xz_decode",
    # literal oracle: IDENTICAL values to archive_tar_decode's — the
    # shards hold the same seeded BMPs, only the tar compression differs
    # (bz2 on even shards, xz on odd); a hash-green row proves the
    # stdlib-codec sniffing path decodes byte-identically
    oracle="""
    SELECT * FROM (VALUES
      (0, '000.bmp', 7854, 9348, 7659), (0, '001.bmp', 7729, 7959, 8981),
      (0, '002.bmp', 7907, 8369, 8309), (0, '003.bmp', 8723, 7445, 7680),
      (1, '000.bmp', 7984, 8552, 8252), (1, '001.bmp', 8487, 7844, 8065),
      (1, '002.bmp', 8858, 8068, 6739), (1, '003.bmp', 8117, 9464, 7269),
      (2, '000.bmp', 7902, 8221, 8646), (2, '001.bmp', 7687, 9172, 8631),
      (2, '002.bmp', 8835, 8113, 9149), (2, '003.bmp', 8578, 9641, 8514),
      (3, '000.bmp', 8714, 8574, 7691), (3, '001.bmp', 7428, 8251, 8676),
      (3, '002.bmp', 7035, 8136, 7470), (3, '003.bmp', 7804, 8873, 9134))
      AS t(shard_id, member, sum_r, sum_g, sum_b)
    ORDER BY shard_id, member
    """,
)
def archive_bz2_xz_decode(spark: SparkSession, sf_dir: str):
    """Compressed-shard ingestion (r9): the same seeded BMP shards as
    archive_tar_decode, but written as .tar.bz2 (even shards) and
    .tar.xz (odd shards) — the wiki/crawl dump codecs, both stdlib-
    pinned.  explode_tar's r:* sniff must route each through the right
    decompressor; the oracle literals are copied verbatim from the
    plain-tar entry, so any decode divergence flips a sum."""
    import io
    import tarfile

    from wukong_spark.operators.archive import explode_tar
    from wukong_spark.operators.multimodal import encode_bmp

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                shard = int(i)
                buf = io.BytesIO()
                mode = "w:bz2" if shard % 2 == 0 else "w:xz"
                with tarfile.open(fileobj=buf, mode=mode) as tf:
                    for j in range(4):
                        rng = np.random.default_rng(6000 + shard * 10 + j)
                        px = rng.integers(0, 256, (12, 12, 3), dtype=np.uint8)
                        data = encode_bmp(px)
                        info = tarfile.TarInfo(f"{j:03d}.bmp")
                        info.size = len(data)
                        info.mtime = 0  # determinism: no wall-clock in bytes
                        tf.addfile(info, io.BytesIO(data))
                rows.append((shard, bytearray(buf.getvalue())))
            yield pd.DataFrame(rows, columns=["media_id", "payload"])

    shards = spark.range(0, 4, 1, 2).mapInPandas(
        gen, "media_id long, payload binary"
    )
    members = explode_tar(shards).select(
        F.col("media_id").alias("shard_id"),
        "member",
        F.col("content").alias("payload"),
        (
            F.col("media_id") * 10 + F.substring("member", 1, 3).cast("int")
        ).alias("mkey"),
    )
    dec = decode_images(
        members.select(F.col("mkey").alias("media_id"), "payload"),
        height=8,
        width=8,
    )
    joined = dec.join(
        F.broadcast(members.select("mkey", "shard_id", "member")),
        dec.media_id == F.col("mkey"),
    )
    return joined.select(
        "shard_id",
        "member",
        _channel_sum(0).alias("sum_r"),
        _channel_sum(1).alias("sum_g"),
        _channel_sum(2).alias("sum_b"),
    ).orderBy("shard_id", "member")


@query(
    "archive_tar_decode",
    # literal oracle: exact integer channel sums of BMPs decoded OUT OF
    # seeded in-plan tar shards — the whole path (tar member walk →
    # magic-byte dispatch → decode → resize) is integer-exact
    oracle="""
    SELECT * FROM (VALUES
      (0, '000.bmp', 7854, 9348, 7659), (0, '001.bmp', 7729, 7959, 8981),
      (0, '002.bmp', 7907, 8369, 8309), (0, '003.bmp', 8723, 7445, 7680),
      (1, '000.bmp', 7984, 8552, 8252), (1, '001.bmp', 8487, 7844, 8065),
      (1, '002.bmp', 8858, 8068, 6739), (1, '003.bmp', 8117, 9464, 7269),
      (2, '000.bmp', 7902, 8221, 8646), (2, '001.bmp', 7687, 9172, 8631),
      (2, '002.bmp', 8835, 8113, 9149), (2, '003.bmp', 8578, 9641, 8514),
      (3, '000.bmp', 8714, 8574, 7691), (3, '001.bmp', 7428, 8251, 8676),
      (3, '002.bmp', 7035, 8136, 7470), (3, '003.bmp', 7804, 8873, 9134))
      AS t(shard_id, member, sum_r, sum_g, sum_b)
    ORDER BY shard_id, member
    """,
)
def archive_tar_decode(spark: SparkSession, sf_dir: str):
    """WebDataset-style shard ingestion (operators/archive.py, r7):
    seeded tar shards of real BMPs generated in-plan → explode_tar (one
    row per member, streaming extraction) → REAL image decode → exact
    integer channel sums.

    This is the 100 TB multimodal-corpus entry path: shards are the
    parallelism unit, members never leave Arrow batches, and the decode
    layer is the same one every image entry pins."""
    import io
    import tarfile

    from wukong_spark.operators.archive import explode_tar
    from wukong_spark.operators.multimodal import encode_bmp

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                shard = int(i)
                buf = io.BytesIO()
                with tarfile.open(fileobj=buf, mode="w") as tf:
                    for j in range(4):
                        rng = np.random.default_rng(6000 + shard * 10 + j)
                        px = rng.integers(0, 256, (12, 12, 3), dtype=np.uint8)
                        data = encode_bmp(px)
                        info = tarfile.TarInfo(f"{j:03d}.bmp")
                        info.size = len(data)
                        info.mtime = 0  # determinism: no wall-clock in bytes
                        tf.addfile(info, io.BytesIO(data))
                rows.append((shard, bytearray(buf.getvalue())))
            yield pd.DataFrame(rows, columns=["media_id", "payload"])

    shards = spark.range(0, 4, 1, 2).mapInPandas(
        gen, "media_id long, payload binary"
    )
    # deterministic member key (shard*10 + index parsed from the name) —
    # NOT monotonically_increasing_id, which could differ between the two
    # subtree evaluations on recompute
    members = explode_tar(shards).select(
        F.col("media_id").alias("shard_id"),
        "member",
        F.col("content").alias("payload"),
        (
            F.col("media_id") * 10 + F.substring("member", 1, 3).cast("int")
        ).alias("mkey"),
    )
    dec = decode_images(
        members.select(F.col("mkey").alias("media_id"), "payload"),
        height=8,
        width=8,
    )
    joined = dec.join(
        F.broadcast(members.select("mkey", "shard_id", "member")),
        dec.media_id == F.col("mkey"),
    )
    return joined.select(
        "shard_id",
        "member",
        _channel_sum(0).alias("sum_r"),
        _channel_sum(1).alias("sum_g"),
        _channel_sum(2).alias("sum_b"),
    ).orderBy("shard_id", "member")


def _gen_tiff_deflate_media(spark: SparkSession) -> DataFrame:
    """Seeded Deflate-compressed TIFF payloads (r9): channels cycle
    RGB/grey/RGBA, odd ids add predictor 2 (horizontal differencing
    before compression — the combination real Deflate TIFFs use)."""
    from wukong_spark.operators.tiff import encode_tiff

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                k = int(i)
                rng = np.random.default_rng(10000 + k)
                ch = (3, 1, 4)[k % 3]
                px = rng.integers(0, 256, size=(IMG_H, IMG_W, ch), dtype=np.uint8)
                rows.append(
                    (k, bytearray(encode_tiff(
                        px, compression="deflate", rows_per_strip=10,
                        predictor=bool(k % 2),
                    )))
                )
            yield pd.DataFrame(rows, columns=["doc_id", "blob"])

    raw = spark.range(0, 12, 1, 4).mapInPandas(gen, "doc_id long, blob binary")
    return attach_media_metadata(
        raw, "blob", kind="image", mime="image/tiff", id_col="doc_id"
    )


@query(
    "multimodal_decode_tiff_deflate",
    # literal oracle: exact integer channel sums — zlib inflate +
    # predictor cumsum + strip assembly are lossless integer end-to-end
    oracle="""
    SELECT * FROM (VALUES
      (0, 8, 8, 8065, 7315, 8695), (1, 8, 8, 9006, 9006, 9006),
      (2, 8, 8, 8175, 8275, 7912), (3, 8, 8, 8343, 9567, 7593),
      (4, 8, 8, 7426, 7426, 7426), (5, 8, 8, 8183, 8807, 8069),
      (6, 8, 8, 8143, 7398, 8697), (7, 8, 8, 8456, 8456, 8456),
      (8, 8, 8, 9203, 7981, 8847), (9, 8, 8, 8031, 9131, 7529),
      (10, 8, 8, 7693, 7693, 7693), (11, 8, 8, 8763, 7799, 7674))
      AS t(media_id, height, width, sum_r, sum_g, sum_b)
    ORDER BY media_id
    """,
)
def multimodal_decode_tiff_deflate(spark: SparkSession, sf_dir: str):
    """Seeded Deflate-TIFF bytes (compression 8, half with predictor 2)
    → REAL decode (IFD walk, per-strip zlib inflate, horizontal-
    differencing cumsum, strip assembly — operators/tiff.py, r9) →
    nearest-neighbor resize to 8×8 → exact integer channel sums.
    Deflate's reference codec IS stdlib zlib, so this path pins against
    in-container ground truth (TIFF-LZW, covered in r10, pins against
    hand-derived spec vectors instead — see its entry)."""
    dec = decode_images(_gen_tiff_deflate_media(spark), height=8, width=8)
    return dec.select(
        "media_id",
        "height",
        "width",
        _channel_sum(0).alias("sum_r"),
        _channel_sum(1).alias("sum_g"),
        _channel_sum(2).alias("sum_b"),
    ).orderBy("media_id")


def _gen_tiff_lzw_media(spark: SparkSession) -> DataFrame:
    """Seeded LZW-compressed TIFF payloads (r10): channels cycle
    RGB/grey/RGBA, odd ids add predictor 2 — the scanned-document
    combination (LZW + horizontal differencing) libtiff writes."""
    from wukong_spark.operators.tiff import encode_tiff

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                k = int(i)
                rng = np.random.default_rng(15000 + k)
                ch = (3, 1, 4)[k % 3]
                px = rng.integers(0, 256, size=(IMG_H, IMG_W, ch), dtype=np.uint8)
                rows.append(
                    (k, bytearray(encode_tiff(
                        px, compression="lzw", rows_per_strip=10,
                        predictor=bool(k % 2),
                    )))
                )
            yield pd.DataFrame(rows, columns=["doc_id", "blob"])

    raw = spark.range(0, 12, 1, 4).mapInPandas(gen, "doc_id long, blob binary")
    return attach_media_metadata(
        raw, "blob", kind="image", mime="image/tiff", id_col="doc_id"
    )


@query(
    "multimodal_decode_tiff_lzw",
    # literal oracle: exact integer channel sums — LZW is lossless and
    # the pipeline is integer end-to-end; the encoder/decoder pair is
    # roundtrip-proven and the EarlyChange width timing is pinned by
    # hand-derived byte vectors (tests/test_mlops_multimodal.py)
    oracle="""
    SELECT * FROM (VALUES
      (0, 8, 8, 7691, 7700, 7641), (1, 8, 8, 7389, 7389, 7389),
      (2, 8, 8, 8120, 8984, 8336), (3, 8, 8, 8092, 8415, 9158),
      (4, 8, 8, 8051, 8051, 8051), (5, 8, 8, 8365, 8711, 9422),
      (6, 8, 8, 8066, 7960, 8665), (7, 8, 8, 7132, 7132, 7132),
      (8, 8, 8, 8424, 7990, 8244), (9, 8, 8, 8196, 7747, 8204),
      (10, 8, 8, 7879, 7879, 7879), (11, 8, 8, 8885, 8208, 8112))
      AS t(media_id, height, width, sum_r, sum_g, sum_b)
    ORDER BY media_id
    """,
)
def multimodal_decode_tiff_lzw(spark: SparkSession, sf_dir: str):
    """Seeded LZW-TIFF bytes (compression 5, half with predictor 2) →
    REAL decode (IFD walk, per-strip MSB-first LZW with the TIFF 6.0
    EarlyChange width timing, horizontal-differencing cumsum, strip
    assembly — operators/tiff.py, r10) → nearest-neighbor resize to 8×8
    → exact integer channel sums.  Closes the r7-r9 disclosed LZW gap:
    the width convention is pinned by hand-derived literal byte vectors
    and both-convention differential tests rather than a third-party
    decoder (none ships in-container — disclosed in the module
    docstring)."""
    dec = decode_images(_gen_tiff_lzw_media(spark), height=8, width=8)
    return dec.select(
        "media_id",
        "height",
        "width",
        _channel_sum(0).alias("sum_r"),
        _channel_sum(1).alias("sum_g"),
        _channel_sum(2).alias("sum_b"),
    ).orderBy("media_id")


def _gen_tiff_media(spark: SparkSession) -> DataFrame:
    """Seeded baseline-TIFF payloads: image i cycles channels
    (RGB / grey / RGBA / grey) and alternates none / PackBits strip
    compression — real little-endian TIFF bytes from operators/tiff.py."""
    from wukong_spark.operators.tiff import encode_tiff

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                k = int(i)
                rng = np.random.default_rng(7000 + k)
                ch = (3, 1, 4, 1)[k % 4]
                px = rng.integers(0, 256, size=(IMG_H, IMG_W, ch), dtype=np.uint8)
                comp = "packbits" if k % 2 else "none"
                rows.append(
                    (k, bytearray(encode_tiff(px, compression=comp, rows_per_strip=10)))
                )
            yield pd.DataFrame(rows, columns=["doc_id", "blob"])

    raw = spark.range(0, N_IMG, 1, 4).mapInPandas(gen, "doc_id long, blob binary")
    return attach_media_metadata(
        raw, "blob", kind="image", mime="image/tiff", id_col="doc_id"
    )


@query(
    "multimodal_decode_tiff",
    # literal oracle: exact integer channel sums — TIFF none/PackBits is
    # lossless and the whole pipeline is integer (BMP/PNG/GIF class)
    oracle="""
    SELECT * FROM (VALUES
      (0, 8, 8, 7830, 8417, 8204), (1, 8, 8, 8532, 8532, 8532),
      (2, 8, 8, 8023, 8360, 9020), (3, 8, 8, 8749, 8749, 8749),
      (4, 8, 8, 7133, 8196, 8045), (5, 8, 8, 8965, 8965, 8965),
      (6, 8, 8, 8310, 7411, 8196), (7, 8, 8, 8855, 8855, 8855),
      (8, 8, 8, 7911, 6466, 7582), (9, 8, 8, 9164, 9164, 9164),
      (10, 8, 8, 8496, 7740, 8575), (11, 8, 8, 7778, 7778, 7778),
      (12, 8, 8, 7502, 8215, 8743), (13, 8, 8, 7896, 7896, 7896),
      (14, 8, 8, 7905, 8485, 6983), (15, 8, 8, 8464, 8464, 8464))
      AS t(media_id, height, width, sum_r, sum_g, sum_b)
    ORDER BY media_id
    """,
)
def multimodal_decode_tiff(spark: SparkSession, sf_dir: str):
    """Seeded baseline-TIFF bytes (grey/RGB/RGBA, multi-strip, alternating
    none/PackBits compression) → REAL decode (IFD walk, strip assembly,
    PackBits RLE — operators/tiff.py, r7) → nearest-neighbor resize to
    8×8 → exact integer channel sums.  Greyscale ids must show
    sum_r == sum_g == sum_b."""
    dec = decode_images(_gen_tiff_media(spark), height=8, width=8)
    return dec.select(
        "media_id",
        "height",
        "width",
        _channel_sum(0).alias("sum_r"),
        _channel_sum(1).alias("sum_g"),
        _channel_sum(2).alias("sum_b"),
    ).orderBy("media_id")


def _gen_au_aiff_media(spark: SparkSession) -> DataFrame:
    """Seeded audio clips cycling container by id % 3 — Sun AU µ-law,
    Sun AU PCM16-BE, AIFF PCM16 (the big-endian/speech-corpus containers
    decode_audio grew late in r7); clip k is a (0.08 + 0.09·k)-amplitude
    sine at 260 + 85·k Hz, 8 kHz.  (Amplitude/frequency grid chosen so
    every oracle value sits ≥0.068 from a rounding boundary.)"""
    from wukong_spark.operators.multimodal import encode_aiff_pcm16, encode_au

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                k = int(i)
                t = np.arange(8000 // 8) / 8000
                x = (0.08 + 0.09 * k) * np.sin(2 * np.pi * (260 + 85 * k) * t)
                if k % 3 == 0:
                    b = encode_au(x, 8000, "ulaw")
                elif k % 3 == 1:
                    b = encode_au(x, 8000, "pcm16")
                else:
                    b = encode_aiff_pcm16(x, 8000)
                rows.append((k, bytearray(b)))
            yield pd.DataFrame(rows, columns=["doc_id", "blob"])

    raw = spark.range(0, 9, 1, 3).mapInPandas(gen, "doc_id long, blob binary")
    return attach_media_metadata(
        raw, "blob", kind="audio", mime="audio/basic", id_col="doc_id"
    )


@query(
    "multimodal_audio_au_aiff",
    # literal oracle: PCM peaks + 1e-6-scaled RMS of the seeded decode;
    # worst rounding-boundary margin 0.068 vs ~1e-9 deterministic drift
    oracle="""
    SELECT * FROM (VALUES
      (0, 8000, 1, 1000, 2620, 56689),
      (1, 8000, 1, 1000, 5571, 120070),
      (2, 8000, 1, 1000, 8520, 183755),
      (3, 8000, 1, 1000, 11388, 247720),
      (4, 8000, 1, 1000, 14418, 311122),
      (5, 8000, 1, 1000, 17367, 374516),
      (6, 8000, 1, 1000, 19836, 436819),
      (7, 8000, 1, 1000, 23265, 502078),
      (8, 8000, 1, 1000, 26214, 565685))
      AS t(media_id, sample_rate, n_channels, n_samples, peak_pcm, rms_e6)
    ORDER BY media_id
    """,
)
def multimodal_audio_au_aiff(spark: SparkSession, sf_dir: str):
    """Seeded Sun AU (µ-law + PCM16-BE) and AIFF (PCM16, 80-bit-extended
    sample rate) bytes → REAL decode (operators/multimodal.py, r7) →
    per-clip features.  Covers the classic speech-corpus and big-endian
    containers; the literal oracle pins all three decode paths."""
    dec = decode_audio(_gen_au_aiff_media(spark))
    return dec.select(
        "media_id",
        "sample_rate",
        "n_channels",
        "n_samples",
        F.round(F.col("peak") * 32768).cast("bigint").alias("peak_pcm"),
        F.round(F.col("rms") * 1e6).cast("bigint").alias("rms_e6"),
    ).orderBy("media_id")


def _gen_ico_media(spark: SparkSession) -> DataFrame:
    """Seeded ICO payloads: each icon holds a small (8×8) and a large
    (24×18) image; entry encoding alternates PNG / headerless-BMP by id
    parity — the decoder must pick the LARGEST entry through either
    path (operators/ico.py)."""
    from wukong_spark.operators.ico import encode_ico

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                k = int(i)
                rng = np.random.default_rng(8000 + k)
                small = rng.integers(0, 256, (8, 8, 3), dtype=np.uint8)
                large = rng.integers(0, 256, (24, 18, 3), dtype=np.uint8)
                rows.append(
                    (k, bytearray(encode_ico([small, large], as_png=bool(k % 2))))
                )
            yield pd.DataFrame(rows, columns=["doc_id", "blob"])

    raw = spark.range(0, 12, 1, 4).mapInPandas(gen, "doc_id long, blob binary")
    return attach_media_metadata(
        raw, "blob", kind="image", mime="image/x-icon", id_col="doc_id"
    )


@query(
    "multimodal_decode_ico",
    # literal oracle: exact integer channel sums of the LARGEST entry of
    # each seeded icon — lossless container over PNG/BMP, fully integer
    oracle="""
    SELECT * FROM (VALUES
      (0, 8, 8, 7820, 7393, 7478), (1, 8, 8, 7704, 8025, 7789),
      (2, 8, 8, 7539, 6955, 8712), (3, 8, 8, 8114, 8272, 8799),
      (4, 8, 8, 7485, 8408, 8936), (5, 8, 8, 8201, 8651, 7768),
      (6, 8, 8, 7932, 8098, 7651), (7, 8, 8, 7748, 7960, 7934),
      (8, 8, 8, 7565, 7624, 8344), (9, 8, 8, 7312, 8431, 8330),
      (10, 8, 8, 9252, 7997, 7891), (11, 8, 8, 8227, 8195, 9062))
      AS t(media_id, height, width, sum_r, sum_g, sum_b)
    ORDER BY media_id
    """,
)
def multimodal_decode_ico(spark: SparkSession, sf_dir: str):
    """Seeded ICO bytes (two entries per icon, alternating PNG /
    headerless-BMP encoding) → REAL decode (directory walk, largest-entry
    selection, doubled-height BMP fixup — operators/ico.py, r7) →
    nearest-neighbor resize to 8×8 → exact integer channel sums.  The
    favicon format of web crawls; both entry encodings are pinned."""
    dec = decode_images(_gen_ico_media(spark), height=8, width=8)
    return dec.select(
        "media_id",
        "height",
        "width",
        _channel_sum(0).alias("sum_r"),
        _channel_sum(1).alias("sum_g"),
        _channel_sum(2).alias("sum_b"),
    ).orderBy("media_id")


def _gen_ico_palette_media(spark: SparkSession) -> DataFrame:
    """Seeded ICO payloads whose entries are palette-indexed BMPs (bpp
    cycling 8/4/1, color table inside the headerless entry) — the legacy
    favicon encoding (operators/ico.py, r9)."""
    from wukong_spark.operators.ico import encode_ico_palette

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                k = int(i)
                rng = np.random.default_rng(9500 + k)
                bpp = (8, 4, 1)[k % 3]
                n = (61, 16, 2)[k % 3]
                pal = rng.integers(0, 256, (n, 3), dtype=np.uint8)
                small = rng.integers(0, n, (8, 8), dtype=np.uint8)
                large = rng.integers(0, n, (IMG_H, IMG_W), dtype=np.uint8)
                rows.append(
                    (k, bytearray(encode_ico_palette(
                        [(small, pal, bpp), (large, pal, bpp)]
                    )))
                )
            yield pd.DataFrame(rows, columns=["doc_id", "blob"])

    raw = spark.range(0, 12, 1, 4).mapInPandas(gen, "doc_id long, blob binary")
    return attach_media_metadata(
        raw, "blob", kind="image", mime="image/x-icon", id_col="doc_id"
    )


@query(
    "multimodal_decode_ico_palette",
    # literal oracle: exact integer channel sums — palette BMP entries are
    # lossless integer end-to-end (color table, bit unpack, largest-entry
    # pick, nearest-neighbor gather)
    oracle="""
    SELECT * FROM (VALUES
      (0, 8, 8, 7799, 7803, 6910), (1, 8, 8, 9436, 7489, 10821),
      (2, 8, 8, 5152, 14740, 13126), (3, 8, 8, 7840, 8475, 8147),
      (4, 8, 8, 9547, 8265, 7568), (5, 8, 8, 8813, 7577, 4943),
      (6, 8, 8, 8234, 8269, 8080), (7, 8, 8, 6955, 7935, 10385),
      (8, 8, 8, 10856, 10894, 10755), (9, 8, 8, 8266, 8286, 6824),
      (10, 8, 8, 8409, 9577, 6990), (11, 8, 8, 11578, 8833, 3368))
      AS t(media_id, height, width, sum_r, sum_g, sum_b)
    ORDER BY media_id
    """,
)
def multimodal_decode_ico_palette(spark: SparkSession, sf_dir: str):
    """Seeded ICO bytes with palette-indexed BMP entries (bpp 8/4/1,
    doubled-height entries, embedded color tables) → REAL decode
    (directory walk, largest-entry pick, color-table carry-over into the
    rebuilt BMP, MSB-first bit unpack — operators/ico.py, r9) →
    nearest-neighbor resize to 8×8 → exact integer channel sums."""
    dec = decode_images(_gen_ico_palette_media(spark), height=8, width=8)
    return dec.select(
        "media_id",
        "height",
        "width",
        _channel_sum(0).alias("sum_r"),
        _channel_sum(1).alias("sum_g"),
        _channel_sum(2).alias("sum_b"),
    ).orderBy("media_id")


def _gen_dhash_media(spark: SparkSession) -> DataFrame:
    """Seeded BMP images for perceptual dedup: ids 0-11 are bases, ids
    12-23 are NEAR-DUPLICATES of id−12 (one brightened 10×10 region —
    strong enough to flip 1-5 dHash bits, weak enough to stay under the
    Hamming gate)."""
    from wukong_spark.operators.multimodal import encode_bmp

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                k = int(i)
                rng = np.random.default_rng(11000 + (k % 12))
                px = rng.integers(0, 256, (IMG_H, IMG_W, 3), dtype=np.uint8)
                if k >= 12:
                    prng = np.random.default_rng(12000 + k)
                    y = int(prng.integers(0, 14))
                    x = int(prng.integers(0, 8))
                    region = px[y : y + 10, x : x + 10].astype(int)
                    px[y : y + 10, x : x + 10] = np.clip(
                        region + int(prng.integers(80, 110)), 0, 255
                    )
                rows.append((k, bytearray(encode_bmp(px))))
            yield pd.DataFrame(rows, columns=["doc_id", "blob"])

    raw = spark.range(0, 24, 1, 4).mapInPandas(gen, "doc_id long, blob binary")
    return attach_media_metadata(
        raw, "blob", kind="image", mime="image/bmp", id_col="doc_id"
    )


@query(
    "dedup_image_dhash",
    # literal oracle: the dHash pipeline is integer-exact end-to-end
    # (fixed-point luma, nearest-neighbor gather, gradient signs), so the
    # 12 true pairs and their exact Hamming distances are pinned; the
    # worst pair sits at distance 5 vs the ≤6 gate, where block-pair
    # banding makes recall structural (pigeonhole), and no unrelated
    # pair passes the exact bit_count filter (verified at capture)
    oracle="""
    SELECT * FROM (VALUES
      (0, 12, 5), (1, 13, 1), (2, 14, 4),
      (3, 15, 4), (4, 16, 1), (5, 17, 2),
      (6, 18, 4), (7, 19, 1), (8, 20, 3),
      (9, 21, 5), (10, 22, 2), (11, 23, 2))
      AS t(doc_a, doc_b, hamming)
    ORDER BY doc_a
    """,
)
def dedup_image_dhash(spark: SparkSession, sf_dir: str):
    """IMAGE near-duplicate detection — the perceptual complement of the
    text SimHash entry, wiring the codec layer into the dedup layer:
    seeded BMPs (12 bases + 12 perturbed near-dups) → REAL decode →
    64-bit dHash (fixed-point luma, 9×8 gradient signs) → candidate
    pairs via 28 BLOCK-PAIR equi-joins (Manku et al. WWW'07: split the
    hash into 8 byte blocks and key on every C(8,2) pair of blocks —
    ≤ 6 bit flips damage ≤ 6 blocks, so ≥ 2 blocks stay clean and that
    pair is a shared key: recall at the Hamming-≤6 gate is STRUCTURAL,
    never all-pairs) → exact Hamming filter (bit_count(a ^ b) ≤ 6,
    JVM-side).

    100 TB path: hashing is map-only over the image bytes; the shuffle
    carries 28 (band, id, hash) triples per image — 16-bit composite
    keys per band, never pixels."""
    from wukong_spark.operators.multimodal import dhash_images

    # eager localCheckpoint: decode+hash run ONCE and both sides of the
    # self-join read the materialized (media_id, dhash, bands) rows — no
    # persist handle left dangling after the query returns
    from wukong_spark.session import checkpoint, register_result_checkpoint

    hashed = register_result_checkpoint(checkpoint(dhash_images(_gen_dhash_media(spark))))

    def blk(i: int):  # byte block i of the 64-bit hash (JVM-side exprs)
        return F.expr(f"CAST((dhash >> {8 * i}) & 255 AS INT)")

    pair_keys = F.array(
        *[
            F.struct(
                F.lit(n).alias("band_no"),
                (blk(i) * 256 + blk(j)).alias("band_val"),
            )
            for n, (i, j) in enumerate(
                (i, j) for i in range(8) for j in range(i + 1, 8)
            )
        ]
    )
    banded = hashed.select(
        "media_id", "dhash", F.explode(pair_keys).alias("bv")
    ).select("media_id", "dhash", "bv.band_no", "bv.band_val")
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_no") == F.col("b.band_no"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.media_id") < F.col("b.media_id")),
        )
        .select(
            F.col("a.media_id").alias("doc_a"),
            F.col("b.media_id").alias("doc_b"),
            F.col("a.dhash").alias("ha"),
            F.col("b.dhash").alias("hb"),
        )
        .distinct()
    )
    out = (
        cand.withColumn("hamming", F.expr("bit_count(ha ^ hb)"))
        .filter(F.col("hamming") <= 6)
        .select("doc_a", "doc_b", "hamming")
        .orderBy("doc_a")
    )
    return out


def _gen_tone_media(spark: SparkSession) -> DataFrame:
    """Seeded WAV clips: three 0.25 s BIN-CENTERED tones per clip
    (f = bin·sr/1024), so every STFT frame's dominant bin is exact."""
    from wukong_spark.operators.multimodal import encode_wav_pcm16

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                k = int(i)
                rng = np.random.default_rng(13000 + k)
                sr, n_fft = 8000, 1024
                bins = sorted(
                    int(b) for b in rng.choice(np.arange(20, 400), 3, replace=False)
                )
                x = np.concatenate([
                    0.6 * np.sin(
                        2 * np.pi * (b * sr / n_fft) * np.arange(sr // 4) / sr
                    )
                    for b in bins
                ])
                rows.append((k, bytearray(encode_wav_pcm16(x, sr))))
            yield pd.DataFrame(rows, columns=["doc_id", "blob"])

    raw = spark.range(0, 6, 1, 3).mapInPandas(gen, "doc_id long, blob binary")
    return attach_media_metadata(
        raw, "blob", kind="audio", mime="audio/wav", id_col="doc_id"
    )


@query(
    "audio_fingerprint_peaks",
    # literal oracle: dominant STFT bins of bin-centered tones — the
    # argmax margin is ≥23 % in magnitude at capture (IEEE drift is
    # ~1e-15), so every frame's winner is platform-stable; boundary
    # frames spanning two tones resolve by window coverage,
    # deterministically
    oracle="""
    SELECT * FROM (VALUES
      (0, 0, 144, 8000), (0, 1, 144, 8000), (0, 2, 144, 8000), (0, 3, 354, 8000),
      (0, 4, 354, 8000), (0, 5, 354, 8000), (0, 6, 354, 8000), (0, 7, 359, 8000),
      (0, 8, 359, 8000), (0, 9, 359, 8000), (1, 0, 60, 8000), (1, 1, 60, 8000),
      (1, 2, 60, 8000), (1, 3, 131, 8000), (1, 4, 131, 8000), (1, 5, 131, 8000),
      (1, 6, 131, 8000), (1, 7, 254, 8000), (1, 8, 254, 8000), (1, 9, 254, 8000),
      (2, 0, 189, 8000), (2, 1, 189, 8000), (2, 2, 189, 8000), (2, 3, 303, 8000),
      (2, 4, 303, 8000), (2, 5, 303, 8000), (2, 6, 303, 8000), (2, 7, 392, 8000),
      (2, 8, 392, 8000), (2, 9, 392, 8000), (3, 0, 245, 8000), (3, 1, 245, 8000),
      (3, 2, 245, 8000), (3, 3, 298, 8000), (3, 4, 298, 8000), (3, 5, 298, 8000),
      (3, 6, 298, 8000), (3, 7, 308, 8000), (3, 8, 308, 8000), (3, 9, 308, 8000),
      (4, 0, 78, 8000), (4, 1, 78, 8000), (4, 2, 78, 8000), (4, 3, 222, 8000),
      (4, 4, 222, 8000), (4, 5, 222, 8000), (4, 6, 222, 8000), (4, 7, 361, 8000),
      (4, 8, 361, 8000), (4, 9, 361, 8000), (5, 0, 142, 8000), (5, 1, 142, 8000),
      (5, 2, 142, 8000), (5, 3, 170, 8000), (5, 4, 170, 8000), (5, 5, 170, 8000),
      (5, 6, 170, 8000), (5, 7, 385, 8000), (5, 8, 385, 8000), (5, 9, 385, 8000))
      AS t(media_id, frame_no, peak_bin, sample_rate)
    ORDER BY media_id, frame_no
    """,
)
def audio_fingerprint_peaks(spark: SparkSession, sf_dir: str):
    """Audio feature extraction — per-frame dominant-frequency
    fingerprints (the Shazam-constellation shape): seeded tone-schedule
    WAVs → REAL decode → Hann STFT → argmax bin per frame, Arrow-batched
    map-only (operators/multimodal.py fingerprint_audio, r9).  The
    audio-side twin of dedup_image_dhash; at corpus scale the
    fingerprint rows shuffle for matching, never the waveforms."""
    from wukong_spark.operators.multimodal import fingerprint_audio

    return fingerprint_audio(_gen_tone_media(spark)).orderBy(
        "media_id", "frame_no"
    )


@query(
    "video_fingerprint_dhash",
    # literal oracle: dHash is exact integer arithmetic over the decoded
    # frames, and the MJPEG decode is deterministic IEEE on identical
    # bytes (the multimodal_decode_jpeg determinism class)
    oracle="""
    SELECT * FROM (VALUES
      (0, 0, 0, -5092115777657254300), (0, 1, 2, 7661528640201217463),
      (0, 2, 5, -5600318995038581466), (1, 0, 0, 7302404936201767706),
      (1, 1, 2, 727991415524222325), (1, 2, 5, -2696159962251809303),
      (2, 0, 0, 7087995320411963724), (2, 1, 2, 2716621870467536556),
      (2, 2, 5, 5954941413797763782), (3, 0, 0, 1984441060447922345),
      (3, 1, 2, 6551127126050481554), (3, 2, 5, -3149605081177221725),
      (4, 0, 0, 5226916187624598994), (4, 1, 2, 6282058092324460105),
      (4, 2, 5, 5383958357030313042), (5, 0, 0, 5389898692651427029),
      (5, 1, 2, -3948734783242446059), (5, 2, 5, -5609558693791601239))
      AS t(media_id, frame_idx, frame_no, dhash)
    ORDER BY media_id, frame_idx
    """,
)
def video_fingerprint_dhash(spark: SparkSession, sf_dir: str):
    """VIDEO fingerprinting — the third leg of the perceptual triad
    (image dHash, audio spectral peaks, video = dHash per sampled
    frame): seeded MJPEG-AVI clips → container walk → 3 evenly-spaced
    frames → JPEG decode → 64-bit dHash each, Arrow-batched map-only
    (operators/multimodal.py fingerprint_video_frames, r9).  Clip
    near-duplicate detection reduces to matching shared frame hashes —
    clips shuffle 8-byte fingerprints, never pixels."""
    from wukong_spark.operators.multimodal import fingerprint_video_frames

    return fingerprint_video_frames(_gen_mjpeg_media(spark), n_frames=3).orderBy(
        "media_id", "frame_idx"
    )


def _gen_webdataset_shards(spark: SparkSession) -> DataFrame:
    """Seeded WebDataset shards: each tar holds 3 samples of
    (NNN.jpg, NNN.wav, NNN.json) — the canonical multimodal
    training-corpus layout (image + audio + caption per key)."""
    import io
    import json as _json
    import tarfile

    from wukong_spark.operators.jpeg import encode_jpeg
    from wukong_spark.operators.multimodal import encode_wav_pcm16

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                shard = int(i)
                buf = io.BytesIO()
                with tarfile.open(fileobj=buf, mode="w") as tf:
                    for j in range(3):
                        rng = np.random.default_rng(14000 + shard * 10 + j)
                        px = rng.integers(0, 256, (16, 16, 3), dtype=np.uint8)
                        sr = 8000
                        tone = 0.5 * np.sin(
                            2 * np.pi * (50 + 10 * j) * np.arange(sr // 4) / sr
                        )
                        caption = " ".join(
                            f"w{int(t)}" for t in rng.integers(0, 99, 5 + j)
                        )
                        for name, data in (
                            (f"{j:03d}.jpg", encode_jpeg(px, quality=90)),
                            (f"{j:03d}.wav", encode_wav_pcm16(tone, sr)),
                            (f"{j:03d}.json",
                             _json.dumps({"caption": caption}).encode()),
                        ):
                            info = tarfile.TarInfo(name)
                            info.size = len(data)
                            info.mtime = 0  # no wall-clock in shard bytes
                            tf.addfile(info, io.BytesIO(data))
                rows.append((shard, bytearray(buf.getvalue())))
            yield pd.DataFrame(rows, columns=["media_id", "payload"])

    return spark.range(0, 4, 1, 2).mapInPandas(
        gen, "media_id long, payload binary"
    )


@query(
    "webdataset_multimodal_pipeline",
    # literal oracle: integer channel sums (JPEG determinism class),
    # integer-scaled audio rms, and exact caption token counts — one
    # contract across all three modalities of every sample
    oracle="""
    SELECT * FROM (VALUES
      (0, '000', 33291, 32618, 33264, 353551, 5),
      (0, '001', 33203, 32235, 32625, 353553, 6),
      (0, '002', 33752, 33553, 31195, 353552, 7),
      (1, '000', 35748, 33437, 30261, 353551, 5),
      (1, '001', 31817, 32873, 33691, 353553, 6),
      (1, '002', 33172, 32185, 32025, 353552, 7),
      (2, '000', 32564, 31096, 32398, 353551, 5),
      (2, '001', 33628, 32116, 33723, 353553, 6),
      (2, '002', 32827, 32947, 32155, 353552, 7),
      (3, '000', 31752, 33061, 32239, 353551, 5),
      (3, '001', 31638, 32155, 32020, 353553, 6),
      (3, '002', 34959, 30853, 30979, 353552, 7))
      AS t(shard_id, sample_key, sum_r, sum_g, sum_b, rms_e6, n_caption_tokens)
    ORDER BY shard_id, sample_key
    """,
)
def webdataset_multimodal_pipeline(spark: SparkSession, sf_dir: str):
    """The END-TO-END WebDataset story: seeded tar shards of
    (jpg, wav, json) sample triplets → explode_tar (one task per shard)
    → group_webdataset_samples (ext → bytes map per key) → decode ALL
    THREE modalities of each sample — real JPEG decode to channel sums,
    real WAV decode to integer-scaled rms, JSON caption to token count —
    in ONE Arrow-batched pass.  This is the multimodal training-loader
    shape at 100 TB: shards are the parallelism unit, sample bytes never
    leave the task that decodes them."""
    from wukong_spark.operators.archive import (
        explode_tar,
        group_webdataset_samples,
    )
    from wukong_spark.operators.jpeg import decode_jpeg
    from wukong_spark.operators.multimodal import decode_wav

    members = explode_tar(_gen_webdataset_shards(spark))
    samples = group_webdataset_samples(members)

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import json as _json

        cols = [
            "shard_id", "sample_key",
            "sum_r", "sum_g", "sum_b", "rms_e6", "n_caption_tokens",
        ]
        for pdf in batches:
            rows = []
            for sid, key, fields in zip(
                pdf["media_id"], pdf["key"], pdf["fields"]
            ):
                px = decode_jpeg(bytes(fields["jpg"]))
                s = px.reshape(-1, 3).astype(np.int64).sum(axis=0)
                _sr, _nch, x = decode_wav(bytes(fields["wav"]))
                rms = int(round(float(np.sqrt(np.mean(x**2))) * 1e6))
                cap = _json.loads(bytes(fields["json"]))["caption"]
                rows.append(
                    (int(sid), str(key),
                     int(s[0]), int(s[1]), int(s[2]), rms, len(cap.split()))
                )
            yield pd.DataFrame(rows, columns=cols)

    return samples.mapInPandas(
        feats,
        "shard_id long, sample_key string, sum_r long, sum_g long,"
        " sum_b long, rms_e6 long, n_caption_tokens int",
    ).orderBy("shard_id", "sample_key")


def _gen_crossmodal_shards(spark: SparkSession) -> DataFrame:
    """Seeded WebDataset shards for CROSS-MODAL dedup: 4 tar shards × 4
    samples, each sample a (bmp, wav) pair.  Samples 8-15 relate to
    sample−8: by default BOTH modalities are near-dups (image gets a
    brightened 10×10 region, audio keeps the same bin-centered tone at
    lower amplitude); sample 14 is an AUDIO-only dup (fresh image —
    must not pass the image gate) and sample 15 an IMAGE-only dup
    (different tone — must surface with audio_match = false).  The
    seeded perturbations land pairs at Hamming 2-6 except pair (1, 9),
    which falls at 9 — kept as the over-the-gate negative."""
    import io
    import tarfile

    from wukong_spark.operators.multimodal import encode_bmp, encode_wav_pcm16

    def sample_bytes(g: int) -> tuple[bytes, bytes]:
        base = g - 8 if g >= 8 else g
        rng = np.random.default_rng(16000 + base)
        px = rng.integers(0, 256, (IMG_H, IMG_W, 3), dtype=np.uint8)
        sr, n = 8000, 4096
        bin_ = 30 + 7 * base  # bin-centered → every frame's argmax exact
        amp = 0.5
        if g >= 8:
            if g == 14:  # audio-only dup: unrelated image
                prng = np.random.default_rng(18000 + g)
                px = prng.integers(0, 256, (IMG_H, IMG_W, 3), dtype=np.uint8)
            else:  # image near-dup: one brightened region (1-5 dHash bits)
                prng = np.random.default_rng(17000 + g)
                y = int(prng.integers(0, 14))
                x0 = int(prng.integers(0, 8))
                region = px[y : y + 10, x0 : x0 + 10].astype(int)
                px[y : y + 10, x0 : x0 + 10] = np.clip(
                    region + int(prng.integers(80, 110)), 0, 255
                )
            amp = 0.35  # re-levelled audio: argmax bin unchanged
            if g == 15:  # image-only dup: a different tone
                bin_ = bin_ + 11
        t = np.arange(n) / sr
        wav = amp * np.sin(2 * np.pi * (bin_ * sr / 1024) * t)
        return encode_bmp(px), encode_wav_pcm16(wav, sr)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                shard = int(i)
                buf = io.BytesIO()
                with tarfile.open(fileobj=buf, mode="w") as tf:
                    for j in range(4):
                        g = shard * 4 + j
                        bmp, wav = sample_bytes(g)
                        for name, data in (
                            (f"{g:03d}.bmp", bmp),
                            (f"{g:03d}.wav", wav),
                        ):
                            info = tarfile.TarInfo(name)
                            info.size = len(data)
                            info.mtime = 0  # no wall-clock in shard bytes
                            tf.addfile(info, io.BytesIO(data))
                rows.append((shard, bytearray(buf.getvalue())))
            yield pd.DataFrame(rows, columns=["media_id", "payload"])

    return spark.range(0, 4, 1, 2).mapInPandas(
        gen, "media_id long, payload binary"
    )


@query(
    "crossmodal_neardup_pipeline",
    # literal oracle: the whole pipeline is integer-exact (BMP bytes →
    # fixed-point dHash; bin-centered tones → exact argmax bins), so the
    # surviving pairs, their Hamming distances, and the audio verdicts
    # are pinned.  Three planted negatives: (1, 9) is OVER-perturbed
    # (Hamming 9 > the ≤6 gate — correctly absent), (6, 14) is the
    # audio-only dup (fresh image, fails the image gate — absent), and
    # (7, 15) is the image-only dup — surfaced with audio_match = false.
    oracle="""
    SELECT * FROM (VALUES
      (0, 8, 2, TRUE), (2, 10, 3, TRUE), (3, 11, 6, TRUE),
      (4, 12, 3, TRUE), (5, 13, 2, TRUE), (7, 15, 5, FALSE))
      AS t(doc_a, doc_b, hamming, audio_match)
    ORDER BY doc_a
    """,
)
def crossmodal_neardup_pipeline(spark: SparkSession, sf_dir: str):
    """CROSS-MODAL near-duplicate detection end-to-end (r10, VERDICT r9
    stretch): the perceptual-fingerprint triad applied jointly over one
    WebDataset corpus.  Seeded tar shards of (bmp, wav) samples →
    explode_tar → group_webdataset_samples → ONE Arrow pass computes
    BOTH fingerprints per sample (64-bit image dHash + the spectral
    peak-bin sequence hashed to 64 bits) → image candidates via the 28
    Manku block-pair keys (structural recall at Hamming ≤ 6, never
    all-pairs) → exact bit_count gate → audio fingerprints compared on
    the survivors.  A pair is a cross-modal duplicate only when BOTH
    modalities agree; the fixture plants an audio-only dup (absent: the
    image gate kills it), an image-only dup (surfaced with audio_match
    = false), and an over-perturbed pair at Hamming 9 (absent: the
    exact gate, not the banding, is the precision boundary).

    100 TB path: shards are the parallelism unit; each sample ships 16
    bytes of fingerprints into the shuffle — pixels and waveforms never
    leave the decoding task."""
    import hashlib as _hashlib

    from wukong_spark.operators.archive import (
        explode_tar,
        group_webdataset_samples,
    )
    from wukong_spark.operators.multimodal import (
        audio_fingerprint,
        decode_bmp,
        decode_wav,
        image_dhash,
    )

    members = explode_tar(_gen_crossmodal_shards(spark))
    samples = group_webdataset_samples(members)

    def fps(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["doc_id", "dhash", "audio_fp"]
        for pdf in batches:
            rows = []
            for key, fields in zip(pdf["key"], pdf["fields"]):
                h = image_dhash(decode_bmp(bytes(fields["bmp"])))
                signed = h - (1 << 64) if h >= (1 << 63) else h
                _sr, _nch, x = decode_wav(bytes(fields["wav"]))
                bins = audio_fingerprint(x)
                fp = int.from_bytes(
                    _hashlib.blake2b(bins.tobytes(), digest_size=8).digest(),
                    "little",
                    signed=True,
                )
                rows.append((int(key), signed, fp))
            yield pd.DataFrame(rows, columns=cols)

    from wukong_spark.session import checkpoint, register_result_checkpoint

    hashed = register_result_checkpoint(
        checkpoint(samples.mapInPandas(fps, "doc_id long, dhash long, audio_fp long"))
    )

    def blk(i: int):
        return F.expr(f"CAST((dhash >> {8 * i}) & 255 AS INT)")

    pair_keys = F.array(
        *[
            F.struct(
                F.lit(n).alias("band_no"),
                (blk(i) * 256 + blk(j)).alias("band_val"),
            )
            for n, (i, j) in enumerate(
                (i, j) for i in range(8) for j in range(i + 1, 8)
            )
        ]
    )
    banded = hashed.select(
        "doc_id", "dhash", "audio_fp", F.explode(pair_keys).alias("bv")
    ).select("doc_id", "dhash", "audio_fp", "bv.band_no", "bv.band_val")
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_no") == F.col("b.band_no"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.dhash").alias("ha"),
            F.col("b.dhash").alias("hb"),
            F.col("a.audio_fp").alias("fa"),
            F.col("b.audio_fp").alias("fb"),
        )
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.expr("bit_count(ha ^ hb)"))
        .filter(F.col("hamming") <= 6)
        .select(
            "doc_a",
            "doc_b",
            "hamming",
            (F.col("fa") == F.col("fb")).alias("audio_match"),
        )
        .orderBy("doc_a")
    )


@query(
    "webdataset_export_roundtrip",
    # literal oracle: the input is the seeded fixture generator (sf- and
    # table-independent); 12 samples, 3 non-empty shards at this key set,
    # booleans are in-plan structural contracts
    oracle="SELECT 3 AS n_shards_written, 12 AS n_samples,"
    " TRUE AS roundtrip_exact, TRUE AS rewrite_bit_identical",
)
def webdataset_export_roundtrip(spark: SparkSession, sf_dir: str):
    """WebDataset EXPORT (r11) — the write side of the shard story:
    curated (key, ext→bytes) samples packed into deterministic tar
    shards (`archive.write_webdataset_shards`), then proved twice over:

    - roundtrip_exact: re-ingesting the written shards through the SAME
      explode_tar + group_webdataset_samples path reproduces every
      sample's every field byte-for-byte (md5 set equality over
      (key, ext, content) in-plan, counts equal);
    - rewrite_bit_identical: exporting the same samples a second time
      yields the identical shard payload md5 set — shard bytes are a
      pure function of the data (mtime=0, sorted members, pinned modes),
      the property that makes corpus exports diffable and content-
      addressable.

    100 TB path: one reducer packs one shard; the re-ingest is one task
    per shard; fingerprints (16 bytes/field) are all that shuffles for
    the comparison."""
    from wukong_spark.operators.archive import (
        explode_tar,
        group_webdataset_samples,
        write_webdataset_shards,
    )

    src = group_webdataset_samples(explode_tar(_gen_webdataset_shards(spark)))
    from wukong_spark.session import checkpoint, register_result_checkpoint

    # packed twice + fingerprinted: one decode
    samples = register_result_checkpoint(
        checkpoint(
            src.select(
                F.concat_ws("-", F.col("media_id").cast("string"), F.col("key")).alias(
                    "key"
                ),
                F.col("fields"),
            )
        )
    )
    shards = register_result_checkpoint(
        checkpoint(write_webdataset_shards(samples, n_shards=3))
    )
    back = group_webdataset_samples(
        explode_tar(
            shards.select(
                F.col("shard_id").cast("long").alias("media_id"), "payload"
            )
        )
    ).select(F.col("key"), F.col("fields"))

    def fp(df):
        return df.select(
            "key", F.explode("fields").alias("ext", "content")
        ).select("key", "ext", F.md5("content").alias("h"))

    n_src, n_back = samples.count(), back.count()
    roundtrip = (
        fp(samples).exceptAll(fp(back)).count() == 0 and n_src == n_back
    )
    shards2 = write_webdataset_shards(samples, n_shards=3)
    sig = lambda df: {  # noqa: E731
        (r["shard_id"], r["h"])
        for r in df.select("shard_id", F.md5("payload").alias("h")).collect()
    }
    identical = sig(shards) == sig(shards2)
    n_shards_written = shards.count()
    total = shards.agg(F.sum("n_samples")).collect()[0][0]
    return local_frame(spark,
        [(int(n_shards_written), int(total), bool(roundtrip), bool(identical))],
        "n_shards_written int, n_samples bigint, roundtrip_exact boolean,"
        " rewrite_bit_identical boolean",
    )


@query(
    "multimodal_channel_stats",
    # literal oracle captured from the seeded decode (sf-invariant
    # generated inputs): n/sum/sum² are EXACT BIGINTs; mean/std are a
    # fixed IEEE op sequence on those exact integers
    oracle="""
    SELECT channel, n_pixels, sum_v, sum_v2,
           CAST(mean_6 AS DOUBLE) AS mean_6, CAST(std_6 AS DOUBLE) AS std_6
    FROM (VALUES
      (0, 6912, 873275, 148301563, 126.341869, 74.122823),
      (1, 6912, 889059, 151902969, 128.625434, 73.708795),
      (2, 6912, 876026, 148805206, 126.739873, 73.934609))
      AS t(channel, n_pixels, sum_v, sum_v2, mean_6, std_6)
    ORDER BY channel
    """,
)
def multimodal_channel_stats(spark: SparkSession, sf_dir: str):
    """PER-CHANNEL NORMALIZATION STATISTICS (r11) — the dataset mean/std
    every vision training pipeline computes once per corpus to normalize
    inputs: decode the seeded BMP corpus at native resolution, aggregate
    exact integer Σv and Σv² per RGB channel (JVM higher-order
    functions over the interleaved pixel array — no Python), and derive
    mean and the unbiased std from the sufficient statistics.

    100 TB path: per-image partials are 6 BIGINTs; the global agg is a
    3-row reduce — the corpus streams through the decoders once and
    only sufficient statistics shuffle."""
    dec = decode_images(_gen_bmp_media(spark), height=IMG_H, width=IMG_W)
    per_ch = []
    for ch in range(3):
        s1 = F.expr(
            f"aggregate(transform(pixels, (x, i) -> "
            f"CASE WHEN i % 3 = {ch} THEN CAST(x AS BIGINT) ELSE 0L END), "
            f"0L, (a, x) -> a + x)"
        )
        s2 = F.expr(
            f"aggregate(transform(pixels, (x, i) -> "
            f"CASE WHEN i % 3 = {ch} THEN CAST(x AS BIGINT) * CAST(x AS BIGINT)"
            f" ELSE 0L END), 0L, (a, x) -> a + x)"
        )
        per_ch.append(
            dec.select(
                F.lit(ch).alias("channel"),
                (F.col("height") * F.col("width")).cast("long").alias("n"),
                s1.alias("s1"),
                s2.alias("s2"),
            )
        )
    u = per_ch[0].unionByName(per_ch[1]).unionByName(per_ch[2])
    agg = u.groupBy("channel").agg(
        F.sum("n").alias("n_pixels"),
        F.sum("s1").alias("sum_v"),
        F.sum("s2").alias("sum_v2"),
    )
    n = F.col("n_pixels").cast("double")
    s1d, s2d = F.col("sum_v").cast("double"), F.col("sum_v2").cast("double")
    return agg.select(
        "channel",
        "n_pixels",
        "sum_v",
        "sum_v2",
        F.round(s1d / n, 6).alias("mean_6"),
        F.round(F.sqrt((s2d - s1d * s1d / n) / (n - F.lit(1.0))), 6).alias(
            "std_6"
        ),
    ).orderBy("channel")


@query(
    "multimodal_augment_epoch1",
    # literal oracle: exact post-augmentation integer channel sums of the
    # seeded decode+augment pipeline (sf-invariant generated inputs)
    oracle="""
    SELECT * FROM (VALUES
      (0, 22, 16, 43890, 47031, 42965), (1, 22, 16, 43694, 45707, 44249),
      (2, 22, 16, 45896, 42606, 44474), (3, 22, 16, 44419, 43868, 46017),
      (4, 22, 16, 46437, 45681, 44517), (5, 22, 16, 46143, 44417, 46263),
      (6, 22, 16, 41716, 43449, 45354), (7, 22, 16, 45343, 45168, 43916),
      (8, 22, 16, 43522, 46955, 42645), (9, 22, 16, 44364, 46878, 46898),
      (10, 22, 16, 46384, 43264, 44836), (11, 22, 16, 44355, 45887, 42825),
      (12, 22, 16, 45649, 43362, 43649), (13, 22, 16, 44977, 46231, 42816),
      (14, 22, 16, 43172, 48314, 44298), (15, 22, 16, 44048, 45193, 44635))
      AS t(media_id, height, width, sum_r, sum_g, sum_b)
    ORDER BY media_id
    """,
)
def multimodal_augment_epoch1(spark: SparkSession, sf_dir: str):
    """DETERMINISTIC AUGMENTATION (r11): the seeded BMP corpus decoded,
    then augmented for epoch 1 via `multimodal.augment_images` — per-
    (sample, epoch) seeded flip + crop, reproducible on any executor,
    partitioning, or retry (a per-task RNG would re-roll under
    recompute).  The literal oracle pins every image's post-augmentation
    exact channel sums: any drift in the flip coin, the crop offsets, or
    the slice arithmetic flips a sum.  Same-epoch run-to-run identity
    and cross-epoch divergence are pinned in
    tests/test_mlops_multimodal.py::test_augment_images_deterministic."""
    from wukong_spark.operators.multimodal import augment_images

    dec = decode_images(_gen_bmp_media(spark), height=IMG_H, width=IMG_W)
    aug = augment_images(dec, epoch=1)
    return aug.select(
        "media_id",
        "height",
        "width",
        _channel_sum(0).alias("sum_r"),
        _channel_sum(1).alias("sum_g"),
        _channel_sum(2).alias("sum_b"),
    ).orderBy("media_id")
