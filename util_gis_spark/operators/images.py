"""Multimodal (image payload) operators.

The input table carries opaque `bytes` with typed metadata
(image_id, w, h, fmt, caption, phash) per BASELINE.json input_hint.
Real codecs (PIL/ffmpeg) are NOT in this container, so decode is a
deterministic fake — a seeded-by-content pixel generator — behind the
same Arrow plumbing a real decoder would use (mapInPandas over binary
columns, batch-shaped numpy). The Spark-side schema, partitioning,
UDF signatures and batch shapes are real and tested; swapping
`_decode_stub` for `PIL.Image.open` is a one-function change.

Invariant helpers: caption byte-equality and decoded-pixel PSNR
(>= 40 dB for lossy re-encodes) — the per-row invariants the north
rule requires when the pipeline re-encodes payloads.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .dedup import band_self_join
from .grouped import map_apply

# the columns every decode needs: a row NULL in any of them has no
# pixels, so the kernels skip it instead of failing the job
_DECODE_COLS = ("bytes", "w", "h")


def _decode_stub(data: bytes, w: int, h: int) -> np.ndarray:
    """Deterministic fake decode: pixels seeded by the byte content.
    Stands in for a real codec (not available in this container);
    the contract is the same: bytes -> (h, w, 3) uint8."""
    seed = int.from_bytes(data[:8].ljust(8, b"\0"), "little") & 0x7FFFFFFF
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)


def _luminance(px: np.ndarray) -> np.ndarray:
    """Rec. 601 luma of an (h, w, 3) RGB raster."""
    return 0.299 * px[:, :, 0] + 0.587 * px[:, :, 1] + 0.114 * px[:, :, 2]


def _encode_stub(pixels: np.ndarray, lossy: bool) -> bytes:
    """Fake re-encode: lossless = raw bytes; lossy = quantize to 6
    bits/channel (PSNR ~ 43 dB) then raw. Deterministic."""
    if lossy:
        pixels = (pixels & 0xFC) | 0x02
    return pixels.tobytes()


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    mse = float(np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2))
    if mse == 0:
        return float("inf")
    return 10.0 * np.log10(255.0**2 / mse)


def decode_stats(images_df: DataFrame, max_pixels: int = 64 * 64) -> DataFrame:
    """Decode (stub) + per-image pixel stats — the feature-extraction
    plumbing: binary column -> Arrow batch -> numpy -> stats columns.
    Downsamples to max_pixels to bound batch memory (the real-decoder
    analogue of thumbnail extraction): each side caps at
    sqrt(max_pixels) — the default 64*64 keeps the pinned 64-px cap
    (r5 review: the knob used to be ignored, hardcoded to 64)."""
    side = max(int(np.sqrt(max_pixels)), 1)
    out_schema = T.StructType(
        [
            T.StructField("image_id", T.StringType()),
            T.StructField("mean_lum", T.DoubleType()),
            T.StructField("std_lum", T.DoubleType()),
            T.StructField("n_pixels", T.LongType()),
        ]
    )

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        ids, means, stds, npx = [], [], [], []
        # zip over columns, not iterrows: building a pandas Series
        # per row cost ~10x on the per-image hot loop
        for iid, buf, rw, rh in zip(pdf["image_id"], pdf["bytes"], pdf["w"], pdf["h"]):
            w = min(int(rw), side)
            h = min(int(rh), side)
            lum = _luminance(_decode_stub(bytes(buf), w, h))
            ids.append(iid)
            means.append(round(float(lum.mean()), 4))
            stds.append(round(float(lum.std()), 4))
            npx.append(w * h)
        return pd.DataFrame({"image_id": ids, "mean_lum": means, "std_lum": stds, "n_pixels": npx})

    return map_apply(
        images_df.select("image_id", *_DECODE_COLS), run, out_schema, skip_null=_DECODE_COLS
    )


def reencode_roundtrip_check(images_df: DataFrame, lossy: bool = True) -> DataFrame:
    """Decode -> re-encode -> decode; emit per-image PSNR and caption
    byte-equality — the invariant harness (PSNR >= 40 dB lossy,
    == inf lossless; caption bytes must survive untouched)."""
    out_schema = T.StructType(
        [
            T.StructField("image_id", T.StringType()),
            T.StructField("psnr_db", T.DoubleType()),
            T.StructField("caption", T.StringType()),
        ]
    )

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        psnrs = []
        for buf, rw, rh in zip(pdf["bytes"], pdf["w"], pdf["h"]):
            w = min(int(rw), 64)
            h = min(int(rh), 64)
            px = _decode_stub(bytes(buf), w, h)
            enc = _encode_stub(px, lossy=lossy)
            px2 = np.frombuffer(enc, dtype=np.uint8).reshape(h, w, 3)
            p = psnr(px, px2)
            psnrs.append(999.0 if np.isinf(p) else round(p, 2))
        return pd.DataFrame(
            {
                "image_id": pdf["image_id"].to_numpy(),
                "psnr_db": psnrs,
                "caption": pdf["caption"].to_numpy(),
            }
        )

    return map_apply(
        images_df.select("image_id", *_DECODE_COLS, "caption"),
        run,
        out_schema,
        skip_null=_DECODE_COLS,
    )


def resize_images(images_df: DataFrame, out_w: int = 32, out_h: int = 32) -> DataFrame:
    """Decode (stub) -> nearest-neighbor resize -> stats of the resized
    raster. The RESIZE math is real numpy (index-map gather, the same
    kernel a thumbnail service runs); only the codec behind it is the
    deterministic stand-in. Emits (image_id, out_w, out_h, mean_lum)
    so downstream sees typed metadata, not pixels — at 100 TB the
    resized bytes would go to a sink column, never through a shuffle."""
    out_schema = T.StructType(
        [
            T.StructField("image_id", T.StringType()),
            T.StructField("out_w", T.IntegerType()),
            T.StructField("out_h", T.IntegerType()),
            T.StructField("mean_lum", T.DoubleType()),
        ]
    )

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        means = []
        for buf, rw, rh in zip(pdf["bytes"], pdf["w"], pdf["h"]):
            w = min(int(rw), 64)
            h = min(int(rh), 64)
            px = _decode_stub(bytes(buf), w, h)
            yi = (np.arange(out_h) * h // out_h).astype(np.int64)
            xi = (np.arange(out_w) * w // out_w).astype(np.int64)
            means.append(round(float(_luminance(px[yi][:, xi]).mean()), 4))
        return pd.DataFrame(
            {
                "image_id": pdf["image_id"].to_numpy(),
                "out_w": np.int32(out_w),
                "out_h": np.int32(out_h),
                "mean_lum": means,
            }
        )

    return map_apply(
        images_df.select("image_id", *_DECODE_COLS), run, out_schema, skip_null=_DECODE_COLS
    )


def sample_video_frames(videos_df: DataFrame, every_n: int = 4) -> DataFrame:
    """Frame sampling over opaque video payloads: each binary payload
    decodes (stub) to its frame count's worth of frames; every
    `every_n`-th frame is emitted as its own row with typed metadata +
    per-frame luminance. The one-row-in / many-rows-out mapInPandas
    shape is the real plumbing a frame extractor needs (row explosion
    happens INSIDE the Arrow kernel, so frame bytes never ride a JVM
    explode). Frame count derives from the metadata (h % 28 + 2 — the
    deterministic stand-in for container headers)."""
    out_schema = T.StructType(
        [
            T.StructField("video_id", T.StringType()),
            T.StructField("frame_idx", T.IntegerType()),
            T.StructField("n_frames", T.IntegerType()),
            T.StructField("mean_lum", T.DoubleType()),
        ]
    )

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        vids, fidx, nfr, means = [], [], [], []
        for iid, buf, rw, rh in zip(pdf["image_id"], pdf["bytes"], pdf["w"], pdf["h"]):
            n_frames = int(rh) % 28 + 2
            w = min(int(rw), 32)
            h = min(int(rh), 32)
            data = bytes(buf)
            for i in range(0, n_frames, every_n):
                # per-frame decode: frame index salts the seed, the
                # same way a real demuxer seeks to frame i
                px = _decode_stub(data + i.to_bytes(2, "little"), w, h)
                vids.append(iid)
                fidx.append(np.int32(i))
                nfr.append(np.int32(n_frames))
                means.append(round(float(_luminance(px).mean()), 4))
        return pd.DataFrame(
            {"video_id": vids, "frame_idx": fidx, "n_frames": nfr, "mean_lum": means}
        )

    return map_apply(
        videos_df.select("image_id", *_DECODE_COLS), run, out_schema, skip_null=_DECODE_COLS
    )


def caption_byte_equality(src_df: DataFrame, out_df: DataFrame) -> DataFrame:
    """End-to-end caption invariant: join pipeline output back to the
    source on image_id and compare UTF-8 BYTES (not just string
    equality) — returns rows that violate byte-for-byte preservation
    (must be empty). NULL-safe and drop-aware (r6 review): the old
    `!=` propagated NULL, so corrupting a NULL caption to a value (or
    nulling a real one) filtered the row OUT of the violation set, and
    the inner join made a stage that DROPPED an image row entirely
    invisible — a checker that passed on real corruption."""
    s = src_df.select("image_id", F.encode(F.col("caption"), "UTF-8").alias("_src_b"))
    o = out_df.select(
        "image_id",
        F.encode(F.col("caption"), "UTF-8").alias("_out_b"),
        F.lit(True).alias("_out_present"),
    )
    j = s.join(o, "image_id", "left")
    # presence marker, not _out_b IS NULL: a dropped row whose source
    # caption was also NULL would otherwise compare NULL==NULL clean
    return j.filter(
        F.col("_out_present").isNull() | ~F.col("_src_b").eqNullSafe(F.col("_out_b"))
    )


def phash_hamming_dups_sql(images_src: str, max_hamming: int = 4) -> str:
    """DuckDB oracle twin of phash_hamming_dups."""
    band_rows = "\nUNION ALL\n".join(
        f"SELECT image_key AS k, phash, {b} AS band, "
        f"cast(floor(phash / {1 << (12 * b)}) as bigint) % 4096 AS bh FROM img"
        for b in range(4)
    )
    return f"""
WITH img AS ({images_src}), bands AS (
  {band_rows}
), cand AS (
  SELECT DISTINCT l.k AS a, r.k AS b, l.phash AS pa, r.phash AS pb
  FROM bands l JOIN bands r ON l.band = r.band AND l.bh = r.bh AND l.k < r.k
)
SELECT a AS key_a, b AS key_b, cast(bit_count(xor(pa, pb)) as int) AS hamming
FROM cand WHERE bit_count(xor(pa, pb)) <= {max_hamming}
"""


def phash_hamming_dups(images_df: DataFrame, max_hamming: int = 4) -> DataFrame:
    """Near-duplicate detection on the 48-bit perceptual hash: LSH by
    hash BANDS (4 x 12-bit bands; two hashes within hamming distance
    <= 4 share a band with high probability when distance is small),
    then exact popcount verify — the image analogue of MinHash-LSH.
    All JVM-side bit arithmetic. Bands come from ONE explode (the repo
    convention — r5 review: the old 4-way unionByName re-evaluated the
    source scan per branch AND per self-join side, 8 scans total)."""
    band_arr = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                ((F.col("phash") / (1 << (12 * b))).cast("long") % 4096).alias("bh"),
            )
            for b in range(4)
        ]
    )
    bands = images_df.select(
        "image_key", "phash", F.explode(band_arr).alias("_b")
    ).select("image_key", "phash", F.col("_b.band").alias("band"), F.col("_b.bh").alias("bh"))
    return (
        band_self_join(bands, "image_key", carry=["phash"])
        .withColumn("hamming", F.expr("cast(bit_count(phash_a ^ phash_b) as int)"))
        .filter(F.col("hamming") <= max_hamming)
        .select(F.col("a").alias("key_a"), F.col("b").alias("key_b"), "hamming")
    )
