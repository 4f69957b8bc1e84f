"""Multimodal (image) operators over binary columns.

Images travel as opaque `bytes` columns with typed metadata (input_hint
schema). Every pixel pass is one image pass, ``map_images``: it decodes each
row once with the pure-numpy codecs (no image libs required) and hands the
array to a named per-image function (``pixel_stats``, ``channel_means``,
``roundtrip_psnr``, ``block_mean_resize``, ``augment_values``, ``phash64``)
inside one ``rowmap.map_rows`` stage. The fixture recorders of
synth/staging.py call the same per-image functions. Video passes decode
media, not images, and keep their own kernels.

Scale notes: the binary column is the widest thing in the table, so these
operators keep it out of shuffles — geotag/cell/tile derivation works on
metadata only; pixel passes are narrow (no shuffle at all); anything that
joins re-attaches bytes late by image_id (SURVEY.md §7.3).

Perceptual near-dup pairing (``phash_band_pairs``) is the banded hamming
join of operators/dedup.py over the phash column.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fs2_osm_spark.codecs.png import (
    decode_image,
    encode_lossy,
    encode_png,
    phash64,
    psnr,
)
# band_cols is re-exported: callers import the band key from here
from fs2_osm_spark.operators.dedup import band_cols, hamming_pairs  # noqa: F401
from fs2_osm_spark.rowmap import map_rows

CAPTION_COORD_RE = r"at (-?\d+\.\d+),(-?\d+\.\d+)"


def _coord_pair(caption: Column) -> Column:
    """The 'LAT,LON' token of a caption ('... taken at LAT,LON near ...').

    r08: substring_index parsing instead of two regexp_extract passes —
    one regex evaluation per coordinate doubled the per-row string cost
    (measured 1.58s -> 0.86s for the parse stage over 16M captions), and
    geotag sits on every flagship/pyramid/mosaic path. Exactly equivalent
    to CAPTION_COORD_RE on the caption grammar every corpus in this
    engine emits (one ' at ' delimiter, coords as D.D,D.D followed by a
    space) — verified value-identical across the staged corpora; the
    DuckDB twins keep the regexp form, so the oracles would catch drift.
    """
    return F.substring_index(F.substring_index(caption, " at ", -1), " ", 1)


def hamming64(a: int, b: int) -> int:
    """Two's-complement 64-bit Hamming distance between signed int64
    hashes. The mask matters: ``bin(a ^ b).count('1')`` on a negative XOR
    counts magnitude bits, so a sign-bit-only difference (true distance 1)
    would read as 63 without it."""
    return ((int(a) ^ int(b)) & ((1 << 64) - 1)).bit_count()


def caption_lat(caption: Column) -> Column:
    return F.substring_index(_coord_pair(caption), ",", 1).cast("double")


def caption_lon(caption: Column) -> Column:
    return F.substring_index(_coord_pair(caption), ",", -1).cast("double")


def geotag(images: DataFrame) -> DataFrame:
    """Caption -> (lon, lat) columns. Pure Column regexp — JVM-side."""
    return images.withColumn("lat", caption_lat(F.col("caption"))).withColumn(
        "lon", caption_lon(F.col("caption"))
    )


def map_images(
    images: DataFrame,
    inputs: Sequence[str],
    fn: Callable[..., tuple],
    fields: Sequence[T.StructField],
    id_col: str = "image_id",
) -> DataFrame:
    """The one image pass: rows ``(id_col, *fields)``, one per image.

    Selects ``[id_col, "bytes", "fmt", *inputs]``, decodes each row's bytes
    once with ``decode_image`` and emits ``(id, *fn(img, fmt, *values))``
    where ``values`` are the row's ``inputs``. The id field is a non-null
    string. One narrow ``rowmap.map_rows`` stage, no shuffle."""
    schema = T.StructType([T.StructField(id_col, T.StringType(), False), *fields])

    def kernel(row_id, data, fmt, *values):
        yield (row_id, *fn(decode_image(data, fmt), fmt, *values))

    return map_rows(images, [id_col, "bytes", "fmt", *inputs], kernel, schema)


def _not_null(spark_type: T.DataType, *names: str) -> list[T.StructField]:
    return [T.StructField(n, spark_type, False) for n in names]


_MEANS = ("mean_r", "mean_g", "mean_b")


def channel_means(img: np.ndarray) -> list[float]:
    """Per-channel float64 means of one decoded HxWx3 image."""
    return img.reshape(-1, 3).astype(np.float64).mean(axis=0).tolist()


def pixel_stats(img: np.ndarray) -> tuple:
    """(w, h, mean_r, mean_g, mean_b, std_r, std_g, std_b) of one decoded
    HxWx3 image."""
    stds = img.reshape(-1, 3).astype(np.float64).std(axis=0).tolist()
    return (img.shape[1], img.shape[0], *channel_means(img), *stds)


# phash is designed to survive high-quality lossy compression: the JQ01
# path decodes within a few bits of the stored hash (measured max 4 over
# the synth corpus, which is noise-like and therefore phash-hostile);
# lossless decode must reproduce the hash exactly.
PHASH_LOSSY_TOLERANCE = 6


def decode_stats(images: DataFrame) -> DataFrame:
    """Decode every image, emit per-channel pixel stats + phash
    verification. phash_match is a REAL check on both codec paths: exact
    for lossless PNG, hamming <= PHASH_LOSSY_TOLERANCE for the lossy JQ01
    decode — a distorting decoder breaks it either way."""

    def stats(img, fmt, phash):
        dist = hamming64(phash64(img), phash)
        ok = dist == 0 if fmt == "png" else dist <= PHASH_LOSSY_TOLERANCE
        return (*pixel_stats(img), ok)

    fields = [
        *_not_null(T.IntegerType(), "dec_w", "dec_h"),
        *_not_null(T.DoubleType(), *_MEANS, "std_r", "std_g", "std_b"),
        T.StructField("phash_match", T.BooleanType(), False),
    ]
    return map_images(images, ["phash"], stats, fields)


def decode_channel_means(
    images: DataFrame, carry: tuple[str, ...] = ()
) -> DataFrame:
    """Decode every image and emit ONLY the per-channel pixel means — the
    slim pixel pass for consumers that aggregate brightness (tile pyramid,
    cell mosaic). decode_stats additionally computes stds + the phash
    verification per image, which column pruning cannot remove through an
    opaque Python map (guide §4.1) — profiled at 77% of that pass's
    per-image Python time. Both take the means from one expression, so
    derived luma values are bit-identical.

    ``carry`` names extra input columns to pass through unchanged (e.g.
    the caption): consumers that need decode output AND row metadata then
    read both off this one pass instead of equi-joining two scans of the
    corpus — at 250k images that join was its own shuffle plus a second
    full parquet scan."""
    fields = [images.schema[c] for c in carry] + _not_null(T.DoubleType(), *_MEANS)
    return map_images(
        images, carry, lambda img, fmt, *kept: (*kept, *channel_means(img)), fields
    )


def roundtrip_psnr(img: np.ndarray, fmt: str) -> float:
    """PSNR of one decoded image against its re-encode -> decode in its own
    codec: +inf for lossless PNG, >= 40 dB for lossy JQ01 (input_hint)."""
    re_bytes = encode_png(img) if fmt == "png" else encode_lossy(img)
    return psnr(img, decode_image(re_bytes, fmt))


def pixel_roundtrip(images: DataFrame) -> DataFrame:
    """decode -> re-encode -> decode, report PSNR (input_hint invariant:
    allclose for lossless, >= 40 dB for lossy) with caption passthrough."""

    def roundtrip(img, fmt, caption):
        return (caption, roundtrip_psnr(img, fmt), fmt == "png")

    fields = [
        T.StructField("caption", T.StringType(), False),
        T.StructField("psnr_db", T.DoubleType(), False),
        T.StructField("lossless", T.BooleanType(), False),
    ]
    return map_images(images, ["caption"], roundtrip, fields)


def block_mean_resize(img: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Vectorized box-mean resample of one HxWx3 array to (out_h, out_w).

    reduceat over both axes: duplicate boundary indices (upscale cells)
    yield the single row/col at that index — the same one-pixel fallback
    the scalar formulation used. Pixel values are small integers in
    float64, so the sums are exact and the output is bit-identical to the
    per-cell mean() loop it replaced."""
    img = img.astype(np.float64)
    h, w = img.shape[:2]
    ys = (np.arange(out_h + 1) * h) // out_h
    xs = (np.arange(out_w + 1) * w) // out_w
    row_sum = np.add.reduceat(img, ys[:-1], axis=0)
    cell_sum = np.add.reduceat(row_sum, xs[:-1], axis=1)
    cnt = (
        np.maximum(np.diff(ys), 1)[:, None]
        * np.maximum(np.diff(xs), 1)[None, :]
    ).astype(np.float64)
    out = cell_sum / cnt[:, :, None]
    return out.clip(0, 255).astype(np.uint8)


def resize_block_mean(images: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """Block-mean resample to (out_w, out_h), re-encoded as PNG.

    The rasterize/vectorize round-trip building block (north_star): decode,
    transform on the numpy array, re-encode — all inside one narrow stage.
    The phash of the DERIVED image rides along: downstream decode_stats
    can verify the thumbnail losslessly, and thumbnail-level near-dup
    joins get their key for free.
    """

    def thumbnail(img, fmt):
        small = block_mean_resize(img, out_w, out_h)
        return (encode_png(small), out_w, out_h, "png", phash64(small))

    fields = [
        T.StructField("bytes", T.BinaryType(), False),
        *_not_null(T.IntegerType(), "w", "h"),
        T.StructField("fmt", T.StringType(), False),
        T.StructField("phash", T.LongType(), False),
    ]
    return map_images(images, [], thumbnail, fields)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("frame_png", T.BinaryType(), False),
        T.StructField("frame_w", T.IntegerType(), False),
        T.StructField("frame_h", T.IntegerType(), False),
    ]
)


def sample_frames(media: DataFrame, every_n: int = 4) -> DataFrame:
    """Video frame sampling — Spark-side plumbing is real, the video DECODE
    is a STUB (no video codec libs in this container).

    Contract: media(media_id, bytes, fmt) where fmt='fakevideo' payloads are
    a deterministic container of length-prefixed PNG frames (built by
    make_fake_video below); real deployments swap `_decode_video` for an
    ffmpeg/PyAV call with the same signature. Every `every_n`-th frame is
    emitted as its own row (one row per sampled frame — the explode shape a
    frame-level training pipeline consumes), re-encoded as PNG.
    """

    def _decode_video(payload: bytes, fmt: str) -> list[np.ndarray]:
        if fmt == "fakevideo":
            frames = []
            pos = 0
            while pos < len(payload):
                ln = int.from_bytes(payload[pos : pos + 4], "big")
                frames.append(decode_image(payload[pos + 4 : pos + 4 + ln], "png"))
                pos += 4 + ln
            return frames
        raise NotImplementedError(
            f"real video decode ({fmt}) requires a codec library absent here"
        )

    def kernel(media_id, data, fmt):
        frames = _decode_video(data, fmt)
        for i in range(0, len(frames), every_n):
            img = frames[i]
            yield (media_id, i, encode_png(img), img.shape[1], img.shape[0])

    return map_rows(media, ["media_id", "bytes", "fmt"], kernel, FRAME_SCHEMA)


def make_fake_video(media_id: int, n_frames: int = 16, w: int = 16, h: int = 12) -> bytes:
    """Deterministic fake video payload: length-prefixed PNG frames."""
    out = bytearray()
    for i in range(n_frames):
        rng = np.random.default_rng(media_id * 1000 + i)
        img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        png = encode_png(img)
        out += len(png).to_bytes(4, "big") + png
    return bytes(out)


FRAME_STATS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("frame_w", T.IntegerType(), False),
        T.StructField("frame_h", T.IntegerType(), False),
        T.StructField("mean_px", T.DoubleType(), False),
    ]
)


def sample_frames_indexed(media: DataFrame, every_n: int = 4) -> DataFrame:
    """Index-driven frame sampling over REAL AVI containers (r06 — this
    retires the fakevideo stub at the container level): the reader walks
    RIFF -> idx1 and decodes ONLY the sampled '00dc' frames, so on a
    petabyte video corpus the skipped frames' bytes are never touched.
    The per-frame codec is the repo's PNG ('MPNG' fourcc, the MJPEG-in-AVI
    layout with PNG payloads); genuinely foreign codecs (h264 etc.) still
    raise — no codec libraries exist in this sandbox."""
    from fs2_osm_spark.synth.video import decode_avi_frame, read_avi_index

    def kernel(media_id, data, fmt):
        if fmt != "avi":
            raise NotImplementedError(
                f"video codec {fmt!r} requires libraries absent here"
            )
        _, idx = read_avi_index(data)
        for i in range(0, len(idx), every_n):
            off, size = idx[i]
            img = decode_avi_frame(data, off, size)
            yield (
                media_id, i, img.shape[1], img.shape[0],
                float(np.mean(img, dtype=np.float64)),
            )

    return map_rows(media, ["media_id", "bytes", "fmt"], kernel, FRAME_STATS_SCHEMA)


# --- perceptual-hash near-duplicate detection -------------------------------

def phash_frame(images: DataFrame) -> DataFrame:
    """Decode every image and compute its 64-bit perceptual hash — the
    narrow (shuffle-free) pixel pass that turns a binary image table into a
    1-row-per-image (img_id, phash) table the dedup machinery can band and
    join."""
    phash = [T.StructField("phash", T.LongType(), False)]
    return map_images(
        images, [], lambda img, fmt: (phash64(img),), phash, id_col="img_id"
    )


def phash_band_pairs(
    hashed: DataFrame, n_bands: int = 8, hamming_t: int = 6
) -> DataFrame:
    """Near-dup pairs (id_a, id_b) of img_ids, id_a < id_b, within
    hamming_t of each other's 64-bit perceptual hash: exact banding through
    the one banded self-join (operators/dedup.hamming_pairs, probe_bits=0).

    With 8 bands of 8 bits, pigeonhole guarantees FULL recall for any pair
    within hamming 7 (>= the verify threshold 6): d flipped bits can dirty
    at most d bands, leaving a clean band that collides; hamming_t >
    n_bands-1 raises ValueError. Only (id, band, key, phash) is shuffled,
    never the pixel bytes.
    """
    sims = hashed.select("img_id", F.col("phash").alias("simhash"))
    return hamming_pairs(
        sims, "img_id", hamming_t, n_bands=n_bands, probe_bits=0
    ).select("id_a", "id_b")


# --- deterministic augmentation ---------------------------------------------

def center_crop(img: np.ndarray) -> np.ndarray:
    """Centered half-size crop — the deterministic anchor of the
    random-resized-crop family (a training run would jitter the window
    per-sample; the fixed anchor is what a value oracle can pin)."""
    h, w = img.shape[:2]
    ch, cw = max(h // 2, 1), max(w // 2, 1)
    y0, x0 = (h - ch) // 2, (w - cw) // 2
    return img[y0 : y0 + ch, x0 : x0 + cw]


def augment_values(img: np.ndarray) -> tuple:
    """(fl_phash, cr_phash, cr_mean_r, cr_mean_g, cr_mean_b) of one decoded
    image: the phash of its horizontal flip, then the phash and channel
    means of its ``center_crop``. Both transforms are numpy views, so the
    cost is two aHashes."""
    crop = center_crop(img)
    return (phash64(img[:, ::-1]), phash64(crop), *channel_means(crop))


def augment_stats(images: DataFrame) -> DataFrame:
    """Deterministic augmentation pass (hflip + centered half crop) with
    verification hashes/stats per image — one narrow image pass, no
    shuffle."""
    fields = [
        *_not_null(T.LongType(), "fl_phash", "cr_phash"),
        *_not_null(T.DoubleType(), "cr_mean_r", "cr_mean_g", "cr_mean_b"),
    ]
    return map_images(images, [], lambda img, fmt: augment_values(img), fields)


# --- video scene-cut detection ----------------------------------------------

SCENE_CUT_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("frame_idx", T.LongType(), False),
        T.StructField("diff_abs_sum", T.LongType(), False),
        T.StructField("is_cut", T.BooleanType(), False),
    ]
)


def scene_cut_stats(media: DataFrame, threshold_per_px: int) -> DataFrame:
    """Temporal segmentation of real AVI clips: decode every frame through
    the container index, emit the sum of absolute per-channel differences
    between consecutive frames (EXACT BIGINT — uint8 pixels, no floats
    anywhere) and the cut flag at threshold_per_px * n_pixel_channels.
    One narrow row-kernel pass; a clip's frames never leave their worker."""
    from fs2_osm_spark.synth.video import decode_avi_frame, read_avi_index

    def kernel(media_id, data):
        prev = None
        for i, (off, size) in enumerate(read_avi_index(data)[1]):
            img = decode_avi_frame(data, off, size).astype(np.int64)
            if prev is not None:
                d = int(np.abs(img - prev).sum())
                yield (media_id, i, d, d > threshold_per_px * img.size)
            prev = img

    return map_rows(media, ["media_id", "bytes"], kernel, SCENE_CUT_SCHEMA)
