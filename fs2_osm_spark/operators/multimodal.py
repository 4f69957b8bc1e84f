"""Multimodal (image) operators over binary columns.

Images travel as opaque `bytes` columns with typed metadata (input_hint
schema). All pixel work happens in row kernels behind `rowmap.map_rows`
(one Arrow-batched mapInArrow stage each) with the pure-numpy codecs — no
image libs required.

Scale notes: the binary column is the widest thing in the table, so these
operators keep it out of shuffles — geotag/cell/tile derivation works on
metadata only; pixel passes are narrow (no shuffle at all); anything that
joins re-attaches bytes late by image_id (SURVEY.md §7.3).

Perceptual near-dup pairing (``phash_band_pairs``) is the banded hamming
join of operators/dedup.py over the phash column.
"""

from __future__ import annotations

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


DECODE_STATS_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("dec_w", T.IntegerType(), False),
        T.StructField("dec_h", T.IntegerType(), False),
        T.StructField("mean_r", T.DoubleType(), False),
        T.StructField("mean_g", T.DoubleType(), False),
        T.StructField("mean_b", T.DoubleType(), False),
        T.StructField("std_r", T.DoubleType(), False),
        T.StructField("std_g", T.DoubleType(), False),
        T.StructField("std_b", T.DoubleType(), False),
        T.StructField("phash_match", T.BooleanType(), False),
    ]
)

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

    def kernel(image_id, data, fmt, phash):
        img = decode_image(data, fmt)
        flat = img.reshape(-1, 3).astype(np.float64)
        dist = hamming64(phash64(img), phash)
        ph_ok = dist == 0 if fmt == "png" else dist <= PHASH_LOSSY_TOLERANCE
        yield (
            image_id, img.shape[1], img.shape[0],
            *flat.mean(axis=0).tolist(), *flat.std(axis=0).tolist(), ph_ok,
        )

    return map_rows(
        images, ["image_id", "bytes", "fmt", "phash"], kernel, DECODE_STATS_SCHEMA
    )


def decode_channel_means(
    images: DataFrame, carry: tuple[str, ...] = ()
) -> DataFrame:
    """Decode every image and emit ONLY the per-channel pixel means — the
    slim pixel pass for consumers that aggregate brightness (tile pyramid,
    cell mosaic). decode_stats additionally computes stds + the phash
    verification per image, which column pruning cannot remove through an
    opaque Python map (guide §4.1) — profiled at 77% of that pass's
    per-image Python time. The mean expression is byte-for-byte the one
    decode_stats uses, so derived luma values are bit-identical.

    ``carry`` names extra input columns to pass through unchanged (e.g.
    the caption): consumers that need decode output AND row metadata then
    read both off this one pass instead of equi-joining two scans of the
    corpus — at 250k images that join was its own shuffle plus a second
    full parquet scan."""
    schema = T.StructType(
        [T.StructField("image_id", T.StringType(), False)]
        + [images.schema[c] for c in carry]
        + [
            T.StructField("mean_r", T.DoubleType(), False),
            T.StructField("mean_g", T.DoubleType(), False),
            T.StructField("mean_b", T.DoubleType(), False),
        ]
    )

    def kernel(*vals):
        *head, data, fmt = vals  # image_id and the carry values ride through
        img = decode_image(data, fmt)
        means = img.reshape(-1, 3).astype(np.float64).mean(axis=0)
        yield (*head, *means.tolist())

    return map_rows(images, ["image_id", *carry, "bytes", "fmt"], kernel, schema)


ROUNDTRIP_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("caption", T.StringType(), False),
        T.StructField("psnr_db", T.DoubleType(), False),
        T.StructField("lossless", T.BooleanType(), False),
    ]
)


def pixel_roundtrip(images: DataFrame) -> DataFrame:
    """decode -> re-encode -> decode, report PSNR (input_hint invariant:
    allclose for lossless, >= 40 dB for lossy) with caption passthrough."""

    def kernel(image_id, data, fmt, caption):
        img = decode_image(data, fmt)
        re_bytes = encode_png(img) if fmt == "png" else encode_lossy(img)
        again = decode_image(re_bytes, fmt)
        yield (image_id, caption, psnr(img, again), fmt == "png")

    return map_rows(
        images, ["image_id", "bytes", "fmt", "caption"], kernel, ROUNDTRIP_SCHEMA
    )


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
    """
    schema = T.StructType(
        [
            T.StructField("image_id", T.StringType(), False),
            T.StructField("bytes", T.BinaryType(), False),
            T.StructField("w", T.IntegerType(), False),
            T.StructField("h", T.IntegerType(), False),
            T.StructField("fmt", T.StringType(), False),
            T.StructField("phash", T.LongType(), False),
        ]
    )

    def kernel(image_id, data, fmt):
        small = block_mean_resize(decode_image(data, fmt), out_w, out_h)
        # phash of the DERIVED image rides along: downstream decode_stats
        # can verify the thumbnail losslessly, and thumbnail-level near-dup
        # joins get their key for free
        yield (image_id, encode_png(small), out_w, out_h, "png", phash64(small))

    return map_rows(images, ["image_id", "bytes", "fmt"], kernel, schema)


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

PHASH_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("img_id", T.StringType(), False),
        T.StructField("phash", T.LongType(), False),
    ]
)


def phash_frame(images: DataFrame, id_col: str = "img_id") -> DataFrame:
    """Decode every image and compute its 64-bit perceptual hash — the
    narrow (shuffle-free) pixel pass that turns a binary image table into a
    1-row-per-image hash table the dedup machinery can band and join."""

    def kernel(img_id, data, fmt):
        yield (img_id, phash64(decode_image(data, fmt)))

    return map_rows(images, [id_col, "bytes", "fmt"], kernel, PHASH_FRAME_SCHEMA)


def phash_band_pairs(
    hashed: DataFrame,
    id_col: str = "img_id",
    n_bands: int = 8,
    hamming_t: int = 6,
) -> DataFrame:
    """Near-dup pairs (id_a, id_b), id_a < id_b, within hamming_t of each
    other's 64-bit perceptual hash: exact banding through the one banded
    self-join (operators/dedup.hamming_pairs, probe_bits=0).

    With 8 bands of 8 bits, pigeonhole guarantees FULL recall for any pair
    within hamming 7 (>= the verify threshold 6): d flipped bits can dirty
    at most d bands, leaving a clean band that collides; hamming_t >
    n_bands-1 raises ValueError. Only (id, band, key, phash) is shuffled,
    never the pixel bytes.
    """
    sims = hashed.select(F.col(id_col), F.col("phash").alias("simhash"))
    return hamming_pairs(
        sims, id_col, hamming_t, n_bands=n_bands, probe_bits=0
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


AUGMENT_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("fl_phash", T.LongType(), False),
        T.StructField("cr_phash", T.LongType(), False),
        T.StructField("cr_mean_r", T.DoubleType(), False),
        T.StructField("cr_mean_g", T.DoubleType(), False),
        T.StructField("cr_mean_b", T.DoubleType(), False),
    ]
)


def augment_stats(images: DataFrame) -> DataFrame:
    """Deterministic augmentation pass (hflip + centered half crop) with
    verification hashes/stats per image — one narrow row-kernel pass, no
    shuffle; the geometry ops are numpy views/slices (zero-copy) so the
    per-image cost is the decode plus two aHashes."""

    def kernel(image_id, data, fmt):
        img = decode_image(data, fmt)
        crop = center_crop(img)
        cm = crop.reshape(-1, 3).astype(np.float64).mean(axis=0)
        yield (image_id, phash64(img[:, ::-1]), phash64(crop), *cm.tolist())

    return map_rows(images, ["image_id", "bytes", "fmt"], kernel, AUGMENT_SCHEMA)


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
