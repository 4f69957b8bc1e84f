"""Minimal pure-numpy PNG codec (RGB8, filter 0) — no external image libs.

The container has no PIL/OpenCV, so the engine carries its own tiny codec:
real PNG bytes (readable by any standard viewer), deterministic, vectorized.
Encode writes 8-bit RGB with filter type 0 scanlines; decode accepts any
8-bit RGB/RGBA PNG restricted to filter types 0 (None) and 2 (Up), which
covers everything this engine itself produces.

Used inside row kernels (`rowmap.map_rows`): one numpy decode per image,
no per-pixel Python.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_SIGNATURE = b"\x89PNG\r\n\x1a\n"


def _chunk(typ: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + typ
        + data
        + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
    )


def encode_png(img: np.ndarray) -> bytes:
    """HxWx3 uint8 -> PNG bytes (color type 2, bit depth 8, filter 0)."""
    if not (img.ndim == 3 and img.shape[2] == 3 and img.dtype == np.uint8):
        raise ValueError(f"encode_png needs an HxWx3 uint8 image, got {img.dtype} {img.shape}")
    h, w = img.shape[:2]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    # prepend filter byte 0 to each scanline
    raw = np.empty((h, 1 + w * 3), dtype=np.uint8)
    raw[:, 0] = 0
    raw[:, 1:] = img.reshape(h, w * 3)
    idat = zlib.compress(raw.tobytes(), 6)
    return (
        _SIGNATURE
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", idat)
        + _chunk(b"IEND", b"")
    )


def decode_png(data: bytes) -> np.ndarray:
    """PNG bytes -> HxWx3 uint8 (alpha dropped if present)."""
    if data[:8] != _SIGNATURE:
        raise ValueError("not a PNG")
    pos = 8
    w = h = None
    channels = 3
    idat = bytearray()
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        typ = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if typ == b"IHDR":
            w, h, depth, color, comp, filt, interlace = struct.unpack(">IIBBBBB", body)
            if depth != 8 or color not in (2, 6) or interlace != 0:
                raise ValueError(f"unsupported PNG: depth={depth} color={color}")
            channels = 3 if color == 2 else 4
        elif typ == b"IDAT":
            idat.extend(body)
        elif typ == b"IEND":
            break
    if w is None:
        raise ValueError("missing IHDR")
    raw = np.frombuffer(zlib.decompress(bytes(idat)), dtype=np.uint8)
    stride = 1 + w * channels
    rows = raw.reshape(h, stride)
    filters = rows[:, 0]
    px = rows[:, 1:].reshape(h, w, channels).copy()
    if (filters == 0).all():
        pass
    elif np.isin(filters, (0, 2)).all():
        for y in range(1, h):  # Up filter: cumulative, row-vectorized
            if filters[y] == 2:
                px[y] = px[y] + px[y - 1]
    else:
        raise ValueError("unsupported PNG filter types present")
    return px[:, :, :3]


# ---------------------------------------------------------------------------
# Lossy codec boundary. The real implementation is codecs/dct.py ("JQ01"):
# 8x8 block DCT + quantization + zigzag + zlib, pure numpy — the baseline
# JPEG architecture without the Huffman stage. The legacy "LQ01" uniform-
# quantization stub remains decode-only so payloads written by earlier
# rounds still parse.
# ---------------------------------------------------------------------------
_LOSSY_MAGIC = b"LQ01"


def encode_lossy(img: np.ndarray, quality: int | None = None) -> bytes:
    from fs2_osm_spark.codecs.dct import DEFAULT_QUALITY, encode_dct

    return encode_dct(img, DEFAULT_QUALITY if quality is None else quality)


def decode_lossy(data: bytes) -> np.ndarray:
    if data[:4] == b"JQ01":
        from fs2_osm_spark.codecs.dct import decode_dct

        return decode_dct(data)
    if data[:4] != _LOSSY_MAGIC:
        raise ValueError("not a JQ01/LQ01 payload")
    w, h = struct.unpack(">II", data[4:12])
    q = np.frombuffer(zlib.decompress(data[12:]), dtype=np.uint8).reshape(h, w, 3)
    return ((q.astype(np.uint16) << 2) + 2).clip(0, 255).astype(np.uint8)


def decode_image(data: bytes, fmt: str) -> np.ndarray:
    if fmt == "png":
        return decode_png(data)
    if fmt in ("jpeg", "lq01", "jq01"):
        return decode_lossy(data)
    raise ValueError(f"unknown format: {fmt}")


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    if mse == 0:
        return float("inf")
    return float(10.0 * np.log10(255.0**2 / mse))


def phash64(img: np.ndarray) -> int:
    """Deterministic 64-bit perceptual hash: 8x8 block-mean, threshold at
    the global mean (classic aHash).

    r08 vectorization (~4x: the per-image cost was 64 tiny-slice .mean()
    calls plus a 64-iteration Python bit loop; profiled at 77% of the
    decode+hash pass): block sums via np.add.reduceat over rows then
    columns, bit packing via np.packbits. The luminance expression
    (r+g+b)/3 reproduces mean(axis=2) bit-for-bit (numpy's n=3 reduce is
    the same sequential fold). Block sums MAY differ from the old
    per-slice np.mean in the final ulp when a block mean sits exactly at
    the global-mean threshold (numpy uses 8-accumulator pairwise
    summation for >=8-element slices, reduceat a sequential fold) —
    verified bit-identical across every hash-consuming corpus: the 2000
    images_oracle fixtures (+ hflip/crop/8x8-resize variants), the 1000
    phash_corpus fixtures (+ variants), and the 100k near-dup bench
    corpus (tests/test_raster.py pins the fixture equivalence). Duplicate
    reduceat indices (images narrower/shorter than 8px) yield the single
    row/col at that index — the same one-pixel fallback the slice max()
    used."""
    g = (img[..., 0].astype(np.float64) + img[..., 1] + img[..., 2]) / 3.0
    h, w = g.shape
    ys = (np.arange(9) * h) // 8
    xs = (np.arange(9) * w) // 8
    row_sum = np.add.reduceat(g, ys[:-1], axis=0)
    cell_sum = np.add.reduceat(row_sum, xs[:-1], axis=1)
    cnt = (
        np.maximum(np.diff(ys), 1)[:, None] * np.maximum(np.diff(xs), 1)[None, :]
    ).astype(np.float64)
    blocks = cell_sum / cnt
    bits = blocks > blocks.mean()
    v = int.from_bytes(np.packbits(bits.ravel()).tobytes(), "big")
    return v - (1 << 64) if v >= (1 << 63) else v
