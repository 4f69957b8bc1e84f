"""Pure-numpy lossy image codec: 8x8 block DCT + quantization ("JQ01").

A genuinely lossy transform codec with no external image libraries — the
same architecture as baseline JPEG (ITU-T T.81): RGB -> YCbCr (BT.601
full-range), 8x8 orthonormal DCT-II per channel, uniform quantization with
the published Annex-K luminance/chrominance tables scaled by an IJG-style
quality factor, zigzag coefficient ordering, and a lossless zlib entropy
stage (replacing Huffman coding — simpler, still real compression because
zigzag ordering groups the zero-heavy high frequencies into long runs).

All stages are vectorized: blocks are batched into an (N, 8, 8) array and
transformed with two broadcast matmuls (C @ X @ C.T), so encode/decode cost
one numpy pipeline per image — suitable for row kernels (`rowmap.map_rows`).

Loss comes from quantization (and the float->uint8 color transform), so
decode(encode(x)) != x but PSNR stays >= 40 dB at the default quality on
8-bit content — the input_hint invariant this engine's image pipeline
promises. Deterministic: same input + quality -> identical bytes.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

MAGIC = b"JQ01"
# The synthetic corpus is noise-like (worst case for transform coding):
# q=98 measures ~43 dB min there, comfortably above the 40 dB invariant
# while still dropping ~20% of the bytes and staying genuinely lossy.
DEFAULT_QUALITY = 98

# ITU-T T.81 Annex K reference quantization tables (public spec).
_LUMA_Q = np.array(
    [
        [16, 11, 10, 16, 24, 40, 51, 61],
        [12, 12, 14, 19, 26, 58, 60, 55],
        [14, 13, 16, 24, 40, 57, 69, 56],
        [14, 17, 22, 29, 51, 87, 80, 62],
        [18, 22, 37, 56, 68, 109, 103, 77],
        [24, 35, 55, 64, 81, 104, 113, 92],
        [49, 64, 78, 87, 103, 121, 120, 101],
        [72, 92, 95, 98, 112, 100, 103, 99],
    ],
    dtype=np.float64,
)
_CHROMA_Q = np.array(
    [
        [17, 18, 24, 47, 99, 99, 99, 99],
        [18, 21, 26, 66, 99, 99, 99, 99],
        [24, 26, 56, 99, 99, 99, 99, 99],
        [47, 66, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
    ],
    dtype=np.float64,
)


def _scaled_table(base: np.ndarray, quality: int) -> np.ndarray:
    """IJG quality scaling: 50 -> base table, 100 -> all ones."""
    quality = min(100, max(1, int(quality)))
    s = 5000 / quality if quality < 50 else 200 - 2 * quality
    return np.clip(np.floor((base * s + 50) / 100), 1, 255)


def _dct_matrix() -> np.ndarray:
    """Orthonormal 8x8 DCT-II basis."""
    k = np.arange(8)
    c = np.cos((2 * k[None, :] + 1) * k[:, None] * np.pi / 16)
    c *= np.sqrt(2.0 / 8)
    c[0] /= np.sqrt(2.0)
    return c


_C = _dct_matrix()

# zigzag scan order over an 8x8 block (row-major index per scan position)
_ZIGZAG = np.array(
    sorted(
        range(64),
        key=lambda i: (
            (i // 8 + i % 8),
            (i % 8 if (i // 8 + i % 8) % 2 else i // 8),
        ),
    )
)
_UNZIGZAG = np.argsort(_ZIGZAG)


def _to_blocks(ch: np.ndarray) -> np.ndarray:
    """(H, W) padded channel -> (N, 8, 8) block batch."""
    h, w = ch.shape
    return (
        ch.reshape(h // 8, 8, w // 8, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
    )


def _from_blocks(blocks: np.ndarray, h: int, w: int) -> np.ndarray:
    return (
        blocks.reshape(h // 8, w // 8, 8, 8).transpose(0, 2, 1, 3).reshape(h, w)
    )


def _rgb_to_ycbcr(img: np.ndarray) -> np.ndarray:
    r, g, b = (img[..., i].astype(np.float64) for i in range(3))
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    return np.stack([y, cb, cr], axis=-1)


def _ycbcr_to_rgb(ycc: np.ndarray) -> np.ndarray:
    y, cb, cr = ycc[..., 0], ycc[..., 1] - 128.0, ycc[..., 2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.clip(np.round(np.stack([r, g, b], axis=-1)), 0, 255).astype(np.uint8)


def encode_dct(img: np.ndarray, quality: int = DEFAULT_QUALITY) -> bytes:
    """HxWx3 uint8 -> JQ01 bytes (block DCT + quantization + zlib)."""
    if not (img.ndim == 3 and img.shape[2] == 3 and img.dtype == np.uint8):
        raise ValueError(f"encode_dct needs an HxWx3 uint8 image, got {img.dtype} {img.shape}")
    h, w = img.shape[:2]
    ph, pw = -h % 8, -w % 8
    padded = np.pad(img, ((0, ph), (0, pw), (0, 0)), mode="edge")
    ycc = _rgb_to_ycbcr(padded) - 128.0
    tables = (_scaled_table(_LUMA_Q, quality),) + (
        _scaled_table(_CHROMA_Q, quality),
    ) * 2
    planes = []
    for c in range(3):
        blocks = _to_blocks(ycc[..., c])
        coef = _C[None] @ blocks @ _C.T[None]
        q = np.round(coef / tables[c][None]).astype(np.int16)
        # zigzag per block: zero-heavy tails line up into long runs for zlib
        planes.append(q.reshape(-1, 64)[:, _ZIGZAG])
    payload = np.concatenate(planes, axis=0).astype("<i2").tobytes()
    return (
        MAGIC
        + struct.pack(">IIB", w, h, min(100, max(1, int(quality))))
        + zlib.compress(payload, 6)
    )


def decode_dct(data: bytes) -> np.ndarray:
    """JQ01 bytes -> HxWx3 uint8."""
    if data[:4] != MAGIC:
        raise ValueError("not a JQ01 payload")
    w, h, quality = struct.unpack(">IIB", data[4:13])
    hh, ww = h + (-h % 8), w + (-w % 8)
    n = (hh // 8) * (ww // 8)
    flat = np.frombuffer(zlib.decompress(data[13:]), dtype="<i2").astype(np.float64)
    planes = flat.reshape(3 * n, 64)[:, _UNZIGZAG].reshape(3, n, 8, 8)
    tables = (_scaled_table(_LUMA_Q, quality),) + (
        _scaled_table(_CHROMA_Q, quality),
    ) * 2
    ycc = np.empty((hh, ww, 3), dtype=np.float64)
    for c in range(3):
        coef = planes[c] * tables[c][None]
        blocks = _C.T[None] @ coef @ _C[None]
        ycc[..., c] = _from_blocks(blocks, hh, ww)
    return _ycbcr_to_rgb(ycc + 128.0)[:h, :w]
