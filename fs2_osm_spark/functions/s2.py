"""S2 cell ids — vectorized numpy implementation of the public S2 geometry
cell scheme (cube faces + quadratic s/t projection + Hilbert curve order).

Implements lat/lon -> leaf cell -> level-l cell id, parent, level extraction
and token formatting, following the published S2 algorithm (s2geometry.io):

  1. unit sphere xyz from lat/lng
  2. face = axis with largest |component| (0:+x 1:+y 2:+z 3:-x 4:-y 5:-z)
  3. (u,v) gnomonic coordinates on that face
  4. quadratic uv->st transform: st = sqrt(1+3u)/2 for u>=0 else 1-sqrt(1-3u)/2
  5. ij = floor(st * 2^30) clamped to [0, 2^30)
  6. Hilbert position via per-level 2-bit transform with the canonical
     kIJtoPos / kPosToOrientation tables
  7. id = face(3 bits) . position(60 bits) . 1 (sentinel lsb)

Ids are uint64 per the S2 spec; stored in Spark as the same 64 bits
reinterpreted as signed (faces 4-5 come out negative — ordering within a
face, which is what locality joins use, is unaffected).

Used for the north-rule S2 indexing path inside pandas UDFs; intentionally
numpy-only (30 fixed-iteration vector loop, no per-row Python).
"""

from __future__ import annotations

import numpy as np

SWAP_MASK = 0x01
INVERT_MASK = 0x02
MAX_LEVEL = 30

# Canonical Hilbert sub-cell orderings (public S2 tables).
_POS_TO_IJ = np.array(
    [
        [0, 1, 3, 2],  # canonical
        [0, 2, 3, 1],  # axes swapped
        [3, 2, 0, 1],  # bits inverted
        [3, 1, 0, 2],  # swapped & inverted
    ],
    dtype=np.int64,
)
_IJ_TO_POS = np.zeros((4, 4), dtype=np.int64)
for _o in range(4):
    for _p in range(4):
        _IJ_TO_POS[_o, _POS_TO_IJ[_o, _p]] = _p
_POS_TO_ORIENTATION = np.array(
    [SWAP_MASK, 0, 0, INVERT_MASK + SWAP_MASK], dtype=np.int64
)


def _xyz(lon_deg: np.ndarray, lat_deg: np.ndarray):
    lon = np.radians(lon_deg)
    lat = np.radians(lat_deg)
    cl = np.cos(lat)
    return cl * np.cos(lon), cl * np.sin(lon), np.sin(lat)


def _face_uv(x: np.ndarray, y: np.ndarray, z: np.ndarray):
    ax, ay, az = np.abs(x), np.abs(y), np.abs(z)
    face = np.where(
        (ax >= ay) & (ax >= az),
        np.where(x >= 0, 0, 3),
        np.where(ay >= az, np.where(y >= 0, 1, 4), np.where(z >= 0, 2, 5)),
    ).astype(np.int64)
    u = np.empty_like(x)
    v = np.empty_like(x)
    # Canonical ValidFaceXYZtoUV table: faces 3-5 divide by the (negative)
    # dominant component itself, which flips both signs.
    for f, (ue, ve, de) in enumerate(
        [
            (lambda: y, lambda: z, lambda: x),    # face 0: +x  u=y/x  v=z/x
            (lambda: -x, lambda: z, lambda: y),   # face 1: +y  u=-x/y v=z/y
            (lambda: -x, lambda: -y, lambda: z),  # face 2: +z  u=-x/z v=-y/z
            (lambda: z, lambda: y, lambda: x),    # face 3: -x  u=z/x  v=y/x
            (lambda: z, lambda: -x, lambda: y),   # face 4: -y  u=z/y  v=-x/y
            (lambda: -y, lambda: -x, lambda: z),  # face 5: -z  u=-y/z v=-x/z
        ]
    ):
        m = face == f
        if not m.any():
            continue
        d = de()[m]
        u[m] = ue()[m] / d
        v[m] = ve()[m] / d
    return face, u, v


def _st(u: np.ndarray) -> np.ndarray:
    # S2 quadratic projection (uv -> st in [0,1]); np.where evaluates both
    # branches, so silence the out-of-domain sqrt on the unselected one.
    with np.errstate(invalid="ignore"):
        return np.where(
            u >= 0, 0.5 * np.sqrt(1.0 + 3.0 * u), 1.0 - 0.5 * np.sqrt(1.0 - 3.0 * u)
        )


def _ij(s: np.ndarray) -> np.ndarray:
    return np.clip(np.floor(s * (1 << MAX_LEVEL)), 0, (1 << MAX_LEVEL) - 1).astype(
        np.int64
    )


def s2_cell_np(
    lon_deg: np.ndarray, lat_deg: np.ndarray, level: int = 30
) -> np.ndarray:
    """lat/lon arrays -> S2 cell ids at ``level`` (int64 view of uint64 ids)."""
    _check_level(level)
    x, y, z = _xyz(np.asarray(lon_deg, np.float64), np.asarray(lat_deg, np.float64))
    face, u, v = _face_uv(x, y, z)
    i, j = _ij(_st(u)), _ij(_st(v))

    pos = np.zeros(face.shape, dtype=np.uint64)
    orientation = (face & SWAP_MASK).astype(np.int64)
    for lvl in range(MAX_LEVEL):
        shift = MAX_LEVEL - 1 - lvl
        ij2 = (((i >> shift) & 1) << 1) | ((j >> shift) & 1)
        p = _IJ_TO_POS[orientation, ij2]
        pos = (pos << np.uint64(2)) | p.astype(np.uint64)
        orientation = orientation ^ _POS_TO_ORIENTATION[p]

    cell = (face.astype(np.uint64) << np.uint64(61)) | (pos << np.uint64(1)) | np.uint64(1)
    return s2_parent(cell, level)


def s2_level(cell: np.ndarray) -> np.ndarray:
    """Level from the sentinel lsb position."""
    c = np.asarray(cell).view(np.uint64)
    lsb = c & (~c + np.uint64(1))
    # lsb = 2^(2*(30-level))  ->  level = 30 - log2(lsb)/2
    exp = np.zeros(c.shape, dtype=np.int64)
    tmp = lsb.copy()
    for b in (32, 16, 8, 4, 2, 1):
        big = tmp >= (np.uint64(1) << np.uint64(b))
        exp[big] += b
        tmp[big] >>= np.uint64(b)
    return MAX_LEVEL - exp // 2


def s2_parent(cell: np.ndarray, level: int) -> np.ndarray:
    """Ancestor cell id at the given (coarser) level: the parent truncation
    ``(id & -new_lsb) | new_lsb``."""
    _check_level(level)
    c = np.asarray(cell).view(np.uint64)
    lsb = np.uint64(1) << np.uint64(2 * (MAX_LEVEL - level))
    return ((c & (~lsb + np.uint64(1))) | lsb).view(np.int64)


def _check_level(level: int) -> None:
    if not 0 <= level <= MAX_LEVEL:
        raise ValueError(f"S2 level must be in 0..{MAX_LEVEL}, got {level}")


def s2_token(cell: np.ndarray) -> np.ndarray:
    """Canonical hex token (trailing zeros stripped)."""
    out = []
    for c in np.asarray(cell).view(np.uint64):
        h = f"{int(c):016x}".rstrip("0")
        out.append(h or "X")
    return np.array(out, dtype=object)
