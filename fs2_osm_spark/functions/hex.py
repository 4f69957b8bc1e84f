"""Hexagonal cell index (H3-style) with aperture-7 resolution scaling.

A pointy-top axial hex grid over (lon, lat) degree space. Resolution r uses
circumradius size_r = BASE_SIZE / sqrt(7)^r, matching H3's aperture-7 area
ratio between resolutions; at res 7 the cell size is ~0.011 deg (~1.2 km),
in the same regime as H3 res 7. Cell ids pack (res, q, r) into one int64 so
they sort by resolution then spatially.

Unlike Uber H3 this grid is planar in degree space (no icosahedron), which
keeps every operation expressible three equivalent ways — pure Spark Column
expressions (JVM codegen), vectorized numpy (for pandas-UDF kernels), and
ANSI SQL (for the DuckDB oracle) — all bit-identical since they use only
double +,-,*,/ and floor(x+0.5) rounding. k-ring, parent, and neighbor
semantics match hex-grid semantics exactly.

Supported res range: 0..12 (keeps |q|,|r| < 2^25 for the id packing).
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

BASE_SIZE = 10.0  # degrees, res 0 circumradius
SQRT7 = math.sqrt(7.0)
SQRT3 = math.sqrt(3.0)
Q_OFFSET = 1 << 25
ID_RES_MUL = 1 << 52
ID_Q_MUL = 1 << 26
MAX_RES = 12


def hex_size(res: int) -> float:
    return BASE_SIZE / (SQRT7**res)


def pack_cell(res: int, q, r):
    """(res, q, r) -> int64. Works on Columns, numpy arrays, and ints."""
    return res * ID_RES_MUL + (q + Q_OFFSET) * ID_Q_MUL + (r + Q_OFFSET)


def unpack_cell(cell: int) -> tuple[int, int, int]:
    res = cell // ID_RES_MUL
    rest = cell % ID_RES_MUL
    q = rest // ID_Q_MUL - Q_OFFSET
    r = rest % ID_Q_MUL - Q_OFFSET
    return int(res), int(q), int(r)


# --------------------------------------------------------------------------
# Column-expression implementation (JVM-side, whole-stage codegen).
# --------------------------------------------------------------------------
def hex_cell(lon: Column, lat: Column, res: int) -> Column:
    """lon/lat -> hex cell id at res, as a pure Column expression."""
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"hex res must be in 0..{MAX_RES}, got {res}")
    s = hex_size(res)
    fq = (F.lit(SQRT3 / 3.0) * lon - lat / 3.0) / s
    fr = (F.lit(2.0 / 3.0) * lat) / s
    fs = -fq - fr
    rq = F.floor(fq + 0.5).cast("double")
    rr = F.floor(fr + 0.5).cast("double")
    rs = F.floor(fs + 0.5).cast("double")
    dq, dr, ds = F.abs(rq - fq), F.abs(rr - fr), F.abs(rs - fs)
    q_fix = (dq > dr) & (dq > ds)
    r_fix = ~q_fix & (dr > ds)
    q = F.when(q_fix, -rr - rs).otherwise(rq).cast("bigint")
    r = F.when(r_fix, -rq - rs).otherwise(rr).cast("bigint")
    return (
        F.lit(res).cast("bigint") * F.lit(ID_RES_MUL)
        + (q + F.lit(Q_OFFSET)) * F.lit(ID_Q_MUL)
        + (r + F.lit(Q_OFFSET))
    )


# --------------------------------------------------------------------------
# Equal-area variant: lon is scaled by cos(lat) before indexing, so cell
# ground area is ~uniform across latitudes (the planar grid above shrinks by
# cos(lat): at lat 60 a cell covers half the area it does at the equator —
# fine inside a narrow band, skewed for global histograms). cos is evaluated
# as a fixed Taylor polynomial in BOTH engines (plain double +,*) so Spark
# and DuckDB stay bit-identical — libm cos() could differ by 1 ulp and flip
# a floor at a cell boundary. Polynomial error < 3e-5 for |lat| <= 66 deg;
# it DEFINES the grid, so accuracy only affects how close to perfectly
# equal-area the cells are, never correctness.
# --------------------------------------------------------------------------
DEG2RAD = 0.017453292519943295


def _cospoly(x):
    """cos approximation via 8th-order Taylor (works on Column/np/float)."""
    x2 = x * x
    return 1.0 + x2 * (
        -0.5 + x2 * (1.0 / 24.0 + x2 * (-1.0 / 720.0 + x2 * (1.0 / 40320.0)))
    )


def _cospoly_sql(x: str) -> str:
    x2 = f"(({x}) * ({x}))"
    return (
        f"(1.0 + {x2} * (-0.5 + {x2} * ({1.0 / 24.0!r} + {x2} * "
        f"({-1.0 / 720.0!r} + {x2} * {1.0 / 40320.0!r}))))"
    )


def hex_cell_ea(lon: Column, lat: Column, res: int) -> Column:
    """Equal-area hex cell id: index (lon * cos(lat), lat)."""
    return hex_cell(lon * _cospoly(lat * DEG2RAD), lat, res)


def ea_lon_sql(lon: str, lat: str) -> str:
    """DuckDB SQL of the equal-area grid's scaled lon, lon * cos(lat)."""
    return f"(({lon}) * {_cospoly_sql(f'({lat}) * {DEG2RAD!r}')})"


def hex_cell_ea_sql(lon: str, lat: str, res: int) -> str:
    return hex_cell_sql(ea_lon_sql(lon, lat), lat, res)


def hex_cell_ea_np(lon: np.ndarray, lat: np.ndarray, res: int) -> np.ndarray:
    return hex_cell_np(lon * _cospoly(lat * DEG2RAD), lat, res)


def hex_axial_sql(lon: str, lat: str, res: int) -> tuple[str, str]:
    """DuckDB SQL of the axial (q, r) BIGINT coordinates of the cell holding
    (lon, lat) at res, formula-identical to hex_cell()."""
    s = hex_size(res)
    fq = f"(({SQRT3 / 3.0!r} * ({lon}) - ({lat}) / 3.0) / {s!r})"
    fr = f"(({2.0 / 3.0!r} * ({lat})) / {s!r})"
    fs = f"(-{fq} - {fr})"
    rq, rr, rs = (f"floor({v} + 0.5)" for v in (fq, fr, fs))
    dq, dr, ds = (f"abs({a} - {b})" for a, b in ((rq, fq), (rr, fr), (rs, fs)))
    q_fix = f"({dq} > {dr} AND {dq} > {ds})"
    r_fix = f"(NOT {q_fix} AND {dr} > {ds})"
    q = f"CAST(CASE WHEN {q_fix} THEN -{rr} - {rs} ELSE {rq} END AS BIGINT)"
    r = f"CAST(CASE WHEN {r_fix} THEN -{rq} - {rs} ELSE {rr} END AS BIGINT)"
    return q, r


def hex_cell_sql(lon: str, lat: str, res: int) -> str:
    """DuckDB SQL rendering, formula-identical to hex_cell()."""
    q, r = hex_axial_sql(lon, lat, res)
    return (
        f"(CAST({res} AS BIGINT) * {ID_RES_MUL} + ({q} + {Q_OFFSET}) * {ID_Q_MUL}"
        f" + ({r} + {Q_OFFSET}))"
    )


# --------------------------------------------------------------------------
# numpy implementation (for pandas-UDF kernels: PIP prefilter, kNN k-ring).
# --------------------------------------------------------------------------
def hex_cell_np(lon: np.ndarray, lat: np.ndarray, res: int) -> np.ndarray:
    s = hex_size(res)
    fq = (SQRT3 / 3.0 * lon - lat / 3.0) / s
    fr = (2.0 / 3.0 * lat) / s
    fs = -fq - fr
    rq, rr, rs = np.floor(fq + 0.5), np.floor(fr + 0.5), np.floor(fs + 0.5)
    dq, dr, ds = np.abs(rq - fq), np.abs(rr - fr), np.abs(rs - fs)
    q_fix = (dq > dr) & (dq > ds)
    r_fix = ~q_fix & (dr > ds)
    q = np.where(q_fix, -rr - rs, rq).astype(np.int64)
    r = np.where(r_fix, -rq - rs, rr).astype(np.int64)
    return res * ID_RES_MUL + (q + Q_OFFSET) * ID_Q_MUL + (r + Q_OFFSET)


def hex_center_np(cells: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Cell id -> (lon, lat) of hex center."""
    res = cells // ID_RES_MUL
    rest = cells % ID_RES_MUL
    q = (rest // ID_Q_MUL - Q_OFFSET).astype(np.float64)
    r = (rest % ID_Q_MUL - Q_OFFSET).astype(np.float64)
    s = BASE_SIZE / (SQRT7 ** res.astype(np.float64))
    lon = s * (SQRT3 * q + SQRT3 / 2.0 * r)
    lat = s * (1.5 * r)
    return lon, lat


def kring_offsets(k: int) -> list[tuple[int, int]]:
    """Axial (dq, dr) offsets of the hex disk of radius k (3k²+3k+1 cells)."""
    out = []
    for dq in range(-k, k + 1):
        for dr in range(max(-k, -dq - k), min(k, -dq + k) + 1):
            out.append((dq, dr))
    return out


def hex_kring(cell: Column, k: int) -> Column:
    """Array column of all cell ids within hex distance k (incl. the cell).
    Pure Column math: offsets enter as literals — no UDF, no lookup join."""
    offs = kring_offsets(k)
    return F.array(
        *[cell + F.lit(dq * ID_Q_MUL + dr).cast("bigint") for dq, dr in offs]
    )


def hex_parent(cell: Column, parent_res: int, child_res: int) -> Column:
    """Parent cell: the coarser hex containing the center of `cell`, a cell
    at resolution `child_res`. Geometric containment (consistent,
    deterministic), matching the H3 parent-of-center contract."""
    if not 0 <= parent_res < child_res:
        raise ValueError(f"parent_res must be in 0..{child_res - 1}, got {parent_res}")
    rest = cell % F.lit(ID_RES_MUL)
    q = (rest / F.lit(ID_Q_MUL)).cast("bigint") - F.lit(Q_OFFSET)
    r = rest % F.lit(ID_Q_MUL) - F.lit(Q_OFFSET)
    s = hex_size(child_res)
    lon = F.lit(s) * (F.lit(SQRT3) * q + F.lit(SQRT3 / 2.0) * r)
    lat = F.lit(s) * (F.lit(1.5) * r)
    return hex_cell(lon, lat, parent_res)
