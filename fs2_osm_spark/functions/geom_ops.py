"""Geometry scalar operators over packed coordinate arrays — the engine's
equivalents of the PostGIS scalars the reference delegates to Postgres
(ST_Length / ST_Area / ST_Centroid / ST_Simplify / ST_NPoints / bbox).

All numpy-vectorized per geometry; exposed to DataFrames as row kernels
behind `rowmap.map_rows` (one Arrow batch of packed arrays at a time).
The per-point column variants used by the oracled queries live in
queries/geom_q.py (lag-window formulations shared with DuckDB).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from fs2_osm_spark.rowmap import map_rows

EARTH_RADIUS_M = 6_371_008.8


def line_length_m(ring: np.ndarray) -> float:
    """Haversine length along a packed [x0,y0,x1,y1,...] polyline."""
    xs = np.radians(ring[0::2])
    ys = np.radians(ring[1::2])
    if len(xs) < 2:
        return 0.0
    dphi = np.diff(ys)
    dlmb = np.diff(xs)
    a = np.sin(dphi / 2) ** 2 + np.cos(ys[:-1]) * np.cos(ys[1:]) * np.sin(dlmb / 2) ** 2
    return float(2.0 * EARTH_RADIUS_M * np.arcsin(np.sqrt(a)).sum())


def shoelace_area_deg2(ring: np.ndarray) -> float:
    """Signed shoelace area in squared degrees (closure implicit)."""
    xs = ring[0::2]
    ys = ring[1::2]
    if len(xs) >= 2 and xs[0] == xs[-1] and ys[0] == ys[-1]:
        xs, ys = xs[:-1], ys[:-1]
    if len(xs) < 3:
        return 0.0
    x2 = np.roll(xs, -1)
    y2 = np.roll(ys, -1)
    return float(0.5 * np.sum(xs * y2 - x2 * ys))


def centroid(ring: np.ndarray) -> tuple[float, float]:
    """Vertex-mean centroid (closure vertex dropped)."""
    xs = ring[0::2]
    ys = ring[1::2]
    if len(xs) >= 2 and xs[0] == xs[-1] and ys[0] == ys[-1]:
        xs, ys = xs[:-1], ys[:-1]
    return float(xs.mean()), float(ys.mean())


def simplify_dp(ring: np.ndarray, tolerance: float) -> np.ndarray:
    """Douglas-Peucker polyline simplification (ST_Simplify).

    Iterative stack formulation; preserves endpoints; every dropped vertex
    is within `tolerance` (perpendicular degree distance) of the kept hull.
    """
    xs = ring[0::2]
    ys = ring[1::2]
    n = len(xs)
    if n <= 2:
        return ring.copy()
    keep = np.zeros(n, dtype=bool)
    keep[0] = keep[-1] = True
    stack = [(0, n - 1)]
    while stack:
        i, j = stack.pop()
        if j <= i + 1:
            continue
        dx, dy = xs[j] - xs[i], ys[j] - ys[i]
        seg = np.hypot(dx, dy)
        px = xs[i + 1 : j]
        py = ys[i + 1 : j]
        if seg == 0:
            dist = np.hypot(px - xs[i], py - ys[i])
        else:
            dist = np.abs(dx * (ys[i] - py) - (xs[i] - px) * dy) / seg
        k = int(np.argmax(dist))
        if dist[k] > tolerance:
            mid = i + 1 + k
            keep[mid] = True
            stack.append((i, mid))
            stack.append((mid, j))
    out = np.empty(keep.sum() * 2)
    out[0::2] = xs[keep]
    out[1::2] = ys[keep]
    return out


GEOM_STATS_SCHEMA = T.StructType(
    [
        T.StructField("way_id", T.LongType(), False),
        T.StructField("length_m", T.DoubleType(), False),
        T.StructField("area_deg2", T.DoubleType(), False),
        T.StructField("centroid_lon", T.DoubleType(), False),
        T.StructField("centroid_lat", T.DoubleType(), False),
        T.StructField("n_points", T.IntegerType(), False),
        T.StructField("n_points_simplified", T.IntegerType(), False),
    ]
)


def geometry_stats(lines: DataFrame, simplify_tol: float = 1e-4) -> DataFrame:
    """Per-geometry scalar pass over osm_lines(way_id, geom)."""

    def kernel(way_id, geom):
        g = np.asarray(geom, np.float64)
        yield (
            way_id, line_length_m(g), shoelace_area_deg2(g), *centroid(g),
            len(g) // 2, len(simplify_dp(g, simplify_tol)) // 2,
        )

    return map_rows(lines, ["way_id", "geom"], kernel, GEOM_STATS_SCHEMA)
