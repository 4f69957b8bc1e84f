"""Rasterize / vectorize round trip over the z/x/y tile pyramid.

North-star operator: polygons are rendered into per-tile raster masks
(PNG via the pure-numpy codec), and masks are vectorized back into rings
(Moore-neighborhood boundary tracing). The round trip is validated by IoU
between the original polygon and the re-vectorized ring.

rasterize_tiles is the distributed entry: one row-kernel pass
(`rowmap.map_rows`) where each row is a (z, x, y) tile; the polygon corpus
is broadcast (same PolygonSet as the PIP join), the tile's pixel grid is
tested with the vectorized ray-cast kernel, and the mask is emitted as real
PNG bytes. Plan shape: narrow map over the tile list — no shuffle.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from fs2_osm_spark.codecs.png import decode_png, encode_png
from fs2_osm_spark.functions.pip import PolygonSet
from fs2_osm_spark.rowmap import map_rows

MERCATOR_LAT_MAX = 85.05112878


def tile_bounds(z: int, x: int, y: int) -> tuple[float, float, float, float]:
    """(lon_min, lat_min, lon_max, lat_max) of a slippy tile."""
    n = 1 << z
    lon_min = x / n * 360.0 - 180.0
    lon_max = (x + 1) / n * 360.0 - 180.0

    def lat_of(yy: float) -> float:
        t = math.pi * (1 - 2 * yy / n)
        return math.degrees(math.atan(math.sinh(t)))

    return lon_min, lat_of(y + 1), lon_max, lat_of(y)


def hot_city_tiles(z: int = 12) -> list[tuple[int, int]]:
    """The z tiles containing the synthetic hot-city centers plus their
    8-neighbors — the deterministic tile worklist shared by the
    img_rasterize_vectorize query and its staged fixture oracle."""
    from fs2_osm_spark.synth.images import CITIES

    n = 1 << z
    tiles = set()
    for lon, lat in CITIES:
        tx = int((lon + 180.0) / 360.0 * n)
        lr = math.radians(lat)
        ty = int((1 - math.log(math.tan(lr) + 1 / math.cos(lr)) / math.pi) / 2 * n)
        for dx in (-1, 0, 1):
            for dy in (-1, 0, 1):
                tiles.add((tx + dx, ty + dy))
    return sorted(tiles)


def rasterize_mask(ps: PolygonSet, z: int, x: int, y: int, size: int = 64) -> np.ndarray:
    """Boolean size x size mask: pixel center inside any polygon."""
    lon_min, lat_min, lon_max, lat_max = tile_bounds(z, x, y)
    px = lon_min + (np.arange(size) + 0.5) / size * (lon_max - lon_min)
    py = lat_max - (np.arange(size) + 0.5) / size * (lat_max - lat_min)  # row 0 = north
    gx, gy = np.meshgrid(px, py)
    pt_idx, _ = ps.match(gx.ravel(), gy.ravel())
    mask = np.zeros(size * size, dtype=bool)
    mask[np.unique(pt_idx)] = True
    return mask.reshape(size, size)


def mask_to_png(mask: np.ndarray) -> bytes:
    img = np.where(mask[..., None], 255, 0).astype(np.uint8).repeat(3, axis=2)
    return encode_png(img)


def png_to_mask(data: bytes) -> np.ndarray:
    return decode_png(data)[:, :, 0] > 127


def vectorize_mask(
    mask: np.ndarray, z: int, x: int, y: int
) -> list[np.ndarray]:
    """Boundary rings (packed lon/lat arrays) of connected mask components
    via Moore-neighborhood contour tracing (Jacob's stopping criterion
    simplified to start-revisit)."""
    size = mask.shape[0]
    lon_min, lat_min, lon_max, lat_max = tile_bounds(z, x, y)

    def to_lonlat(r: int, c: int) -> tuple[float, float]:
        lon = lon_min + (c + 0.5) / size * (lon_max - lon_min)
        lat = lat_max - (r + 0.5) / size * (lat_max - lat_min)
        return lon, lat

    visited = np.zeros_like(mask, dtype=bool)
    rings: list[np.ndarray] = []
    # Moore neighborhood in clockwise order starting west
    nbrs = [(-1, 0), (-1, 1), (0, 1), (1, 1), (1, 0), (1, -1), (0, -1), (-1, -1)]

    padded = np.zeros((size + 2, size + 2), dtype=bool)
    padded[1:-1, 1:-1] = mask
    for r0 in range(1, size + 1):
        for c0 in range(1, size + 1):
            if not padded[r0, c0] or visited[r0 - 1, c0 - 1]:
                continue
            if padded[r0, c0 - 1]:  # not a left boundary start
                continue
            # trace
            ring_px: list[tuple[int, int]] = []
            cur = (r0, c0)
            backtrack = 6  # came from the west
            start = cur
            while True:
                ring_px.append(cur)
                visited[cur[0] - 1, cur[1] - 1] = True
                found = False
                for k in range(8):
                    d = (backtrack + 1 + k) % 8
                    nr, nc = cur[0] + nbrs[d][0], cur[1] + nbrs[d][1]
                    if padded[nr, nc]:
                        backtrack = (d + 4) % 8
                        cur = (nr, nc)
                        found = True
                        break
                if not found:  # isolated pixel
                    break
                if cur == start and len(ring_px) > 2:
                    break
            if len(ring_px) >= 3:
                pts = [to_lonlat(r - 1, c - 1) for r, c in ring_px]
                ring = np.array(pts + [pts[0]]).ravel()
                rings.append(ring)
            elif len(ring_px) >= 1:
                # mark the component visited even if degenerate
                pass
    return rings


RASTER_SCHEMA = T.StructType(
    [
        T.StructField("z", T.IntegerType(), False),
        T.StructField("x", T.LongType(), False),
        T.StructField("y", T.LongType(), False),
        T.StructField("png", T.BinaryType(), False),
        T.StructField("covered_px", T.LongType(), False),
        T.StructField("n_rings_vectorized", T.IntegerType(), False),
    ]
)


def rasterize_tiles(
    tiles: DataFrame, polygons: PolygonSet, z: int, size: int = 64
) -> DataFrame:
    """tiles(x, y) -> (z, x, y, png, covered_px, n_rings_vectorized).

    Renders each tile's mask against the broadcast corpus AND re-vectorizes
    it in the same pass, so every emitted tile carries its round-trip
    evidence."""
    spark = tiles.sparkSession
    bc = spark.sparkContext.broadcast(polygons)

    def kernel(x, y):
        x, y = int(x), int(y)
        mask = rasterize_mask(bc.value, z, x, y, size)
        rings = vectorize_mask(mask, z, x, y)
        yield (z, x, y, mask_to_png(mask), int(mask.sum()), len(rings))

    return map_rows(tiles, ["x", "y"], kernel, RASTER_SCHEMA)
