"""Point-in-polygon spatial joins — the engine's core operator.

One join body with a driver-built or executor-built cover (SURVEY.md §4.2):

- apply_cell_pip is the join. Its CellCover lists each polygon's covering
  hex cells, split INTERIOR vs BOUNDARY: a cell whose center lies inside
  the polygon with clearance > one circumradius is wholly inside, so points
  in it join with NO exact test; only boundary-cell candidates are refined
  — by a Catalyst higher-order-function ray cast over the packed ring
  arrays (pip_inside_column). The per-point path is all JVM: no Arrow
  boundary, no Python workers.
- One numpy loop classifies the cover (_cover_frame over
  classify_cover_cells). build_cell_cover runs it on the driver and
  broadcast-hints the result: zero shuffle of the point side, the flagship
  path for corpora that fit on the driver. cell_pip_join runs it on
  executors (polygons_to_cells) for large corpora: the cell equi-join then
  shuffle-partitions both sides (AQE skew-split applies; hot cells saltable
  via operators/skew).

broadcast_pip_join is the Arrow/Python baseline and the tests' reference
twin: a PolygonSet (packed coord arrays + grid index) broadcast to
executors, each batch tested with the vectorized numpy ray cast inside
mapInArrow. It replaces the reference's per-relation correlated PostGIS
lookups (ComplexPolygonBuilder.scala:52-56).
"""
from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fs2_osm_spark.functions.hex import (
    ID_Q_MUL,
    ID_RES_MUL,
    Q_OFFSET,
    SQRT3,
    hex_cell,
    hex_size,
)
from fs2_osm_spark.functions.pip import PolygonSet, polygon_contains


def broadcast_pip_join(
    points: DataFrame,
    polygons: PolygonSet,
    lon_col: str,
    lat_col: str,
    keep_cols: list[str],
) -> DataFrame:
    """Inner join points->polygons; output keep_cols + polygon_id (bigint).

    A point inside k overlapping polygons yields k rows (same as SQL
    ST_Contains join semantics).
    """
    spark = points.sparkSession
    bc = spark.sparkContext.broadcast(polygons)

    in_cols = list(dict.fromkeys(keep_cols + [lon_col, lat_col]))
    out_schema = T.StructType(
        [points.schema[c] for c in keep_cols]
        + [T.StructField("polygon_id", T.LongType(), False)]
    )
    lon_i, lat_i = in_cols.index(lon_col), in_cols.index(lat_col)
    keep_i = [in_cols.index(c) for c in keep_cols]

    # mapInArrow (r08; was mapInPandas): lon/lat reshape zero-copy out of
    # the Arrow batch into the numpy kernel, and the matched rows come back
    # as a batch-level take + one appended id column — no pandas frame
    # construction or per-row boxing on either side of the boundary.
    def fn(batches):
        import pyarrow as pa

        ps = bc.value
        for batch in batches:
            px = np.asarray(batch.column(lon_i), dtype=np.float64)
            py = np.asarray(batch.column(lat_i), dtype=np.float64)
            pt_idx, poly_id = ps.match(px, py)
            taken = batch.take(pa.array(pt_idx, pa.int64()))
            yield pa.RecordBatch.from_arrays(
                [taken.column(i) for i in keep_i]
                + [pa.array(poly_id.astype(np.int64), pa.int64())],
                names=[*keep_cols, "polygon_id"],
            )

    return points.select(*in_cols).mapInArrow(fn, out_schema)


# ---------------------------------------------------------------------------
# Cover kernel: polygon -> (cells, interior flag)
# ---------------------------------------------------------------------------
def _min_seg_dist(ring: np.ndarray, px: np.ndarray, py: np.ndarray) -> np.ndarray:
    """Min Euclidean distance from N points to any segment of a packed ring
    (closing edge implicit). Vectorized points x edges."""
    xs, ys = ring[0::2], ring[1::2]
    x1, y1 = xs, ys
    x2, y2 = np.roll(xs, -1), np.roll(ys, -1)
    dx, dy = x2 - x1, y2 - y1
    l2 = dx * dx + dy * dy
    l2 = np.where(l2 == 0.0, 1.0, l2)
    t = (
        (px[:, None] - x1[None, :]) * dx[None, :]
        + (py[:, None] - y1[None, :]) * dy[None, :]
    ) / l2[None, :]
    t = np.clip(t, 0.0, 1.0)
    qx = x1[None, :] + t * dx[None, :]
    qy = y1[None, :] + t * dy[None, :]
    d2 = (px[:, None] - qx) ** 2 + (py[:, None] - qy) ** 2
    return np.sqrt(d2.min(axis=1))


def classify_cover_cells(
    outer: np.ndarray, inners: list[np.ndarray], res: int
) -> tuple[np.ndarray, np.ndarray]:
    """(cells int64[], interior bool[]) for one polygon at hex resolution res.

    Superset guarantee: every point of the polygon lies in a returned cell
    (cell circumradius = s, so a point's cell center is within s of it —
    the center is then inside the polygon or within s of its boundary).
    Interior guarantee: a cell whose center is inside with boundary
    clearance > s lies wholly inside, so its points need no exact test.
    Unlike a bbox meshgrid cover this rasterizes the actual ring: candidate
    volume tracks polygon area + perimeter, not bbox area.
    """
    s = hex_size(res)
    xs, ys = outer[0::2], outer[1::2]
    minx, maxx = xs.min() - s, xs.max() + s
    miny, maxy = ys.min() - s, ys.max() + s
    # axial index ranges whose centers can fall in the expanded bbox:
    # center lat = 1.5*s*r, center lon = sqrt3*s*(q + r/2)
    rmin = int(np.floor(miny / (1.5 * s))) - 1
    rmax = int(np.ceil(maxy / (1.5 * s))) + 1
    qmin = int(np.floor(minx / (SQRT3 * s) - rmax / 2.0)) - 1
    qmax = int(np.ceil(maxx / (SQRT3 * s) - rmin / 2.0)) + 1
    Q, R = np.meshgrid(
        np.arange(qmin, qmax + 1, dtype=np.int64),
        np.arange(rmin, rmax + 1, dtype=np.int64),
    )
    Q, R = Q.ravel(), R.ravel()
    cx = s * (SQRT3 * Q + (SQRT3 / 2.0) * R)
    cy = s * (1.5 * R)
    m = (cx >= minx) & (cx <= maxx) & (cy >= miny) & (cy <= maxy)
    Q, R, cx, cy = Q[m], R[m], cx[m], cy[m]
    if len(cx) == 0:
        return np.zeros(0, np.int64), np.zeros(0, bool)
    dist = _min_seg_dist(outer, cx, cy)
    for hole in inners:
        dist = np.minimum(dist, _min_seg_dist(hole, cx, cy))
    inside = polygon_contains(outer, inners, cx, cy)
    near = dist <= s * (1.0 + 1e-9)
    cover = inside | near
    interior = inside & ~near
    cells = res * ID_RES_MUL + (Q + Q_OFFSET) * ID_Q_MUL + (R + Q_OFFSET)
    return cells[cover], interior[cover]


COVER_SCHEMA = "cell long, polygon_id long, interior boolean"


def _cover_frame(rows, res: int) -> pd.DataFrame:
    """The cover of (polygon_id, outer, inners) rows: one (cell, polygon_id,
    interior) row per covering cell. The one cover loop — build_cell_cover
    runs it on the driver, polygons_to_cells inside executors."""
    cells, ids = [np.zeros(0, np.int64)], [np.zeros(0, np.int64)]
    ints = [np.zeros(0, bool)]
    for pid, outer, inners in rows:
        # Arrow delivers arrays as numpy object arrays: no `or []`
        inners = () if inners is None else inners
        holes = [np.asarray(h, np.float64) for h in inners]
        cc, ii = classify_cover_cells(np.asarray(outer, np.float64), holes, res)
        cells.append(cc)
        ids.append(np.full(cc.shape, int(pid), np.int64))
        ints.append(ii)
    return pd.DataFrame(
        {
            "cell": np.concatenate(cells),
            "polygon_id": np.concatenate(ids),
            "interior": np.concatenate(ints),
        }
    )


class CellCover:
    """A polygon corpus ready for apply_cell_pip: the (cell, polygon_id,
    interior) cover plus the (polygon_id, outer, inners) ring table for the
    lazy higher-order-function ray cast, at hex resolution res.

    (A statically-unrolled edge-array variant was measured 2.5x SLOWER at
    sf0.1/32c: codegen hoists the unconditional element_at subexpressions
    out of the CASE WHEN, evaluating every edge for every candidate row,
    while the lambda-based HOF ray cast stays lazy and runs only on
    boundary-cell rows.)"""

    def __init__(self, cover: DataFrame, rings: DataFrame, res: int):
        self.cover = cover
        self.rings = rings
        self.res = res


def build_cell_cover(spark, polygons: DataFrame, res: int) -> CellCover:
    """Driver-side cover build for broadcast-scale corpora: collect the
    (polygon_id, outer, inners) table, classify cover cells in numpy, return
    a CellCover of broadcast-hinted DataFrames — the whole join plan is then
    pure JVM Column work with zero shuffle of the point side. One-time per
    job — cost is O(corpus), independent of the point-table size, so it
    amortizes to nothing on a long-running ingest."""
    rows = polygons.select("polygon_id", "outer", "inners").collect()
    cover = spark.createDataFrame(_cover_frame(rows, res), COVER_SCHEMA)
    rings = spark.createDataFrame(
        pd.DataFrame(
            [(r.polygon_id, r.outer, r.inners or []) for r in rows],
            columns=["polygon_id", "outer", "inners"],
        ),
        "polygon_id long, outer array<double>, inners array<array<double>>",
    )
    return CellCover(F.broadcast(cover), F.broadcast(rings), res)


def polygons_to_cells(polygons: DataFrame, res: int) -> DataFrame:
    """Executor-side cover of a (polygon_id, outer, inners) table:
    (cell, polygon_id, interior) rows from one narrow pandas pass over the
    (small relative to points) polygon side; output size ~ polygon area /
    cell area + perimeter / cell pitch."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _cover_frame(pdf.itertuples(index=False, name=None), res)

    return polygons.select("polygon_id", "outer", "inners").mapInPandas(
        fn, COVER_SCHEMA
    )


# ---------------------------------------------------------------------------
# JVM ray cast: even-odd test as Catalyst higher-order functions
# ---------------------------------------------------------------------------
def ring_odd_column(ring: Column, px: Column, py: Column) -> Column:
    """Even-odd crossing parity of (px,py) against a packed ring column —
    bit-identical to functions/pip.py::ring_contains (same straddle
    half-open convention and the same xint = x1 + t*(x2-x1) arithmetic), but
    evaluated entirely JVM-side. The closing edge wraps via modular index,
    so closed and unclosed rings both work; the duplicate closing vertex of
    a closed ring contributes a degenerate (never-straddling) edge."""
    n = F.size(ring) / F.lit(2)  # vertex count (double division is exact here)
    n = n.cast("int")
    edges = F.sequence(F.lit(0), n - 1)

    def crossing(k: Column) -> Column:
        # element_at is 1-based; vertex k is (ring[2k], ring[2k+1])
        x1 = F.element_at(ring, (k * 2 + 1).cast("int"))
        y1 = F.element_at(ring, (k * 2 + 2).cast("int"))
        k2 = (k + 1) % n
        x2 = F.element_at(ring, (k2 * 2 + 1).cast("int"))
        y2 = F.element_at(ring, (k2 * 2 + 2).cast("int"))
        straddle = (y1 > py) != (y2 > py)
        t = (py - y1) / (y2 - y1)
        xint = x1 + t * (x2 - x1)
        return straddle & (px < xint)

    hits = F.size(F.filter(F.transform(edges, crossing), lambda b: b))
    return hits % 2 == 1


def pip_inside_column(
    outer: Column, inners: Column, px: Column, py: Column
) -> Column:
    """Point in (outer minus holes), JVM-side."""
    in_outer = ring_odd_column(outer, px, py)
    no_hole = F.forall(inners, lambda h: ~ring_odd_column(h, px, py))
    return in_outer & F.coalesce(no_hole, F.lit(True))


# ---------------------------------------------------------------------------
# Cell-keyed joins
# ---------------------------------------------------------------------------
def _cell_key(lon_col: str, lat_col: str, res: int) -> Column:
    """Join-key cell id with a -1 sentinel for unparseable coordinates.

    The coalesce is a deliberate plan-shape guard, not null handling: an
    inner join lets Catalyst infer `isnotnull(key)` and push that filter
    below the projection, INLINING the whole key expression tree (regexp
    geotag + hex math) a second time into the scan filter — measured 5-6x
    on the flagship (38s -> 6.5s at sf0.1). A provably-non-null key leaves
    nothing to infer. -1 never equals a real cover cell (ids are positive),
    so sentinel rows drop in the join exactly like nulls would.
    """
    return F.coalesce(hex_cell(F.col(lon_col), F.col(lat_col), res), F.lit(-1))


def apply_cell_pip(
    points: DataFrame,
    cover: CellCover,
    lon_col: str,
    lat_col: str,
    point_keep: list[str],
) -> DataFrame:
    """The PIP join body for either cover: cell equi-join -> interior fast
    path OR ray-cast refine. Output: point_keep + polygon_id.

    The point side gets a `cell` key (pure Column math) and joins the slim
    cover — ring geometry stays OUT of the cover, so a shuffled cell join
    moves only 17-byte cover rows. Interior-cell candidates are exact hits
    with no further work; only boundary-cell candidates run the Catalyst
    ray cast — no Python, no Arrow boundary, anywhere in the per-point
    path. Duplicate (point, polygon) candidates are impossible: a point
    belongs to exactly one cell and cover cells are unique per polygon.

    Single pass on purpose: a hits ∪ refined union would evaluate the point
    scan (and its geotag expressions) twice — measured ~2x wall at sf0.1.
    CASE WHEN keeps the ray cast lazy, so interior candidates never touch
    ring geometry beyond the (cheap) hash-join attach; the rings are
    dropped by the same-stage project, so they never cross a shuffle."""
    pts = points.withColumn("cell", _cell_key(lon_col, lat_col, cover.res))
    cand = pts.join(cover.cover, "cell").join(cover.rings, "polygon_id")
    keep = F.when(F.col("interior"), F.lit(True)).otherwise(
        pip_inside_column(
            F.col("outer"), F.col("inners"), F.col(lon_col), F.col(lat_col)
        )
    )
    return cand.filter(keep).select(*point_keep, "polygon_id")


def cell_pip_join(
    points: DataFrame,
    polygons: DataFrame,
    res: int,
    lon_col: str,
    lat_col: str,
    point_keep: list[str],
) -> DataFrame:
    """Large-corpus PIP: apply_cell_pip over an executor-built cover of the
    (polygon_id, outer, inners) table. The cell equi-join shuffle-partitions
    both sides (AQE skew-split applies; hot cells saltable)."""
    rings = polygons.select("polygon_id", "outer", "inners")
    cover = CellCover(polygons_to_cells(polygons, res), rings, res)
    return apply_cell_pip(points, cover, lon_col, lat_col, point_keep)


def bbox_cell_join(
    a: DataFrame,
    b: DataFrame,
    cell_deg: float,
    a_id: str = "a_id",
    b_id: str = "b_id",
) -> DataFrame:
    """Rectangle-overlap join (the bbox/envelope spatial join, distinct
    from PIP): both sides carry (id, minx, maxx, miny, maxy).

    The naive formulation is a cross join with a 4-way interval predicate
    — quadratic. The scale-safe shape: each rectangle explodes to the
    coarse grid cells it touches (sequence over floor(min/cell)..
    floor(max/cell) per axis — a handful of cells when cell_deg bounds
    the extents), the join becomes an EQUI-join on the cell key (one hash
    shuffle), the exact interval predicate refines candidates, and
    distinct() collapses pairs that share several cells. Same recipe at
    any scale: the shuffle is keyed, never cartesian.
    """

    def cells(df: DataFrame, idc: str) -> DataFrame:
        cx = F.explode(
            F.sequence(
                F.floor(F.col("minx") / cell_deg),
                F.floor(F.col("maxx") / cell_deg),
            )
        ).alias("cx")
        out = df.select(idc, "minx", "maxx", "miny", "maxy", cx)
        cy = F.explode(
            F.sequence(
                F.floor(F.col("miny") / cell_deg),
                F.floor(F.col("maxy") / cell_deg),
            )
        ).alias("cy")
        return out.select(idc, "minx", "maxx", "miny", "maxy", "cx", cy)

    ca = cells(a, a_id)
    cb = cells(b, b_id)
    for c in ("minx", "maxx", "miny", "maxy"):
        ca = ca.withColumnRenamed(c, f"a_{c}")
        cb = cb.withColumnRenamed(c, f"b_{c}")
    joined = ca.join(cb, ["cx", "cy"]).filter(
        (F.col("a_minx") <= F.col("b_maxx"))
        & (F.col("a_maxx") >= F.col("b_minx"))
        & (F.col("a_miny") <= F.col("b_maxy"))
        & (F.col("a_maxy") >= F.col("b_miny"))
    )
    return joined.select(a_id, b_id).distinct()
