"""Geospatial operators validated against DuckDB oracles.

Coordinates are derived deterministically from integer keys with pure
integer/double arithmetic (fs2_osm_spark.functions.geo.synth_*), identical
on both engines, so the spatial kernels are checked end-to-end on the
neutral star-schema tables. The engine-side computation is the real
operator (Column-math tiles/cells, the vectorized ray-cast PIP kernel via
mapInPandas); the oracle re-derives the expected answer with plain SQL.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fs2_osm_spark.functions import geo
from fs2_osm_spark.functions.hex import (
    ea_lon_sql,
    hex_axial_sql,
    hex_cell,
    hex_cell_ea,
    hex_cell_ea_sql,
    hex_cell_sql,
)
from fs2_osm_spark.functions.pip import PolygonSet
from fs2_osm_spark.io import load
from fs2_osm_spark.operators.knn import knn_brute_force, knn_kring
from fs2_osm_spark.operators.spatial_join import broadcast_pip_join
from fs2_osm_spark.queries.registry import register

TILE_Z = 12


# --------------------------------------------------------------------------
# z/x/y Web-Mercator tile assignment (north-rule operator; SURVEY.md §2.5)
# --------------------------------------------------------------------------
_x_sql, _y_sql = geo.tile_xyz_sql(
    geo.synth_lon_sql("o_orderkey"), geo.synth_lat_sql("o_orderkey"), TILE_Z
)


@register(
    "geo_tile_assignment",
    oracle=f"""
    SELECT o_orderkey AS point_id,
           {_x_sql} AS tile_x,
           {_y_sql} AS tile_y
    FROM orders
    """,
)
def geo_tile_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    lon = geo.synth_lon(F.col("o_orderkey"))
    lat = geo.synth_lat(F.col("o_orderkey"))
    x, y = geo.tile_xyz(lon, lat, TILE_Z)
    return orders.select(
        F.col("o_orderkey").alias("point_id"), x.alias("tile_x"), y.alias("tile_y")
    )


# --------------------------------------------------------------------------
# Hex cell assignment + per-cell histogram (the skew diagnostic the salting
# strategy is driven by)
# --------------------------------------------------------------------------
_hex8_sql = hex_cell_sql(
    geo.synth_lon_sql("c_custkey"), geo.synth_lat_sql("c_custkey"), 8
)


@register(
    "geo_hex_cell_assignment",
    oracle=f"""
    SELECT c_custkey AS point_id, {_hex8_sql} AS cell
    FROM customer
    """,
)
def geo_hex_cell_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    lon = geo.synth_lon(F.col("c_custkey"))
    lat = geo.synth_lat(F.col("c_custkey"))
    return cust.select(
        F.col("c_custkey").alias("point_id"), hex_cell(lon, lat, 8).alias("cell")
    )


@register(
    "geo_hex_cell_histogram",
    oracle=f"""
    SELECT cell, CAST(count(*) AS BIGINT) AS n FROM (
        SELECT {hex_cell_sql(geo.synth_lon_sql("l_orderkey * 10 + l_linenumber"),
                             geo.synth_lat_sql("l_orderkey * 10 + l_linenumber"), 5)} AS cell
        FROM lineitem
    ) GROUP BY cell
    """,
)
def geo_hex_cell_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    key = F.col("l_orderkey") * 10 + F.col("l_linenumber")
    cell = hex_cell(geo.synth_lon(key), geo.synth_lat(key), 5)
    return li.select(cell.alias("cell")).groupBy("cell").agg(
        F.count(F.lit(1)).alias("n")
    )


# --------------------------------------------------------------------------
# Point-in-polygon join: engine side runs the real broadcast ray-cast kernel
# (mapInPandas over packed coordinate arrays); oracle re-derives containment
# for the same fixed CCW triangles via half-plane sign tests.
# --------------------------------------------------------------------------
PIP_TRIANGLES: dict[int, list[float]] = {
    # id -> packed [x0,y0, x1,y1, x2,y2], all CCW
    1: [-50.3333333, -30.1111111, 50.2222222, -20.5555555, 0.1234567, 45.7654321],
    2: [-120.654321, 10.111111, -60.123456, 5.555555, -90.987654, 60.246801],
    3: [80.5, -60.25, 150.75, -55.125, 110.3, 20.7],
}


def _tri_sign_sql(px: str, py: str, tri: list[float]) -> str:
    """inside-CCW-triangle as three strict half-plane tests."""
    x1, y1, x2, y2, x3, y3 = tri
    terms = []
    for (ax, ay), (bx, by) in [((x1, y1), (x2, y2)), ((x2, y2), (x3, y3)), ((x3, y3), (x1, y1))]:
        terms.append(
            f"(({bx!r} - {ax!r}) * (({py}) - {ay!r}) - ({by!r} - {ay!r}) * (({px}) - {ax!r})) > 0"
        )
    return "(" + " AND ".join(terms) + ")"


_pip_lon = geo.synth_lon_sql("o_orderkey")
_pip_lat = geo.synth_lat_sql("o_orderkey")
_pip_cases = "\nUNION ALL\n".join(
    f"SELECT o_orderkey AS point_id, CAST({pid} AS BIGINT) AS polygon_id FROM orders "
    f"WHERE {_tri_sign_sql(_pip_lon, _pip_lat, tri)}"
    for pid, tri in PIP_TRIANGLES.items()
)


@register("geo_pip_broadcast_join", oracle=_pip_cases)
def geo_pip_broadcast_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    pts = orders.select(
        F.col("o_orderkey").alias("point_id"),
        geo.synth_lon(F.col("o_orderkey")).alias("lon"),
        geo.synth_lat(F.col("o_orderkey")).alias("lat"),
    )
    ps = PolygonSet(
        ids=list(PIP_TRIANGLES.keys()),
        outers=[np.asarray(t) for t in PIP_TRIANGLES.values()],
        inners=[[] for _ in PIP_TRIANGLES],
    )
    return broadcast_pip_join(pts, ps, "lon", "lat", ["point_id"])


# --------------------------------------------------------------------------
# kNN by haversine: window top-k refinement (the engine's only true window
# op, SURVEY.md §4.2). Query points from nation keys, data points from
# customer keys.
# --------------------------------------------------------------------------
_q_lon = geo.synth_lon_sql("n_nationkey + 7")
_q_lat = geo.synth_lat_sql("n_nationkey + 7")
_c_lon = geo.synth_lon_sql("c_custkey")
_c_lat = geo.synth_lat_sql("c_custkey")
_dist = geo.haversine_m_sql(_q_lon, _q_lat, _c_lon, _c_lat)


@register(
    "geo_knn_haversine",
    oracle=f"""
    SELECT query_id, rank, cust_id FROM (
        SELECT n.n_nationkey AS query_id,
               CAST(row_number() OVER (
                   PARTITION BY n.n_nationkey
                   ORDER BY round({_dist}, 3), c.c_custkey) AS BIGINT) AS rank,
               c.c_custkey AS cust_id
        FROM nation n CROSS JOIN customer c
    ) WHERE rank <= 3
    """,
)
def geo_knn_haversine(spark: SparkSession, sf_dir: str) -> DataFrame:
    q, t = _knn_points(spark, sf_dir)
    return knn_brute_force(q, F.broadcast(t), 3, "query_id", "cust_id").select(
        "query_id", "rank", "cust_id"
    )


def _knn_points(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(queries, targets) of the geo_knn_* queries: nation points keyed
    query_id and customer points keyed cust_id, as (id, lon, lat)."""
    nation = load(spark, sf_dir, "nation")
    cust = load(spark, sf_dir, "customer")
    q = nation.select(
        F.col("n_nationkey").cast("bigint").alias("query_id"),
        geo.synth_lon(F.col("n_nationkey") + 7).alias("lon"),
        geo.synth_lat(F.col("n_nationkey") + 7).alias("lat"),
    )
    t = cust.select(
        F.col("c_custkey").alias("cust_id"),
        geo.synth_lon(F.col("c_custkey")).alias("lon"),
        geo.synth_lat(F.col("c_custkey")).alias("lat"),
    )
    return q, t


# --------------------------------------------------------------------------
# Quantized coordinate equality — the reference's 1e-6 Coordinate contract
# (core/src/main/scala/fs2/osm/core/Coordinate.scala:4-12): two coordinate
# streams derived differently must compare equal after quantization.
# --------------------------------------------------------------------------
@register(
    "geo_quantized_equality",
    oracle=f"""
    SELECT CAST(count(*) AS BIGINT) AS n_equal FROM (
        SELECT CAST(trunc(({geo.synth_lon_sql("s_suppkey")}) * 1e6) AS BIGINT) AS qlon,
               CAST(trunc(({geo.synth_lon_sql("s_suppkey")} + 4e-7) * 1e6) AS BIGINT) AS qlon2
        FROM supplier
    ) WHERE qlon = qlon2
    """,
)
def geo_quantized_equality(spark: SparkSession, sf_dir: str) -> DataFrame:
    sup = load(spark, sf_dir, "supplier")
    lon = geo.synth_lon(F.col("s_suppkey"))
    q1 = geo.quantize(lon)
    q2 = geo.quantize(lon + 4e-7)
    return sup.select(q1.alias("qlon"), q2.alias("qlon2")).filter(
        F.col("qlon") == F.col("qlon2")
    ).agg(F.count(F.lit(1)).alias("n_equal"))


# --------------------------------------------------------------------------
# k-ring kNN with an exact oracle: the SQL side replicates the same k-ring
# candidate restriction (hex distance between axial cells <= ring), so the
# approximate operator is checked exactly, not just by row count.
# --------------------------------------------------------------------------
_KNN_RES = 2
_KNN_RING = 3


def _knn_kring_oracle(qr_sql) -> str:
    """The k-ring kNN oracle over the axial-coordinate renderer `qr_sql`
    (lon, lat, res) -> (q, r) of the grid the operator indexes on."""
    qq, qr = qr_sql(_q_lon, _q_lat, _KNN_RES)
    tq, tr = qr_sql(_c_lon, _c_lat, _KNN_RES)
    return f"""
    WITH q AS (
        SELECT n_nationkey AS query_id,
               {_q_lon} AS q_lon, {_q_lat} AS q_lat,
               {qq} AS qq, {qr} AS qr
        FROM nation
    ),
    t AS (
        SELECT c_custkey AS cust_id,
               {_c_lon} AS c_lon, {_c_lat} AS c_lat,
               {tq} AS tq, {tr} AS tr
        FROM customer
    ),
    cand AS (
        SELECT q.query_id, t.cust_id,
               {geo.haversine_m_sql("q.q_lon", "q.q_lat", "t.c_lon", "t.c_lat")} AS d
        FROM q JOIN t
          ON (abs(q.qq - t.tq) + abs(q.qr - t.tr) + abs(q.qq + q.qr - t.tq - t.tr)) / 2
             <= {_KNN_RING}
    )
    SELECT query_id, rank, cust_id FROM (
        SELECT query_id, cust_id,
               CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY round(d, 3), cust_id) AS BIGINT) AS rank
        FROM cand
    ) WHERE rank <= 3
    """


def _knn_kring_query(spark: SparkSession, sf_dir: str, equal_area: bool) -> DataFrame:
    q, t = _knn_points(spark, sf_dir)
    out = knn_kring(
        q, t, k=3, res=_KNN_RES, ring=_KNN_RING,
        query_id_col="query_id", target_id_col="cust_id", equal_area=equal_area,
    )
    return out.select("query_id", "rank", "cust_id")


@register("geo_knn_kring", oracle=_knn_kring_oracle(hex_axial_sql))
def geo_knn_kring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-ring kNN (candidate equi-join on cell, no cross join) — the scale
    path of geo_knn_haversine."""
    return _knn_kring_query(spark, sf_dir, equal_area=False)


@register(
    "geo_knn_kring_ea",
    oracle=_knn_kring_oracle(
        lambda lon, lat, res: hex_axial_sql(ea_lon_sql(lon, lat), lat, res)
    ),
)
def geo_knn_kring_ea(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-ring kNN on the EQUAL-AREA hex grid (lon*cos(lat) indexing) — the
    global-data variant whose ring ground-radius stays ~uniform across
    latitudes; the SQL twin replicates the same EA axial-coordinate ring
    restriction, so candidate generation is checked exactly."""
    return _knn_kring_query(spark, sf_dir, equal_area=True)


@register("geo_pip_cell_join", oracle=_pip_cases)
def geo_pip_cell_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-corpus PIP path (cell equi-join + exact refine) checked against
    the same half-plane oracle as the broadcast path — both strategies must
    produce identical join output."""
    import pandas as pd

    from fs2_osm_spark.operators.spatial_join import cell_pip_join

    orders = load(spark, sf_dir, "orders")
    pts = orders.select(
        F.col("o_orderkey").alias("point_id"),
        geo.synth_lon(F.col("o_orderkey")).alias("lon"),
        geo.synth_lat(F.col("o_orderkey")).alias("lat"),
    )
    polygons = spark.createDataFrame(
        pd.DataFrame(
            [(pid, list(tri), []) for pid, tri in PIP_TRIANGLES.items()],
            columns=["polygon_id", "outer", "inners"],
        ),
        "polygon_id long, outer array<double>, inners array<array<double>>",
    )
    return cell_pip_join(
        pts, polygons, res=0, lon_col="lon", lat_col="lat", point_keep=["point_id"]
    )


# --------------------------------------------------------------------------
# Quadkey: interleaved-bit tile key, prefix-comparable across zoom levels —
# the sort key of cell-prefix joins. Oracle uses the arithmetic form
# (floor-div/mod), Spark the shift form; equal for nonnegative ints.
# --------------------------------------------------------------------------
_QK_Z = 8
_qk_x_sql, _qk_y_sql = geo.tile_xyz_sql(
    geo.synth_lon_sql("o_orderkey"), geo.synth_lat_sql("o_orderkey"), _QK_Z
)
_qk_terms = " + ".join(
    f"((CAST(floor(CAST(tx AS DOUBLE) / {1 << i}) AS BIGINT) % 2)"
    f" + 2 * (CAST(floor(CAST(ty AS DOUBLE) / {1 << i}) AS BIGINT) % 2)) * {4 ** i}"
    for i in range(_QK_Z)
)


@register(
    "geo_quadkey",
    oracle=f"""
    SELECT point_id, CAST({_qk_terms} AS BIGINT) AS qk FROM (
        SELECT o_orderkey AS point_id, {_qk_x_sql} AS tx, {_qk_y_sql} AS ty
        FROM orders
    )
    """,
)
def geo_quadkey(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fs2_osm_spark.functions.geo import quadkey, synth_lat, synth_lon, tile_xyz

    orders = load(spark, sf_dir, "orders")
    x, y = tile_xyz(
        synth_lon(F.col("o_orderkey")), synth_lat(F.col("o_orderkey")), _QK_Z
    )
    base = orders.select(F.col("o_orderkey").alias("point_id"), x.alias("tx"), y.alias("ty"))
    return base.select("point_id", quadkey(F.col("tx"), F.col("ty"), _QK_Z).alias("qk"))


# --------------------------------------------------------------------------
# Aperture-7 parent lookup: parent(cell) = cell at coarser res containing
# the child's center — oracled by composing the same center + cell formulas
# in SQL.
# --------------------------------------------------------------------------
def _hex_parent_sql(lon: str, lat: str, child_res: int, parent_res: int) -> str:
    from fs2_osm_spark.functions.hex import SQRT3, hex_size

    q, r = hex_axial_sql(lon, lat, child_res)
    s = hex_size(child_res)
    # CAST the literals: DuckDB parses long numeric literals as DECIMAL and
    # deep decimal multiplication overflows scale 38
    clon = (
        f"(CAST({s!r} AS DOUBLE) * (CAST({SQRT3!r} AS DOUBLE) * {q}"
        f" + CAST({SQRT3 / 2.0!r} AS DOUBLE) * {r}))"
    )
    clat = f"(CAST({s!r} AS DOUBLE) * (1.5 * {r}))"
    return hex_cell_sql(clon, clat, parent_res)


@register(
    "geo_hex_parent",
    oracle=f"""
    SELECT c_custkey AS point_id,
           {hex_cell_sql(geo.synth_lon_sql("c_custkey"), geo.synth_lat_sql("c_custkey"), 9)} AS child,
           {_hex_parent_sql(geo.synth_lon_sql("c_custkey"), geo.synth_lat_sql("c_custkey"), 9, 8)} AS parent
    FROM customer
    """,
)
def geo_hex_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fs2_osm_spark.functions.hex import hex_parent

    cust = load(spark, sf_dir, "customer")
    lon = geo.synth_lon(F.col("c_custkey"))
    lat = geo.synth_lat(F.col("c_custkey"))
    child = hex_cell(lon, lat, 9)
    return cust.select(
        F.col("c_custkey").alias("point_id"),
        child.alias("child"),
        hex_parent(child, 8, child_res=9).alias("parent"),
    )


# --------------------------------------------------------------------------
# k-ring expansion as a first-class operator: cell -> all cells within hex
# distance k. Oracle generates the same disk via a range cross product with
# the hex-distance predicate.
# --------------------------------------------------------------------------
_KR_RES = 6
_kr_q, _kr_r = hex_axial_sql(
    geo.synth_lon_sql("s_suppkey"), geo.synth_lat_sql("s_suppkey"), _KR_RES
)


@register(
    "geo_kring_expansion",
    oracle=f"""
    WITH base AS (
        SELECT s_suppkey AS point_id, {_kr_q} AS q, {_kr_r} AS r FROM supplier
    )
    SELECT point_id,
           CAST({_KR_RES} AS BIGINT) * {1 << 52}
             + (q + dq + {1 << 25}) * {1 << 26} + (r + dr + {1 << 25}) AS neighbor_cell
    FROM base
    CROSS JOIN (SELECT unnest(range(-2, 3)) AS dq)
    CROSS JOIN (SELECT unnest(range(-2, 3)) AS dr)
    WHERE (abs(dq) + abs(dr) + abs(dq + dr)) / 2 <= 2
    """,
)
def geo_kring_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fs2_osm_spark.functions.hex import hex_kring

    sup = load(spark, sf_dir, "supplier")
    cell = hex_cell(
        geo.synth_lon(F.col("s_suppkey")), geo.synth_lat(F.col("s_suppkey")), _KR_RES
    )
    return sup.select(
        F.col("s_suppkey").alias("point_id"), cell.alias("cell0")
    ).select(
        "point_id", F.explode(hex_kring(F.col("cell0"), 2)).alias("neighbor_cell")
    )


@register(
    "geo_hex_cell_equalarea",
    oracle=f"""
    SELECT c_custkey AS point_id,
           {hex_cell_ea_sql(geo.synth_lon_sql("c_custkey"),
                            geo.synth_lat_sql("c_custkey"), 8)} AS cell
    FROM customer
    """,
)
def geo_hex_cell_equalarea(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latitude-corrected hex indexing: lon scaled by a polynomial cos(lat)
    before cell assignment, so per-cell ground area is ~uniform — the
    production answer to the planar grid's cos(lat) area shrink (documented
    in functions/hex.py). Same kernel in Spark Columns and DuckDB SQL."""
    cust = load(spark, sf_dir, "customer")
    lon = geo.synth_lon(F.col("c_custkey"))
    lat = geo.synth_lat(F.col("c_custkey"))
    return cust.select(
        F.col("c_custkey").alias("point_id"),
        hex_cell_ea(lon, lat, 8).alias("cell"),
    )


# --------------------------------------------------------------------------
# BBox overlap join (envelope/range spatial join — the non-PIP variant)
# --------------------------------------------------------------------------
_BB_CELL = 0.25


def _bbox_rect_sql(key: str, shift: int) -> str:
    # literals MUST be CAST AS DOUBLE: bare 0.05/0.01 are DuckDB DECIMALs,
    # whose exact arithmetic rounds to double ONCE at the end, while Spark
    # evaluates the whole chain in doubles — measured 1-ulp divergence on
    # ~1/5000 keys, and boundary-touching pairs sit exactly on the 0.01
    # lattice, so a DECIMAL oracle can disagree on `>=` at the edge
    lon = geo.synth_lon_sql(f"{key} + {shift}")
    lat = geo.synth_lat_sql(f"{key} + {shift}")
    hw = f"(CAST(0.05 AS DOUBLE) + ({key}) % 5 * CAST(0.01 AS DOUBLE))"
    hh = f"(CAST(0.03 AS DOUBLE) + ({key}) % 3 * CAST(0.01 AS DOUBLE))"
    return (
        f"{lon} - {hw} AS minx, "
        f"{lon} + {hw} AS maxx, "
        f"{lat} - {hh} AS miny, "
        f"{lat} + {hh} AS maxy"
    )


@register(
    "geo_bbox_overlap_join",
    oracle=f"""
    WITH a AS (
        SELECT o_orderkey AS a_id, {_bbox_rect_sql('o_orderkey', 0)}
        FROM orders
    ),
    b AS (
        SELECT c_custkey AS b_id, {_bbox_rect_sql('c_custkey', 3)}
        FROM customer
    )
    SELECT a.a_id, b.b_id
    FROM a, b
    WHERE a.minx <= b.maxx AND a.maxx >= b.minx
      AND a.miny <= b.maxy AND a.maxy >= b.miny
    """,
)
def geo_bbox_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Envelope-overlap spatial join (r06): synthetic rectangles around the
    order/customer point sets joined by 4-way interval overlap. The Spark
    side runs the SCALE-SAFE formulation (explode to coarse grid cells ->
    equi-join on the cell key -> exact refine -> distinct); the oracle is
    the brute-force cross join with the same predicate — the bucketed join
    must find exactly the quadratic answer, so a cell-size bug, a missed
    boundary-straddling rectangle, or double-counted pairs all break it."""
    from fs2_osm_spark.operators.spatial_join import bbox_cell_join

    def rects(df, key, idname, shift):
        k = F.col(key)
        lon = geo.synth_lon(k + shift)
        lat = geo.synth_lat(k + shift)
        hw = 0.05 + (k % 5).cast("double") * 0.01
        hh = 0.03 + (k % 3).cast("double") * 0.01
        return df.select(
            k.alias(idname),
            (lon - hw).alias("minx"), (lon + hw).alias("maxx"),
            (lat - hh).alias("miny"), (lat + hh).alias("maxy"),
        )

    a = rects(load(spark, sf_dir, "orders"), "o_orderkey", "a_id", 0)
    b = rects(load(spark, sf_dir, "customer"), "c_custkey", "b_id", 3)
    return bbox_cell_join(a, b, _BB_CELL)
