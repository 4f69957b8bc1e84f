"""Nearest-neighbour search: candidate generation, then one top-k.

Every kNN and ANN path (here, in operators/similarity.py and in the kNN and
retrieval queries) is its own candidate generation plus `keep_top`:
row_number over the query, ordered by the rounded score (the DuckDB parity
rule) with an id tie-break, cast to bigint, cut at k.

Geospatial kNN (SURVEY.md §4.2): target points are bucketed by hex cell and
each query point expands its cell to the k-ring — candidate generation is an
equi-join on cell id, refinement pure Column haversine. With ring >=
ceil(search_radius / inradius) the result equals the exact kNN whenever
enough candidates exist in the ring (the test pins this against the
brute-force oracle)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from fs2_osm_spark.functions.geo import haversine_m
from fs2_osm_spark.functions.hex import hex_cell, hex_cell_ea, hex_kring


def keep_top(scored: DataFrame, by: str, order: list[Column], k: int) -> DataFrame:
    """The one nearest-neighbour top-k: `scored` plus a bigint `rank`
    (row_number over partitionBy(by).orderBy(*order)), keeping rank <= k."""
    w = Window.partitionBy(by).orderBy(*order)
    return scored.withColumn(
        "rank", F.row_number().over(w).cast("bigint")
    ).filter(F.col("rank") <= k)


def _haversine_top(
    cand: DataFrame, k: int, query_id_col: str, target_id_col: str
) -> DataFrame:
    """(query, rank, target, dist_m): rank on round(haversine, 3), then the
    target id, over (query_id, q_lon, q_lat, target_id, t_lon, t_lat)."""
    dist = haversine_m(F.col("q_lon"), F.col("q_lat"), F.col("t_lon"), F.col("t_lat"))
    scored = cand.select(
        query_id_col, target_id_col, F.round(dist, 3).alias("dist_m")
    )
    return keep_top(
        scored, query_id_col, [F.col("dist_m"), F.col(target_id_col)], k
    ).select(query_id_col, "rank", target_id_col, "dist_m")


def knn_kring(
    queries: DataFrame,
    targets: DataFrame,
    k: int,
    res: int = 7,
    ring: int = 2,
    query_id_col: str = "query_id",
    target_id_col: str = "target_id",
    equal_area: bool = False,
) -> DataFrame:
    """queries(query_id, lon, lat) x targets(target_id, lon, lat)
    -> (query_id, rank, target_id, dist_m) with rank <= k.

    Plan: targets keyed by their cell (one shuffle); queries explode their
    k-ring (3r²+3r+1 literal offsets, pure Column math) and equi-join on
    cell. Incomplete results (query in a sparse region) are a recall/ring
    trade-off, exactly like IVF n_probe.

    Grid choice: the default planar grid's east-west GROUND coverage per
    ring shrinks by cos(lat) — fine inside a narrow latitude band, but the
    effective search radius varies on globally-spread data. equal_area=True
    indexes on the lon*cos(lat) grid (hex_cell_ea): k-ring offsets are the
    same axial lattice, and the ring's ground radius stays ~uniform across
    latitudes. Refinement is exact haversine either way, so the grid only
    affects candidate recall, never the distances."""
    cell_of = hex_cell_ea if equal_area else hex_cell
    t = targets.select(
        F.col(target_id_col),
        F.col("lon").alias("t_lon"),
        F.col("lat").alias("t_lat"),
        cell_of(F.col("lon"), F.col("lat"), res).alias("cell"),
    )
    # materialize the cell id once before expanding the ring: hex_kring adds
    # 3r²+3r+1 literal offsets, and inlining hex_cell would replicate its
    # whole expression tree per offset (codegen blowup)
    q = queries.select(
        F.col(query_id_col),
        F.col("lon").alias("q_lon"),
        F.col("lat").alias("q_lat"),
        cell_of(F.col("lon"), F.col("lat"), res).alias("cell0"),
    ).select(
        query_id_col,
        "q_lon",
        "q_lat",
        F.explode(hex_kring(F.col("cell0"), ring)).alias("cell"),
    )
    return _haversine_top(q.join(t, "cell"), k, query_id_col, target_id_col)


def knn_brute_force(
    queries: DataFrame,
    targets: DataFrame,
    k: int,
    query_id_col: str = "query_id",
    target_id_col: str = "target_id",
) -> DataFrame:
    """Exact kNN by cross join — the correctness oracle for knn_kring."""
    t = targets.select(
        F.col(target_id_col),
        F.col("lon").alias("t_lon"),
        F.col("lat").alias("t_lat"),
    )
    q = queries.select(
        F.col(query_id_col), F.col("lon").alias("q_lon"), F.col("lat").alias("q_lat")
    )
    return _haversine_top(q.crossJoin(t), k, query_id_col, target_id_col)
