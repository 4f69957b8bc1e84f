"""Flagship end-to-end query (SURVEY.md §7.1 step 4).

"Which region and tile does each image belong to": synthesize the image
table and the OSM world deterministically, geotag images from captions,
index into hex cells, point-in-polygon join against OSM-derived polygons,
and assign z/x/y Web-Mercator tiles.

Join: apply_cell_pip over the driver-built cover of prepare_corpus — the
polygon corpus is pre-exploded into hex cells classified interior/boundary
(one numpy pass over the tiny polygon side, broadcast); points join the
cover on their cell key, interior candidates are exact hits, boundary
candidates run the Catalyst ray-cast. The whole per-image path is JVM
Column work: no Python workers, no Arrow boundary, no shuffle — which is
what makes throughput scale with cores (the former mapInPandas kernel
saturated the Arrow serde lanes well before 32 threads). The Arrow baseline
remains available as operators.spatial_join.broadcast_pip_join.

Output: (image_id, polygon_id, cell, tile_x, tile_y) — byte-identical
across parallelism levels (everything is id-derived and the join is
deterministic).

Scale hygiene: the binary `bytes` column never enters the join — geotag
works on caption metadata only, per SURVEY.md §7.3 ("keep bytes out of
wide shuffles").
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fs2_osm_spark.functions.geo import tile_xyz
from fs2_osm_spark.functions.hex import hex_cell
from fs2_osm_spark.functions.pip import PolygonSet
from fs2_osm_spark.operators.assembly import feature_polygons
from fs2_osm_spark.operators.multimodal import geotag
from fs2_osm_spark.operators.spatial_join import (
    CellCover,
    apply_cell_pip,
    build_cell_cover,
)
from fs2_osm_spark.synth.images import images_table
from fs2_osm_spark.synth.osm import osm_tables

SCALES = {
    "sf0.001": (2_000, 128),
    "sf0.01": (20_000, 512),
    "sf0.1": (16_000_000, 5120),
}
HEX_RES = 8
TILE_Z = 12
# Cover-cell resolution of the PIP join. A PURE performance knob: the cover
# at any res is a candidate superset and the exact ray-cast decides
# membership, so join RESULTS are res-invariant (measured identical row
# counts). r08 moved 8 -> 9 (~0.0021 deg cells): the finer cover classifies
# 81% of candidates interior instead of 55%, cutting ray-cast rows 8.4M ->
# 2.9M at sf0.1 (join 2x faster) for a 4.5M-row (~80 MB) broadcast cover —
# still far under the broadcast comfort ceiling, and the build stays a
# one-time O(corpus) cost outside the per-image path.
JOIN_RES = 9

# Grid-validity note: the flagship cover and cell outputs use the PLANAR
# hex grid. The grid only gates candidate generation (exact ray-cast
# refinement decides membership), so the planar choice can never change
# join RESULTS — it affects cell-size uniformity. The synthetic corpus sits
# in the 52-54N city band where planar ground area varies by
# cos(52)/cos(54) - 1 < 5% (pinned by
# tests/test_geo_kernels.py::test_flagship_band_planar_grid_skew_bounded).
# Globally-spread corpora should index on the equal-area grid instead
# (hex_cell_ea; see geo_hex_cell_equalarea and geo_knn_kring_ea): EA cover
# building would additionally have to rasterize rings in the warped plane
# with edge densification, which is why the in-band flagship keeps the
# planar grid.


def scale_for(sf_dir: str) -> tuple[int, int]:
    return SCALES.get(os.path.basename(sf_dir.rstrip("/")), (2_000, 128))


def polygon_corpus_df(spark: SparkSession, n_zones: int) -> DataFrame:
    """The synthetic OSM polygon layer as a (small) DataFrame."""
    t = osm_tables(spark, n_zones)
    return feature_polygons(
        t["ways"], t["nodes"], t["relations"], t["relations_ways"]
    ).select("polygon_id", "outer", "inners")


def polygon_corpus(spark: SparkSession, n_zones: int) -> PolygonSet:
    """Collected PolygonSet (rasterizer + Arrow-baseline consumers)."""
    rows = polygon_corpus_df(spark, n_zones).collect()
    return PolygonSet(
        ids=[r.polygon_id for r in rows],
        outers=[np.asarray(r.outer) for r in rows],
        inners=[[np.asarray(h) for h in (r.inners or [])] for r in rows],
    )


def prepare_corpus(spark: SparkSession, polygons: DataFrame) -> CellCover:
    """One-time cover build of a (polygon_id, outer, inners) corpus
    (broadcastable cover + ring tables). A long-running ingest builds this
    once per corpus version; its cost is O(polygons), independent of how
    many images flow through."""
    return build_cell_cover(spark, polygons, JOIN_RES)


def flagship_from_tables(images: DataFrame, cover: CellCover) -> DataFrame:
    """The timed pipeline: geotag -> PIP join -> hex cell + z/x/y tiles.
    Input-agnostic (synthesized or parquet/Iceberg-scanned images); `cover`
    is the prepare_corpus() result."""
    pts = geotag(images).select("image_id", "lon", "lat")
    joined = apply_cell_pip(pts, cover, "lon", "lat", ["image_id", "lon", "lat"])
    tx, ty = tile_xyz(F.col("lon"), F.col("lat"), TILE_Z)
    return joined.select(
        "image_id",
        "polygon_id",
        hex_cell(F.col("lon"), F.col("lat"), HEX_RES).alias("cell"),
        tx.alias("tile_x"),
        ty.alias("tile_y"),
    )


def flagship_query(
    spark: SparkSession,
    sf_dir: str,
    n_images: int | None = None,
    n_zones: int | None = None,
) -> DataFrame:
    n_img, n_z = scale_for(sf_dir)
    n_img = n_images or n_img
    n_z = n_zones or n_z
    images = images_table(spark, n_img)
    return flagship_from_tables(
        images, prepare_corpus(spark, polygon_corpus_df(spark, n_z))
    )
