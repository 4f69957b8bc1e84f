"""Geometry assembly: osm_lines, simple polygons, multipolygon stitching.

Re-expresses the reference's SQL feature passes as DataFrame plans:

- build_osm_lines: CROSS JOIN LATERAL unnest + join + ST_MakeLine(ORDER BY)
  (insert-into-osm-lines.sql:2-9) becomes posexplode -> equi join ->
  sort_array(collect_list(struct)) -> packed coord array. One shuffle on
  way_id with partial aggregation; at scale both sides can be bucketed by
  the node/way key.

- simple_polygons: the PolygonFeature predicate + ST_IsClosed filter
  (PolygonFeature.scala:37-73) over assembled lines; closure is quantized
  1e-6 equality of first/last vertex (Coordinate.scala:4-12).

- build_multipolygons: replaces the driver-side per-relation loop
  (ComplexPolygonBuilder.scala:52-80) with set-based joins + one
  applyInPandas grouped by relation_id: greedy endpoint stitching with
  orientation flips (package.scala:16-21), ring-closure repair by appending
  the start point (ComplexPolygonBuilder.scala:90-93), inner rings require
  > 3 points (ComplexPolygonBuilder.scala:116-130).

- polygon_union: closed ways ∪ multipolygons over lines the caller already
  holds — the one body behind feature_polygons (the whitelisted corpus),
  all_polygons (the feature catalog's source) and the lifecycle corpus
  built on the export's pins.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

QUANT = 1e6  # 1e-6 degree quantization (reference Coordinate equality)


def build_osm_lines(ways: DataFrame, nodes: DataFrame) -> DataFrame:
    """ways(osm_id, name, nodes array<long>, tags) x nodes(osm_id, lon, lat)
    -> osm_lines(way_id, name, tags, geom packed array<double>, n_pts,
    is_closed).

    is_closed uses quantized equality of first/last vertex — matching the
    reference's ST_IsClosed over coordinates rather than node ids (a way
    may close via two distinct node ids at the same quantized coordinate).
    """
    exploded = ways.select(
        F.col("osm_id").alias("way_id"),
        "name",
        "tags",
        F.posexplode("nodes").alias("idx", "node_id"),
    )
    resolved = exploded.join(
        nodes.select(F.col("osm_id").alias("node_id"), "lon", "lat"), "node_id"
    )
    assembled = resolved.groupBy("way_id").agg(
        F.first("name").alias("name"),
        F.first("tags").alias("tags"),
        F.array_sort(F.collect_list(F.struct("idx", "lon", "lat"))).alias("pts"),
    )
    geom = F.flatten(F.transform("pts", lambda p: F.array(p.lon, p.lat)))
    qx = lambda c: (c * QUANT).cast("bigint")  # noqa: E731
    first = F.col("pts").getItem(0)
    last = F.element_at("pts", -1)
    is_closed = (qx(first.lon) == qx(last.lon)) & (qx(first.lat) == qx(last.lat))
    return assembled.select(
        "way_id",
        "name",
        "tags",
        geom.alias("geom"),
        F.size("pts").alias("n_pts"),
        is_closed.alias("is_closed"),
    )


# Polygon tag whitelist — exact transcription of the reference's
# taggedPolygons WHERE clause (PolygonFeature.scala:48-69): nine
# key-presence checks, five per-key value IN-lists, the 22-value natural
# list, aeroway=aerodrome, all under the NULL-tolerant area != 'no' guard.
POLYGON_KEYS = [
    "amenity",
    "area:highway",
    "building",
    "boundary",
    "building:part",
    "historic",
    "landuse",
    "place",
    "shop",
]
POLYGON_NATURAL_VALUES = [
    "water", "wood", "scrub", "wetland", "grassland", "heath", "rock",
    "bare_rock", "sand", "beach", "scree", "bay", "glacier", "shingle",
    "fell", "reef", "stone", "mud", "landslide", "sinkhole", "crevasse",
    "desert",
]
POLYGON_VALUE_IN = {
    "waterway": ["riverbank"],
    "highway": ["rest_area", "services", "platform"],
    "railway": ["platform"],
    "leisure": ["picnic_table", "slipway", "firepit"],
    "natural": POLYGON_NATURAL_VALUES,
    "aeroway": ["aerodrome"],
}


def polygon_predicate() -> F.Column:
    tags = F.col("tags")
    area_ok = tags["area"].isNull() | (tags["area"] != "no")
    keyed = None
    for k in POLYGON_KEYS:
        c = tags[k].isNotNull()
        keyed = c if keyed is None else (keyed | c)
    for k, values in POLYGON_VALUE_IN.items():
        keyed = keyed | tags[k].isin(values)
    return area_ok & keyed


def closed_way_polygons(osm_lines: DataFrame) -> DataFrame:
    """Every closed way as a polygon shape — the ST_IsClosed inner query each
    polygon feature pass runs over ways with its OWN tag predicate
    (WaterFeature.scala:36-53 shape). No whitelist here; feature predicates
    and the polygons-table whitelist are applied by callers."""
    return osm_lines.filter(F.col("is_closed")).select(
        F.col("way_id").alias("polygon_id"),
        F.lit(0).alias("ring_no"),
        "name",
        "tags",
        F.col("geom").alias("outer"),
        F.array().cast("array<array<double>>").alias("inners"),
    )


def simple_polygons(osm_lines: DataFrame) -> DataFrame:
    """The reference's `polygons` table: closed ways passing the exact
    PolygonFeature whitelist (taggedPolygons; combineWays is commented out
    in the reference, so the table is way-sourced only)."""
    return closed_way_polygons(osm_lines).filter(polygon_predicate())


# ---------------------------------------------------------------------------
# Multipolygon stitching
# ---------------------------------------------------------------------------
MP_SCHEMA = T.StructType(
    [
        T.StructField("polygon_id", T.LongType(), False),
        T.StructField("ring_no", T.IntegerType(), False),
        T.StructField("name", T.StringType(), True),
        T.StructField("tags", T.MapType(T.StringType(), T.StringType()), False),
        T.StructField("outer", T.ArrayType(T.DoubleType()), False),
        T.StructField("inners", T.ArrayType(T.ArrayType(T.DoubleType())), False),
    ]
)


def ring_area(ring: np.ndarray) -> float:
    """|shoelace| area of a packed [x0,y0,...] ring (planar degrees^2)."""
    xs, ys = ring[0::2], ring[1::2]
    return float(abs(np.dot(xs, np.roll(ys, -1)) - np.dot(ys, np.roll(xs, -1))) / 2.0)


def _stitch_rings(segments: list[np.ndarray]) -> list[np.ndarray]:
    """Greedy endpoint-matching merge with orientation flips.

    Mirrors LineString.merge (package.scala:16-21): two segments join when
    an endpoint pair matches under 1e-6 quantization, reversing the
    candidate when needed. Per-group sequential — vectorization comes from
    applyInPandas running many relations in parallel.
    """

    def q(pt: np.ndarray) -> tuple[int, int]:
        return int(pt[0] * QUANT), int(pt[1] * QUANT)

    pool = [s.reshape(-1, 2) for s in segments if len(s) >= 4]
    rings: list[np.ndarray] = []
    while pool:
        cur = pool.pop(0)
        extended = True
        while extended and q(cur[0]) != q(cur[-1]):
            extended = False
            for i, seg in enumerate(pool):
                if q(seg[0]) == q(cur[-1]):
                    cur = np.vstack([cur, seg[1:]])
                elif q(seg[-1]) == q(cur[-1]):
                    cur = np.vstack([cur, seg[::-1][1:]])
                elif q(seg[-1]) == q(cur[0]):
                    cur = np.vstack([seg, cur[1:]])
                elif q(seg[0]) == q(cur[0]):
                    cur = np.vstack([seg[::-1], cur[1:]])
                else:
                    continue
                pool.pop(i)
                extended = True
                break
        if q(cur[0]) != q(cur[-1]):
            # closure repair: append the start point (ST_AddPoint(geom,
            # ST_StartPoint(geom)) — ComplexPolygonBuilder.scala:90-93)
            cur = np.vstack([cur, cur[:1]])
        rings.append(cur.ravel())
    return rings


def build_multipolygons(
    relations: DataFrame,
    relations_ways: DataFrame,
    osm_lines: DataFrame,
    relation_filter: F.Column | None = None,
) -> DataFrame:
    """Set-based multipolygon assembly.

    Plan: filter multipolygon relations -> keep-first dedupe of memberships
    on (relation_id, way_id, role) (R27) -> join member geometries -> one
    applyInPandas per relation stitches outer/inner rings.
    """
    rels = relations.filter(F.col("type") == "multipolygon")
    if relation_filter is not None:
        rels = rels.filter(relation_filter)

    members = (
        relations_ways.groupBy("relation_id", "way_id", "role")
        .agg(F.min("index").alias("index"))  # ON CONFLICT DO NOTHING ≡ keep-first
        .join(
            osm_lines.select(F.col("way_id"), F.col("geom")),
            "way_id",
        )
        .join(
            rels.select(
                F.col("osm_id").alias("relation_id"), F.col("name"), F.col("tags")
            ),
            "relation_id",
        )
    )

    def assemble(pdf: pd.DataFrame) -> pd.DataFrame:
        rel_id = int(pdf["relation_id"].iloc[0])
        name = pdf["name"].iloc[0]
        tags = pdf["tags"].iloc[0]
        pdf = pdf.sort_values("index")  # ORDER BY relations_ways.index (R15)
        outer_segs = [
            np.asarray(g, np.float64) for g in pdf.loc[pdf["role"] == "outer", "geom"]
        ]
        inner_segs = [
            np.asarray(g, np.float64) for g in pdf.loc[pdf["role"] == "inner", "geom"]
        ]
        outers = _stitch_rings(outer_segs)
        inners = [r for r in _stitch_rings(inner_segs) if len(r) / 2 > 3]
        if not outers:
            return pd.DataFrame(
                columns=["polygon_id", "ring_no", "name", "tags", "outer", "inners"]
            )
        # R19 grouping: rank outer rings by geometric (shoelace) area, largest
        # first; each hole belongs to the SMALLEST containing outer — for
        # nested outers that is the innermost ring, which is the ring whose
        # interior the hole actually punctures. Orphan holes fall back to the
        # largest outer. ring_no keeps multi-outer relations distinguishable
        # downstream (all rings share polygon_id = relation id).
        from fs2_osm_spark.functions.pip import ring_contains

        outers.sort(key=ring_area, reverse=True)
        assigned: list[list[np.ndarray]] = [[] for _ in outers]
        for hole in inners:
            hx, hy = np.array([hole[0]]), np.array([hole[1]])
            containing = [
                k for k, outer in enumerate(outers) if ring_contains(outer, hx, hy)[0]
            ]
            k = containing[-1] if containing else 0  # area-desc order: last = smallest
            assigned[k].append(hole)
        rows = [
            (rel_id, ring_no, name, tags, outer.tolist(), [h.tolist() for h in holes])
            for ring_no, (outer, holes) in enumerate(zip(outers, assigned))
        ]
        return pd.DataFrame(
            rows, columns=["polygon_id", "ring_no", "name", "tags", "outer", "inners"]
        )

    return members.groupBy("relation_id").applyInPandas(assemble, MP_SCHEMA)


def polygon_union(lines: DataFrame, multipolygons: DataFrame,
                  whitelist: bool = True) -> DataFrame:
    """Closed ways of the assembled ``lines`` ∪ their relation
    ``multipolygons`` (build_multipolygons over the same lines) — the
    two-pass union-all shape of WaterFeature.scala:28-32 generalized.

    With ``whitelist`` the closed ways are the faithful `polygons` table
    (the engine's polygon corpus); without it every closed way goes in,
    the source the feature-catalog passes filter with their own
    predicates (each reference feature runs its own closed-way query over
    ways, e.g. WaterFeature.scala:36-53, not a scan of the polygons
    table)."""
    ways = simple_polygons(lines) if whitelist else closed_way_polygons(lines)
    return ways.unionByName(multipolygons)


def feature_polygons(
    ways: DataFrame,
    nodes: DataFrame,
    relations: DataFrame,
    relations_ways: DataFrame,
) -> DataFrame:
    """The engine's polygon corpus (flagship/bench input) from the raw
    tables: polygon_union(whitelist=True)."""
    lines = build_osm_lines(ways, nodes)
    return polygon_union(lines, build_multipolygons(relations, relations_ways, lines))


def all_polygons(lines: DataFrame, relations: DataFrame,
                 relations_ways: DataFrame) -> DataFrame:
    """Every closed way + every multipolygon, NO whitelist:
    polygon_union(whitelist=False)."""
    return polygon_union(
        lines, build_multipolygons(relations, relations_ways, lines), whitelist=False
    )
