"""Deterministic synthetic OSM entity world (no external data).

Generates the reference's normalized relational layer
(/root/reference/postgres/src/main/scala/fs2/osm/postgres/DefaultSchema.scala:4-61):
nodes / ways / ways_nodes / relations / relations_ways, plus encoded
dense-node blocks exercising the PBF decode contract
(core/src/main/scala/fs2/osm/core/DenseNodeStream.scala:10-58).

World model: a grid of square "zones" across EXTENT. Each zone contributes
a closed ring way with a thematic tag (cycled through the feature catalog),
roads/waterways/rails as open ways between zone centers, and every 8th zone
a multipolygon relation whose outer ring is split into two open ways (the
second reversed, exercising endpoint stitching with orientation flips —
postgres/src/main/scala/fs2/osm/postgres/package.scala:16-21) plus an inner
hole. Every value is a pure function of the zone id, so generation is
distributed and partition-count-invariant.

Golden fixtures embedded (SURVEY.md §5 / FIXTURES.md):
- node 1 at (13.3290697, 52.4519232) tags {test: value}, node 2 same coord
  (PostgresExporterSpec.scala:55-66)
- node 125799 at (8.7868047, 53.0749415) (DownloadFromGeofabrikTest.scala:75)
- relation 2952-shaped multipolygon: 3 inner ways + 1 outer way
  (PbfReaderSpec.scala:40-55)
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

EXTENT = (7.0, 51.0, 15.0, 55.0)
GRID_COLS = 64  # grid cells across the extent
GRID_ROWS = 80
ZONE_LON = (EXTENT[2] - EXTENT[0]) / GRID_COLS  # 0.125 deg
ZONE_LAT = (EXTENT[3] - EXTENT[1]) / GRID_ROWS  # 0.05 deg
N_CELLS = GRID_COLS * GRID_ROWS
CITIES = [(10.00, 53.55), (13.40, 52.52), (8.80, 53.08)]  # synth/images.py hot spots
NODE_BASE = 10_000_000  # zone node ids start here
WAY_BASE = 20_000_000
REL_BASE = 30_000_000

_CELL_ORDER: np.ndarray | None = None


def _cell_order() -> np.ndarray:
    """Grid cells sorted by distance to the nearest hot city (ties by cell
    index): zone k occupies the k-th closest cell, so small worlds cover the
    city cores the image distribution clusters in. Deterministic."""
    global _CELL_ORDER
    if _CELL_ORDER is None:
        idx = np.arange(N_CELLS)
        cx = EXTENT[0] + (idx % GRID_COLS + 0.5) * ZONE_LON
        cy = EXTENT[1] + (idx // GRID_COLS + 0.5) * ZONE_LAT
        d = np.min(
            [(cx - lo) ** 2 + (cy - la) ** 2 for lo, la in CITIES], axis=0
        )
        _CELL_ORDER = np.lexsort((idx, d)).astype(np.int64)
    return _CELL_ORDER

THEMES = [
    {"building": "yes", "name": "bldg"},
    {"natural": "water", "water": "lake"},
    {"landuse": "forest"},
    {"leisure": "park"},
    {"landuse": "industrial"},
    {"landuse": "industrial", "amenity": "recycling"},
    {"boundary": "protected_area", "protection_title": "reserve"},
    {"landuse": "railway", "operator": "rail_co"},
    {"natural": "wood"},
    {"landuse": "meadow"},
]
LINE_THEMES = [
    {"highway": "residential", "surface": "asphalt"},
    {"highway": "primary", "maxspeed": "100"},
    {"waterway": "river"},
    {"railway": "rail", "electrified": "contact_line"},
    {"natural": "coastline"},
]

NODES_SCHEMA = T.StructType(
    [
        T.StructField("osm_id", T.LongType(), False),
        T.StructField("lon", T.DoubleType(), False),
        T.StructField("lat", T.DoubleType(), False),
        T.StructField("name", T.StringType(), True),
        T.StructField("tags", T.MapType(T.StringType(), T.StringType()), False),
    ]
)
WAYS_SCHEMA = T.StructType(
    [
        T.StructField("osm_id", T.LongType(), False),
        T.StructField("name", T.StringType(), True),
        T.StructField("nodes", T.ArrayType(T.LongType()), False),
        T.StructField("tags", T.MapType(T.StringType(), T.StringType()), False),
    ]
)
RELATIONS_SCHEMA = T.StructType(
    [
        T.StructField("osm_id", T.LongType(), False),
        T.StructField("name", T.StringType(), True),
        T.StructField("type", T.StringType(), True),
        T.StructField("tags", T.MapType(T.StringType(), T.StringType()), False),
    ]
)
RELATIONS_WAYS_SCHEMA = T.StructType(
    [
        T.StructField("relation_id", T.LongType(), False),
        T.StructField("way_id", T.LongType(), False),
        T.StructField("index", T.IntegerType(), False),
        T.StructField("role", T.StringType(), False),
    ]
)
# DefaultSchema.scala:34-44 (relations_nodes) / :53-60 (relations_relations)
RELATIONS_NODES_SCHEMA = T.StructType(
    [
        T.StructField("relation_id", T.LongType(), False),
        T.StructField("node_id", T.LongType(), False),
        T.StructField("index", T.IntegerType(), False),
        T.StructField("role", T.StringType(), False),
    ]
)
RELATIONS_RELATIONS_SCHEMA = T.StructType(
    [
        T.StructField("parent_id", T.LongType(), True),
        T.StructField("child_id", T.LongType(), True),
        T.StructField("index", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
    ]
)


def _zone_origin(zone: int) -> tuple[float, float]:
    cell = int(_cell_order()[zone % N_CELLS])
    gx = cell % GRID_COLS
    gy = cell // GRID_COLS
    return EXTENT[0] + gx * ZONE_LON, EXTENT[1] + gy * ZONE_LAT


def zone_ring_nodes(zone: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """8 perimeter nodes (corners + edge midpoints, CCW) of the zone square."""
    ox, oy = _zone_origin(zone)
    mx, my = ZONE_LON * 0.9, ZONE_LAT * 0.9  # ring covers 90% of the cell
    xs = ox + np.array([0.0, 0.5, 1.0, 1.0, 1.0, 0.5, 0.0, 0.0]) * mx
    ys = oy + np.array([0.0, 0.0, 0.0, 0.5, 1.0, 1.0, 1.0, 0.5]) * my
    ids = NODE_BASE + zone * 100 + np.arange(8)
    return ids.astype(np.int64), xs, ys


def zone_hole_nodes(zone: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    ox, oy = _zone_origin(zone)
    mx, my = ZONE_LON * 0.9, ZONE_LAT * 0.9
    xs = ox + np.array([0.3, 0.6, 0.6, 0.3]) * mx
    ys = oy + np.array([0.3, 0.3, 0.6, 0.6]) * my
    ids = NODE_BASE + zone * 100 + 20 + np.arange(4)
    return ids.astype(np.int64), xs, ys


def _gen_zone_tables(zones: np.ndarray) -> dict[str, pd.DataFrame]:
    """All tables for a batch of zone ids (pure function of the ids)."""
    node_rows, way_rows, rel_rows, relway_rows = [], [], [], []
    relnode_rows, relrel_rows = [], []
    for z in zones.tolist():
        ids, xs, ys = zone_ring_nodes(z)
        theme = dict(THEMES[z % len(THEMES)])
        if z % 10 == 9:
            # admin-boundary zones: the ring stays in the polygons whitelist
            # via its landuse tag; boundary=administrative additionally feeds
            # the administrative_boundaries closed-way pass
            theme["boundary"] = "administrative"
            theme["admin_level"] = str(4 + z % 7)
        for i in range(8):
            node_rows.append((int(ids[i]), float(xs[i]), float(ys[i]), None, {}))
        ring = ids.tolist() + [int(ids[0])]  # closed: first == last
        way_id = WAY_BASE + z * 10
        way_rows.append((way_id, f"zone {z}", ring, dict(theme)))

        # an open road way along the zone's bottom edge
        road_theme = LINE_THEMES[z % len(LINE_THEMES)]
        way_rows.append(
            (way_id + 1, None, ids[:3].tolist(), dict(road_theme))
        )

        if z % 10 == 9:
            # boundary relation (type='boundary', boundary=administrative):
            # two member ways exercise the per-relation ST_Collect
            # MultiLineString pass (AdministrativeBoundaryFeature.scala:79-106)
            rel_id = REL_BASE + 500_000 + z
            tags = {
                "type": "boundary",
                "boundary": "administrative",
                "admin_level": str(4 + z % 7),
            }
            rel_rows.append((rel_id, f"admin {z}", "boundary", tags))
            relway_rows.append((rel_id, way_id, 0, "outer"))
            relway_rows.append((rel_id, way_id + 1, 1, "outer"))
            # node-typed members (real admin relations carry admin_centre /
            # label nodes — RelationImporter.scala:57-60 relations_nodes)
            relnode_rows.append((rel_id, int(ids[0]), 2, "admin_centre"))
            relnode_rows.append((rel_id, int(ids[4]), 3, "label"))
            if z % 20 == 19:
                # duplicate (relation_id, node_id, role) at a later index:
                # exercises the ON CONFLICT DO NOTHING keep-first dedupe
                relnode_rows.append((rel_id, int(ids[0]), 4, "admin_centre"))
                # nested relation: a parent boundary whose child is this
                # admin relation (relations_relations, role=subarea)
                parent_id = REL_BASE + 700_000 + z
                rel_rows.append(
                    (
                        parent_id,
                        f"region {z}",
                        "boundary",
                        {"type": "boundary", "boundary": "historic"},
                    )
                )
                relrel_rows.append((parent_id, rel_id, 0, "subarea"))

        if z % 8 == 0:
            # multipolygon: outer split into two open ways (second reversed),
            # plus a 4-node inner hole
            hid, hxs, hys = zone_hole_nodes(z)
            for i in range(4):
                node_rows.append((int(hid[i]), float(hxs[i]), float(hys[i]), None, {}))
            first_half = ring[:5]  # nodes 0..4
            second_half_rev = ring[4:][::-1]  # nodes 8(=0)..4 reversed orientation
            mp_theme = {"natural": "water", "water": "pond"} if z % 16 == 0 else {
                "landuse": "forest"
            }
            way_rows.append((way_id + 2, None, first_half, {}))
            way_rows.append((way_id + 3, None, second_half_rev, {}))
            hole_ring = hid.tolist() + [int(hid[0])]
            way_rows.append((way_id + 4, None, hole_ring, {}))
            rel_id = REL_BASE + z
            tags = {"type": "multipolygon", **mp_theme}
            rel_rows.append((rel_id, f"mp {z}", "multipolygon", tags))
            relway_rows.append((rel_id, way_id + 2, 0, "outer"))
            relway_rows.append((rel_id, way_id + 3, 1, "outer"))
            relway_rows.append((rel_id, way_id + 4, 2, "inner"))
            if z % 16 == 0:
                # multipolygon label node member (relations_nodes)
                relnode_rows.append((rel_id, int(hid[0]), 3, "label"))

    return {
        "nodes": pd.DataFrame(node_rows, columns=["osm_id", "lon", "lat", "name", "tags"]),
        "ways": pd.DataFrame(way_rows, columns=["osm_id", "name", "nodes", "tags"]),
        "relations": pd.DataFrame(rel_rows, columns=["osm_id", "name", "type", "tags"]),
        "relations_ways": pd.DataFrame(
            relway_rows, columns=["relation_id", "way_id", "index", "role"]
        ),
        "relations_nodes": pd.DataFrame(
            relnode_rows, columns=["relation_id", "node_id", "index", "role"]
        ),
        "relations_relations": pd.DataFrame(
            relrel_rows, columns=["parent_id", "child_id", "index", "role"]
        ),
    }


def osm_tables(
    spark: SparkSession, n_zones: int = 512, partitions: int | None = None
) -> dict[str, DataFrame]:
    """Distributed generation of the normalized OSM tables for n_zones."""
    parts = partitions or spark.sparkContext.defaultParallelism
    schemas = {
        "nodes": NODES_SCHEMA,
        "ways": WAYS_SCHEMA,
        "relations": RELATIONS_SCHEMA,
        "relations_ways": RELATIONS_WAYS_SCHEMA,
        "relations_nodes": RELATIONS_NODES_SCHEMA,
        "relations_relations": RELATIONS_RELATIONS_SCHEMA,
    }
    out = {}
    base = spark.range(0, n_zones, 1, parts)
    for name, schema in schemas.items():
        def make_fn(tbl: str):
            def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
                for pdf in batches:
                    yield _gen_zone_tables(pdf["id"].to_numpy(np.int64))[tbl]

            return fn

        out[name] = base.mapInPandas(make_fn(name), schema)
    return out


# ---------------------------------------------------------------------------
# Golden hand-built fixtures (pytest tier; mirrors the reference's specs)
# ---------------------------------------------------------------------------
def golden_dense_blocks() -> pd.DataFrame:
    """Encoded dense blocks pinning the decode contract
    (DenseNodeStreamSpec.scala:22-76):
    ids delta [42,1,2] -> 42,43,45; lats [530000000,10000000,2000000]
    granularity 100, offset 0 -> 53.0, 54.0, 54.2."""
    return pd.DataFrame(
        [
            # block 0: golden deltas, default granularity/offsets, tags for
            # first node {amenity: cafe}
            (
                0,
                [42, 1, 2],
                [530000000, 10000000, 2000000],
                [100000000, 5000000, 1000000],
                [1, 2, 0, 0, 0],
                ["", "amenity", "cafe"],
                100,
                0,
                0,
            ),
            # block 1: custom granularity + offsets
            # lat = 1e-9 * (500000000 + 200 * 10000000) = 2.5
            (
                1,
                [7, 3],
                [10000000, 0],
                [10000000, 5],
                [0, 0],
                [""],
                200,
                500000000,
                -300000000,
            ),
        ],
        columns=[
            "block_id",
            "ids",
            "lats",
            "lons",
            "keys_vals",
            "string_table",
            "granularity",
            "lat_offset",
            "lon_offset",
        ],
    )


def golden_multipolygon() -> dict[str, pd.DataFrame]:
    """Relation shaped like relation 2952 (PbfReaderSpec.scala:40-55):
    1 outer ring split across 2 open ways needing a reversal, 3 inner ways,
    plus an unclosed outer needing start-point repair
    (ComplexPolygonBuilder.scala:90-93)."""
    nodes = pd.DataFrame(
        [
            # outer square 0..3 + midpoints
            (100, 0.0, 0.0), (101, 2.0, 0.0), (102, 4.0, 0.0), (103, 4.0, 2.0),
            (104, 4.0, 4.0), (105, 2.0, 4.0), (106, 0.0, 4.0), (107, 0.0, 2.0),
            # inner triangle a
            (110, 1.0, 1.0), (111, 1.6, 1.0), (112, 1.3, 1.6),
            # inner triangle b
            (120, 2.4, 1.0), (121, 3.0, 1.0), (122, 2.7, 1.6),
            # inner square c
            (130, 1.5, 2.5), (131, 2.5, 2.5), (132, 2.5, 3.2), (133, 1.5, 3.2),
            # second relation: unclosed outer
            (200, 10.0, 10.0), (201, 12.0, 10.0), (202, 12.0, 12.0), (203, 10.0, 12.0),
        ],
        columns=["osm_id", "lon", "lat"],
    )
    nodes["name"] = None
    nodes["tags"] = [{} for _ in range(len(nodes))]
    ways = pd.DataFrame(
        [
            (300, None, [100, 101, 102, 103, 104], {}),          # outer half 1
            (301, None, [100, 107, 106, 105, 104], {}),          # outer half 2 (reversed orientation)
            (302, None, [110, 111, 112, 110], {}),               # inner a (closed)
            (303, None, [120, 121, 122, 120], {}),               # inner b
            (304, None, [130, 131, 132, 133, 130], {}),          # inner c
            (305, None, [200, 201, 202, 203], {}),               # unclosed outer (repair)
        ],
        columns=["osm_id", "name", "nodes", "tags"],
    )
    relations = pd.DataFrame(
        [
            (2952, "golden mp", "multipolygon", {"type": "multipolygon", "natural": "water"}),
            (2953, "repair mp", "multipolygon", {"type": "multipolygon", "landuse": "forest"}),
            # parent relation nesting both multipolygons (relations_relations)
            (2960, "collection", "boundary", {"type": "boundary"}),
        ],
        columns=["osm_id", "name", "type", "tags"],
    )
    relations_ways = pd.DataFrame(
        [
            (2952, 300, 0, "outer"),
            (2952, 301, 1, "outer"),
            (2952, 302, 2, "inner"),
            (2952, 303, 3, "inner"),
            (2952, 304, 4, "inner"),
            # duplicate membership -> keep-first dedupe (R27)
            (2952, 302, 5, "inner"),
            (2953, 305, 0, "outer"),
        ],
        columns=["relation_id", "way_id", "index", "role"],
    )
    relations_nodes = pd.DataFrame(
        [
            # label node for the golden mp + keep-first dedupe duplicate
            (2952, 110, 5, "label"),
            (2952, 110, 6, "label"),
            (2960, 100, 2, "admin_centre"),
        ],
        columns=["relation_id", "node_id", "index", "role"],
    )
    relations_relations = pd.DataFrame(
        [
            (2960, 2952, 0, "inner"),
            (2960, 2953, 1, "outer"),
            # duplicate membership -> keep-first dedupe
            (2960, 2952, 2, "inner"),
        ],
        columns=["parent_id", "child_id", "index", "role"],
    )
    return {
        "nodes": nodes,
        "ways": ways,
        "relations": relations,
        "relations_ways": relations_ways,
        "relations_nodes": relations_nodes,
        "relations_relations": relations_relations,
    }
