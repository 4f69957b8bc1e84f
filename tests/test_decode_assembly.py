"""Decode-contract golden tests (DenseNodeStreamSpec analogues) and geometry
assembly tests against the hand-built multipolygon fixture."""

from __future__ import annotations

import numpy as np
import pytest

from fs2_osm_spark.operators.assembly import (
    build_multipolygons,
    build_osm_lines,
    feature_polygons,
    simple_polygons,
)
from fs2_osm_spark.sources.dense_decode import (
    decode_dense_block_np,
    decode_dense_blocks,
    decode_delta_refs,
)
from fs2_osm_spark.synth.osm import (
    RELATIONS_SCHEMA,
    RELATIONS_WAYS_SCHEMA,
    WAYS_SCHEMA,
    NODES_SCHEMA,
    golden_dense_blocks,
    golden_multipolygon,
    osm_tables,
)


# ------------------------------------------------------------- decode ------
def test_id_delta_chain():
    # DenseNodeStreamSpec.scala:22-29
    out = decode_dense_block_np(
        ids=[42, 1, 2],
        lats=[0, 0, 0],
        lons=[0, 0, 0],
        keys_vals=[],
        string_table=[""],
    )
    assert out["osm_id"].tolist() == [42, 43, 45]


def test_coordinate_scaling_defaults():
    # DenseNodeStreamSpec.scala:31-46: granularity 100, offsets 0
    out = decode_dense_block_np(
        ids=[1, 1, 1],
        lats=[530000000, 10000000, 2000000],
        lons=[100000000, 0, 0],
        keys_vals=[],
        string_table=[""],
    )
    assert out["lat"].tolist() == pytest.approx([53.0, 54.0, 54.2])
    assert out["lon"].tolist() == pytest.approx([10.0, 10.0, 10.0])


def test_coordinate_scaling_custom_offsets():
    # DenseNodeStreamSpec.scala:48-76: custom granularity + offsets
    out = decode_dense_block_np(
        ids=[7],
        lats=[10000000],
        lons=[10000000],
        keys_vals=[],
        string_table=[""],
        granularity=200,
        lat_offset=500000000,
        lon_offset=-300000000,
    )
    assert out["lat"].iloc[0] == pytest.approx(2.5)
    assert out["lon"].iloc[0] == pytest.approx(1.7)


def test_tag_decode_and_last_write_wins():
    out = decode_dense_block_np(
        ids=[1, 1],
        lats=[0, 0],
        lons=[0, 0],
        # node0: amenity=cafe, amenity=bar (dup key -> last wins), name=x
        keys_vals=[1, 2, 1, 3, 4, 5, 0, 0],
        string_table=["", "amenity", "cafe", "bar", "name", "x"],
    )
    assert out["tags"].iloc[0] == {"amenity": "bar", "name": "x"}
    assert out["name"].iloc[0] == "x"
    assert out["tags"].iloc[1] == {}


@pytest.mark.parametrize(
    "keys_vals, match",
    [
        ([1, 2, 0, 1, 2], "without a closing 0"),
        ([1, 2], "without a closing 0"),
        ([1, 2, 0, 0, 0], "3 tag segments for 2 nodes"),
    ],
)
def test_malformed_dense_tag_stream_raises(keys_vals, match):
    """keys_vals comes from foreign PBF files: a stream that does not split
    into one 0-closed segment per node must fail by name, not drop tags."""
    with pytest.raises(ValueError, match=match):
        decode_dense_block_np(
            ids=[1, 1], lats=[0, 0], lons=[0, 0],
            keys_vals=keys_vals, string_table=["", "k", "v"],
        )


def test_way_refs_delta():
    assert decode_delta_refs([100, 2, -1, 5]) == [100, 102, 101, 106]


def test_decode_dense_blocks_spark(spark):
    blocks = spark.createDataFrame(golden_dense_blocks())
    out = decode_dense_blocks(blocks).orderBy("osm_id").collect()
    assert [r.osm_id for r in out] == [7, 10, 42, 43, 45]
    by_id = {r.osm_id: r for r in out}
    assert by_id[42].lat == pytest.approx(53.0)
    assert by_id[43].lat == pytest.approx(54.0)
    assert by_id[45].lat == pytest.approx(54.2)
    assert by_id[42].tags == {"amenity": "cafe"}
    assert by_id[7].lat == pytest.approx(2.5)
    assert by_id[7].lon == pytest.approx(1.7)


# ----------------------------------------------------------- assembly ------
@pytest.fixture(scope="module")
def golden_dfs(spark):
    g = golden_multipolygon()
    return {
        "nodes": spark.createDataFrame(g["nodes"], NODES_SCHEMA),
        "ways": spark.createDataFrame(g["ways"], WAYS_SCHEMA),
        "relations": spark.createDataFrame(g["relations"], RELATIONS_SCHEMA),
        "relations_ways": spark.createDataFrame(
            g["relations_ways"], RELATIONS_WAYS_SCHEMA
        ),
    }


def test_osm_lines_order_and_closure(golden_dfs):
    lines = {r.way_id: r for r in build_osm_lines(golden_dfs["ways"], golden_dfs["nodes"]).collect()}
    # way 300: open, 5 pts in index order
    assert lines[300].n_pts == 5
    assert not lines[300].is_closed
    assert lines[300].geom[:4] == [0.0, 0.0, 2.0, 0.0]
    # way 302: closed triangle (4 pts, first==last)
    assert lines[302].is_closed
    assert lines[302].n_pts == 4


def test_multipolygon_stitching(golden_dfs):
    lines = build_osm_lines(golden_dfs["ways"], golden_dfs["nodes"])
    mps = build_multipolygons(
        golden_dfs["relations"], golden_dfs["relations_ways"], lines
    ).collect()
    by_id = {r.polygon_id: r for r in mps}
    assert set(by_id) == {2952, 2953}

    g = by_id[2952]
    outer = np.asarray(g.outer).reshape(-1, 2)
    # stitched from 2 open ways with one reversal: closed ring over the 8
    # perimeter nodes (+ repeated first)
    assert (outer[0] == outer[-1]).all()
    assert len(outer) == 9
    # inner rings: 2 closed triangles (4 pts each) + square hole (5 pts),
    # all pass the >3-points rule; duplicate membership of way 302 deduped
    assert len(g.inners) == 3

    r = by_id[2953]
    router = np.asarray(r.outer).reshape(-1, 2)
    # unclosed outer repaired by appending start point
    assert (router[0] == router[-1]).all()
    assert len(router) == 5


def test_multipolygon_inner_min_vertex_rule(golden_dfs):
    """Triangles close to 4 points (3 distinct + closure); rule is
    n_pts > 3 on the ring array, so closed triangles (4 pts) survive,
    matching ComplexPolygonBuilder.scala:116-130 counting geometry points."""
    lines = build_osm_lines(golden_dfs["ways"], golden_dfs["nodes"])
    mps = build_multipolygons(
        golden_dfs["relations"], golden_dfs["relations_ways"], lines
    ).collect()
    g = {r.polygon_id: r for r in mps}[2952]
    assert len(g.inners) == 3


def test_simple_polygons_predicate_every_branch(spark, golden_dfs):
    """Golden transcription check of the taggedPolygons whitelist
    (PolygonFeature.scala:48-69): one closed way per predicate branch, plus
    near-miss exclusions (values outside each IN-list, bare keys the
    reference does NOT admit, the area='no' guard, open ways)."""
    import pandas as pd

    from fs2_osm_spark.operators.assembly import (
        POLYGON_KEYS,
        POLYGON_VALUE_IN,
    )

    ring = [100, 101, 102, 103, 100]
    rows, expect = [], set()
    wid = 400
    # every key-presence branch passes
    for k in POLYGON_KEYS:
        rows.append((wid, None, ring, {k: "x"}))
        expect.add(wid)
        wid += 1
    # every value-IN branch passes, value by value
    for k, values in POLYGON_VALUE_IN.items():
        for v in values:
            rows.append((wid, None, ring, {k: v}))
            expect.add(wid)
            wid += 1
    # near-miss exclusions: same keys, values outside the IN-lists
    for k, v in [
        ("waterway", "river"),
        ("highway", "residential"),
        ("railway", "rail"),
        ("leisure", "park"),
        ("natural", "coastline"),
        ("natural", "shoal"),  # was wrongly whitelisted before this fix
        ("aeroway", "runway"),
        ("water", "lake"),  # bare water key is NOT in the reference list
    ]:
        rows.append((wid, None, ring, {k: v}))
        wid += 1
    # area='no' suppresses; area present-but-not-'no' does not
    rows.append((wid, None, ring, {"building": "yes", "area": "no"}))
    wid += 1
    rows.append((wid, None, ring, {"building": "yes", "area": "yes"}))
    expect.add(wid)
    wid += 1
    # open way never a polygon
    rows.append((wid, None, [100, 101, 102, 103], {"building": "yes"}))
    wid += 1

    ways = spark.createDataFrame(
        pd.DataFrame(rows, columns=["osm_id", "name", "nodes", "tags"]),
        WAYS_SCHEMA,
    )
    lines = build_osm_lines(ways, golden_dfs["nodes"])
    polys = {r.polygon_id for r in simple_polygons(lines).collect()}
    assert polys == expect
    # 9 keys + (1 + 3 + 1 + 3 + 22 + 1) value branches + area!=no = 41 ways
    assert len(expect) == 41


def test_feature_polygons_union(golden_dfs):
    out = feature_polygons(
        golden_dfs["ways"],
        golden_dfs["nodes"],
        golden_dfs["relations"],
        golden_dfs["relations_ways"],
    ).collect()
    ids = {r.polygon_id for r in out}
    assert 2952 in ids and 2953 in ids


# ------------------------------------------------- scalable generation -----
def test_osm_tables_partition_invariance(spark):
    a = osm_tables(spark, n_zones=64, partitions=2)
    b = osm_tables(spark, n_zones=64, partitions=8)
    for t in ("nodes", "ways", "relations", "relations_ways"):
        ra = sorted([tuple(str(x) for x in r) for r in a[t].collect()])
        rb = sorted([tuple(str(x) for x in r) for r in b[t].collect()])
        assert ra == rb, t


def test_osm_tables_assembly_end_to_end(spark):
    t = osm_tables(spark, n_zones=64, partitions=4)
    polys = feature_polygons(
        t["ways"], t["nodes"], t["relations"], t["relations_ways"]
    )
    rows = polys.collect()
    assert len(rows) > 64  # every zone ring + multipolygons
    mp = [r for r in rows if r.polygon_id >= 30_000_000]
    assert len(mp) == 8  # zones 0,8,...,56
    for r in mp:
        outer = np.asarray(r.outer).reshape(-1, 2)
        assert (outer[0] == outer[-1]).all()
        assert len(r.inners) == 1


def test_multipolygon_two_outers_hole_assignment(spark):
    """R19 grouping: each hole lands in its containing outer ring."""
    import pandas as pd

    nodes = pd.DataFrame(
        [
            # outer A: square (0,0)-(4,4); its hole at (1..2)
            (500, 0.0, 0.0), (501, 4.0, 0.0), (502, 4.0, 4.0), (503, 0.0, 4.0),
            (510, 1.0, 1.0), (511, 2.0, 1.0), (512, 2.0, 2.0), (513, 1.0, 2.0),
            # outer B: square (10,10)-(14,14); its hole at (11..12)
            (520, 10.0, 10.0), (521, 14.0, 10.0), (522, 14.0, 14.0), (523, 10.0, 14.0),
            (530, 11.0, 11.0), (531, 12.0, 11.0), (532, 12.0, 12.0), (533, 11.0, 12.0),
        ],
        columns=["osm_id", "lon", "lat"],
    )
    nodes["name"] = None
    nodes["tags"] = [{} for _ in range(len(nodes))]
    ways = pd.DataFrame(
        [
            (600, None, [500, 501, 502, 503, 500], {}),
            (601, None, [510, 511, 512, 513, 510], {}),
            (602, None, [520, 521, 522, 523, 520], {}),
            (603, None, [530, 531, 532, 533, 530], {}),
        ],
        columns=["osm_id", "name", "nodes", "tags"],
    )
    relations = pd.DataFrame(
        [(700, "two outers", "multipolygon", {"type": "multipolygon"})],
        columns=["osm_id", "name", "type", "tags"],
    )
    relations_ways = pd.DataFrame(
        [
            (700, 600, 0, "outer"),
            (700, 601, 1, "inner"),
            (700, 602, 2, "outer"),
            (700, 603, 3, "inner"),
        ],
        columns=["relation_id", "way_id", "index", "role"],
    )
    lines = build_osm_lines(
        spark.createDataFrame(ways, WAYS_SCHEMA),
        spark.createDataFrame(nodes, NODES_SCHEMA),
    )
    mps = build_multipolygons(
        spark.createDataFrame(relations, RELATIONS_SCHEMA),
        spark.createDataFrame(relations_ways, RELATIONS_WAYS_SCHEMA),
        lines,
    ).collect()
    assert len(mps) == 2
    for r in mps:
        outer = np.asarray(r.outer).reshape(-1, 2)
        assert len(r.inners) == 1
        hole = np.asarray(r.inners[0]).reshape(-1, 2)
        # hole's first vertex inside this row's outer bbox
        assert outer[:, 0].min() < hole[0, 0] < outer[:, 0].max()
        assert outer[:, 1].min() < hole[0, 1] < outer[:, 1].max()


def test_nested_outer_hole_goes_to_innermost(spark):
    """A hole inside two nested outer rings belongs to the SMALLEST
    (innermost) containing outer, and rings get distinct ring_no values."""
    import pandas as pd

    nodes = pd.DataFrame(
        [
            # big outer (0,0)-(10,10); nested outer (2,2)-(8,8); hole (4..5)
            (800, 0.0, 0.0), (801, 10.0, 0.0), (802, 10.0, 10.0), (803, 0.0, 10.0),
            (810, 2.0, 2.0), (811, 8.0, 2.0), (812, 8.0, 8.0), (813, 2.0, 8.0),
            (820, 4.0, 4.0), (821, 5.0, 4.0), (822, 5.0, 5.0), (823, 4.0, 5.0),
        ],
        columns=["osm_id", "lon", "lat"],
    )
    nodes["name"] = None
    nodes["tags"] = [{} for _ in range(len(nodes))]
    ways = pd.DataFrame(
        [
            (900, None, [800, 801, 802, 803, 800], {}),
            (901, None, [810, 811, 812, 813, 810], {}),
            (902, None, [820, 821, 822, 823, 820], {}),
        ],
        columns=["osm_id", "name", "nodes", "tags"],
    )
    relations = pd.DataFrame(
        [(950, "nested", "multipolygon", {"type": "multipolygon"})],
        columns=["osm_id", "name", "type", "tags"],
    )
    relations_ways = pd.DataFrame(
        [(950, 900, 0, "outer"), (950, 901, 1, "outer"), (950, 902, 2, "inner")],
        columns=["relation_id", "way_id", "index", "role"],
    )
    lines = build_osm_lines(
        spark.createDataFrame(ways, WAYS_SCHEMA),
        spark.createDataFrame(nodes, NODES_SCHEMA),
    )
    mps = build_multipolygons(
        spark.createDataFrame(relations, RELATIONS_SCHEMA),
        spark.createDataFrame(relations_ways, RELATIONS_WAYS_SCHEMA),
        lines,
    ).collect()
    assert len(mps) == 2
    assert sorted(r.ring_no for r in mps) == [0, 1]
    by_ring = {r.ring_no: r for r in mps}
    # ring_no 0 = largest outer (area order); hole must sit on the nested one
    assert np.asarray(by_ring[0].outer)[0::2].max() == 10.0
    assert len(by_ring[0].inners) == 0
    assert len(by_ring[1].inners) == 1


def test_highways_nodes_and_admin_boundaries(spark):
    """highways_nodes membership (HighwayFeature.scala:32-34) and the
    two-pass administrative_boundaries (closed ways + relation ST_Collect,
    AdministrativeBoundaryFeature.scala:38-106) over the synthetic world."""
    from fs2_osm_spark.operators.assembly import all_polygons
    from fs2_osm_spark.plans.features import admin_boundaries, highways_nodes

    t = osm_tables(spark, n_zones=40, partitions=4)
    lines = build_osm_lines(t["ways"], t["nodes"])

    hn = highways_nodes(t["ways"]).collect()
    # 40 zones cycle 5 LINE_THEMES: 2 highway themes -> 16 road ways x 3 nodes
    assert len(hn) == 16 * 3
    assert {r["index"] for r in hn} == {0, 1, 2}

    ab = admin_boundaries(lines, t["relations"], t["relations_ways"]).collect()
    # zones 9,19,29,39: each yields one closed-way row + one relation row
    way_rows = [r for r in ab if len(r.geoms) == 1]
    rel_rows = [r for r in ab if len(r.geoms) == 2]
    assert len(way_rows) == 4 and len(rel_rows) == 4
    for r in rel_rows:
        assert r.admin_level is not None
        # member order: ring way (9 pts) first, road way (3 pts) second
        assert len(r.geoms[0]) == 18 and len(r.geoms[1]) == 6
