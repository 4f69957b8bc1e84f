"""Intrinsic invariants of the geospatial kernels (SURVEY.md §5 tier-1
analogue of DenseNodeStreamSpec golden-value tests)."""

from __future__ import annotations

import math

import numpy as np
import pytest

from fs2_osm_spark.functions import s2 as s2m
from fs2_osm_spark.functions.hex import (
    MAX_RES,
    hex_cell_np,
    hex_center_np,
    hex_size,
    kring_offsets,
    pack_cell,
    unpack_cell,
)
from fs2_osm_spark.functions.pip import PolygonSet, polygon_contains, ring_contains

RNG = np.random.default_rng(42)
N = 2000
LONS = RNG.uniform(-179, 179, N)
LATS = RNG.uniform(-84, 84, N)


# ---------------------------------------------------------------- tiles ----
def _tile_ref(lon, lat, z):
    lat = max(min(lat, 85.05112878), -85.05112878)
    n = 1 << z
    x = min(max(int(math.floor((lon + 180.0) / 360.0 * n)), 0), n - 1)
    merc = math.log(math.tan(math.radians(lat)) + 1.0 / math.cos(math.radians(lat)))
    y = min(max(int(math.floor((1.0 - merc / math.pi) / 2.0 * n)), 0), n - 1)
    return x, y


def test_tile_known_values():
    assert _tile_ref(0.0, 0.0, 1) == (1, 1)  # equator = boundary, floor -> south
    assert _tile_ref(0.0, 1e-7, 1) == (1, 0)
    assert _tile_ref(13.4, 52.5, 10) == (550, 335)  # Berlin-ish, standard slippy
    assert _tile_ref(-180.0, 85.06, 3) == (0, 0)


def test_tile_column_matches_reference(spark):
    from pyspark.sql import functions as F

    from fs2_osm_spark.functions.geo import tile_xyz

    rows = [(float(lo), float(la)) for lo, la in zip(LONS[:200], LATS[:200])]
    df = spark.createDataFrame(rows, "lon double, lat double")
    x, y = tile_xyz(F.col("lon"), F.col("lat"), 12)
    got = df.select("lon", "lat", x.alias("x"), y.alias("y")).collect()
    for r in got:
        assert (r.x, r.y) == _tile_ref(r.lon, r.lat, 12), (r.lon, r.lat)


# ----------------------------------------------------------------- hex -----
def test_hex_pack_roundtrip():
    for res, q, r in [(0, 0, 0), (7, -12345, 999), (12, 2**24, -(2**24))]:
        assert unpack_cell(pack_cell(res, q, r)) == (res, q, r)


def test_hex_center_maps_back():
    for res in (5, 7, 9, 11):
        cells = hex_cell_np(LONS, LATS, res)
        clon, clat = hex_center_np(cells)
        again = hex_cell_np(clon, clat, res)
        assert (cells == again).all()


def test_hex_cell_size_shrinks_aperture7():
    assert hex_size(8) == pytest.approx(hex_size(7) / math.sqrt(7))


def test_hex_nearby_points_share_cell_far_points_dont():
    res = 8
    s = hex_size(res)
    base = hex_cell_np(np.array([10.0]), np.array([50.0]), res)
    near = hex_cell_np(np.array([10.0 + s * 0.01]), np.array([50.0 + s * 0.01]), res)
    far = hex_cell_np(np.array([10.0 + 5 * s]), np.array([50.0]), res)
    assert base[0] == near[0]
    assert base[0] != far[0]


def test_kring_count():
    for k in range(4):
        assert len(kring_offsets(k)) == 3 * k * k + 3 * k + 1


def test_hex_column_matches_numpy(spark):
    from pyspark.sql import functions as F

    from fs2_osm_spark.functions.hex import hex_cell

    rows = [(float(lo), float(la)) for lo, la in zip(LONS[:500], LATS[:500])]
    df = spark.createDataFrame(rows, "lon double, lat double")
    for res in (7, 10):
        got = np.array(
            [r.c for r in df.select(hex_cell(F.col("lon"), F.col("lat"), res).alias("c")).collect()]
        )
        want = hex_cell_np(np.array([r[0] for r in rows]), np.array([r[1] for r in rows]), res)
        assert (got == want).all()


def test_hex_parent_contains_child_center(spark):
    from pyspark.sql import functions as F

    from fs2_osm_spark.functions.hex import hex_cell, hex_parent

    rows = [(float(lo), float(la)) for lo, la in zip(LONS[:300], LATS[:300])]
    df = spark.createDataFrame(rows, "lon double, lat double")
    child = hex_cell(F.col("lon"), F.col("lat"), 9)
    parent = hex_parent(child, 8, child_res=9)
    got = df.select(child.alias("child"), parent.alias("parent")).collect()
    childs = np.array([r.child for r in got], dtype=np.int64)
    parents = np.array([r.parent for r in got], dtype=np.int64)
    clon, clat = hex_center_np(childs)
    expect = hex_cell_np(clon, clat, 8)
    assert (parents == expect).all()


def test_hex_arguments_out_of_range_raise(spark):
    """res 13 would overflow the cell-id packing; a parent must be coarser
    than its child. Each raises ValueError, also through knn_kring's res."""
    from pyspark.sql import functions as F

    from fs2_osm_spark.functions.hex import hex_cell, hex_parent
    from fs2_osm_spark.operators.knn import knn_kring

    with pytest.raises(ValueError, match="res"):
        hex_cell(F.col("lon"), F.col("lat"), 13)
    with pytest.raises(ValueError, match="parent_res"):
        hex_parent(F.col("cell"), 9, child_res=9)
    pts = spark.createDataFrame([(0, 9.2, 52.2)], "id long, lon double, lat double")
    with pytest.raises(ValueError, match="res"):
        knn_kring(pts.withColumnRenamed("id", "query_id"),
                  pts.withColumnRenamed("id", "target_id"), k=1, res=13)


# ------------------------------------------------------------------ s2 -----
def test_s2_level_out_of_range_raises():
    with pytest.raises(ValueError, match="level"):
        s2m.s2_cell_np(LONS, LATS, 31)
    leaf = s2m.s2_cell_np(LONS, LATS, 30)
    for level in (-1, 31):
        with pytest.raises(ValueError, match="level"):
            s2m.s2_parent(leaf, level)


def test_s2_level_and_parent():
    for level in (10, 16, 30):
        cells = s2m.s2_cell_np(LONS, LATS, level)
        assert (s2m.s2_level(cells) == level).all()
    leaf = s2m.s2_cell_np(LONS, LATS, 30)
    for level in (8, 12, 20):
        direct = s2m.s2_cell_np(LONS, LATS, level)
        via_parent = s2m.s2_parent(leaf, level)
        assert (direct == via_parent).all()


def test_s2_all_faces_hit():
    faces = (np.asarray(s2m.s2_cell_np(LONS, LATS, 30)).view(np.uint64) >> np.uint64(61))
    assert set(faces.tolist()) == {0, 1, 2, 3, 4, 5}


def test_s2_locality():
    # two points 0.001 deg apart share a level-12 cell almost always;
    # antipodal points never share level-2
    a = s2m.s2_cell_np(np.array([10.0]), np.array([50.0]), 12)
    b = s2m.s2_cell_np(np.array([10.0001]), np.array([50.0001]), 12)
    c = s2m.s2_cell_np(np.array([-170.0]), np.array([-50.0]), 2)
    d = s2m.s2_cell_np(np.array([10.0]), np.array([50.0]), 2)
    assert a[0] == b[0]
    assert c[0] != d[0]


def test_s2_deterministic_and_distinct():
    cells = s2m.s2_cell_np(LONS, LATS, 30)
    again = s2m.s2_cell_np(LONS, LATS, 30)
    assert (cells == again).all()
    assert len(np.unique(cells)) == N  # leaf cells of random points are distinct


def test_s2_token_roundtrip_shape():
    toks = s2m.s2_token(s2m.s2_cell_np(LONS[:5], LATS[:5], 12))
    assert all(1 <= len(t) <= 16 for t in toks)


# ----------------------------------------------------------------- pip -----
SQUARE = np.array([0.0, 0.0, 4.0, 0.0, 4.0, 4.0, 0.0, 4.0])
HOLE = np.array([1.0, 1.0, 3.0, 1.0, 3.0, 3.0, 1.0, 3.0])


def test_ring_contains_basic():
    px = np.array([2.0, 5.0, -1.0, 2.0])
    py = np.array([2.0, 2.0, 2.0, 5.0])
    assert ring_contains(SQUARE, px, py).tolist() == [True, False, False, False]


def test_polygon_with_hole():
    px = np.array([2.0, 0.5, 3.5])
    py = np.array([2.0, 0.5, 3.5])
    got = polygon_contains(SQUARE, [HOLE], px, py)
    assert got.tolist() == [False, True, True]


def test_ring_closed_or_open_same_result():
    closed = np.concatenate([SQUARE, SQUARE[:2]])
    px = RNG.uniform(-1, 5, 200)
    py = RNG.uniform(-1, 5, 200)
    assert (ring_contains(SQUARE, px, py) == ring_contains(closed, px, py)).all()


def test_shared_edge_single_assignment():
    """A point on a shared boundary belongs to exactly one of two abutting
    polygons (half-open convention) — required for partition-consistent PIP."""
    left = np.array([0.0, 0.0, 2.0, 0.0, 2.0, 4.0, 0.0, 4.0])
    right = np.array([2.0, 0.0, 4.0, 0.0, 4.0, 4.0, 2.0, 4.0])
    px = np.array([2.0, 2.0, 2.0])
    py = np.array([1.0, 2.0, 3.9])
    inl = ring_contains(left, px, py)
    inr = ring_contains(right, px, py)
    assert ((inl.astype(int) + inr.astype(int)) == 1).all()


def test_polygon_set_match():
    ps = PolygonSet(
        ids=[101, 102],
        outers=[SQUARE, SQUARE + 10.0],
        inners=[[HOLE], []],
    )
    px = np.array([2.0, 0.5, 12.0, 50.0])
    py = np.array([2.0, 0.5, 12.0, 50.0])
    pt_idx, poly_id = ps.match(px, py)
    pairs = sorted(zip(pt_idx.tolist(), poly_id.tolist()))
    assert pairs == [(1, 101), (2, 102)]


def test_hex_equalarea_parity_and_uniformity(spark):
    """Column / numpy / SQL equal-area variants agree bit-for-bit, and the
    cos(lat) scaling actually equalizes per-cell ground area: the count of
    distinct cells covering a fixed lon x lat window at lat 60 matches the
    equator count within 10% (the planar grid would differ by ~2x)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from fs2_osm_spark.functions.hex import hex_cell_ea, hex_cell_ea_np, hex_cell_np

    rng = np.random.default_rng(7)
    lon = rng.uniform(-30, 30, 4000)
    lat = rng.uniform(-65, 65, 4000)
    pdf = pd.DataFrame({"lon": lon, "lat": lat})
    df = spark.createDataFrame(pdf)
    got = np.array(
        [r.c for r in df.select(hex_cell_ea(F.col("lon"), F.col("lat"), 8).alias("c"))
         .collect()]
    )
    want = hex_cell_ea_np(lon, lat, 8)
    assert (np.sort(got) == np.sort(want)).all()

    def n_cells(fn, lat0):
        # fixed GROUND-area window: lon span grows by 1/cos(lat) so the
        # window covers the same km^2 at every latitude
        span = 2.0 / np.cos(np.radians(lat0 + 0.5))
        gx, gy = np.meshgrid(
            np.linspace(0, span, 400), np.linspace(lat0, lat0 + 1.0, 200)
        )
        return len(np.unique(fn(gx.ravel(), gy.ravel(), 6)))

    eq, high = n_cells(hex_cell_ea_np, 0.0), n_cells(hex_cell_ea_np, 60.0)
    assert abs(high - eq) / eq < 0.10  # equal-area: same cells per km^2
    p_eq, p_high = n_cells(hex_cell_np, 0.0), n_cells(hex_cell_np, 60.0)
    assert p_high / p_eq > 1.7  # planar: ~2x the cells for the same ground


def test_flagship_band_planar_grid_skew_bounded():
    """Validity of the flagship's PLANAR hex grid: across the synthetic
    corpus' actual latitude extent, planar cell ground area varies by
    cos(lat_min)/cos(lat_max), which must stay under 10%. (Membership is
    decided by the exact ray cast, so the grid can never change join
    results — this pins the efficiency premise; a corpus that left the band
    should switch to hex_cell_ea.)"""
    from fs2_osm_spark.synth.images import coords_for_ids

    ids = np.arange(100_000, dtype=np.int64)
    _, lat = coords_for_ids(ids)
    lo, hi = float(np.min(lat)), float(np.max(lat))
    skew = math.cos(math.radians(lo)) / math.cos(math.radians(hi))
    assert skew < 1.10, (lo, hi, skew)


def test_kring_knn_equal_area_high_latitude_matches_brute_force(spark):
    """EA-grid k-ring kNN recall at lat ~64N, where a planar ring's
    east-west ground coverage has shrunk to cos(64) = 44%: with the
    equal-area index the same ring radius still yields the exact kNN."""
    import pandas as pd
    from pyspark.sql import functions as F  # noqa: F401

    from fs2_osm_spark.operators.knn import knn_brute_force, knn_kring

    rng = np.random.default_rng(21)
    t_lon = rng.uniform(20.0, 21.4, 400)
    t_lat = rng.uniform(63.7, 64.3, 400)
    targets = spark.createDataFrame(
        pd.DataFrame({"target_id": np.arange(400), "lon": t_lon, "lat": t_lat})
    )
    queries = spark.createDataFrame(
        pd.DataFrame(
            {"query_id": np.arange(25),
             "lon": rng.uniform(20.2, 21.2, 25),
             "lat": rng.uniform(63.8, 64.2, 25)}
        )
    )
    got = sorted(
        (r.query_id, r.rank, r.target_id)
        for r in knn_kring(
            queries, targets, k=3, res=4, ring=3, equal_area=True
        ).collect()
    )
    want = sorted(
        (r.query_id, r.rank, r.target_id)
        for r in knn_brute_force(queries, targets, k=3).collect()
    )
    assert got == want and len(got) == 75
