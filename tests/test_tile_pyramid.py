"""Tile pyramid, shard packing, and cell-mosaic invariants (the parts a
value oracle can't express: cross-level conservation and plan shape)."""

from __future__ import annotations

from pyspark.sql import functions as F

from fs2_osm_spark.queries.multimodal2 import (
    PYRAMID_ZOOMS,
    SHARD_BUDGET,
    img_shard_pack,
    img_tile_pyramid,
)
from fs2_osm_spark.synth.staging import N_FIXTURE_IMAGES


def test_pyramid_levels_conserve_mass(spark):
    pdf = img_tile_pyramid(spark, "unused").toPandas()
    for z in PYRAMID_ZOOMS:
        lvl = pdf[pdf.z == z]
        assert lvl.n_images.sum() == N_FIXTURE_IMAGES, z
        # rollup conserves the luma sum exactly (all-integer arithmetic)
        assert lvl.sum_luma_micro.sum() == pdf[pdf.z == 12].sum_luma_micro.sum()
    # coarser zooms have (weakly) fewer tiles; parents contain their children
    sizes = {z: (pdf.z == z).sum() for z in PYRAMID_ZOOMS}
    assert sizes[12] >= sizes[10] >= sizes[8]
    child = pdf[pdf.z == 12][["x", "y"]].assign(px=lambda d: d.x // 4, py=lambda d: d.y // 4)
    parents = set(map(tuple, pdf[pdf.z == 10][["x", "y"]].to_numpy()))
    assert set(map(tuple, child[["px", "py"]].to_numpy())) == parents


def test_pyramid_single_decode_pass(spark):
    """The pyramid plan must contain exactly ONE Python-worker stage (the
    decode map) — the z10/z8 levels aggregate partials, they never
    re-decode."""
    plan = img_tile_pyramid(spark, "unused")._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") + plan.count("MapInArrow") == 1, plan


def test_shard_pack_budget_and_order(spark):
    import pandas as pd

    from fs2_osm_spark.synth.staging import ensure_images_fixture

    pdf = img_shard_pack(spark, "unused").toPandas().sort_values("shard_id")
    assert pdf.n_images.sum() == N_FIXTURE_IMAGES
    # shards are contiguous id ranges: each shard's first id follows the
    # previous shard's last id lexicographically
    lasts = pdf.last_id.tolist()
    firsts = pdf.first_id.tolist()
    assert all(lasts[i] < firsts[i + 1] for i in range(len(pdf) - 1))
    # a shard overflows its budget by at most its final image: every image
    # in the shard STARTS inside the budget window, so shard_bytes minus
    # the last image's size is < SHARD_BUDGET for every shard
    sizes = pd.read_parquet(ensure_images_fixture(), columns=["image_id", "bytes"])
    sz = {r.image_id: len(r.bytes) for r in sizes.itertuples()}
    last_sz = pdf.last_id.map(sz)
    assert ((pdf.shard_bytes - last_sz) < SHARD_BUDGET).all()


def test_scene_cuts_match_construction(spark):
    """Detected cuts must be exactly the scene boundaries the generator
    drew (positions where a new scene base was sampled)."""
    from fs2_osm_spark.queries.multimodal2 import (
        N_SCENE_VIDEOS,
        SCENE_VIDEO_FRAMES,
        video_scene_cuts,
    )
    from fs2_osm_spark.synth.video import scene_lengths

    out = video_scene_cuts(spark, "unused").toPandas()
    assert len(out) == N_SCENE_VIDEOS * (SCENE_VIDEO_FRAMES - 1)
    for m in range(0, N_SCENE_VIDEOS, 7):
        lens = scene_lengths(m, SCENE_VIDEO_FRAMES)
        bounds = set()
        pos = 0
        for ln in lens[:-1]:
            pos += ln
            bounds.add(pos)
        got = set(
            out[(out.media_id == f"scn_{m:06d}") & out.is_cut].frame_idx.tolist()
        )
        assert got == bounds, (m, got, bounds)
