"""End-to-end PBF lifecycle: writer -> wire decode -> export -> flagship,
checked for parity with the direct (non-wire) path and for crash resume."""

from __future__ import annotations

import os
import tempfile

import numpy as np
import pytest
from pyspark.sql import functions as F

from fs2_osm_spark.plans.pbf_pipeline import frame_tables, run_pbf_pipeline
from fs2_osm_spark.sources.pbf_writer import write_osm_pbf
from tests.conftest import new_persistent_rdds, persistent_rdd_ids

N_ZONES = 48


@pytest.fixture(scope="module")
def pbf_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("pbf"))
    s = write_osm_pbf(spark, d, N_ZONES, n_files=6).collect()
    assert sum(r.n_zones for r in s) == N_ZONES
    assert len(s) == 6 and all(r.n_bytes > 100 for r in s)
    return d


def test_pbf_roundtrip_tables_match_synth(spark, pbf_dir):
    """The wire round trip reproduces the direct synth tables exactly —
    ids, tags, names, ordered refs, member split; coordinates on the
    standard 1e-7 deg lattice."""
    from fs2_osm_spark.synth.osm import osm_tables

    got = frame_tables(spark, pbf_dir)
    want = osm_tables(spark, N_ZONES)

    g = {r.osm_id: r for r in got["nodes"].collect()}
    w = {r.osm_id: r for r in want["nodes"].collect()}
    assert set(g) == set(w)
    for k in w:
        assert round(g[k].lon * 1e7) == round(w[k].lon * 1e7)
        assert round(g[k].lat * 1e7) == round(w[k].lat * 1e7)
        assert dict(g[k].tags or {}) == dict(w[k].tags or {})

    def norm(name, tags):
        # on the wire the name IS tags["name"] (real OSM shape); the synth
        # tables keep a derivative name column — normalize to compare
        t = dict(tags or {})
        if name:
            t["name"] = name
        return (t.get("name"), t)

    g = {r.osm_id: r for r in got["ways"].collect()}
    w = {r.osm_id: r for r in want["ways"].collect()}
    assert set(g) == set(w)
    for k in w:
        assert list(g[k].nodes) == list(w[k].nodes)  # order-bearing refs
        assert norm(g[k].name, g[k].tags) == norm(w[k].name, w[k].tags)

    g = {r.osm_id: (r.type,) + norm(r.name, r.tags)
         for r in got["relations"].collect()}
    w = {r.osm_id: (r.type,) + norm(r.name, r.tags)
         for r in want["relations"].collect()}
    assert g == w

    for tbl in ("relations_ways", "relations_nodes", "relations_relations"):
        g = sorted(map(tuple, got[tbl].collect()))
        w = sorted(map(tuple, want[tbl].collect()))
        assert g == w, tbl
        assert g, f"{tbl} must be exercised by the synth world"


def test_frame_tables_read_one_cached_entity_frame(spark, pbf_dir):
    """With the caller's pins, all six tables are projections of the one
    persisted entity frame: each file is parsed once per lifecycle run,
    not once per table."""
    from fs2_osm_spark.pins import Pins

    with Pins() as pins:
        for name, df in frame_tables(spark, pbf_dir, pins).items():
            plan = df._jdf.queryExecution().optimizedPlan().toString()
            assert plan.count("InMemoryRelation") == 1, (name, plan)


def test_wire_info_round_trip(spark, pbf_dir):
    """S10 for ways/relations: the writer stamps deterministic Info
    (synth_info_fields) on every way/relation; the frame readers must
    decode version/epoch_ms/changeset/uid/user back exactly."""
    from fs2_osm_spark.sources.pbf_frames import (
        read_relations_from_frames,
        read_ways_from_frames,
    )
    from fs2_osm_spark.sources.pbf_writer import synth_info_fields

    for df, id_col in (
        (read_ways_from_frames(spark, pbf_dir), "way_id"),
        (read_relations_from_frames(spark, pbf_dir), "relation_id"),
    ):
        rows = df.select(
            id_col, "version", "epoch_ms", "changeset", "uid", "user"
        ).collect()
        assert rows
        for r in rows:
            ver, ts, cs, uid, user = synth_info_fields(r[0])
            assert (r.version, r.epoch_ms, r.changeset, r.uid, r.user) == (
                ver, ts * 1000, cs, uid, user
            ), r[0]


def test_pbf_pipeline_summary_and_resume(spark, pbf_dir):
    """Full lifecycle golden counts: the export Summary from the wire path
    equals the direct path's Summary table-for-table; the flagship stage
    resumes idempotently after an injected crash. The second run finds its
    generated classes in the codegen cache: it compiles at most 10 (~140
    when the cache held Spark's default 100 entries)."""
    from fs2_osm_spark.plans.export import run_export
    from fs2_osm_spark.plans.lineage import LineageLog, read_all_batches
    from fs2_osm_spark.synth.osm import osm_tables

    with tempfile.TemporaryDirectory() as direct_root:
        t = osm_tables(spark, N_ZONES)
        want = run_export(
            spark, t["nodes"], t["ways"], t["relations"], t["relations_ways"],
            direct_root,
            relations_nodes=t["relations_nodes"],
            relations_relations=t["relations_relations"],
        )

    with tempfile.TemporaryDirectory() as root:
        # crash after 2 flagship batches
        with pytest.raises(RuntimeError, match="injected failure"):
            run_pbf_pipeline(
                spark, pbf_dir, root, n_images=400, n_batches=5, fail_after=2
            )
        flag_root = os.path.join(root, "flagship")
        assert len(LineageLog(spark, flag_root).completed()) == 2

        # resume: remaining batches only; export summary matches direct path
        codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        before = codegen.METRIC_COMPILATION_TIME().getCount()
        out = run_pbf_pipeline(spark, pbf_dir, root, n_images=400, n_batches=5)
        assert codegen.METRIC_COMPILATION_TIME().getCount() - before <= 10
        assert out["summary"] == want
        assert out["batches"] == 3

        joined = read_all_batches(spark, flag_root)
        n_joined = joined.count()
        assert n_joined > 0
        # a point may sit in several overlapping polygons, but each
        # (image, polygon) pair appears exactly once across all batches
        assert joined.select("image_id", "polygon_id").distinct().count() == n_joined

        # idempotent: nothing left
        again = run_pbf_pipeline(spark, pbf_dir, root, n_images=400, n_batches=5)
        assert again["batches"] == 0


def test_pbf_pipeline_stitches_multipolygons_once(spark, pbf_dir, tmp_path,
                                                monkeypatch):
    """One lifecycle run builds the multipolygon stitch once: the flagship
    corpus is the union of the export's Phase B pins, not a second
    assembly of the raw tables. Every module that imported
    build_multipolygons is patched to count its calls."""
    import sys

    import fs2_osm_spark.plans.export  # noqa: F401 — patched below if it imports it
    from fs2_osm_spark.operators import assembly

    real = assembly.build_multipolygons
    calls = []

    def counted(*args, **kwargs):
        calls.append(1)
        return real(*args, **kwargs)

    for name, mod in list(sys.modules.items()):
        if name.startswith("fs2_osm_spark") and getattr(
            mod, "build_multipolygons", None
        ) is real:
            monkeypatch.setattr(mod, "build_multipolygons", counted)
    out = run_pbf_pipeline(spark, pbf_dir, str(tmp_path), n_images=200, n_batches=2)
    assert out["batches"] == 2 and out["summary"]["polygons"] > 0
    assert len(calls) == 1


def test_pbf_pipeline_releases_its_pins(spark, pbf_dir, tmp_path, monkeypatch):
    """A lifecycle run leaves no persistent RDD behind: the entity frame
    and the export's lines/multipolygon pins are released after the corpus
    is collected, and on a failing export sink or flagship batch too."""
    from fs2_osm_spark.plans import export as export_mod

    before = persistent_rdd_ids(spark)
    run_pbf_pipeline(spark, pbf_dir, str(tmp_path / "ok"), n_images=200, n_batches=2)
    assert not new_persistent_rdds(spark, before, 0)

    with pytest.raises(RuntimeError, match="injected failure"):
        run_pbf_pipeline(spark, pbf_dir, str(tmp_path / "crash"), n_images=200,
                         n_batches=2, fail_after=1)
    assert not new_persistent_rdds(spark, before, 0)

    real_write = export_mod.write_table

    def failing_write(df, path, mode="overwrite"):
        if path.endswith("/waters"):
            raise RuntimeError("injected sink failure")
        return real_write(df, path, mode)

    monkeypatch.setattr(export_mod, "write_table", failing_write)
    with pytest.raises(RuntimeError, match="injected sink failure"):
        run_pbf_pipeline(spark, pbf_dir, str(tmp_path / "sink"), n_images=200,
                         n_batches=2)
    assert not new_persistent_rdds(spark, before, 0)


@pytest.fixture
def counted_reads():
    """Switch the engine to a parquet table format whose reader records
    the path of every read; yields that list."""
    from fs2_osm_spark import catalog

    reads: list[str] = []

    def read(sp, path):
        reads.append(path)
        return catalog.READERS["parquet"](sp, path)

    catalog.WRITERS["counted"] = catalog.WRITERS["parquet"]
    catalog.READERS["counted"] = read
    catalog.set_table_format("counted")
    try:
        yield reads
    finally:
        catalog.set_table_format("parquet")
        del catalog.WRITERS["counted"], catalog.READERS["counted"]


def test_run_export_reads_no_table_back(spark, tmp_path, counted_reads):
    """Each export table is written once and read by nobody: Phase B
    consumes the caller's frames, and the Summary is the one the parquet
    format gives."""
    from fs2_osm_spark import catalog
    from fs2_osm_spark.plans.export import run_export
    from fs2_osm_spark.synth.osm import osm_tables

    t = osm_tables(spark, 16)

    def export(root):
        return run_export(
            spark, t["nodes"], t["ways"], t["relations"], t["relations_ways"],
            str(tmp_path / root),
            relations_nodes=t["relations_nodes"],
            relations_relations=t["relations_relations"],
        )

    got = export("counted")
    assert counted_reads == []
    catalog.set_table_format("parquet")
    assert got == export("parquet")


def test_pbf_pipeline_reads_only_its_lineage_log(spark, pbf_dir, tmp_path,
                                                 counted_reads):
    """The lifecycle reads no exported table back: the polygon corpus comes
    from the pinned entity frame, so the only reads are the flagship's
    lineage log."""
    root = str(tmp_path)
    out = run_pbf_pipeline(spark, pbf_dir, root, n_images=200, n_batches=2)
    assert out["batches"] == 2 and out["summary"]["ways"] > 0
    lineage = os.path.join(root, "flagship", "_lineage")
    assert counted_reads and all(p.startswith(lineage) for p in counted_reads)
