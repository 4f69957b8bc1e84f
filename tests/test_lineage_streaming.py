"""Lineage checkpoint/resume semantics + Structured Streaming parity with
batch results."""

from __future__ import annotations

import os
import tempfile

import pandas as pd
import pytest
from pyspark.sql import functions as F

from fs2_osm_spark.plans.lineage import LineageLog, read_all_batches, run_batched
from fs2_osm_spark.streaming.events import (
    stream_dedupe_counts,
    windowed_event_counts,
)
from tests.conftest import SF_SMOKE


@pytest.fixture()
def source(spark):
    rows = [(i, i % 5, float(i)) for i in range(500)]
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["id", "batch", "val"])
    )


def _transform(df):
    return df.withColumn("val2", F.col("val") * 2)


def test_run_batched_then_resume(spark, source):
    with tempfile.TemporaryDirectory() as root:
        # crash after 2 of 5 batches
        with pytest.raises(RuntimeError, match="injected failure"):
            run_batched(spark, _transform(source), "batch", root, fail_after=2)
        assert len(LineageLog(spark, root).completed()) == 2

        # resume: only the remaining 3 run
        n = run_batched(spark, _transform(source), "batch", root)
        assert n == 3

        # output equals the unbatched transform
        got = sorted(
            (r.id, r.val2) for r in read_all_batches(spark, root).collect()
        )
        want = sorted((r.id, r.val2) for r in _transform(source).collect())
        assert got == want

        # idempotent: nothing left to do
        assert run_batched(spark, _transform(source), "batch", root) == 0

        # lineage metrics: one ok row per batch with positive counts
        m = LineageLog(spark, root).metrics()
        rows = m.filter(F.col("status") == "ok").collect()
        assert len(rows) == 5
        assert all(r.n_rows == 100 and r.wall_ms >= 0 for r in rows)
        # per-partition lineage rows sum to each batch's total
        prows = m.filter(F.col("status") == "partition").collect()
        assert prows, "expected per-partition lineage rows"
        per_batch = {}
        for r in prows:
            per_batch[r.batch_id] = per_batch.get(r.batch_id, 0) + r.n_rows
        assert all(v == 100 for v in per_batch.values())


def test_run_batched_failure_cancels_unstarted_batches(spark, monkeypatch):
    """Concurrent path: the first failing batch stops every batch that has
    not started yet, instead of running on until the in-order result scan
    reaches it. The failing batch is the 4th submitted; the 3 before it
    are slow, so an in-order scan would let 4 more batches start."""
    import threading
    import time

    from fs2_osm_spark.plans import lineage

    n_batches = 16
    src = spark.range(0, 160).withColumn("batch", F.col("id") % n_batches)
    failing = sorted(str(b) for b in range(n_batches))[3]
    started: list[str] = []
    lock = threading.Lock()
    real_write = lineage.write_table

    def write(df, path, mode="overwrite"):
        b = os.path.basename(path).removeprefix("batch=")
        if "/data/" in path:
            with lock:
                started.append(b)
            if b == failing:
                raise RuntimeError("injected batch failure")
            time.sleep(1.5)
        return real_write(df, path, mode)

    monkeypatch.setattr(lineage, "write_table", write)
    with tempfile.TemporaryDirectory() as root:
        with pytest.raises(RuntimeError, match="injected batch failure"):
            run_batched(spark, src, "batch", root)
        assert failing in started
        assert len(started) <= 6, sorted(started)


def _counted_source(spark):
    """An unpinned 500-row, 4-partition source whose batch key comes from a
    Python UDF that counts its calls: the accumulator reads how many times
    the source was evaluated."""
    calls = spark.sparkContext.accumulator(0)

    def key(i):
        calls.add(1)
        return i % 5

    src = spark.range(0, 500, 1, 4).withColumn(
        "batch", F.udf(key, "long")(F.col("id"))
    )
    return src, calls


def _lineage_rows(spark, root):
    cols = ["batch_id", "status", "partition_id", "n_rows", "n_partitions"]
    m = LineageLog(spark, root).metrics().select(cols).orderBy(cols)
    return [tuple(r) for r in m.collect()]


def test_run_batched_evaluates_source_once(spark):
    """run_batched pins the source itself: the batch ids, the per-partition
    counts and all 5 batch writes read one evaluation of each row."""
    src, calls = _counted_source(spark)
    with tempfile.TemporaryDirectory() as root:
        assert run_batched(spark, src, "batch", root) == 5
        assert read_all_batches(spark, root).count() == 500
    assert calls.value == 500


def test_run_batched_lineage_matches_pinned_source(spark):
    """The ok and partition rows of an unpinned source equal those written
    for a pinned copy of the same source."""
    from fs2_osm_spark.pins import Pins

    src, _ = _counted_source(spark)
    with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
        run_batched(spark, src, "batch", a)
        with Pins() as pins:
            run_batched(spark, pins.persist(src), "batch", b)
        got, want = _lineage_rows(spark, a), _lineage_rows(spark, b)
    assert got == want
    assert sum(r[3] for r in got if r[1] == "partition") == 500
    assert {r[4] for r in got} == {4}


def test_run_batched_raises_when_write_count_differs(spark, monkeypatch, tmp_path):
    """The observed-count check: with the pin disabled, a source whose rows
    change after the aggregate (a filter that drops odd ids once the first
    batch write starts) writes fewer rows than the aggregate counted. The
    batch raises and logs nothing. A seeded rand() filter would not do:
    Spark redraws the same rows on every evaluation of one plan."""
    from fs2_osm_spark.pins import Pins
    from fs2_osm_spark.plans import lineage

    flag = str(tmp_path / "writing")

    @F.udf("boolean")
    def keep(i):
        return i % 2 == 0 or not os.path.exists(flag)

    src = (
        spark.range(0, 400, 1, 4)
        .filter(keep.asNondeterministic()(F.col("id")))
        .withColumn("batch", F.col("id") % 5)
    )
    real_write = lineage.write_table

    def write(df, path, mode="overwrite"):
        if "/data/" in path:
            open(flag, "w").close()
        return real_write(df, path, mode)

    monkeypatch.setattr(Pins, "persist", lambda self, df: df)
    monkeypatch.setattr(lineage, "write_table", write)
    root = str(tmp_path / "out")
    with pytest.raises(RuntimeError, match=r"wrote 40 rows, counted 80"):
        run_batched(spark, src, "batch", root)
    assert LineageLog(spark, root).completed() == set()
    assert not os.path.exists(os.path.join(root, "_lineage"))


def test_table_format_swap_reruns_lineage_resume(spark, source):
    """The catalog boundary is an interface fact: register a monkeypatch
    table format (a counting wrapper over parquet), switch the engine to
    it, and re-run the full crash/resume lifecycle through the swapped
    handlers — every write and read must route through the boundary."""
    from fs2_osm_spark import catalog

    calls = {"write": 0, "read": 0}

    def w(df, path, mode):
        calls["write"] += 1
        catalog.WRITERS["parquet"](df, path, mode)

    def r(sp, path):
        calls["read"] += 1
        return catalog.READERS["parquet"](sp, path)

    catalog.WRITERS["testfmt"] = w
    catalog.READERS["testfmt"] = r
    catalog.set_table_format("testfmt")
    try:
        with tempfile.TemporaryDirectory() as root:
            with pytest.raises(RuntimeError, match="injected failure"):
                run_batched(spark, _transform(source), "batch", root, fail_after=2)
            assert run_batched(spark, _transform(source), "batch", root) == 3
            got = sorted(
                (r.id, r.val2) for r in read_all_batches(spark, root).collect()
            )
            want = sorted((r.id, r.val2) for r in _transform(source).collect())
            assert got == want
    finally:
        catalog.set_table_format("parquet")
        del catalog.WRITERS["testfmt"], catalog.READERS["testfmt"]
    assert calls["write"] >= 10 and calls["read"] >= 2  # all IO routed


def test_record_is_arrow_conf_independent(spark, source):
    """Registered queries run under the DRIVER's own SparkSession, where
    spark.sql.execution.arrow.pyspark.enabled defaults to FALSE. The r05
    regression: a pandas Int64 NA in record()'s batch-level 'ok' row became
    float nan on the non-Arrow fallback and LongType verification raised.
    Run the full crash/resume lifecycle with Arrow explicitly disabled."""
    conf = "spark.sql.execution.arrow.pyspark.enabled"
    prev = spark.conf.get(conf)
    spark.conf.set(conf, "false")
    try:
        with tempfile.TemporaryDirectory() as root:
            # direct record(): mixed None (ok row) + int (partition rows)
            log = LineageLog(spark, root)
            log.record("b0", 10, 2, 5, partition_rows=[(0, 4), (1, 6)])
            m = log.metrics().collect()
            assert {r.status for r in m} == {"ok", "partition"}
            assert [r.partition_id for r in m if r.status == "ok"] == [None]
            assert sorted(
                r.partition_id for r in m if r.status == "partition"
            ) == [0, 1]
        with tempfile.TemporaryDirectory() as root:
            # full lifecycle under the arrow-off session
            with pytest.raises(RuntimeError, match="injected failure"):
                run_batched(spark, _transform(source), "batch", root, fail_after=2)
            assert run_batched(spark, _transform(source), "batch", root) == 3
            assert len(LineageLog(spark, root).completed()) == 5
    finally:
        spark.conf.set(conf, prev)


def test_iceberg_format_fails_clearly_without_catalog(spark, source):
    """Selecting iceberg without catalog jars must fail with a descriptive
    error at the first write, not a ClassNotFound mid-job."""
    from fs2_osm_spark import catalog

    catalog.set_table_format("iceberg")
    try:
        with tempfile.TemporaryDirectory() as root:
            with pytest.raises(RuntimeError, match="no 'lake' catalog"):
                run_batched(spark, _transform(source), "batch", root)
    finally:
        catalog.set_table_format("parquet")
    with pytest.raises(ValueError, match="unknown table format"):
        catalog.set_table_format("hudi")


def test_streaming_windowed_counts_match_batch(spark):
    got = sorted(
        map(tuple, windowed_event_counts(spark, SF_SMOKE).collect())
    )
    events = spark.read.parquet(os.path.join(SF_SMOKE, "events.parquet"))
    want = sorted(
        map(
            tuple,
            events.groupBy(
                F.date_trunc("hour", "ts").alias("win_start"), "event_type"
            )
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum("value"), 4).cast("double").alias("total_value"),
            )
            .collect(),
        )
    )
    assert got == want


def test_streaming_dedupe_matches_batch_distinct(spark):
    got = sorted(map(tuple, stream_dedupe_counts(spark, SF_SMOKE).collect()))
    events = spark.read.parquet(os.path.join(SF_SMOKE, "events.parquet"))
    want = sorted(
        map(
            tuple,
            events.select(
                "event_type", "user_id", F.date_trunc("hour", "ts").alias("h")
            )
            .distinct()
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_unique"))
            .collect(),
        )
    )
    assert got == want


def test_run_export_summary_and_outputs(spark, tmp_path):
    from fs2_osm_spark.plans.export import run_export
    from fs2_osm_spark.synth.osm import osm_tables

    t = osm_tables(spark, 64)
    summary = run_export(
        spark, t["nodes"], t["ways"], t["relations"], t["relations_ways"],
        str(tmp_path / "export"),
        relations_nodes=t["relations_nodes"],
        relations_relations=t["relations_relations"],
    )
    assert summary["nodes"] == 64 * 8 + 8 * 4  # ring nodes + hole nodes
    assert summary["ways"] == 64 * 2 + 8 * 3
    assert summary["ways_nodes"] > summary["ways"] * 3
    # 8 multipolygon relations (z%8==0) + 6 boundary relations (z%10==9)
    # + 3 nested parent relations (z%20==19)
    assert summary["relations"] == 8 + 6 + 3
    # relations_nodes keep-first dedupe: 2 per boundary relation (the
    # z%20==19 duplicates collapse) + 1 label per z%16==0 multipolygon
    assert summary["relations_nodes"] == 6 * 2 + 4
    assert summary["relations_relations"] == 3
    # polygons = the faithful way-sourced whitelist table
    # (PolygonFeature.scala:30-32 — combineWays commented out): zone rings
    # minus the 7 leisure=park zones the reference predicate excludes
    assert summary["polygons"] == 64 - 7
    # every catalog feature materialized, incl. the side tables
    for feat in (
        "highways", "waters", "buildings", "woods", "rails",
        "highways_nodes", "administrative_boundaries",
    ):
        assert feat in summary
    assert summary["highways_nodes"] > 0
    # admin boundaries: 6 closed-way rows + 6 relation MultiLineStrings
    assert summary["administrative_boundaries"] == 12
    # phase-B derived tables exist on disk and reload
    lines = spark.read.parquet(str(tmp_path / "export" / "osm_lines"))
    assert lines.count() == summary["osm_lines"]


def test_sessionize_matches_batch_closed_sessions(spark):
    from pyspark.sql.window import Window

    from fs2_osm_spark.streaming.events import sessionize_users

    got = sorted(
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in sessionize_users(spark, SF_SMOKE, gap_hours=6).collect()
    )
    # batch sessionization: gap > 6h starts a new session; drop each user's
    # final (still-open-at-stream-end) session
    ev = (
        spark.read.parquet(os.path.join(SF_SMOKE, "events.parquet"))
        .select("user_id", F.col("ts").cast("timestamp").alias("ts"))
    )
    w = Window.partitionBy("user_id").orderBy("ts")
    marked = ev.withColumn(
        "new_sess",
        (
            F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
            > 6 * 3600
        ).cast("int"),
    ).withColumn("sess_id", F.sum(F.coalesce("new_sess", F.lit(0))).over(w))
    sessions = marked.groupBy("user_id", "sess_id").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
    )
    last = sessions.groupBy("user_id").agg(F.max("sess_id").alias("last_id"))
    closed = sessions.join(last, "user_id").filter(F.col("sess_id") != F.col("last_id"))
    want = sorted(
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in closed.collect()
    )
    assert got == want and len(got) > 0


def test_stream_cdc_merge_matches_single_batch_merge(spark):
    """Micro-batch independence: the foreachBatch CDC state after replaying
    the stream in 4 files equals ONE apply_diff merge over all events (the
    max-struct merge is associative/commutative, so batching must not
    matter) — including tombstone semantics."""
    from fs2_osm_spark.operators.diff import apply_diff
    from fs2_osm_spark.streaming.events import stream_cdc_state

    got = sorted(
        map(tuple, stream_cdc_state(spark, SF_SMOKE).collect())
    )

    ev = spark.read.parquet(os.path.join(SF_SMOKE, "events.parquet"))
    changes = ev.select(
        "user_id", "value", "event_type",
        F.col("ts").cast("timestamp").cast("long").alias("version"),
        F.when(F.col("event_type") == "purchase", "delete")
        .otherwise("modify")
        .alias("op"),
    )
    empty = spark.createDataFrame(
        [], "user_id long, value double, event_type string"
    )
    want = sorted(
        map(
            tuple,
            apply_diff(
                empty, changes, key_col="user_id",
                payload_cols=("value", "event_type"),
            ).collect(),
        )
    )
    assert got == want and got


def test_failing_cdc_micro_batch_leaves_no_state_root(spark, monkeypatch):
    """A CDC micro-batch that raises still removes the run's cdc_state_
    root (state snapshots and stream checkpoint)."""
    from fs2_osm_spark.operators import diff
    from fs2_osm_spark.streaming.events import stream_cdc_state

    def roots():
        return {
            e for e in os.listdir(tempfile.gettempdir())
            if e.startswith("cdc_state_")
        }

    def fail(*_args, **_kwargs):
        raise RuntimeError("planted micro-batch failure")

    before = roots()
    monkeypatch.setattr(diff, "apply_diff", fail)
    with pytest.raises(Exception, match="planted micro-batch failure"):
        stream_cdc_state(spark, SF_SMOKE)
    assert roots() == before
