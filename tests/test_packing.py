"""Distributed prefix sum + token-bin packing vs a sequential reference."""

from __future__ import annotations

import numpy as np
import pandas as pd

from fs2_osm_spark.operators.packing import (
    distributed_prefix_sum,
    pack_token_bins,
)
from fs2_osm_spark.pins import release_pins


def _ref_prefix(vals):
    c = np.cumsum(vals)
    return c - vals  # exclusive


def test_prefix_sum_matches_sequential(spark):
    rng = np.random.default_rng(7)
    vals = rng.integers(1, 900, size=2_000)
    pdf = pd.DataFrame({"k": np.arange(2_000), "v": vals})
    df = spark.createDataFrame(pdf).repartition(13)  # scrambled input
    got = (
        distributed_prefix_sum(df, "v", ["k"], num_partitions=7)
        .toPandas().sort_values("k")
    )
    assert (got["prefix_sum"].to_numpy() == _ref_prefix(vals)).all()
    assert release_pins() >= 1


def test_prefix_sum_more_partitions_than_rows(spark):
    df = spark.createDataFrame(pd.DataFrame({"k": [3, 1, 2], "v": [10, 20, 30]}))
    got = (
        distributed_prefix_sum(df, "v", ["k"], num_partitions=16)
        .toPandas().sort_values("k")
    )
    assert got["prefix_sum"].tolist() == [0, 20, 50]
    release_pins()


def test_pack_bins_budget_semantics(spark):
    # doc larger than the budget occupies its own bin range (concat-and-
    # chunk: bin = floor(exclusive_cumsum / budget))
    pdf = pd.DataFrame({"k": [1, 2, 3, 4], "v": [100, 900, 100, 300]})
    df = spark.createDataFrame(pdf)
    got = (
        pack_token_bins(df, "v", ["k"], budget=512, num_partitions=3)
        .toPandas().sort_values("k")
    )
    psum = [0, 100, 1000, 1100]
    assert got["bin_id"].tolist() == [p // 512 for p in psum]
    assert got["offset_in_bin"].tolist() == [p % 512 for p in psum]
    release_pins()


def test_prefix_sum_leaves_input_frame_unchanged(spark):
    """The output schema is a new StructType: the input frame's cached
    schema must not grow the output column, so a second call on the same
    frame works and pack_token_bins returns exactly its own columns."""
    df = spark.createDataFrame(pd.DataFrame({"k": [1, 2, 3], "v": [5, 6, 7]}))
    for _ in range(2):
        got = distributed_prefix_sum(df, "v", ["k"], num_partitions=2)
        assert sorted(got.toPandas()["prefix_sum"]) == [0, 5, 11]
        assert df.columns == ["k", "v"]
    packed = pack_token_bins(df, "v", ["k"], budget=8, num_partitions=2)
    assert packed.columns == ["k", "v", "bin_id", "offset_in_bin"]
    assert len(packed.collect()) == 3
    release_pins()


def test_no_single_task_global_window(spark):
    """The scale property: the pass-2 stage runs over the range partitions,
    never a 1-partition global sort."""
    pdf = pd.DataFrame({"k": np.arange(500), "v": np.ones(500, np.int64)})
    df = spark.createDataFrame(pdf).repartition(8)
    out = distributed_prefix_sum(df, "v", ["k"], num_partitions=6)
    assert out.rdd.getNumPartitions() > 1
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    release_pins()


def test_parallel_export_propagates_sink_failure(spark, tmp_path, monkeypatch):
    """A failing Phase-B feature sink must fail run_export, not vanish
    into the thread pool (fut.result() re-raises the first error)."""
    import pytest as _pytest

    from fs2_osm_spark.plans import export as export_mod
    from fs2_osm_spark.synth.osm import osm_tables

    t = osm_tables(spark, 16)

    real_write = export_mod.write_table

    def failing_write(df, path, mode="overwrite"):
        if path.endswith("/waters"):
            raise RuntimeError("injected sink failure")
        return real_write(df, path, mode)

    monkeypatch.setattr(export_mod, "write_table", failing_write)
    with _pytest.raises(RuntimeError, match="injected sink failure"):
        export_mod.run_export(
            spark, t["nodes"], t["ways"], t["relations"], t["relations_ways"],
            str(tmp_path / "out"),
            relations_nodes=t["relations_nodes"],
            relations_relations=t["relations_relations"],
        )
