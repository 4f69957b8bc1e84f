"""Distributed prefix sum + token-bin packing vs a sequential reference."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from fs2_osm_spark.operators.packing import (
    distributed_prefix_sum,
    pack_token_bins,
)
from fs2_osm_spark.pins import release_pins
from tests.conftest import new_persistent_rdds, persistent_rdd_ids


def _ref_prefix(vals):
    c = np.cumsum(vals)
    return c - vals  # exclusive


def test_prefix_sum_matches_sequential(spark):
    """Exact against the sequential cumsum, and the result holds nothing:
    no persisted RDD and no session pin."""
    rng = np.random.default_rng(7)
    vals = rng.integers(1, 900, size=2_000)
    pdf = pd.DataFrame({"k": np.arange(2_000), "v": vals})
    df = spark.createDataFrame(pdf).repartition(13)  # scrambled input
    before = persistent_rdd_ids(spark)
    got = (
        distributed_prefix_sum(df, "v", ["k"], num_partitions=7)
        .toPandas().sort_values("k")
    )
    assert (got["prefix_sum"].to_numpy() == _ref_prefix(vals)).all()
    assert new_persistent_rdds(spark, before, 0) == set()
    assert release_pins() == 0


@pytest.mark.parametrize("num_partitions", [3, 40])
@pytest.mark.parametrize("key", ["num", "pair", "str"])
def test_prefix_sum_parity_over_key_shapes(spark, key, num_partitions):
    """Parity with the sequential cumsum over the consumers' key shapes: a
    numeric key, a two-column key with many ties on its first column, and
    a string key; with fewer and more ranges than distinct first-column
    values (the range boundaries are struct literals of those keys)."""
    rng = np.random.default_rng(11)
    n = 3_000
    pdf = pd.DataFrame({
        "k": rng.permutation(n).astype(np.int64),
        "h": rng.integers(0, 10, n),  # 10 distinct first-column values
        "s": [f"img_{i:06d}" for i in rng.permutation(n)],
        "v": rng.integers(0, 50, n),  # zeros: some ranges may total 0
    })
    order = {"num": ["k"], "pair": ["h", "k"], "str": ["s"]}[key]
    df = spark.createDataFrame(pdf).repartition(5)
    got = (
        distributed_prefix_sum(df, "v", order, num_partitions=num_partitions)
        .toPandas().sort_values(order)
    )
    ref = pdf.sort_values(order)
    assert got[order].to_numpy().tolist() == ref[order].to_numpy().tolist()
    assert (got["prefix_sum"].to_numpy() == _ref_prefix(ref["v"].to_numpy())).all()


def test_prefix_sum_more_partitions_than_rows(spark):
    df = spark.createDataFrame(pd.DataFrame({"k": [3, 1, 2], "v": [10, 20, 30]}))
    got = (
        distributed_prefix_sum(df, "v", ["k"], num_partitions=16)
        .toPandas().sort_values("k")
    )
    assert got["prefix_sum"].tolist() == [0, 20, 50]


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


def test_no_single_task_global_window(spark):
    """The scale property: the result runs over several partitions, never
    a 1-partition global sort — no SinglePartition exchange, and every
    Window node is partitioned."""
    pdf = pd.DataFrame({"k": np.arange(500), "v": np.ones(500, np.int64)})
    df = spark.createDataFrame(pdf).repartition(8)
    out = distributed_prefix_sum(df, "v", ["k"], num_partitions=6)
    assert out.rdd.getNumPartitions() > 1
    out.collect()  # the final adaptive plan
    plan = out._jdf.queryExecution().executedPlan()
    assert "SinglePartition" not in plan.toString()
    windows = [
        n for n in _plan_nodes(plan) if n.getClass().getSimpleName() == "WindowExec"
    ]
    assert windows
    assert all(w.partitionSpec().nonEmpty() for w in windows)


def _plan_nodes(plan):
    """Every node of an executed plan, through adaptive and stage wrappers."""
    out, todo = [], [plan]
    while todo:
        n = todo.pop()
        out.append(n)
        name = n.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            todo.append(n.executedPlan())
        elif name.endswith("QueryStageExec"):
            todo.append(n.plan())
        kids = n.children()
        for i in range(kids.size()):
            todo.append(kids.apply(i))
    return out


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
