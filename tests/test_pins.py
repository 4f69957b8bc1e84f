"""The pin lifecycle: scoped Pins, session pins freed by release_pins(),
iterative operators that keep only their result's checkpoint, and the
durable-result swap evicting through the format's dropper."""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from fs2_osm_spark.pins import Pins, release_pins
from tests.conftest import new_persistent_rdds, persistent_rdd_ids


def _chain_pairs(spark, n: int = 200):
    # chains of 7 nodes: several CC rounds, several components
    return spark.range(0, n).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    ).where(F.col("id") % 7 != 6)


def _run_cc(spark):
    from fs2_osm_spark.operators.dedup import connected_components

    return connected_components(_chain_pairs(spark)).count()


def _run_pagerank(spark):
    from fs2_osm_spark.operators.graph import pagerank_fixed_point

    p = _chain_pairs(spark)
    edges = p.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
    edges = edges.unionByName(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    return pagerank_fixed_point(edges, n_iters=3).count()


def _run_bpe(spark):
    from fs2_osm_spark.operators.bpe import bpe_train

    vocab = spark.createDataFrame(
        pd.DataFrame({"word": ["abab", "abc", "bcd"], "cnt": [3, 2, 1]})
    )
    merges, syms = bpe_train(vocab, 3)
    assert len(merges) == 3
    return syms.count()


@pytest.mark.parametrize("run", [_run_cc, _run_pagerank, _run_bpe])
def test_iterative_operator_keeps_only_result_checkpoint(spark, run):
    release_pins()  # drain pins from earlier tests
    before = persistent_rdd_ids(spark)
    assert run(spark) > 0
    # the result's own checkpoint is the only pin that outlives the call
    assert len(new_persistent_rdds(spark, before, 1)) <= 1
    assert release_pins() == 1
    assert not new_persistent_rdds(spark, before, 0)


def test_scoped_pins_release_on_exit_and_on_error(spark):
    before = persistent_rdd_ids(spark)
    df = spark.range(0, 1000).withColumn("x", F.col("id") * 2)
    with Pins() as pins:
        held = pins.persist(df)
        ck = pins.checkpoint(df.where(F.col("id") % 3 == 0))
        assert held.count() == 1000 and ck.count() == 334
        assert held.is_cached
    assert not held.is_cached
    assert not new_persistent_rdds(spark, before, 0)

    with pytest.raises(RuntimeError, match="boom"):
        with Pins() as pins:
            held = pins.persist(df)
            held.count()
            raise RuntimeError("boom")
    assert not held.is_cached


def test_persisted_shuffle_is_coalesced(spark):
    """AQE sizes a persisted shuffled frame too: a 10-group aggregate is
    materialized in fewer partitions than spark.sql.shuffle.partitions,
    so its consumers do not run one task per empty shuffle partition."""
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    with Pins() as pins:
        agg = pins.persist(
            spark.range(0, 1000).groupBy((F.col("id") % 10).alias("k")).count()
        )
        assert agg.count() == 10
        assert agg.rdd.getNumPartitions() < n_shuffle


def test_unpin_frees_one_frame(spark):
    df = spark.range(0, 100)
    with Pins() as pins:
        a = pins.persist(df.withColumn("a", F.lit(1)))
        b = pins.persist(df.withColumn("b", F.lit(2)))
        pins.unpin(a)
        pins.unpin(None)  # a frame the registry does not hold: ignored
        assert not a.is_cached and b.is_cached
        assert pins.release() == 1


def test_swap_durable_result_evicts_through_dropper(spark):
    """Register a test table format with a dropper (a counting wrapper over
    parquet): the second swap for a key drops the first result through
    that dropper, and the latest result stays readable."""
    from fs2_osm_spark import catalog

    dropped: list[str] = []

    def d(sp, path):
        dropped.append(path)
        catalog.DROPPERS["parquet"](sp, path)

    catalog.WRITERS["testfmt"] = catalog.WRITERS["parquet"]
    catalog.READERS["testfmt"] = catalog.READERS["parquet"]
    catalog.DROPPERS["testfmt"] = d
    catalog.set_table_format("testfmt")
    key = "test_swap_durable_result_evicts"
    try:
        first = catalog.swap_durable_result(spark.range(0, 5), key)
        first_path = first.inputFiles()[0].split("/part-")[0]
        assert first.count() == 5 and not dropped
        second = catalog.swap_durable_result(spark.range(0, 7), key)
        assert len(dropped) == 1
        assert first_path.endswith(dropped[0])
        assert not os.path.exists(dropped[0])
        assert second.count() == 7
    finally:
        catalog.set_table_format("parquet")
        for _, path, _ in catalog._DURABLE_RESULTS.pop(key):
            catalog.DROPPERS["parquet"](spark, path)
        del catalog.WRITERS["testfmt"], catalog.READERS["testfmt"]
        del catalog.DROPPERS["testfmt"]


def test_swap_durable_result_survives_a_failing_drop(spark, monkeypatch):
    """A dropper that raises does not fail the swap (the new result is
    already written): the old result stays registered, is retried on the
    next swap, and the atexit hook drops whatever is left."""
    from fs2_osm_spark import catalog

    fail = [True]
    dropped: list[str] = []

    def d(sp, path):
        if fail[0]:
            raise RuntimeError("injected drop failure")
        dropped.append(path)
        catalog.DROPPERS["parquet"](sp, path)

    catalog.WRITERS["faildrop"] = catalog.WRITERS["parquet"]
    catalog.READERS["faildrop"] = catalog.READERS["parquet"]
    catalog.DROPPERS["faildrop"] = d
    catalog.set_table_format("faildrop")
    monkeypatch.setattr(catalog, "_DURABLE_RESULTS", {})  # this test's only
    key = "test_swap_durable_result_failing_drop"
    try:
        catalog.swap_durable_result(spark.range(0, 5), key)
        second = catalog.swap_durable_result(spark.range(0, 7), key)
        assert second.count() == 7
        first_path, second_path = (p for _, p, _ in catalog._DURABLE_RESULTS[key])
        assert os.path.exists(first_path)  # drop failed: kept for a retry
        fail[0] = False
        third = catalog.swap_durable_result(spark.range(0, 9), key)
        assert dropped == [first_path, second_path]
        (_, live, _), = catalog._DURABLE_RESULTS[key]
        assert third.inputFiles()[0].split("/part-")[0].endswith(live)
        catalog._drop_durable_results()  # the atexit hook
        assert key not in catalog._DURABLE_RESULTS and len(dropped) == 3
    finally:
        catalog.set_table_format("parquet")
        for _, path, _ in catalog._DURABLE_RESULTS.pop(key, []):
            catalog.DROPPERS["parquet"](spark, path)
        del catalog.WRITERS["faildrop"], catalog.READERS["faildrop"]
        del catalog.DROPPERS["faildrop"]
