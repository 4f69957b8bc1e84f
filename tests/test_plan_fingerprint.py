"""Plan-fingerprint regression gate for the flagship pipeline.

Round-3 lesson: bench wall-times swing 15-35% with sandbox contention, so a
plan regression (a new shuffle, a lost broadcast, a Python eval node) could
hide inside the noise indefinitely. This test pins the OPERATOR TREE of the
benched flagship plan — the canonical node sequence must match a committed
fingerprint exactly, so any plan change is a conscious, reviewed edit to
this file rather than a silent bench delta.

Canonicalization keeps operator names and tree order but strips everything
run-specific (expression ids, paths, partition counts, codegen stage ids,
statistics), so the fingerprint is stable across machines and scale
factors.
"""

from __future__ import annotations

import re
import tempfile

import pandas as pd
import pytest

POLYGONS = pd.DataFrame(
    [
        (1, [0.0, 0.0, 4.0, 0.0, 4.0, 4.0, 0.0, 4.0], []),
        (2, [5.0, 5.0, 9.0, 5.0, 9.0, 9.0, 5.0, 9.0],
         [[6.0, 6.0, 7.0, 6.0, 7.0, 7.0, 6.0, 7.0]]),
    ],
    columns=["polygon_id", "outer", "inners"],
)
POLY_SCHEMA = "polygon_id long, outer array<double>, inners array<array<double>>"


def canonical_nodes(df) -> list[str]:
    """Physical-plan operator names, tree order, run-specifics stripped."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    nodes = []
    for line in plan.splitlines():
        # strip tree-drawing prefix and whole-stage-codegen markers
        body = re.sub(r"^[\s:+\-*()0-9]*", "", line)
        m = re.match(r"([A-Za-z][A-Za-z0-9]*)", body)
        if not m:
            continue
        name = m.group(1)
        if name in ("ReadSchema", "Batched", "Location", "PushedFilters",
                    "Output", "Arguments", "Format", "DataFilters",
                    "PartitionFilters"):
            continue  # scan detail lines, not operators
        nodes.append(name)
    return nodes


def assert_flagship_plan_properties(nodes: list[str]) -> None:
    """The benched plan's load-bearing properties (bench.py run_flagship:
    parquet scan -> prepare_corpus cover -> apply_cell_pip -> hex/tile
    projection). Asserted as PROPERTIES, not an exact node list, because
    Catalyst's Filter placement varies with conf (runtime-filter /
    pushdown settings) while these invariants must not:

    - exactly ONE image-side FileScan with pruned columns
    - exactly TWO BroadcastHashJoins (cell-cover attach + ray-cast refine)
    - NO shuffle Exchange anywhere on the image path (the only exchanges
      are the two tiny BroadcastExchanges feeding the joins)
    - NO Python eval nodes (geotag/PIP/hex/tile are Catalyst expressions)
    - no sort-merge or nested-loop fallback
    """
    counts = {n: nodes.count(n) for n in set(nodes)}
    assert counts.get("FileScan", 0) == 1, nodes
    assert counts.get("BroadcastHashJoin", 0) == 2, nodes
    assert counts.get("BroadcastExchange", 0) == 2, nodes
    # "Exchange" alone is Spark's shuffle node; BroadcastExchange is distinct
    assert counts.get("Exchange", 0) == 0, nodes
    assert counts.get("ShuffleExchange", 0) == 0, nodes
    assert counts.get("SortMergeJoin", 0) == 0, nodes
    assert counts.get("BroadcastNestedLoopJoin", 0) == 0, nodes
    assert counts.get("CartesianProduct", 0) == 0, nodes
    for py_node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                    "FlatMapGroupsInPandas", "MapInArrow"):
        assert counts.get(py_node, 0) == 0, (py_node, nodes)
    assert counts.get("Sort", 0) == 0, nodes


@pytest.mark.usefixtures("spark")
def test_flagship_cover_plan_fingerprint(spark):
    from fs2_osm_spark.plans.flagship import flagship_from_tables, prepare_corpus
    from fs2_osm_spark.synth.images import images_table

    with tempfile.TemporaryDirectory() as d:
        images_table(spark, 64, slim=True).write.parquet(f"{d}/img.parquet")
        images = spark.read.parquet(f"{d}/img.parquet")
        polygons = spark.createDataFrame(POLYGONS, POLY_SCHEMA)
        cover = prepare_corpus(spark, polygons)
        got = canonical_nodes(flagship_from_tables(images, cover))
    assert_flagship_plan_properties(got)


def test_flagship_cover_fingerprint_scale_invariant(spark):
    """The plan properties must not depend on input size or file count —
    otherwise they couldn't stand in for the sf0.1 bench plan."""
    from fs2_osm_spark.plans.flagship import flagship_from_tables, prepare_corpus
    from fs2_osm_spark.synth.images import images_table

    with tempfile.TemporaryDirectory() as d:
        images_table(spark, 500, partitions=8, slim=True).write.parquet(
            f"{d}/img.parquet"
        )
        images = spark.read.parquet(f"{d}/img.parquet")
        cover = prepare_corpus(spark, spark.createDataFrame(POLYGONS, POLY_SCHEMA))
        got = canonical_nodes(flagship_from_tables(images, cover))
    assert_flagship_plan_properties(got)
