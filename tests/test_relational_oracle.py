"""Every registered query must match its DuckDB oracle at sf0.001 (smoke
scale; the driver re-checks at sf0.01). Rows-only queries must be non-empty.

This mirrors the reference's test strategy of golden-output regression
checks (e.g. WaterFeatureSpec.scala:31 pins ("waters", 2418)) but against a
live oracle instead of frozen counts.
"""

from __future__ import annotations

import pytest

from fs2_osm_spark.oracle import compare
from fs2_osm_spark.queries import QUERIES
from tests.conftest import SF_SMOKE


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, duck, name):
    q = QUERIES[name]
    sdf = q.fn(spark, SF_SMOKE)
    if q.oracle is None:
        assert sdf.count() > 0, f"{name}: rows-only query returned 0 rows"
    else:
        problems = compare(sdf, q.oracle, duck)
        assert not problems, f"{name}: {problems}"


def test_broadcast_join_in_plan(spark):
    """r02 must broadcast the dimension side (scale hygiene)."""
    plan = QUERIES["r02_resolve_join"].fn(spark, SF_SMOKE)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_compare_names_the_differing_column(spark):
    """A red row explains itself: a frame that differs from its SQL in one
    column only is reported with that column, the per-side row counts and
    the sample rows."""
    import duckdb

    sdf = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)], "id long, s string, x double"
    )
    sql = """SELECT * FROM (VALUES (1::BIGINT, 'a', 1.0::DOUBLE),
             (2::BIGINT, 'b', 2.5::DOUBLE), (3::BIGINT, 'c', 3.0::DOUBLE)) t(id, s, x)"""
    assert compare(sdf, sql, duckdb.connect()) == [
        "value-hash mismatch: columns ['x']; rows spark-only=1 oracle-only=1",
        "spark-only: [('2', 'b', '2')]",
        "oracle-only: [('2', 'b', '2.5')]",
    ]


def test_fixture_queries_leave_no_temp_state(spark):
    """The frame-fixture, HTTP, export and lineage-resume queries clean up
    after themselves: run twice, they leave at most this process's one
    `opf_` fixture dir and no `export_`, `download_` or `lineage_q_` entry
    in the temp dir."""
    import os
    import tempfile

    def entries(prefix):
        return {e for e in os.listdir(tempfile.gettempdir()) if e.startswith(prefix)}

    prefixes = ("opf_", "export_", "download_", "lineage_q_")
    before = {p: entries(p) for p in prefixes}
    for name in (
        "osm_frame_source_decode", "osm_http_source_decode", "osm_way_frame_decode",
        "osm_relation_frame_decode", "osm_dense_info_decode", "osm_export_summary",
        "lineage_batched_resume",
    ) * 2:
        assert QUERIES[name].fn(spark, SF_SMOKE).collect(), name
    new = {p: entries(p) - before[p] for p in prefixes}
    assert len(new["opf_"]) <= 1 and not any(
        new[p] for p in ("export_", "download_", "lineage_q_")
    ), new
