"""Determinism pins for the two CORRECTNESS_r07 red rows (VERDICT item 1c),
for the queries that release their pins before returning a durable result,
and for the packing queries, which return lazy frames.

Each query's fn runs TWICE in one session with induced cache pressure
(`spark.catalog.clearCache()` between runs — evicting anything the first
run cached) and the order-insensitive value hashes must match. The r07
failure mode was exactly a second evaluation diverging from the first
after cache state changed. The durable-table swap removes that window for
the pinned queries; the packing queries (`img_shard_pack`, `text_*`) hold
no pin, and their first result frame must recompute identically after
`clearCache()`, because the prefix sum's range offsets are collected
constants.
"""

from __future__ import annotations

import os

import pytest

from fs2_osm_spark.oracle import value_hash
from fs2_osm_spark.queries import QUERIES

SF_DIR = "/root/testdata/sf0.001"


def _hash_of(df) -> tuple[int, str]:
    rows = [tuple(r) for r in df.collect()]
    return len(rows), value_hash(rows, [c.lower() for c in df.columns])


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason=f"{SF_DIR} not present")
@pytest.mark.parametrize(
    "name",
    [
        "img_shard_pack",
        "graph_pagerank",
        "img_phash_neardup",
        "img_phash_multiprobe",
        "text_global_shuffle",
        "text_pack_bins",
        "text_pipeline_end2end",
    ],
)
def test_rerun_under_cache_pressure_is_identical(spark, name):
    q = QUERIES[name]
    df1 = q.fn(spark, SF_DIR)
    n1, h1 = _hash_of(df1)
    # simulate driver-session memory pressure: drop every cached block the
    # first run may have relied on, then also re-collect the FIRST result
    # frame (a late re-execution of an already-returned plan — the exact
    # r07 window)
    spark.catalog.clearCache()
    n1b, h1b = _hash_of(df1)
    df2 = q.fn(spark, SF_DIR)
    n2, h2 = _hash_of(df2)
    assert n1 > 0
    assert (n1, h1) == (n1b, h1b), f"{name}: re-collect after clearCache diverged"
    assert (n1, h1) == (n2, h2), f"{name}: second run diverged"
