from __future__ import annotations

import os
import sys
import tempfile
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"

# temp-dir prefixes the engine and the test fixtures create and must remove
# before they return, and the per-process dirs removed at exit (at most one
# each may outlive the session)
TEMP_PREFIXES = (
    "export_", "download_", "lineage_q_", "http_fx_", "img_dedup_stream_",
    "cdc_state_", "frag_", "compact_", "bucketed_", "schema_evo_",
    "mv_state_", "hilbert_layout_",
)
PER_PROCESS_PREFIXES = ("opf_", "events_stream_")


@pytest.fixture(scope="session", autouse=True)
def no_leaked_temp_state():
    """Fail the session if it leaves temp state behind: any new entry with a
    TEMP_PREFIXES prefix, or more than one new per-process dir."""
    tmp = tempfile.gettempdir()
    before = set(os.listdir(tmp))
    yield
    new = set(os.listdir(tmp)) - before
    leaked = sorted(e for e in new if e.startswith(TEMP_PREFIXES))
    for p in PER_PROCESS_PREFIXES:
        extra = sorted(e for e in new if e.startswith(p))
        if len(extra) > 1:
            leaked += extra
    if leaked:
        pytest.fail(f"tests left temp state in {tmp}: {leaked}")


def persistent_rdd_ids(spark) -> set[int]:
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().keysIterator()
    out = set()
    while it.hasNext():
        out.add(int(it.next()))
    return out


def new_persistent_rdds(spark, before: set[int], at_most: int) -> set[int]:
    """Persistent RDDs created since ``before``, polled until at most
    ``at_most`` remain (unpersist is asynchronous) or 10 s pass."""
    for _ in range(40):
        new = persistent_rdd_ids(spark) - before
        if len(new) <= at_most:
            return new
        time.sleep(0.25)
    return persistent_rdd_ids(spark) - before


@pytest.fixture(scope="session")
def spark():
    from fs2_osm_spark.session import get_spark

    s = get_spark(cores=8, app_name="fs2_osm_spark_tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def duck():
    from fs2_osm_spark.oracle import duckdb_connection

    return duckdb_connection(SF_SMOKE)
