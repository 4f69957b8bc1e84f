"""Per-task fixed costs: Python worker CPU between tasks, and warm codegen.

Prints one JSON line with two numbers:

- ``worker_gap_ms``: the median CPU a reused Python worker spends between
  two tasks of a trivial engine kernel (a one-row ``rowmap.map_rows`` task),
  read as the ``time.process_time()`` gap between consecutive tasks of one
  worker process. It covers everything a task costs outside the kernel:
  the command unpickle, ``importlib.invalidate_caches()``, Arrow framing.
- ``warm_pass_compiled``: the classes Janino compiles during a warm second
  ``run_pbf_pipeline`` over 40 zones in 4 PBF files (Spark's
  ``CodegenMetrics`` compilation count). A codegen cache too small for one
  pass makes every warm pass recompile.

It enforces no bound; it only shows the next regression of either number.
Run from the repository root (Python workers import the engine from the
working directory). Both numbers are taken on ``local[4]``, so runs compare:

    python tools/task_floor.py
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CORES = 4
TASKS = 16  # per probe run: 4 tasks per worker on 4 cores
N_ZONES, N_FILES = 40, 4  # the warm pass's PBF window

PROBE_SCHEMA = (
    "pid long, start_s double, end_s double, run int, invalidate_module string"
)


def _probe(run: int):
    """One row per task: the worker's pid, its process CPU time before and
    after one ``importlib.invalidate_caches()`` call, and the module that
    defines its ``zipimporter.invalidate_caches``."""
    import importlib
    import zipimport

    start = time.process_time()
    importlib.invalidate_caches()
    yield (
        os.getpid(),
        start,
        time.process_time(),
        run,
        zipimport.zipimporter.invalidate_caches.__module__,
    )


def worker_probe(spark) -> dict:
    """Run a one-row-per-task ``map_rows`` kernel twice over ``TASKS``
    partitions. The probe imports nothing of the engine: a worker has the
    engine's ``invalidate_caches`` only if unpickling the kernel brought
    the package in. Over the second run's tasks, returns the median worker CPU
    (ms) between the end of the previous task of the same worker and the
    start of this one, the most CPU (ms) one ``importlib.invalidate_caches()``
    took inside the kernel, and the set of ``invalidate_caches`` modules."""
    from pyspark.sql import functions as F

    from fs2_osm_spark.rowmap import map_rows

    rows = []
    for run in (1, 2):
        df = spark.range(0, TASKS, 1, TASKS).select(F.lit(run).alias("run"))
        rows += map_rows(df, ["run"], _probe, PROBE_SCHEMA).collect()
    by_pid: dict[int, list] = {}
    for r in rows:
        by_pid.setdefault(r.pid, []).append(r)
    gaps = []
    for seq in by_pid.values():
        seq.sort(key=lambda r: r.start_s)
        gaps += [(b.start_s - a.end_s) * 1000 for a, b in zip(seq, seq[1:]) if b.run == 2]
    second = [r for r in rows if r.run == 2]
    return {
        "worker_gap_ms": round(statistics.median(gaps), 1) if gaps else None,
        "invalidate_ms": round(max((r.end_s - r.start_s) * 1000 for r in second), 2),
        "invalidate_modules": sorted({r.invalidate_module for r in second}),
    }


def warm_pass_compiled(spark) -> int:
    """Classes compiled by the second of two ``run_pbf_pipeline`` passes."""
    from fs2_osm_spark.plans.pbf_pipeline import run_pbf_pipeline
    from fs2_osm_spark.sources.pbf_writer import write_osm_pbf

    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    root = tempfile.mkdtemp(prefix="task_floor_")
    try:
        pbf = os.path.join(root, "pbf")
        write_osm_pbf(spark, pbf, N_ZONES, N_FILES).collect()
        run_pbf_pipeline(spark, pbf, os.path.join(root, "cold"), n_images=400, n_batches=2)
        before = metrics.METRIC_COMPILATION_TIME().getCount()
        run_pbf_pipeline(spark, pbf, os.path.join(root, "warm"), n_images=400, n_batches=2)
        return metrics.METRIC_COMPILATION_TIME().getCount() - before
    finally:
        shutil.rmtree(root, ignore_errors=True)


def main() -> int:
    from fs2_osm_spark.session import get_spark

    spark = get_spark(cores=CORES, app_name="task_floor")
    gap_ms = worker_probe(spark)["worker_gap_ms"]
    compiled = warm_pass_compiled(spark)
    print(json.dumps({"worker_gap_ms": gap_ms, "warm_pass_compiled": compiled}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
