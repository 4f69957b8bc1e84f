"""SparkSession factory tuned for this engine.

Local-mode settings mirror what we would set cluster-side:
AQE on (runtime coalescing + skew-join splitting), Arrow on (all custom
kernels are pandas/Arrow vectorized), shuffle partitions sized to cores
rather than the 200 default, UTC session timezone so results are comparable
with the DuckDB oracle.

AQE also coalesces the plans it caches
(``canChangeCachedPlanOutputPartitioning``; Spark defaults it off): a
persisted shuffled frame is materialized in as many partitions as its data
needs, not ``spark.sql.shuffle.partitions``, so every consumer of a small
pin runs a few tasks instead of one per shuffle partition.

The codegen cache holds 1,000 compiled classes, not Spark's 100: one
lifecycle pass uses ~200 (class loader, source) keys, so at 100 every warm
``run_pbf_pipeline`` recompiled ~140 classes (~1.5 s of Janino). It is a
static conf, so it is set here and not per query.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# driver heap: 16g, capped at half the physical memory so a local JVM
# cannot grow into the whole host (SPARK_GRAFT_DRIVER_MEM overrides)
_PHYS_MB = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
DRIVER_MEM = f"{min(16 * 1024, _PHYS_MB // 2)}m"


def get_spark(
    cores: int | None = None,
    app_name: str = "fs2_osm_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession on local[cores].

    At cluster scale the same confs apply; only ``master`` changes
    (spark-submit provides it). ``shuffle_partitions`` defaults to 2x cores
    locally; on a real cluster this would be ~2-3x total executor cores, and
    AQE coalesces down from there.
    """
    cores = cores or DEFAULT_CPUS
    shuffle = shuffle_partitions or max(8, cores)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "100000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
