"""Per-batch lineage checkpointing + idempotent resume.

Generalizes the reference's Summary fold + importer_properties metadata
(/root/reference/postgres/src/main/scala/fs2/osm/postgres/Summary.scala:6-50,
ImporterPropertiesFeature.scala:10-31) into the north-rule requirement:
every processed batch (e.g. a tile batch of the spatial join) writes
per-partition lineage/metrics rows to a checkpoint table; a restarted job
anti-joins completed batch ids and reprocesses only the remainder, so a
failed run resumes idempotently. `run_batched` pins its source once and
takes the batch ids and per-partition counts from one aggregate over it.

All reads/writes route through fs2_osm_spark.catalog (write_table /
read_table), so the storage format is a single switch: parquet here (the
container has no Iceberg jars), iceberg on a cluster (the handler issues
df.writeTo(<catalog>.db.<table>) and fails descriptively when the catalog
is absent). Batch data lands under data/batch=<id>/ so a re-run of a
completed batch overwrites deterministically instead of duplicating.
"""

from __future__ import annotations

import os
import time

from fs2_osm_spark.catalog import read_table, write_table
from fs2_osm_spark.pins import Pins
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("batch_id", T.StringType(), False),
        T.StructField("status", T.StringType(), False),  # ok | partition
        T.StructField("partition_id", T.LongType(), True),
        T.StructField("n_rows", T.LongType(), False),
        T.StructField("n_partitions", T.LongType(), False),
        T.StructField("wall_ms", T.LongType(), False),
        T.StructField("attempt_ts", T.TimestampType(), False),
    ]
)


class LineageLog:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.dir = os.path.join(root, "_lineage")

    def completed(self) -> set[str]:
        # Existence-check before the first read: letting Spark probe a
        # missing path throws (and WARN-logs a Java stack trace via the
        # FileStreamSink probe) on every fresh run, which makes bench and
        # lifecycle logs look crashed. Only the parquet handler maps to a
        # filesystem path; other formats fall through to the try/except.
        from fs2_osm_spark.catalog import table_format

        # The os.path fast-path only means anything for scheme-less local
        # paths — for hdfs:// or s3a:// roots it would always be False and
        # silently read a populated lineage log as empty (re-running every
        # batch). Non-local roots fall through to the Spark read.
        is_local = "://" not in self.dir
        if table_format() == "parquet" and is_local and not os.path.exists(self.dir):
            return set()
        try:
            df = read_table(self.spark, self.dir)
        except Exception:  # noqa: BLE001 — first run: no log yet
            return set()
        rows = df.filter(F.col("status") == "ok").select("batch_id").distinct().collect()
        return {r.batch_id for r in rows}

    def record(
        self,
        batch_id: str,
        n_rows: int,
        n_partitions: int,
        wall_ms: int,
        partition_rows: list[tuple[int, int]] | None = None,
    ) -> None:
        """One 'ok' row per batch + one 'partition' row per spark partition
        (the per-partition lineage/metrics rows of the north rule)."""
        rows = [(batch_id, "ok", None, n_rows, n_partitions, wall_ms)]
        for pid, n in partition_rows or []:
            rows.append((batch_id, "partition", pid, n, n_partitions, wall_ms))
        base = T.StructType(LINEAGE_SCHEMA.fields[:6])
        # Arrow path (pandas -> LocalRelation): a plain createDataFrame over
        # local rows falls back to a pickled-RDD plan whose FIRST execution
        # spins up Python workers — ~4-6s per record() call, which at one
        # lineage write per batch dominated the whole batched-flagship stage
        # (profiled r05: 6s/batch of an 8x7s loop). The pandas route stays
        # JVM-side at execution: ~0.2s per append.
        import pandas as pd

        pdf = pd.DataFrame(rows, columns=[f.name for f in base.fields])
        # Session-independence: the caller's SparkSession may have Arrow
        # disabled (Spark's default — e.g. the external driver that runs
        # registered queries). Under the non-Arrow fallback a pandas
        # nullable Int64 NA degrades to float nan, which LongType field
        # verification rejects. An object-dtype column holding Python ints
        # and None converts to a nullable long on BOTH paths (Arrow casts
        # via the explicit schema; the pickled fallback accepts None/int).
        pdf["partition_id"] = pd.Series(
            [r[2] for r in rows], dtype=object
        ).where(lambda s: s.notna(), None)
        df = self.spark.createDataFrame(pdf, base).withColumn(
            "attempt_ts", F.current_timestamp()
        )
        write_table(df.coalesce(1), self.dir, mode="append")

    def metrics(self) -> DataFrame:
        return read_table(self.spark, self.dir)


def run_batched(
    spark: SparkSession,
    source: DataFrame,
    batch_col: str,
    root: str,
    fail_after: int | None = None,
) -> int:
    """Process `source` one batch id at a time with resume.

    - one pin of `source`, and one aggregate over it by (batch_col,
      spark_partition_id): batch ids (str() of each value) and each
      batch's per-partition lineage rows; logged-complete ids are skipped
    - each batch: write its pinned rows to data/batch=<id>/; the write's
      observed count must equal the aggregate's (else RuntimeError, no log
      row); then log one ok row plus one row per partition
    - fail_after=n aborts after n batches (test hook simulating a crash)

    Returns the number of batches processed in this invocation.
    """
    import threading
    from concurrent.futures import ThreadPoolExecutor, as_completed

    log = LineageLog(spark, root)
    done = log.completed()
    record_lock = threading.Lock()
    # one pin for the whole run: unpinned, every batch write re-runs the
    # upstream (in the PBF pipeline, image synthesis incl. per-image PNG
    # encode: 6s/batch at 2k images). At a scale where the source exceeds
    # memory, stage it to parquet partitioned BY the batch column instead,
    # so each batch filter becomes partition pruning rather than recompute.
    with Pins() as pins:
        pinned = pins.persist(source)
        parts: dict[str, list[tuple[int, int]]] = {}
        for r in pinned.groupBy(
            batch_col, F.spark_partition_id().alias("pid")
        ).count().collect():
            if str(r[0]) not in done:
                parts.setdefault(str(r[0]), []).append((r.pid, r["count"]))
        todo = sorted(parts)

        def process(b: str) -> None:
            t0 = time.time()
            rows = sorted(parts[b])
            n = sum(c for _, c in rows)
            obs = Observation()
            part = pinned.filter(F.col(batch_col).cast("string") == b)
            write_table(
                part.observe(obs, F.count(F.lit(1)).alias("n")),
                os.path.join(root, "data", f"batch={b}"),
            )
            written = obs.get["n"]
            if written != n:
                raise RuntimeError(f"batch {b}: wrote {written} rows, counted {n}")
            # batch data dirs are disjoint, so batch jobs overlap freely; the
            # lineage log is ONE append-mode table, and concurrent appends to
            # the same path share the committer's _temporary staging dir —
            # serialize just the tiny log append
            with record_lock:
                wall_ms = int((time.time() - t0) * 1000)
                log.record(b, n, len(rows), wall_ms, partition_rows=rows)

        # batches are independent filter->write jobs over the pin: submit a
        # few concurrently so the next batch's tasks back-fill executors
        # freed by the current batch's tail (guide §2.6). 4 in flight fills
        # the tail without starving any job. The first failure cancels every
        # batch that has not started (resume stays correct: completed
        # batches are logged). fail_after=n runs the first n, then crashes
        # before the next.
        run = todo if fail_after is None else todo[:fail_after]
        with ThreadPoolExecutor(max_workers=4) as ex:
            futures = [ex.submit(process, b) for b in run]
            try:
                for fut in as_completed(futures):
                    fut.result()
            except BaseException:
                ex.shutdown(cancel_futures=True)
                raise
    if len(run) < len(todo):
        raise RuntimeError(f"injected failure before batch {todo[len(run)]}")
    return len(run)


def read_all_batches(spark: SparkSession, root: str) -> DataFrame:
    return read_table(spark, os.path.join(root, "data", "batch=*"))
