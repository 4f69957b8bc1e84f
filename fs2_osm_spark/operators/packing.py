"""Sequence packing for training-batch assembly — token-budget bins over a
deterministic global document order, built on a DISTRIBUTED prefix sum.

A training-data pipeline packs documents into fixed token budgets
(max_seq_len bins) before tokenization/shuffling. The core primitive is an
exclusive running sum of token counts over a global order — and the naive
Spark formulation (`Window.orderBy(...)` with no partitionBy) collapses the
whole table into ONE task, the canonical 100 TB scale-killer.

distributed_prefix_sum implements the classic two-pass alternative:

  1. range-partition by the global sort key (one shuffle, the same shuffle
     a global sort would need anyway),
  2. per-partition partial sums in a single narrow pass,
  3. collect the P partial sums (P ~ thousands, driver-trivial), compute
     per-partition starting offsets, broadcast them back,
  4. second narrow pass adds the offset — every row gets its exact global
     exclusive prefix sum with TWO narrow passes + one range shuffle,
     never a single-task stage.

Packing then assigns bin_id = floor(prefix_sum / budget): contiguous
documents share a bin until the budget rolls over (documents larger than
the budget occupy their own bin(s) — the greedy "concat-and-chunk" packing
used by large-scale LM data pipelines, which wastes no slots and needs no
bin-packing search). offset_in_bin = prefix_sum % budget.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from fs2_osm_spark.pins import persist


def distributed_prefix_sum(
    df: DataFrame,
    value_col: str,
    order_cols: list[str],
    out_col: str = "prefix_sum",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exclusive prefix sum of value_col over the global order_cols order,
    without a single-task global window. Rows keep all original columns.
    The ranged frame is a session pin (see the recompute guard below)."""
    parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    ranged = (
        df.repartitionByRange(parts, *[F.col(c) for c in order_cols])
        .sortWithinPartitions(*order_cols)
        # the partition id is pinned as DATA and the frame persisted: pass 1
        # and pass 2 are separate actions, and a re-execution (or an AQE
        # partition coalesce) between them could renumber physical
        # partitions — reading the id from the row makes the offset lookup
        # immune to that. At a scale where persisting the ranged frame is
        # too big for memory+disk, stage it to a parquet table instead (the
        # shuffle was already paid; the staging read is narrow).
        .withColumn("_pid", F.spark_partition_id())
    )
    ranged = persist(ranged)

    # pass 1: per-range-partition totals (narrow)
    totals = (
        ranged.groupBy("_pid").agg(F.sum(value_col).alias("_total")).collect()
    )
    sums = {r._pid: r._total for r in totals}
    offsets = {}
    running = 0
    for p in sorted(sums):
        offsets[p] = running
        running += sums[p]
    expected = dict(sums)

    # pass 2: add each range-partition's start offset to the local running
    # sum (narrow; mapInPandas preserves the sorted in-partition order
    # across Arrow batches, and the per-_pid carry handles both batch
    # splits and any coalescing of ranges into one task)
    bc = df.sparkSession.sparkContext.broadcast((offsets, expected))
    out_fields = [c for c in ranged.schema.fieldNames() if c != "_pid"] + [out_col]
    # a new StructType: schema.add() would mutate the one PySpark caches
    # on the caller's frame
    schema = StructType([*df.schema.fields, StructField(out_col, LongType())])

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        offs, exp = bc.value
        carry: dict[int, int] = {}
        for pdf in it:
            if pdf.empty:  # a zero-row Arrow batch: nothing to emit
                continue
            pdf = pdf.copy()
            out = []
            for pid_val, grp in pdf.groupby("_pid", sort=False):
                base = carry.get(pid_val, offs.get(pid_val, 0))
                vals = grp[value_col].to_numpy()
                csum = vals.cumsum()
                grp = grp.copy()
                grp[out_col] = base + csum - vals  # exclusive
                carry[pid_val] = base + (int(csum[-1]) if len(vals) else 0)
                out.append(grp)
            yield pd.concat(out)[out_fields]
        # Fail-fast guard for the release_pins() contract: if the pinned
        # ranged frame was recomputed under a DIFFERENT physical
        # partitioning (e.g. post-release AQE coalesce renumbers
        # spark_partition_id), the _pid column no longer matches the
        # collected offset map. A merged/renumbered pid shows up here as
        # a per-pid running total that disagrees with pass 1 — raise
        # instead of emitting silently wrong prefix sums.
        for pid_val, end in carry.items():
            want = offs.get(pid_val, 0) + exp.get(pid_val, 0)
            if pid_val not in exp or end != want:
                raise RuntimeError(
                    "distributed_prefix_sum: ranged frame was recomputed "
                    f"with a different partitioning (pid {pid_val}: saw "
                    f"running total {end}, pass 1 expected {want}). "
                    "Re-run distributed_prefix_sum instead of re-executing "
                    "a result after release_pins()."
                )

    return ranged.mapInPandas(fn, schema)


def pack_token_bins(
    docs: DataFrame,
    token_col: str,
    order_cols: list[str],
    budget: int,
    num_partitions: int | None = None,
) -> DataFrame:
    """Assign each document a training-bin id and offset under a token
    budget (concat-and-chunk packing over the deterministic global order)."""
    with_sum = distributed_prefix_sum(
        docs, token_col, order_cols, "_psum", num_partitions
    )
    return with_sum.select(
        *docs.columns,
        (F.col("_psum") / budget).cast("bigint").alias("bin_id"),
        (F.col("_psum") % budget).alias("offset_in_bin"),
    )
