"""Sequence packing for training-batch assembly — token-budget bins over a
deterministic global document order, built on a DISTRIBUTED prefix sum.

A training-data pipeline packs documents into fixed token budgets
(max_seq_len bins) before tokenization/shuffling. The core primitive is an
exclusive running sum of token counts over a global order — and the naive
Spark formulation (`Window.orderBy(...)` with no partitionBy) collapses the
whole table into ONE task, the canonical 100 TB scale-killer.

distributed_prefix_sum implements the classic two-pass alternative:

  1. one collected job of range first keys and totals: range-partition the
     (key, value) columns by the global sort key and aggregate each range
     partition to its first key and its total (P rows, driver-trivial);
  2. then a lazy window: each row's offset is the running total of the
     ranges before its own, looked up from the collected first keys as
     constants, and a window partitioned by that offset adds the row's
     running sum inside its range — every row gets its exact global
     exclusive prefix sum, never in a single-task stage.

Packing then assigns bin_id = floor(prefix_sum / budget): contiguous
documents share a bin until the budget rolls over (documents larger than
the budget occupy their own bin(s) — the greedy "concat-and-chunk" packing
used by large-scale LM data pipelines, which wastes no slots and needs no
bin-packing search). offset_in_bin = prefix_sum % budget.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def distributed_prefix_sum(
    df: DataFrame,
    value_col: str,
    order_cols: list[str],
    out_col: str = "prefix_sum",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exclusive prefix sum of value_col over the global order_cols order,
    without a single-task global window. Rows keep all original columns.

    The result is a lazy frame that gives the same answer however often it
    is recomputed: the sampled range partitioner runs in one collected job
    and only decides balance; from then on the ranges are constants (each
    range's first key and its total), so a re-execution, a re-sample or an
    AQE coalesce cannot change any row's offset. The offset lookup is a
    binary search of nested ``when``s over struct literals of the first
    keys (O(log ranges) comparisons per row, all in codegen). A range whose
    total is 0 shares its offset with the next one and adds nothing to the
    running sum, so partitioning the window by the offset stays exact.
    Ties in order_cols get an arbitrary order, as in any row-frame window.
    The input plan runs twice (the collected job and the result): stage an
    expensive input first."""
    parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    key = F.struct(*order_cols)
    ranges = (
        df.select(*order_cols, value_col)
        .repartitionByRange(parts, *order_cols)
        .groupBy(F.spark_partition_id().alias("_pid"))
        .agg(F.min(key).alias("first"), F.sum(value_col).alias("total"))
        .orderBy("_pid")
        .collect()
    )
    fields = [df.schema[c] for c in order_cols]
    firsts, offsets, running = [], [], 0
    for r in ranges:
        firsts.append(
            F.struct(*[F.lit(v).cast(f.dataType).alias(f.name)
                       for f, v in zip(fields, r.first, strict=True)])
        )
        offsets.append(running)
        running += r.total or 0
    off = _range_offset(key, firsts, offsets)
    w = Window.partitionBy("_off").orderBy(*order_cols).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    val = F.col(value_col)
    # key order first: the window's own sort leads with _off, constant over
    # a range, so its sort prefix decides nothing and every comparison reads
    # whole keys (a 2M-row string key sorted 2x slower); on rows already in
    # key order, hence in (_off, key) order, that sort is one linear pass
    return (
        df.withColumn("_off", off)
        .repartition(parts, "_off")
        .sortWithinPartitions(*order_cols)
        .select(
            *df.columns,
            (F.col("_off") + F.sum(val).over(w) - val).cast("bigint").alias(out_col),
        )
    )


def _range_offset(key: Column, firsts: list[Column], offsets: list[int]) -> Column:
    """The offset of the last range whose first key is <= key (a binary
    search over the sorted first keys; the first range starts at the global
    minimum, so every key has one)."""
    if len(firsts) <= 1:
        return F.lit(offsets[0] if offsets else 0).cast("bigint")
    mid = len(firsts) // 2
    return F.when(
        key >= firsts[mid], _range_offset(key, firsts[mid:], offsets[mid:])
    ).otherwise(_range_offset(key, firsts[:mid], offsets[:mid]))


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
