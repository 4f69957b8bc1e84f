"""Structured Streaming over the events table.

The reference's stream is bounded with no time semantics (SURVEY.md §2.3
notes: no watermarks/windows/state), so this module is target-side surface:
the same events relation consumed as a stream — file source with bounded
trigger, event-time watermark, tumbling-window aggregation, and
watermarked stream dedupe — with results identical to the batch plan
(which is what the DuckDB oracle checks).
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


_STAGED: dict[str, str] = {}


def _stage_dir(spark: SparkSession, sf_dir: str) -> str:
    """The file stream source wants a directory of files; stage the single
    events.parquet as 4 files so maxFilesPerTrigger=1 yields real
    incremental micro-batches. Staged once per process, removed at exit."""
    key = os.path.abspath(sf_dir)
    if key not in _STAGED:
        out = tempfile.mkdtemp(prefix="events_stream_")
        atexit.register(shutil.rmtree, out, ignore_errors=True)
        ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        # stage as 4 time-ordered files written sequentially (increasing
        # mtime): the file source replays them oldest-first, so event time
        # advances monotonically-ish and the watermark behaves as it would
        # on a live stream instead of discarding "late" shuffled rows
        qs = ev.approxQuantile("event_id", [0.25, 0.5, 0.75], 0.001)
        bounds = [float("-inf"), *qs, float("inf")]
        for i in range(4):
            ev.filter(
                (F.col("event_id") > bounds[i]) & (F.col("event_id") <= bounds[i + 1])
            ).coalesce(1).write.mode("append").parquet(out)
        _STAGED[key] = out
    return _STAGED[key]


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = os.path.join(sf_dir, "events.parquet")
    schema = spark.read.parquet(path).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(_stage_dir(spark, sf_dir))
    )
    # the parquet column is TIMESTAMP_NTZ; watermarks require TIMESTAMP
    # (session TZ is pinned to UTC so the instant is unchanged)
    return stream.withColumn("ts", F.col("ts").cast("timestamp"))


def run_to_memory(stream_df: DataFrame, name: str, output_mode: str) -> DataFrame:
    """Execute a bounded stream fully (processAllAvailable) into a memory
    sink and return the materialized result."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    spark = stream_df.sparkSession
    return spark.sql(f"SELECT * FROM {name}")


def windowed_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling windows per event_type.

    Complete output mode so trailing windows emit on a bounded stream (in
    append mode the watermark never passes the final window once the file
    source is exhausted — the classic bounded-replay pitfall)."""
    stream = _events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).cast("double").alias("total_value"),
        )
    )
    out = run_to_memory(agg, "windowed_event_counts", "complete")
    return out.select(
        F.col("win.start").alias("win_start"), "event_type", "n", "total_value"
    )


def stream_dedupe_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked streaming dropDuplicates on (user_id, event_type, hour),
    then a batch aggregate over the materialized deduped stream (keeps a
    single stateful operator per streaming query)."""
    stream = _events_stream(spark, sf_dir)
    hour = F.date_trunc("hour", F.col("ts")).alias("hour")
    dedup = (
        stream.select("user_id", "event_type", "ts", hour)
        .withWatermark("ts", "2 hours")
        .dropDuplicates(["user_id", "event_type", "hour"])
    )
    out = run_to_memory(dedup, "stream_dedupe_rows", "append")
    return out.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_unique"))


def sessionize_users(spark: SparkSession, sf_dir: str, gap_hours: int = 6) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user session
    windows with a `gap_hours` inactivity gap.

    State per user: (session_start, last_ts, n_events). An event extends the
    open session if within the gap, else closes it (emitted) and opens a new
    one. On a live stream a timeout would flush idle open sessions; this
    bounded replay uses NoTimeout (a processing-time timeout keeps the
    micro-batch engine scheduling wake-ups, so processAllAvailable never
    drains) and the final open session per user stays in state — the
    batch-parity test therefore compares closed sessions."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql import types as T

    stream = _events_stream(spark, sf_dir)
    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType(), False),
            T.StructField("session_start", T.TimestampType(), False),
            T.StructField("session_end", T.TimestampType(), False),
            T.StructField("n_events", T.LongType(), False),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("start_us", T.LongType(), False),
            T.StructField("last_us", T.LongType(), False),
            T.StructField("n", T.LongType(), False),
        ]
    )
    gap_ns = gap_hours * 3600 * 1_000_000_000

    def fn(key, pdfs, state: GroupState):
        (user_id,) = key
        closed = []
        ts_ns: list[int] = []
        for pdf in pdfs:
            ts_ns.extend(
                pdf["ts"].astype("datetime64[ns]").astype("int64").tolist()
            )
        ts_ns.sort()
        if state.exists:
            s, l, n = state.get
        else:
            s = l = None
            n = 0
        for t in ts_ns:
            if s is None:
                s = l = t
                n = 1
            elif t - l <= gap_ns:
                l = t
                n += 1
            else:
                closed.append((user_id, s, l, n))
                s = l = t
                n = 1
        if s is not None:
            state.update((s, l, n))
        if closed:
            df = pd.DataFrame(
                closed, columns=["user_id", "session_start", "session_end", "n_events"]
            )
            df["session_start"] = pd.to_datetime(df["session_start"], unit="ns")
            df["session_end"] = pd.to_datetime(df["session_end"], unit="ns")
            yield df

    sessions = (
        stream.select("user_id", "ts")
        .groupBy("user_id")
        .applyInPandasWithState(
            fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
        )
    )
    out = run_to_memory(sessions, "sessionize_users", "append")
    return out


def stream_static_enriched_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the event stream enriched with a static dimension
    (nation, keyed by user_id % 25) before a watermarked windowed aggregate.
    The static side is broadcast per micro-batch — the standard pattern for
    dimension lookups in a streaming ingest; no stream-stream state needed."""
    nation = spark.read.parquet(os.path.join(sf_dir, "nation.parquet")).select(
        F.col("n_nationkey").cast("bigint").alias("nk"), "n_name"
    )
    stream = _events_stream(spark, sf_dir).withColumn(
        "nk", F.pmod(F.col("user_id"), F.lit(25)).cast("bigint")
    )
    enriched = stream.join(F.broadcast(nation), "nk")
    agg = (
        enriched.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("win"), "n_name")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).cast("double").alias("total_value"),
        )
    )
    out = run_to_memory(agg, "stream_static_enriched", "complete")
    return out.select(
        F.col("win.start").alias("win_start"),
        F.col("n_name").alias("nation"),
        "n",
        "total_value",
    )


def stream_stream_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream INTERVAL join: clicks joined to purchases by the same
    user within the following hour — the canonical two-stream correlation
    (attribution) shape. Both sides carry event-time watermarks and the
    join condition carries the time bound, which is what lets the engine
    BOUND the join state: a buffered click can be evicted once the
    purchase-side watermark passes click_ts + 1h (unbounded-state
    stream-stream joins are the classic production outage). Inner joins
    emit matches as they arrive, so a bounded replay drains completely."""
    clicks = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("c_ts", "2 hours")
    )
    purchases = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("purchase_id"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    joined = clicks.join(
        purchases,
        F.expr(
            "c_user = p_user AND p_ts >= c_ts "
            "AND p_ts <= c_ts + interval 1 hour"
        ),
    )
    out = run_to_memory(joined, "stream_stream_cp", "append")
    return out.select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        ((F.col("p_ts").cast("long") - F.col("c_ts").cast("long")) / 60)
        .cast("bigint")
        .alias("minutes_to_purchase"),
        F.round("purchase_value", 4).cast("double").alias("purchase_value"),
    )


def stream_cdc_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC merge via foreachBatch: the event stream is a change
    feed over a per-user state table — every event upserts the user's
    latest (value, event_type) at version = epoch-second, and a 'purchase'
    event is the account-closing tombstone (delete). Each micro-batch
    merges prev-state ∪ batch-changes with apply_diff(keep_meta=True), so
    tombstones persist in state and block OUT-OF-ORDER older modifies from
    resurrecting a deleted key; the max-struct merge is associative and
    commutative, so the result is independent of micro-batch boundaries —
    which is exactly what the batch twin (one merge over all events) and
    the DuckDB oracle check. State lands in a per-batch parquet dir (the
    same swap-on-write pattern a lakehouse MERGE target uses), and the
    FINAL state is swapped through catalog.swap_durable_result into a
    durable table the returned DataFrame reads — the driver never materializes
    state (r07; the r06 version round-tripped it through toPandas)."""
    import shutil
    import tempfile

    import pandas as pd

    from fs2_osm_spark.catalog import swap_durable_result
    from fs2_osm_spark.operators.diff import apply_diff

    stream = _events_stream(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="cdc_state_")
    holder: dict[str, str | None] = {"path": None}

    def to_changes(df: DataFrame) -> DataFrame:
        return df.select(
            F.col("user_id"),
            F.col("value"),
            F.col("event_type"),
            F.col("ts").cast("long").alias("version"),
            F.when(F.col("event_type") == "purchase", "delete")
            .otherwise("modify")
            .alias("op"),
        )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        changes = to_changes(batch_df)
        prev_path = holder["path"]
        if prev_path is not None:
            prev = spark.read.parquet(prev_path).select(
                "user_id", "value", "event_type", "version", "op"
            )
            changes = changes.unionByName(prev)
        # base=None: changes-only merge — no empty non-Arrow relation in
        # every batch plan (each first execution would spin Python workers)
        new_state = apply_diff(
            None, changes, key_col="user_id",
            payload_cols=("value", "event_type"), keep_meta=True,
        )
        out = f"{root}/v{batch_id}"
        new_state.write.mode("overwrite").parquet(out)
        holder["path"] = out
        if prev_path is not None:  # superseded snapshot: drop it
            shutil.rmtree(prev_path, ignore_errors=True)

    # the root holds the state snapshots and the stream checkpoint:
    # removed on error too
    try:
        q = (
            stream.writeStream.foreachBatch(apply_batch)
            .option("checkpointLocation", f"{root}/_ckpt")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        schema = "user_id long, value double, event_type string"
        if holder["path"] is None:  # zero micro-batches: empty state
            return spark.createDataFrame(pd.DataFrame(
                {"user_id": [], "value": [], "event_type": []}), schema)
        final = spark.read.parquet(holder["path"])
        # durable snapshot swap: write the cleaned final state THROUGH the
        # table-format boundary (one distributed job — tombstones dropped,
        # meta columns pruned) into a per-run table, then drop the
        # per-batch working tree and return a plain read of the durable
        # table (the previous run's snapshot in this process is evicted by
        # the swap).
        return swap_durable_result(
            final.filter(F.col("op") != "delete").select(
                "user_id", "value", "event_type"
            ),
            "stream_cdc_state",
            prefix="fs2_osm_cdc_state_",
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
