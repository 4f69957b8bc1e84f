"""Streaming + lineage queries for the driver gate.

The streaming entries actually execute Structured Streaming jobs (file
source micro-batches -> watermark -> stateful op -> memory sink) and the
oracle checks the materialized result against plain SQL — streaming/batch
parity is the correctness contract.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fs2_osm_spark.queries.registry import register
from fs2_osm_spark.streaming.events import (
    stream_dedupe_counts,
    windowed_event_counts,
)


@register(
    "stream_windowed_counts",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS win_start,
           event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(round(sum(value), 4) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def stream_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1h window aggregate executed as a real streaming query.
    (Timestamps serialize to ISO strings on both sides: registered outputs
    carry only dtype-stable scalars through the driver's canonicalizer.)"""
    out = windowed_event_counts(spark, sf_dir)
    return out.select(
        F.date_format("win_start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
        "event_type", "n", "total_value",
    )


@register(
    "stream_dedupe",
    oracle="""
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_unique FROM (
        SELECT DISTINCT event_type, user_id, date_trunc('hour', ts) AS h
        FROM events
    ) GROUP BY event_type
    """,
)
def stream_dedupe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked streaming dropDuplicates == batch DISTINCT."""
    return stream_dedupe_counts(spark, sf_dir)


@register("lineage_batched_resume", oracle=None)
def lineage_batched_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpoint/lineage + idempotent resume demo (north rule): process
    batches, crash injected mid-run, resume; returns the lineage metrics
    rows (one ok row per batch proves every batch ran exactly once)."""
    from fs2_osm_spark.plans.lineage import LineageLog, run_batched

    source = spark.range(0, 10_000, 1, 8).select(
        F.col("id"),
        (F.col("id") % 8).cast("string").alias("batch"),
        (F.col("id") * 2).alias("v"),
    )

    # the metrics are materialized as local rows: nothing reads the root
    # once the block removes it
    with tempfile.TemporaryDirectory(prefix="lineage_q_") as root:
        try:
            run_batched(spark, source, "batch", root, fail_after=3)
        except RuntimeError:
            pass  # injected failure after 3 batches
        run_batched(spark, source, "batch", root)
        metrics = LineageLog(spark, root).metrics().select(
            "batch_id", "status", "n_rows"
        )
        rows = metrics.collect()
    return spark.createDataFrame(rows, metrics.schema)


@register(
    "stream_sessionize",
    oracle="""
    WITH m AS (
        SELECT user_id, ts,
               CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) > 21600000000
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    s AS (
        SELECT user_id, ts,
               sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                   ROWS UNBOUNDED PRECEDING) AS sess_id
        FROM m
    ),
    g AS (
        SELECT user_id, sess_id,
               min(ts) AS session_start, max(ts) AS session_end,
               CAST(count(*) AS BIGINT) AS n_events
        FROM s GROUP BY user_id, sess_id
    )
    SELECT g.user_id,
           strftime(g.session_start, '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(g.session_end, '%Y-%m-%d %H:%M:%S') AS session_end,
           g.n_events
    FROM g JOIN (SELECT user_id, max(sess_id) AS last_id FROM g GROUP BY user_id) z
      ON g.user_id = z.user_id
    WHERE g.sess_id <> z.last_id
    """,
)
def stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): per-user
    6h-gap session windows, executed as a real streaming query; the oracle
    re-derives closed sessions with window SQL (the final open session per
    user stays in state on the bounded replay — see sessionize_users)."""
    from fs2_osm_spark.streaming.events import sessionize_users

    out = sessionize_users(spark, sf_dir, gap_hours=6)
    fmt = lambda c: F.date_format(c, "yyyy-MM-dd HH:mm:ss").alias(c)  # noqa: E731
    return out.select(
        "user_id", fmt("session_start"), fmt("session_end"), "n_events"
    )


@register(
    "stream_multirollup",
    oracle="""
    SELECT 'hour' AS grain,
           strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket,
           event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(round(sum(value), 4) AS DOUBLE) AS total
    FROM events GROUP BY 2, 3
    UNION ALL
    SELECT 'day' AS grain,
           strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M:%S') AS bucket,
           event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(round(sum(value), 4) AS DOUBLE) AS total
    FROM events GROUP BY 2, 3
    """,
)
def stream_multirollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate shape: the same event relation
    rolled up at two time grains; the day grain re-aggregates the hour
    grain (partial-agg reuse) rather than rescanning the source."""
    import os

    from fs2_osm_spark.io import load

    ev = load(spark, sf_dir, "events")
    hour = ev.groupBy(
        F.date_trunc("hour", "ts").alias("bucket"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("_sum"))
    hour_out = hour.select(
        F.lit("hour").alias("grain"), "bucket", "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.round("_sum", 4).cast("double").alias("total"),
    )
    day = (
        hour.groupBy(F.date_trunc("day", "bucket").alias("bucket"), "event_type")
        .agg(F.sum("n").cast("bigint").alias("n"), F.sum("_sum").alias("_sum"))
        .select(
            F.lit("day").alias("grain"), "bucket", "event_type", "n",
            F.round("_sum", 4).cast("double").alias("total"),
        )
    )
    both = hour_out.unionByName(day)
    return both.select(
        "grain",
        F.date_format("bucket", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
        "event_type", "n", "total",
    )


@register(
    "stream_static_join",
    oracle="""
    SELECT strftime(date_trunc('hour', e.ts), '%Y-%m-%d %H:%M:%S') AS win_start,
           n.n_name AS nation,
           CAST(count(*) AS BIGINT) AS n,
           CAST(round(sum(e.value), 4) AS DOUBLE) AS total_value
    FROM events e
    JOIN nation n ON n.n_nationkey = e.user_id % 25
    GROUP BY 1, 2
    """,
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static broadcast join + windowed agg, batch-parity oracled."""
    from fs2_osm_spark.streaming.events import stream_static_enriched_counts

    out = stream_static_enriched_counts(spark, sf_dir)
    return out.select(
        F.date_format("win_start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
        "nation", "n", "total_value",
    )


@register(
    "stream_stream_join",
    oracle="""
    WITH a AS (
        SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'
    ),
    b AS (
        SELECT user_id, ts, event_id, value
        FROM events WHERE event_type = 'purchase'
    )
    SELECT a.user_id,
           a.event_id AS click_id,
           b.event_id AS purchase_id,
           -- whole-second truncation BEFORE the difference, matching
           -- Spark's ts.cast(long) (events carry sub-second components)
           CAST((CAST(floor(epoch(b.ts)) AS BIGINT)
                 - CAST(floor(epoch(a.ts)) AS BIGINT)) // 60 AS BIGINT)
               AS minutes_to_purchase,
           CAST(round(b.value, 4) AS DOUBLE) AS purchase_value
    FROM a JOIN b
      ON a.user_id = b.user_id
     AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream interval join (click -> purchase within
    1 h, per user) executed through Structured Streaming's two-stream
    state machine; the oracle is the equivalent batch interval join, so
    streaming must emit exactly the batch answer — a dropped buffered row
    (premature state eviction) or a duplicate emission both break the
    hash."""
    from fs2_osm_spark.streaming.events import stream_stream_click_purchase

    return stream_stream_click_purchase(spark, sf_dir)


@register(
    "stream_cdc_merge",
    oracle="""
    WITH changes AS (
        SELECT user_id, value, event_type,
               CAST(floor(epoch(ts)) AS BIGINT) AS version,
               CASE WHEN event_type = 'purchase' THEN 'delete'
                    ELSE 'modify' END AS op,
               CASE WHEN event_type = 'purchase' THEN 2 ELSE 1 END AS rnk
        FROM events
    ),
    winners AS (
        SELECT user_id, value, event_type, op,
               row_number() OVER (
                   PARTITION BY user_id
                   ORDER BY version DESC, rnk DESC, value DESC,
                            event_type DESC, op DESC
               ) AS rn
        FROM changes
    )
    SELECT user_id,
           CAST(round(value, 4) AS DOUBLE) AS last_value,
           event_type AS last_event_type
    FROM winners WHERE rn = 1 AND op <> 'delete'
    """,
)
def stream_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC upsert/tombstone state (r06): the events stream
    replayed in micro-batches through a foreachBatch merge
    (streaming/events.py stream_cdc_state — apply_diff with kept
    tombstones so out-of-order older modifies cannot resurrect deleted
    keys). The merge is associative+commutative, so the streamed result
    must equal one batch merge over all events — which the oracle
    re-derives in SQL with the identical (version, op-rank, payload)
    survivorship order. Epochs truncate to whole seconds on both engines
    (Spark ts.cast(long) == DuckDB floor(epoch(ts)))."""
    from fs2_osm_spark.streaming.events import stream_cdc_state

    out = stream_cdc_state(spark, sf_dir)
    return out.select(
        "user_id",
        F.round("value", 4).cast("double").alias("last_value"),
        F.col("event_type").alias("last_event_type"),
    )
