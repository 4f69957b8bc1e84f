"""Streaming image ingest with dedup-on-arrival.

The training-data shape: a feed of images arrives in micro-batches; an
image is NOVEL iff no earlier-arrived image is a perceptual near-dup
(hamming(aHash64) <= t). Every arriving image — novel or not — joins the
accumulated hash index, so later arrivals dedup against everything seen.

Because the 8x8-bit banding has full recall at hamming <= 7 (pigeonhole),
the banded streaming result is EXACTLY the threshold formula
``novel(i) = not exists j: arrival_j < arrival_i and d(i,j) <= t`` — which
is what the DuckDB twin evaluates all-pairs from the fixture's recorded
hashes, and why the result is independent of how the ordered feed is cut
into micro-batches (pinned by tests/test_stream_image_dedup.py).

Ordering: novelty is defined against ARRIVAL order, so the source must
deliver batches in order — here a file stream whose staged slices are
written sequentially (increasing mtime, replayed oldest-first, the
events-stream pattern); a production feed would be a log source with
per-partition ordering. State follows the CDC swap-on-write pattern:
per-batch parquet snapshots, previous snapshot dropped, final state
swapped through catalog.swap_durable_result into a durable per-run table.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fs2_osm_spark.codecs.png import phash64
from fs2_osm_spark.operators.dedup import band_cols
from fs2_osm_spark.operators.multimodal import map_images
from fs2_osm_spark.pins import Pins


def _earlier_dup_ids(
    batch: DataFrame, prior: DataFrame, n_bands: int, hamming_t: int
) -> DataFrame:
    """img_ids in `batch` having a near-dup in `prior` with smaller
    arrival (prior may include the batch itself). Banded join on the
    one band key (operators/dedup.band_cols), but its own two-frame join
    ordered by arrival, not the dedup self-join: only (arrival, phash,
    band) reaches the shuffle, never image bytes."""
    explode = F.posexplode(
        F.array(*band_cols("phash", n_bands))
    ).alias("k", "bv")
    b = batch.select("img_id", "arrival", "phash", explode)
    p = prior.select(
        F.col("img_id").alias("p_id"),
        F.col("arrival").alias("p_arrival"),
        F.col("phash").alias("p_phash"),
        explode,
    ).withColumnsRenamed({"k": "pk", "bv": "pbv"})
    return (
        b.join(
            p,
            on=[
                F.col("k") == F.col("pk"),
                F.col("bv") == F.col("pbv"),
                F.col("p_arrival") < F.col("arrival"),
            ],
        )
        .where(
            F.bit_count(F.col("phash").bitwiseXOR(F.col("p_phash"))) <= hamming_t
        )
        .select("img_id")
        .distinct()
    )


def stream_image_dedup(
    spark: SparkSession,
    corpus_path: str,
    n_batches: int = 5,
    n_bands: int = 8,
    hamming_t: int = 6,
) -> DataFrame:
    """Run the ordered image feed through foreachBatch dedup-on-arrival;
    returns the durable (img_id, is_novel) table."""
    from fs2_osm_spark.catalog import swap_durable_result

    corpus = spark.read.parquet(corpus_path).select("img_id", "bytes", "fmt")
    # fixture-scale arrival rank (1000 rows). At feed scale arrival comes
    # from the log offset; the scale-safe batch rank is
    # operators/packing.distributed_prefix_sum (see text_global_shuffle).
    from pyspark.sql.window import Window

    ordered = corpus.withColumn(
        "arrival",
        F.row_number().over(Window.orderBy("img_id")).cast("bigint") - 1,
    )
    n_rows = ordered.count()
    per = (n_rows + n_batches - 1) // n_batches

    # the root holds the parquet feed copy of the corpus, the state
    # snapshots and the stream checkpoint: removed on error too
    root = tempfile.mkdtemp(prefix="img_dedup_stream_")
    try:
        feed_dir = os.path.join(root, "feed")
        os.makedirs(feed_dir)
        # FileStreamSource replays oldest-mtime-first at MILLISECOND
        # granularity: two fast sequential writes can tie and replay in random
        # part-file-name order, so each slice's files get an explicit strictly
        # increasing timestamp instead of relying on write latency
        base_t = int(os.stat(feed_dir).st_mtime)
        for k in range(n_batches):
            before = set(os.listdir(feed_dir))
            ordered.filter(
                (F.col("arrival") >= k * per) & (F.col("arrival") < (k + 1) * per)
            ).coalesce(1).write.mode("append").parquet(feed_dir)
            for f in set(os.listdir(feed_dir)) - before:
                os.utime(os.path.join(feed_dir, f), (base_t + k + 1, base_t + k + 1))

        schema = ordered.schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(feed_dir)
        )

        holder: dict[str, str | None] = {"state": None}
        flags_dir = os.path.join(root, "flags")

        def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
            # pin the decoded hashes: `hashed` feeds the dup join twice (probe
            # side + prior union), the flags join, and the state snapshot —
            # unpersisted, every micro-batch would decode its images ~4x.
            # arrival rides through the image pass: one read of the batch
            fields = [
                T.StructField("phash", T.LongType(), False),
                batch_df.schema["arrival"],
            ]
            with Pins() as pins:
                hashed = pins.persist(
                    map_images(
                        batch_df,
                        ["arrival"],
                        lambda img, fmt, arrival: (phash64(img), arrival),
                        fields,
                        id_col="img_id",
                    )
                )
                prev_path = holder["state"]
                if prev_path is not None:
                    state = spark.read.parquet(prev_path)
                    prior = state.unionByName(hashed)
                else:
                    prior = hashed
                dup = _earlier_dup_ids(hashed, prior, n_bands, hamming_t)
                flags = hashed.join(
                    dup.withColumn("_d", F.lit(True)), "img_id", "left"
                ).select(
                    "img_id", F.coalesce(F.col("_d"), F.lit(False)).alias("is_dup")
                )
                flags.write.mode("append").parquet(flags_dir)
                out = os.path.join(root, f"state_v{batch_id}")
                # every arrival joins the index (dups of dups are still dups)
                prior.select("img_id", "arrival", "phash").write.mode(
                    "overwrite"
                ).parquet(out)
                holder["state"] = out
                if prev_path is not None:
                    shutil.rmtree(prev_path, ignore_errors=True)

        q = (
            stream.writeStream.foreachBatch(apply_batch)
            .option("checkpointLocation", os.path.join(root, "_ckpt"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

        return swap_durable_result(
            spark.read.parquet(flags_dir).select(
                "img_id", (~F.col("is_dup")).alias("is_novel")
            ),
            "stream_image_dedup",
            prefix="fs2_osm_img_dedup_",
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
