"""spark-submit entry point for the flagship spatial-join + tiling job.

Cluster launch (north star):
    zip -r fs2_osm_spark.zip fs2_osm_spark
    spark-submit --py-files fs2_osm_spark.zip jobs/flagship_job.py \
        --images <parquet/iceberg path> --polygons <parquet path> \
        --output <path> [--batches 64]

Local sandbox stand-in: the same script runs under local[N] (master comes
from spark-submit / SPARK_GRAFT_CPUS). The job runs batched with lineage
checkpointing: re-submitting after a failure resumes from the last
completed tile batch.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--images", required=True, help="image+caption table path")
    ap.add_argument("--polygons", required=True, help="polygon corpus parquet")
    ap.add_argument("--output", required=True, help="output root (data + lineage)")
    ap.add_argument("--batches", type=int, default=64, help="tile batch count")
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from fs2_osm_spark.plans.flagship import flagship_from_tables, prepare_corpus
    from fs2_osm_spark.plans.lineage import run_batched

    spark = SparkSession.builder.appName("fs2_osm_spark_flagship").getOrCreate()

    # the cover is built once from the corpus table; every batch reuses it
    cover = prepare_corpus(spark, spark.read.parquet(args.polygons))
    images = spark.read.parquet(args.images)
    result = flagship_from_tables(images, cover)
    # batch key: coarse tile stripe — deterministic, resumable
    batched = result.withColumn(
        "batch", F.pmod(F.col("tile_x") + F.col("tile_y") * 7, args.batches)
    )
    n = run_batched(spark, batched, "batch", args.output)
    print(f"completed {n} batches -> {args.output}")


if __name__ == "__main__":
    main()
