"""The spark-submit flagship job runs end to end over staged parquet
inputs, and a second submission resumes with nothing left to do."""

from __future__ import annotations

import importlib.util
import os
import sys
import tempfile
from unittest import mock

JOB = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "jobs",
    "flagship_job.py",
)


def _load_job():
    spec = importlib.util.spec_from_file_location("flagship_job", JOB)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_flagship_job_main_completes_batches(spark, capsys):
    from pyspark.sql import functions as F

    from fs2_osm_spark.plans.flagship import (
        flagship_from_tables,
        polygon_corpus_df,
        prepare_corpus,
    )
    from fs2_osm_spark.plans.lineage import read_all_batches
    from fs2_osm_spark.synth.images import images_table

    job = _load_job()
    with tempfile.TemporaryDirectory() as d:
        images, polygons, out = (f"{d}/{n}" for n in ("img", "poly", "out"))
        images_table(spark, 300, slim=True).write.parquet(images)
        polygon_corpus_df(spark, 64).write.parquet(polygons)
        want = flagship_from_tables(
            spark.read.parquet(images),
            prepare_corpus(spark, spark.read.parquet(polygons)),
        )
        n_batches = (
            want.select(F.pmod(F.col("tile_x") + F.col("tile_y") * 7, 3))
            .distinct()
            .count()
        )
        assert n_batches > 0

        argv = ["flagship_job.py", "--images", images, "--polygons", polygons,
                "--output", out, "--batches", "3"]
        with mock.patch.object(sys, "argv", argv):
            job.main()
            assert f"completed {n_batches} batches" in capsys.readouterr().out
            job.main()  # resume: every batch is already in the lineage log
            assert "completed 0 batches" in capsys.readouterr().out

        got = read_all_batches(spark, out).select(
            "image_id", "polygon_id", "cell", "tile_x", "tile_y"
        )
        assert sorted(got.collect()) == sorted(want.collect())
