"""Streaming dedup-on-arrival: micro-batch-boundary independence and
structural ground truth (the first arrival of each variant group — the
lexicographically smallest, ~br — is the one novel image)."""

from __future__ import annotations

import os
import tempfile

import pytest

from fs2_osm_spark.streaming import images
from fs2_osm_spark.streaming.images import stream_image_dedup
from fs2_osm_spark.synth.images import ND_VARIANTS
from fs2_osm_spark.synth.staging import PHASH_N_BASE, ensure_phash_corpus


def _run(spark, n_batches: int):
    out = (
        stream_image_dedup(spark, ensure_phash_corpus(), n_batches=n_batches)
        .toPandas()
        .sort_values("img_id")
        .reset_index(drop=True)
    )
    return out


def test_batch_boundary_independence(spark):
    one = _run(spark, 1)
    five = _run(spark, 5)
    assert one.img_id.tolist() == five.img_id.tolist()
    assert one.is_novel.tolist() == five.is_novel.tolist()


def test_novel_set_is_first_arrival_per_group(spark):
    out = _run(spark, 4)
    assert len(out) == PHASH_N_BASE * len(ND_VARIANTS)
    novel = out[out.is_novel]
    assert len(novel) == PHASH_N_BASE
    # arrival order within a group is lexicographic: ~br arrives first
    assert novel.img_id.str.endswith("~br").all()


def test_failing_micro_batch_leaves_no_stream_root(spark, monkeypatch):
    """A micro-batch that raises still removes the run's img_dedup_stream_
    root, the parquet feed copy of the corpus included."""
    def roots():
        return {
            e for e in os.listdir(tempfile.gettempdir())
            if e.startswith("img_dedup_stream_")
        }

    def fail(*_args):
        raise RuntimeError("planted micro-batch failure")

    corpus = ensure_phash_corpus()
    before = roots()
    monkeypatch.setattr(images, "_earlier_dup_ids", fail)
    with pytest.raises(Exception, match="planted micro-batch failure"):
        stream_image_dedup(spark, corpus, n_batches=2)
    assert roots() == before
