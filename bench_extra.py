"""Extra benchmarks: phase-level attribution and noop-sink isolation
(guide §1.1/§1.4) for the round-8 optimization work. NOT part of the frozen
driver bench — numbers from here are cited in OPTIMIZATION_r08.md.

Usage: python bench_extra.py [section ...]
Sections: lifecycle phash pyramid flagship headline pq cc
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

CACHE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH", "cache")


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed(label: str, thunk, results: dict, n: int = 2):
    """best-of-n; records cold as label.cold."""
    best = None
    for i in range(n):
        t0 = time.time()
        res = thunk()
        dt = time.time() - t0
        if i == 0:
            results[f"{label}.cold"] = round(dt, 3)
        best = dt if best is None or dt < best else best
    results[label] = round(best, 3)
    return res


def sec_lifecycle(spark, results: dict) -> None:
    import tempfile

    from fs2_osm_spark.plans.pbf_pipeline import frame_tables, run_pbf_pipeline
    from fs2_osm_spark.sources.pbf_writer import write_osm_pbf

    pbf_root = tempfile.mkdtemp(prefix="bx_pbf_")
    t0 = time.time()
    write_osm_pbf(spark, os.path.join(pbf_root, "pbf"), 512, 32).collect()
    results["lc.write_pbf"] = round(time.time() - t0, 3)

    # single-decode cost per entity kind (each count = one full decode)
    t = frame_tables(spark, os.path.join(pbf_root, "pbf"))
    for k in ("nodes", "ways", "relations", "relations_ways"):
        t0 = time.time()
        n = t[k].count()
        results[f"lc.decode_{k}"] = round(time.time() - t0, 3)
        results[f"lc.rows_{k}"] = n

    tm: dict = {}
    t0 = time.time()
    run_pbf_pipeline(
        spark, os.path.join(pbf_root, "pbf"), os.path.join(pbf_root, "out"),
        n_images=2_000, n_batches=8, phase_timings=tm,
    )
    results["lc.pipeline_total"] = round(time.time() - t0, 3)
    for k, v in tm.items():
        results[f"lc.{k}"] = v


def sec_phash(spark, results: dict) -> None:
    from fs2_osm_spark.operators.dedup import connected_components
    from fs2_osm_spark.operators.multimodal import phash_band_pairs, phash_frame
    from fs2_osm_spark.pins import release_pins
    from fs2_osm_spark.synth.images import neardup_table

    nd_path = os.path.join(CACHE_DIR, "images_neardup_100k.parquet")
    if not os.path.exists(nd_path):
        neardup_table(spark, 20_000, partitions=64).write.mode(
            "overwrite"
        ).parquet(nd_path)

    # stage 1: decode+hash only
    timed(
        "ph.decode_hash",
        lambda: noop(phash_frame(spark.read.parquet(nd_path))),
        results,
    )
    # stage 2: band join + verify (includes one decode+hash pass via pin)
    def pairs_run():
        hashed = phash_frame(spark.read.parquet(nd_path))
        n = phash_band_pairs(hashed, n_bands=4, hamming_t=3).count()
        release_pins()
        return n

    results["ph.n_pairs"] = timed("ph.pairs", pairs_run, results)

    # full pipeline (the bench's img_phash_dedup_100k)
    def full_run():
        hashed = phash_frame(spark.read.parquet(nd_path))
        pairs = phash_band_pairs(hashed, n_bands=4, hamming_t=3)
        n = connected_components(pairs).count()
        release_pins()
        return n

    results["ph.n_clusters"] = timed("ph.full", full_run, results)


def sec_cc(spark, results: dict) -> None:
    """CC in isolation over a pre-materialized pair list (latency profile)."""
    from pyspark.sql import functions as F

    from fs2_osm_spark.operators.dedup import connected_components
    from fs2_osm_spark.operators.multimodal import phash_band_pairs, phash_frame
    from fs2_osm_spark.pins import release_pins

    nd_path = os.path.join(CACHE_DIR, "images_neardup_100k.parquet")
    hashed = phash_frame(spark.read.parquet(nd_path))
    pairs = phash_band_pairs(hashed, n_bands=4, hamming_t=3)
    pinned = pairs.persist()
    pinned.count()
    timed("cc.iter_only", lambda: connected_components(pinned).count(), results)
    release_pins()
    pinned.unpersist()

    # synthetic long-chain graph: 200k nodes in chains of length 32 —
    # diameter 31, the round-latency worst case banding never produces
    chain = spark.range(0, 200_000).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    ).where((F.col("id_a") % 32) != 31)
    chain = chain.persist()
    chain.count()
    timed("cc.chain32", lambda: connected_components(chain, max_iters=40).count(), results, n=1)
    release_pins()
    chain.unpersist()


def sec_pyramid(spark, results: dict) -> None:
    from fs2_osm_spark.queries.multimodal2 import _luma_micro_stats, pyramid_rollup
    from fs2_osm_spark.synth.images import images_table

    pyr_path = os.path.join(CACHE_DIR, "images_pyramid_250k.parquet")
    if not os.path.exists(pyr_path):
        images_table(spark, 250_000, partitions=64).write.mode(
            "overwrite"
        ).parquet(pyr_path)
    # decode stage alone vs the whole rollup
    timed(
        "pyr.decode_stats",
        lambda: noop(_luma_micro_stats(spark.read.parquet(pyr_path))),
        results,
    )
    timed(
        "pyr.rollup",
        lambda: pyramid_rollup(spark.read.parquet(pyr_path)).count(),
        results,
    )


def sec_flagship(spark, results: dict) -> None:
    from pyspark.sql import functions as F

    from fs2_osm_spark.operators.multimodal import geotag
    from fs2_osm_spark.plans.flagship import flagship_from_tables, prepare_corpus

    img_path = os.path.join(CACHE_DIR, "images_sf0.1.parquet")
    poly_path = os.path.join(CACHE_DIR, "polygons_sf0.1.parquet")
    if not (os.path.exists(img_path) and os.path.exists(poly_path)):
        print("flagship: run bench.py --stage-only first", file=sys.stderr)
        return
    images = spark.read.parquet(img_path)
    images.count()
    # scan+parse alone: geotag (2 regexp_extract) over the caption column
    timed(
        "fs.geotag_scan",
        lambda: noop(geotag(images).select("image_id", "lon", "lat")),
        results,
    )
    # scan alone (no parse)
    timed(
        "fs.scan_only",
        lambda: noop(images.select("image_id", "caption")),
        results,
    )
    t0 = time.time()
    corpus = prepare_corpus(spark, spark.read.parquet(poly_path))
    results["fs.prepare_corpus"] = round(time.time() - t0, 3)
    timed(
        "fs.full_count",
        lambda: flagship_from_tables(images, corpus).count(),
        results,
        n=3,
    )
    timed(
        "fs.full_noop",
        lambda: noop(flagship_from_tables(images, corpus)),
        results,
    )


def sec_headline(spark, results: dict) -> None:
    from fs2_osm_spark.queries import QUERIES

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names = [
        "agg_pricing_summary", "r01_ordered_assembly", "geo_tile_assignment",
        "geo_pip_broadcast_join", "geo_knn_kring", "sim_bucket_ann",
        "text_fingerprint", "text_pipeline_end2end", "graph_pagerank",
    ]
    for name in names:
        q = QUERIES[name]
        timed(f"hl.{name}", lambda q=q: q.fn(spark, sf_dir).count(), results)


def sec_pq(spark, results: dict) -> None:
    import numpy as np
    from pyspark.sql import functions as F

    from fs2_osm_spark.operators.similarity import (
        ivf_assign,
        pq_adc_search,
        pq_codes,
    )

    n_vec, dim = 1_000_000, 64
    comps = [
        (((F.col("id") + 1) * (7919 + 104729 * d)) % 2000 / 1000.0 - 1.0)
        .cast("double")
        for d in range(dim)
    ]
    vec_corpus = spark.range(0, n_vec, 1, 64).select(
        F.col("id").alias("vec_id"), F.array(*comps).alias("v")
    )
    cent_rows = (
        vec_corpus.filter(F.col("vec_id") % (n_vec // 64) == 0)
        .orderBy("vec_id").limit(64).collect()
    )
    cents = [(i, np.asarray(r.v, np.float64)) for i, r in enumerate(cent_rows)]
    cm = np.stack([c for _, c in cents])
    cb = np.asarray(
        [r.v for r in vec_corpus.filter(F.col("vec_id") < 16)
         .orderBy("vec_id").collect()],
        np.float64,
    )
    subs = [cb[:, m * 8 : (m + 1) * 8] for m in range(8)]

    def build():
        idx = pq_codes(ivf_assign(vec_corpus, cents), subs)
        noop(idx)
        return idx

    timed("pq.index_build", build, results)
    pq_index = pq_codes(ivf_assign(vec_corpus, cents), subs).persist()
    pq_index.count()
    q_rows = vec_corpus.filter(F.col("vec_id") < 32).orderBy("vec_id").collect()
    timed(
        "pq.search",
        lambda: pq_adc_search(
            pq_index, vec_corpus,
            q_ids=np.asarray([r.vec_id for r in q_rows], np.int64),
            qmat=np.asarray([r.v for r in q_rows], np.float64),
            cents=cm, subs=subs, n_probe=8, rerank=100, top_k=10,
        ).count(),
        results,
    )
    pq_index.unpersist()


SECTIONS = {
    "lifecycle": sec_lifecycle,
    "phash": sec_phash,
    "cc": sec_cc,
    "pyramid": sec_pyramid,
    "flagship": sec_flagship,
    "headline": sec_headline,
    "pq": sec_pq,
}


def main() -> None:
    wanted = sys.argv[1:] or list(SECTIONS)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from fs2_osm_spark.session import get_spark

    spark = get_spark(cores=cpus, app_name="bench_extra")
    os.makedirs(CACHE_DIR, exist_ok=True)
    results: dict = {}
    for name in wanted:
        spark.sparkContext.setJobDescription(f"bench_extra:{name}")
        SECTIONS[name](spark, results)
        spark.sparkContext.setJobDescription(None)
    print(json.dumps(results, indent=1))


if __name__ == "__main__":
    main()
