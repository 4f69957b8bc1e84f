"""Dump `.explain("formatted")` for the round-8 optimization targets to
plans/r08/<query>_{before,after}.txt.

Usage: python tools/dump_r08_plans.py before|after [names...]

Covers every registered query touched this round plus the bench-only plan
shapes (flagship steady-state path, the 100k phash band join, the SF
minhash pipeline) so plan-diff claims in OPTIMIZATION_r08.md are checkable
without running Spark.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# registered queries whose implementation this round touches (or measures)
REGISTERED = [
    "img_tile_pyramid",
    "img_cell_mosaic",
    "img_shard_pack",
    "graph_pagerank",
    "text_pipeline_end2end",
    "part_hilbert_pruned_scan",
    "mv_incremental_refresh",
    "sim_pq_ann",
    "agg_pricing_summary",
    "r01_ordered_assembly",
    "geo_tile_assignment",
    "geo_pip_broadcast_join",
    "geo_knn_kring",
    "sim_bucket_ann",
    "text_fingerprint",
]


def fmt(spark, df) -> str:
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def main() -> None:
    phase = sys.argv[1] if len(sys.argv) > 1 else "before"
    only = set(sys.argv[2:])
    out_dir = os.path.join(ROOT, "plans", "r08")
    os.makedirs(out_dir, exist_ok=True)

    from pyspark.sql import functions as F

    from fs2_osm_spark.queries import QUERIES
    from fs2_osm_spark.session import get_spark

    spark = get_spark(cores=4, app_name="dump_r08_plans")
    sf_dir = "/root/testdata/sf0.001"

    def dump(name: str, df) -> None:
        if only and name not in only:
            return
        path = os.path.join(out_dir, f"{name}_{phase}.txt")
        with open(path, "w") as f:
            f.write(fmt(spark, df))
        print(path)

    for name in REGISTERED:
        if only and name not in only:
            continue
        try:
            dump(name, QUERIES[name].fn(spark, sf_dir))
        except Exception as e:  # noqa: BLE001 — keep dumping the rest
            print(f"{name}: FAILED {e}")

    # bench-only shapes -----------------------------------------------------
    # flagship steady-state path (prepare_corpus + apply_cell_pip), exactly
    # what bench.run_flagship times
    from fs2_osm_spark.plans.flagship import (
        flagship_from_tables,
        polygon_corpus_df,
        prepare_corpus,
    )
    from fs2_osm_spark.synth.images import images_table

    images = images_table(spark, 2_000)
    corpus = prepare_corpus(spark, polygon_corpus_df(spark, 128))
    dump("flagship_spatial_join", flagship_from_tables(images, corpus))

    # the 100k phash near-dup band join (pre-CC stage; CC's final plan is an
    # iteration artifact, the band join is the shape that matters)
    from fs2_osm_spark.pins import release_pins
    from fs2_osm_spark.operators.multimodal import phash_band_pairs, phash_frame
    from fs2_osm_spark.synth.staging import ensure_phash_corpus

    hashed = phash_frame(spark.read.parquet(ensure_phash_corpus()))
    dump("img_phash_band_join", phash_band_pairs(hashed, n_bands=4, hamming_t=3))
    release_pins()

    # the SF minhash pipeline bench.dedup_minhash_sf times (pre-CC stage)
    from fs2_osm_spark.io import load
    from fs2_osm_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    mut = docs.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zzz yyy xxx")).alias("text"),
    )
    sigs = minhash_signatures(docs.unionByName(mut), "doc_id", "text", n_hashes=32)
    dump("dedup_minhash_pairs", lsh_candidate_pairs(sigs, "doc_id", 8, 32))
    release_pins()


if __name__ == "__main__":
    main()
