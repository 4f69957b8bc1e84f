"""Dump formatted physical plans of the headline queries to PLANS.md so the
plan-shape claims (pushdown, pruning, broadcast, codegen, no Python in hot
paths) are inspectable without running anything.

Usage: python tools/explain_dump.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

HEADLINE = [
    "agg_pricing_summary",
    "r01_ordered_assembly",
    "r15_join_chain",
    "geo_tile_assignment",
    "geo_hex_cell_assignment",
    "geo_pip_broadcast_join",
    "geo_pip_cell_join",
    "img_flagship_spatial_join",
    "geo_knn_kring",
    "skew_salted_join",
    "part_hilbert_key",
    "tpch_q5_local_volume",
    "sim_pq_ann",
    "dedup_exact_substring",
    "text_lm_quality_score",
    "text_pipeline_end2end",
    "img_tile_pyramid",
]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    from fs2_osm_spark.queries import QUERIES
    from fs2_osm_spark.session import get_spark

    spark = get_spark(cores=4, app_name="explain_dump")
    out = ["# PLANS — formatted physical plans of headline queries\n"]
    out.append(
        "Generated by `python tools/explain_dump.py` (sf0.001). Things to\n"
        "check per plan: `PushedFilters`/`ReadSchema` on scans (pushdown +\n"
        "pruning), `BroadcastHashJoin` for dimension joins, leading `*(n)`\n"
        "markers (whole-stage codegen), Python appearing only as\n"
        "MapInArrow/MapInPandas/FlatMapGroupsInPandas kernels.\n"
    )
    def fmt(df) -> str:
        return df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )

    for name in HEADLINE:
        out.append(f"\n## {name}\n\n```\n{fmt(QUERIES[name].fn(spark, sf_dir))}\n```\n")

    # img_phash_neardup's registered fn EXECUTES (cache + iterative CC), and
    # its final plan is just an InMemoryTableScan — dump the un-cached LSH
    # band-join stage instead, which is the part worth inspecting
    from fs2_osm_spark.operators.multimodal import phash_band_pairs, phash_frame
    from fs2_osm_spark.queries.multimodal2 import PHASH_BANDS, PHASH_T
    from fs2_osm_spark.synth.staging import ensure_phash_corpus

    pairs = phash_band_pairs(
        phash_frame(spark.read.parquet(ensure_phash_corpus())),
        n_bands=PHASH_BANDS,
        hamming_t=PHASH_T,
    )
    out.append(f"\n## img_phash_neardup (band-pair stage)\n\n```\n{fmt(pairs)}\n```\n")
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "PLANS.md")
    with open(path, "w") as f:
        f.write("".join(out))
    print(f"wrote {path}")


if __name__ == "__main__":
    main()
