"""Benchmark harness.

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

  {"metric": "...", "value": <images/sec>, "unit": "...",
   "queries": {name: sec, ...}, "sf": <sf>, ...}

The primary metric is the north-rule throughput: images/sec through the
spatial-join + tile-assignment pipeline, measured over a pre-staged image
parquet table (staging — deterministic synthesis — is cached under
BENCH/cache and excluded from the timed section, mirroring the north star's
"input: Iceberg table").

Flags:
  --flagship-only    time only the flagship pipeline (used by the scaling
                     harness at two parallelism levels)
  --cpus N           override SPARK_GRAFT_CPUS
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

CACHE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH", "cache")

HEADLINE = [
    "agg_pricing_summary",
    "r01_ordered_assembly",
    "geo_tile_assignment",
    "geo_pip_broadcast_join",
    "geo_knn_kring",
    "sim_bucket_ann",
    "text_fingerprint",
    # round-7 additions: the composed curation pipeline (sf-scaled; its
    # stages shuffle on span/hash keys) and the fixed-point PageRank
    # (fixed 256-zone road graph; per-round join+agg shuffles)
    "text_pipeline_end2end",
    "graph_pagerank",
]


def dedup_minhash_sf(spark, sf_dir: str):
    """The xxhash64 MinHash+LSH+CC pipeline over the SF-SCALED documents
    corpus (docs ∪ mutants, the shape queries/dedup.py used before r07
    moved the registered query onto the fixed fixture corpus) — bench
    keeps timing the scale-dependent pipeline under its historical name."""
    from pyspark.sql import functions as F

    from fs2_osm_spark.io import load
    from fs2_osm_spark.operators.dedup import (
        connected_components,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    mut = docs.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zzz yyy xxx")).alias("text"),
    )
    corpus = docs.unionByName(mut)
    sigs = minhash_signatures(corpus, "doc_id", "text", n_hashes=32)
    pairs = lsh_candidate_pairs(sigs, "doc_id", n_bands=8, n_hashes=32)
    return connected_components(pairs)


def sf_of(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return 0.1


SCALE_IMAGES = 64_000_000  # rows of the slim scaling input (4x sf0.1)


def stage_inputs(spark, sf_dir: str, scale_input: bool = False) -> tuple[str, str]:
    """Materialize the image table + polygon corpus parquet once per sf.

    scale_input=True stages/uses the 4x-rows slim-payload image table for
    the N-vs-4N scaling harness: identical schema and caption/coordinate
    distribution, 1-byte pixel payloads — the flagship plan provably never
    reads `bytes` (plan-asserted in tests), and the full-payload table's
    20 GB of pixels only add virtio I/O noise to a scaling measurement.
    """
    from fs2_osm_spark.operators.assembly import feature_polygons
    from fs2_osm_spark.plans.flagship import scale_for
    from fs2_osm_spark.synth.images import images_table
    from fs2_osm_spark.synth.osm import osm_tables

    n_img, n_zones = scale_for(sf_dir)
    base = os.path.basename(sf_dir.rstrip("/"))
    img_path = os.path.join(CACHE_DIR, f"images_{base}.parquet")
    poly_path = os.path.join(CACHE_DIR, f"polygons_{base}.parquet")
    if scale_input:
        img_path = os.path.join(CACHE_DIR, f"images_scale_{base}.parquet")
        if not os.path.exists(img_path):
            images_table(spark, SCALE_IMAGES, partitions=256, slim=True).write.mode(
                "overwrite"
            ).parquet(img_path)
    if not os.path.exists(img_path):
        # 64 files so the pruned scan yields enough splits to feed 32+ cores
        # (scan parallelism is bounded by file count for small column sets)
        images_table(spark, n_img, partitions=128).write.mode("overwrite").parquet(
            img_path
        )
    if not os.path.exists(poly_path):
        t = osm_tables(spark, n_zones)
        feature_polygons(
            t["ways"], t["nodes"], t["relations"], t["relations_ways"]
        ).select("polygon_id", "outer", "inners").write.mode("overwrite").parquet(
            poly_path
        )
    return img_path, poly_path


def read_cpu_stat() -> tuple[int, int]:
    """(total_jiffies, steal_jiffies) from /proc/stat — cheap contention
    telemetry. The sandbox host shows bursty hypervisor steal that can
    triple a wall-time without any code change (r03-r05 observations:
    identical flagship oscillates 6.9s <-> 24.9s between consecutive runs
    while a null CPU job stays fast)."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()[1:]
        vals = [int(x) for x in parts]
        return sum(vals), vals[7] if len(vals) > 7 else 0
    except OSError:
        return 0, 0


def null_probe(spark) -> float:
    """Best-of-2 zero-I/O JVM arithmetic timing (same kernel as
    tools/null_scaling.py, smaller): a healthy host runs this in ~0.4s at
    local[32]; a contended window inflates it proportionally, so the bench
    JSON carries its own calibration."""
    from pyspark.sql import functions as F

    from fs2_osm_spark.functions.hex import hex_cell

    rng = spark.range(0, 160_000_000, 1, 64)
    lon = (F.col("id") % 1000000) / 1000000.0 * 8 + 7
    lat = (F.col("id") % 999983) / 999983.0 * 4 + 51
    df = rng.select(hex_cell(lon, lat, 8).alias("c"))
    best = None
    for _ in range(2):
        t0 = time.time()
        df.agg(F.max("c")).collect()
        dt = time.time() - t0
        best = dt if best is None or dt < best else best
    return best


def run_flagship(spark, img_path: str, poly_path: str) -> tuple[int, float, float, int]:
    """Returns (n_images, cold_sec, warm_sec, n_output_rows)."""
    from fs2_osm_spark.plans.flagship import flagship_from_tables, prepare_corpus

    images = spark.read.parquet(img_path)
    n_images = images.count()  # warm the scan metadata; not part of the join timing

    # one-time cover build (O(polygons), input-size-independent) — prepared
    # once per job like the corpus itself; the timed section is the
    # steady-state per-image pipeline
    corpus = prepare_corpus(spark, spark.read.parquet(poly_path))
    # three timed runs, report (cold, best-of-warm): the first pays JVM JIT
    # warm-up AND the page-cache cold read of the pruned columns — a
    # long-running cluster job amortizes both away. Recording the cold pass
    # separately (instead of folding it into best-of) is the r04 lesson:
    # two rounds recorded phantom 2.6x "regressions" that were evicted page
    # cache, not code.
    runs = []
    for _ in range(3):
        t0 = time.time()
        out_rows = flagship_from_tables(images, corpus).count()
        runs.append(time.time() - t0)
    return n_images, runs[0], min(runs[1:]), out_rows


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--flagship-only", action="store_true")
    ap.add_argument("--stage-only", action="store_true")
    ap.add_argument(
        "--scale-input",
        action="store_true",
        help="use the 4x-rows slim-payload image table (scaling harness)",
    )
    ap.add_argument("--cpus", type=int, default=None)
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = args.cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from fs2_osm_spark.queries import QUERIES
    from fs2_osm_spark.session import get_spark

    spark = get_spark(cores=cpus, app_name="bench")
    os.makedirs(CACHE_DIR, exist_ok=True)

    img_path, poly_path = stage_inputs(spark, sf_dir, scale_input=args.scale_input)
    if args.stage_only:
        print(json.dumps({"staged": [img_path, poly_path]}))
        return
    stat0 = read_cpu_stat()
    n_images, flagship_cold, flagship_sec, out_rows = run_flagship(
        spark, img_path, poly_path
    )
    stat1 = read_cpu_stat()
    steal_pct = (
        round(100.0 * (stat1[1] - stat0[1]) / max(1, stat1[0] - stat0[0]), 2)
        if stat1[0] > stat0[0]
        else None
    )
    probe_sec = null_probe(spark)

    # `timings` holds warm (steady-state) numbers — the figure of merit for
    # a long-running cluster job; `timings_cold` records each query's first
    # pass so a cold-read artifact is visible instead of masquerading as a
    # regression (r03/r04 lesson: page-cache eviction cost two rounds a
    # false 2.6x flagship scare).
    timings: dict[str, float] = {"flagship_spatial_join": round(flagship_sec, 3)}
    timings_cold: dict[str, float] = {"flagship_spatial_join": round(flagship_cold, 3)}

    def timed(name: str, thunk) -> int:
        """best-of-2: run twice, record cold + warm, return last result."""
        t0 = time.time()
        res = thunk()
        cold = time.time() - t0
        t0 = time.time()
        res = thunk()
        warm = time.time() - t0
        timings_cold[name] = round(cold, 3)
        timings[name] = round(min(cold, warm), 3)
        return res
    if not args.flagship_only:
        # strategy comparison on the same join:
        # - cell_join: shuffle-partitioned cell equi-join + JVM refine (the
        #   large-corpus plan shape, no broadcast hints)
        # - arrow_baseline: the broadcast mapInPandas numpy kernel (round-1
        #   flagship path) — kept to track the JVM-vs-Arrow gap
        import numpy as np

        from fs2_osm_spark.functions.pip import PolygonSet
        from fs2_osm_spark.operators.multimodal import geotag
        from fs2_osm_spark.operators.spatial_join import (
            broadcast_pip_join,
            cell_pip_join,
        )

        images = spark.read.parquet(img_path)
        polys = spark.read.parquet(poly_path)
        pts = geotag(images).select("image_id", "lon", "lat")
        cell_rows = timed(
            "flagship_cell_join_strategy",
            lambda: cell_pip_join(
                pts, polys, res=8, lon_col="lon", lat_col="lat",
                point_keep=["image_id"],
            ).count(),
        )
        assert cell_rows == out_rows, (cell_rows, out_rows)

        rows = polys.collect()
        ps = PolygonSet(
            ids=[r.polygon_id for r in rows],
            outers=[np.asarray(r.outer) for r in rows],
            inners=[[np.asarray(h) for h in (r.inners or [])] for r in rows],
        )
        arrow_rows = timed(
            "flagship_arrow_baseline",
            lambda: broadcast_pip_join(pts, ps, "lon", "lat", ["image_id"]).count(),
        )
        assert arrow_rows == out_rows, (arrow_rows, out_rows)
        for name in HEADLINE:
            q = QUERIES[name]
            timed(name, lambda q=q: q.fn(spark, sf_dir).count())
        timed(
            "dedup_minhash_fast",
            lambda: dedup_minhash_sf(spark, sf_dir).count(),
        )
        # free the session pins between bench sections
        # (cached blocks otherwise accumulate for the rest of the session)
        from fs2_osm_spark.pins import release_pins

        release_pins()

        # IVF-PQ at index scale: 1M synthetic 64-d vectors (pure Column
        # arithmetic — no data files), 64 IVF lists, 4-bit PQ codes.
        # sim_pq_index_1m = one-time index build (assign + encode,
        # materialized); sim_pq_search_1m = the steady-state ADC query
        # path over the codes-only index (32 queries, 8 probes, rerank
        # 100). Correctness of the identical operators is hard-oracled at
        # small scale by sim_pq_ann.
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
        t0 = time.time()
        pq_index = pq_codes(ivf_assign(vec_corpus, cents), subs).persist()
        pq_index.count()
        timings["sim_pq_index_1m"] = round(time.time() - t0, 3)
        q_rows = vec_corpus.filter(F.col("vec_id") < 32).orderBy("vec_id").collect()
        timed(
            "sim_pq_search_1m",
            lambda: pq_adc_search(
                pq_index, vec_corpus,
                q_ids=np.asarray([r.vec_id for r in q_rows], np.int64),
                qmat=np.asarray([r.v for r in q_rows], np.float64),
                cents=cm, subs=subs, n_probe=8, rerank=100, top_k=10,
            ).count(),
        )
        pq_index.unpersist()

        # perceptual near-dup dedup at 100k-image scale: a staged
        # 20k-base x 5-variant corpus (BENCH/cache, byte-real PNG/JQ01
        # payloads); timed section = live decode -> aHash64 -> LSH band
        # join -> popcount verify -> min-label CC. Bands are 16-bit here
        # (4 bands): at 100k images an 8-bit band bucket holds ~400 ids
        # (~160M candidate pairs); 16-bit buckets hold ~1.5 — candidate
        # volume stays O(n). Full recall at hamming<=3 captures the
        # exact/lossy/brightness variant classes (all d=0 on this
        # corpus); the 4-cell-flip variant sits at d=4 — outside the
        # verify threshold BY CONSTRUCTION, so the expected result is
        # exactly 4-variant clusters + flip singletons (deterministic:
        # 80k CC rows). Recall beyond d=3 is the multiprobe tradeoff,
        # exactly like dedup_simhash_multiprobe.
        from fs2_osm_spark.operators.dedup import (
            connected_components as nd_cc,
        )
        from fs2_osm_spark.operators.multimodal import (
            phash_band_pairs,
            phash_frame,
        )
        from fs2_osm_spark.synth.images import neardup_table

        nd_path = os.path.join(CACHE_DIR, "images_neardup_100k.parquet")
        if not os.path.exists(nd_path):
            neardup_table(spark, 20_000, partitions=64).write.mode(
                "overwrite"
            ).parquet(nd_path)

        def nd_run() -> int:
            hashed = phash_frame(spark.read.parquet(nd_path))
            pairs = phash_band_pairs(hashed, n_bands=4, hamming_t=3)
            n = nd_cc(pairs).count()
            release_pins()  # CC iteration pins, per pass
            return n

        nd_clusters_rows = timed("img_phash_dedup_100k", nd_run)
        assert nd_clusters_rows >= 80_000, nd_clusters_rows

        # tile pyramid at 250k real-byte images: the EXACT registered plan
        # (queries/multimodal2.pyramid_rollup — one decode pass, z12
        # partial agg, explode-to-ancestors rollup) over a staged corpus
        # instead of the 2k-image fixture
        from fs2_osm_spark.queries.multimodal2 import pyramid_rollup
        from fs2_osm_spark.synth.images import images_table

        pyr_path = os.path.join(CACHE_DIR, "images_pyramid_250k.parquet")
        if not os.path.exists(pyr_path):
            images_table(spark, 250_000, partitions=64).write.mode(
                "overwrite"
            ).parquet(pyr_path)

        pyr_tiles = timed(
            "img_tile_pyramid_250k",
            lambda: pyramid_rollup(spark.read.parquet(pyr_path)).count(),
        )
        assert pyr_tiles > 0, pyr_tiles

        # full PBF lifecycle: synthesize frames -> wire decode -> export
        # fan-out + 17 feature passes -> flagship join, batched + lineage
        # (the reference's whole runExport stitched to the north rule)
        import tempfile

        from fs2_osm_spark.plans.pbf_pipeline import run_pbf_pipeline
        from fs2_osm_spark.sources.pbf_writer import write_osm_pbf

        pbf_root = tempfile.mkdtemp(prefix="bench_pbf_")
        write_osm_pbf(spark, os.path.join(pbf_root, "pbf"), 512, 32).collect()
        # single pass by design: the lifecycle WRITES its output (a second
        # run would mostly measure resume short-circuits) and its input is
        # generated in-session, so it has no cold-read exposure
        t0 = time.time()
        run_pbf_pipeline(
            spark, os.path.join(pbf_root, "pbf"), os.path.join(pbf_root, "out"),
            n_images=2_000, n_batches=8,
        )
        timings["pbf_lifecycle_512z"] = round(time.time() - t0, 3)

    result = {
        "metric": "spatial-join + tile-assignment throughput",
        "value": round(n_images / flagship_sec, 1),
        "unit": "images/sec",
        "timing": "warm (best-of-2+; first pass recorded in queries_cold)",
        "queries": timings,
        "queries_cold": timings_cold,
        "value_cold": round(n_images / flagship_cold, 1),
        "sf": sf_of(sf_dir),
        "n_images": n_images,
        "join_rows": out_rows,
        "cpus": cpus,
        "host": {
            # calibration so a contended window reads as contention, not a
            # code regression: steal% during the flagship timing + the
            # zero-I/O JVM arithmetic probe (healthy ~0.4s at local[32])
            "steal_pct_during_flagship": steal_pct,
            "null_probe_sec": round(probe_sec, 3),
        },
        "scaling": load_scaling_evidence(),
    }
    print(json.dumps(result))


def load_scaling_evidence() -> dict:
    """Embed the latest scaling-efficiency measurement (raw AND normalized
    plus the hardware null-test ceiling) so every BENCH_r{N}.json carries
    the north-rule evidence. Refreshed by tools/scaling_bench.py, which
    also enforces the >= 0.8 normalized gate."""
    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH", "scaling.json"
    )
    try:
        with open(path) as f:
            return json.load(f)
    except OSError:
        return {"missing": True, "refresh": "python tools/scaling_bench.py"}


if __name__ == "__main__":
    main()
