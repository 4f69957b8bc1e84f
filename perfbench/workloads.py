"""The benchmark's workloads, each driven through public engine calls.

A workload stages its inputs from the seed once (`stage`), prepares what
its passes need (`setup`, repeated to time it), runs one closed-loop pass
(`run_pass`), checks outputs (`check`, `check_pass`), and, in a traced run,
measures its layers one by one (`probe`). Inputs reach the engine only
as staged parquet or PBF files; the seed shifts the generator ids, so every
seed gives the same amount of work over different rows.
"""

from __future__ import annotations

import os
import time
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# One seed owns this many consecutive generator ids.
ID_STRIDE = 10_000_000


def checksum(df: DataFrame) -> tuple[int, int]:
    """(rows, order-free row hash sum) of a DataFrame, in one job. Every
    column enters the hash, so no output column can be pruned away."""
    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*df.columns).bitwiseAND(F.lit(0xFFFFFFFF))).alias("h"),
    ).first()
    return int(r.n), int(r.h or 0)


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed(fn) -> tuple[float, object]:
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


def dir_usage(path: str) -> tuple[int, int]:
    """(bytes, files) under path."""
    total = files = 0
    for base, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(base, n))
            files += 1
    return total, files


class Workload:
    name = ""
    ops: dict[str, str] = {}  # op of a pass -> per-layer name of its wall
    # warm-up passes, at least and at most: a count, not a time, so that a
    # contended host does not leave the JVM less warm when timing starts
    warmup_passes = (0, 0)
    timed_passes = 1  # at least, even past --seconds

    def stage(self, ctx, d: str) -> dict:
        """Generates the run's inputs from the seed, once."""
        return {}

    def setup(self, ctx, st: dict, d: str) -> dict:
        """The preparation before the first pass; returns additions to st."""
        ...

    def check(self, ctx, st: dict) -> list[str]: ...

    def run_pass(self, ctx, st: dict) -> dict: ...

    def check_pass(self, st: dict, res: dict) -> list[str]:
        """Every pass must reproduce the checked pass exactly."""
        return [
            f"{op} result {res[op]} != checked {st['want'][op]}"
            for op in self.ops
            if res[op] != st["want"][op]
        ]

    def cleanup_pass(self, st: dict, res: dict) -> None:
        pass

    def probe(self, ctx, st: dict, traced: dict) -> dict[str, float]: ...

    def check_trace(self, ctx, st: dict, traced: dict) -> list[str]:
        """The traced run's own checks: self-tests of the traced passes'
        Spark metrics, and references too costly for every run."""
        return []


# ---------------------------------------------------------------------------
class SpatialJoin(Workload):
    """Flagship PIP + tiles over every image, then k-ring kNN."""

    name = "spatial_join"
    ops = {"pip": "flagship.pass_s", "knn": "knn.pass_s"}
    warmup_passes = (2, 3)
    timed_passes = 3  # a median that one slowed pass cannot set
    N_IMAGES = 60_000
    N_ZONES = 160
    N_TARGETS = 45_000
    N_QUERIES = 1_600
    K, KNN_RES, RING = 10, 9, 1
    PIP_SAMPLE = 2_000
    KNN_CHECKS = 9
    BOX_DEG = 0.005  # > 300 m on both axes in the city band

    def __init__(self):
        self.cover_build_s: list[float] = []

    def stage(self, ctx, d):
        """The polygon map, assembled from the synthetic OSM world (the same
        for every seed), and the seeded slim-payload images."""
        from fs2_osm_spark.plans.flagship import polygon_corpus_df
        from fs2_osm_spark.synth.images import IMAGES_SCHEMA, generate_batch

        spark, off = ctx.spark, ctx.seed * ID_STRIDE

        def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                yield generate_batch(pdf["id"].to_numpy(np.int64), slim=True)

        polygon_corpus_df(spark, self.N_ZONES).write.parquet(f"{d}/polygons")
        spark.range(off, off + self.N_IMAGES, 1, 4 * ctx.cores).mapInPandas(
            gen, IMAGES_SCHEMA
        ).write.parquet(f"{d}/images")
        return {
            "images": spark.read.parquet(f"{d}/images"),
            "polygons": spark.read.parquet(f"{d}/polygons"),
        }

    def setup(self, ctx, st, d):
        """The cover, and the kNN points derived from the images."""
        from fs2_osm_spark.operators.multimodal import geotag
        from fs2_osm_spark.plans.flagship import prepare_corpus

        spark, off = ctx.spark, ctx.seed * ID_STRIDE
        cover_s, cover = timed(lambda: prepare_corpus(spark, st["polygons"]))
        self.cover_build_s.append(cover_s)

        # kNN points: the first N_TARGETS images are the targets, a seeded
        # run of N_QUERIES consecutive ids after them the queries (ids place
        # images at random, 70% in the hot cities). Staged, because
        # knn_kring over the geotag expressions themselves would time
        # caption parsing, not the kNN.
        q_lo = off + self.N_TARGETS + int(np.random.default_rng(ctx.seed).integers(
            0, self.N_IMAGES - self.N_TARGETS - self.N_QUERIES))
        pts = geotag(st["images"]).select("image_id", "lon", "lat")
        pts.where(F.col("image_id") < f"img_{off + self.N_TARGETS:012d}").withColumnRenamed(
            "image_id", "target_id").write.parquet(f"{d}/targets")
        pts.where(F.col("image_id").between(
            f"img_{q_lo:012d}", f"img_{q_lo + self.N_QUERIES - 1:012d}"
        )).withColumnRenamed("image_id", "query_id").write.parquet(f"{d}/queries")
        return {
            "cover": cover,
            "targets": spark.read.parquet(f"{d}/targets"),
            "queries": spark.read.parquet(f"{d}/queries"),
        }

    def _pip(self, st) -> DataFrame:
        from fs2_osm_spark.plans.flagship import flagship_from_tables

        return flagship_from_tables(st["images"], st["cover"])

    def _knn(self, st, queries: DataFrame) -> DataFrame:
        from fs2_osm_spark.operators.knn import knn_kring

        return knn_kring(
            queries, st["targets"], self.K, res=self.KNN_RES, ring=self.RING
        )

    def run_pass(self, ctx, st):
        with ctx.op("pip"):
            pip = checksum(self._pip(st))
        with ctx.op("knn"):
            knn = checksum(self._knn(st, st["queries"]))
        return {"pip": pip, "knn": knn}

    def check(self, ctx, st):
        from fs2_osm_spark.functions.hex import SQRT3, hex_size
        from fs2_osm_spark.functions.pip import PolygonSet
        from fs2_osm_spark.operators.knn import knn_brute_force
        from fs2_osm_spark.operators.multimodal import geotag
        from fs2_osm_spark.operators.spatial_join import broadcast_pip_join

        errs = []
        # a seeded run of consecutive ids: ids place images at random
        first = ctx.seed * ID_STRIDE + int(np.random.default_rng(ctx.seed + 1).integers(
            0, self.N_IMAGES - self.PIP_SAMPLE))
        sample = st["images"].where(F.col("image_id").between(
            f"img_{first:012d}", f"img_{first + self.PIP_SAMPLE - 1:012d}"))
        got = self._pip({**st, "images": sample})
        got_pairs = {tuple(r) for r in got.select("image_id", "polygon_id").collect()}
        rows = st["polygons"].collect()
        ps = PolygonSet(
            ids=[r.polygon_id for r in rows],
            outers=[np.asarray(r.outer) for r in rows],
            inners=[[np.asarray(h) for h in (r.inners or [])] for r in rows],
        )
        pts = geotag(sample).select("image_id", "lon", "lat")
        want = broadcast_pip_join(pts, ps, "lon", "lat", ["image_id"])
        want_pairs = {tuple(r) for r in want.collect()}
        if not want_pairs or got_pairs != want_pairs:
            errs.append(
                f"pip sample: {len(got_pairs)} pairs vs {len(want_pairs)} from "
                f"the numpy twin, {len(got_pairs ^ want_pairs)} differ"
            )

        # kNN equals the brute force wherever the k-th neighbour lies inside
        # the ring. The 7-cell ring holds every point within sqrt3 x the
        # circumradius of its centre cell's centre (planar degrees; east-west
        # metres shrink by cos(lat), up to 55N); this holds for RING = 1.
        # Check queries sit on the centres of the cells holding the most
        # targets, where the k-th neighbour is nearest.
        from fs2_osm_spark.functions.hex import hex_cell, hex_center_np

        safe_m = SQRT3 * hex_size(self.KNN_RES) * 111_320 * np.cos(np.radians(55.0))
        dense = (
            st["targets"].select(hex_cell(F.col("lon"), F.col("lat"), self.KNN_RES).alias("c"))
            .groupBy("c").count()
            .orderBy(F.desc("count"), "c")
            .limit(self.KNN_CHECKS)
            .collect()
        )
        clon, clat = hex_center_np(np.array([r.c for r in dense], np.int64))
        q = ctx.spark.createDataFrame(
            [(f"check_{i}", float(x), float(y)) for i, (x, y) in enumerate(zip(clon, clat))],
            "query_id string, lon double, lat double",
        )
        # the brute force only needs the targets near the check queries:
        # with k of them within BOX_DEG, no target outside can be nearer
        box = F.lit(False)
        for _, lo, la in q.collect():
            box = box | (F.abs(F.col("lon") - lo) < self.BOX_DEG) & (
                F.abs(F.col("lat") - la) < self.BOX_DEG)
        brute = knn_brute_force(q, st["targets"].where(box), self.K).collect()
        kth = {r.query_id: r.dist_m for r in brute if r.rank == self.K}
        ok_q = {qid for qid, dist in kth.items() if dist < safe_m}
        want_rows = sorted(tuple(r) for r in brute if r.query_id in ok_q)
        got_rows = sorted(
            tuple(r) for r in self._knn(st, q).collect() if r.query_id in ok_q
        )
        if not ok_q or got_rows != want_rows:
            errs.append(
                f"knn: {len(ok_q)} in-ring queries, {len(got_rows)} rows vs "
                f"{len(want_rows)} brute-force rows"
            )
        return errs

    def probe(self, ctx, st, traced):
        from fs2_osm_spark.functions.hex import hex_cell, hex_kring
        from fs2_osm_spark.operators.multimodal import geotag
        from fs2_osm_spark.operators.spatial_join import apply_cell_pip

        images, cover = st["images"], st["cover"]
        pts = geotag(images).select("image_id", "lon", "lat")
        scan_s, _ = timed(lambda: noop(images.select("image_id", "caption")))
        geotag_s, _ = timed(lambda: noop(pts))
        pip_s, _ = timed(
            lambda: apply_cell_pip(pts, cover, "lon", "lat", ["image_id"]).count()
        )
        cand = (
            pts.select(hex_cell(F.col("lon"), F.col("lat"), cover.res).alias("cell"))
            .join(cover.cover, "cell")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("interior").cast("long")).alias("interior"),
            )
            .first()
        )
        res = self.KNN_RES

        def cells(df, c):
            return df.select(hex_cell(F.col("lon"), F.col("lat"), res).alias(c))

        knn_cand = (
            cells(st["queries"], "c0")
            .select(F.explode(hex_kring(F.col("c0"), self.RING)).alias("cell"))
            .join(cells(st["targets"], "cell"), "cell")
            .count()
        )
        pip_rows, knn_rows = st["want"]["pip"][0], st["want"]["knn"][0]
        n_q = st["queries"].count()
        return {
            "io.scan_s": scan_s,
            "multimodal.geotag_s": geotag_s,
            "spatial_join.cover_build_s": float(np.median(self.cover_build_s)),
            "spatial_join.cover_rows": cover.cover.count(),
            "spatial_join.candidate_rows": cand.n,
            "spatial_join.interior_frac": cand.interior / cand.n,
            "spatial_join.raycast_rows": cand.n - cand.interior,
            "spatial_join.hit_frac": pip_rows / cand.n,
            "spatial_join.pip_s": pip_s,
            "knn.candidate_rows": knn_cand,
            "knn.result_frac": knn_rows / (n_q * self.K),
        }


# ---------------------------------------------------------------------------
class PbfLifecycle(Workload):
    """run_pbf_pipeline over a seed-chosen window of zones, then near-dup
    image dedup: the two Python-bound paths of the engine."""

    name = "pbf_lifecycle"
    ops = {"lifecycle": "lifecycle.pass_s", "dedup": "dedup.pass_s"}
    N_ZONES = 40
    N_FILES = 4
    N_IMAGES, N_BATCHES = 400, 2
    # The export Summary of the direct path (`direct_summary`) for any
    # seed's window of N_ZONES zones; `--trace 1` recomputes it.
    SUMMARY = {
        "administrative_boundaries": 8, "amenities": 4, "buildings": 4,
        "coastlines": 8, "highways": 16, "highways_nodes": 48, "industrial": 8,
        "landuses": 22, "leisures": 4, "nodes": 340, "osm_lines": 95,
        "polygons": 36, "protected_areas": 4, "rails": 8, "railways": 4,
        "relations": 11, "relations_nodes": 11, "relations_relations": 2,
        "relations_ways": 23, "waters": 7, "waterways": 8, "ways": 95,
        "ways_nodes": 555, "woods": 10,
    }

    def __init__(self):
        self._n_pass = 0
        self.dedup = ImageDedup()

    def _zone_window(self, seed: int) -> tuple[int, int]:
        """Zones z and z + N_CELLS share a place and a kind but not their ids,
        so every seed writes the same map, near the hot cities, under its
        own ids (node ids stay below the way id base up to 19 * N_CELLS).
        Only the admin_level tag (zone % 7) differs; no Summary count does."""
        from fs2_osm_spark.synth.osm import N_CELLS

        start = N_CELLS * (seed % 19)
        return start, start + self.N_ZONES

    def stage(self, ctx, d):
        return self.dedup.stage(ctx, d)

    def setup(self, ctx, st, d):
        """The seeded zone window, written as framed .osm.pbf files."""
        from fs2_osm_spark.sources.pbf_frames import write_frames
        from fs2_osm_spark.sources.pbf_writer import encode_zone_blocks

        lo, hi = self._zone_window(ctx.seed)
        pbf_dir = f"{d}/pbf"
        os.makedirs(pbf_dir)

        def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            zones = np.concatenate([b["id"].to_numpy(np.int64) for b in batches])
            path = f"{pbf_dir}/part-{int(zones[0]):06d}.osm.pbf"
            write_frames(path, encode_zone_blocks(zones))
            yield pd.DataFrame({"n": [len(zones)]})

        n = ctx.spark.range(lo, hi, 1, self.N_FILES).mapInPandas(fn, "n long")
        n.agg(F.sum("n")).collect()
        return {"pbf": pbf_dir, "out": f"{d}/out", "zones": (lo, hi)}

    def _direct_tables(self, ctx, lo: int, hi: int) -> dict[str, DataFrame]:
        """The synth OSM tables of zones [lo, hi), without the wire."""
        from fs2_osm_spark.synth import osm

        schemas = {
            "nodes": osm.NODES_SCHEMA,
            "ways": osm.WAYS_SCHEMA,
            "relations": osm.RELATIONS_SCHEMA,
            "relations_ways": osm.RELATIONS_WAYS_SCHEMA,
            "relations_nodes": osm.RELATIONS_NODES_SCHEMA,
            "relations_relations": osm.RELATIONS_RELATIONS_SCHEMA,
        }
        base = ctx.spark.range(lo, hi, 1, ctx.cores)

        def table(name):
            def fn(batches):
                for pdf in batches:
                    yield osm._gen_zone_tables(pdf["id"].to_numpy(np.int64))[name]

            return base.mapInPandas(fn, schemas[name])

        return {n: table(n) for n in schemas}

    def run_pass(self, ctx, st):
        from fs2_osm_spark.plans.pbf_pipeline import run_pbf_pipeline

        self._n_pass += 1
        out = f"{st['out']}/pass-{self._n_pass}"
        tm: dict[str, float] = {}
        with ctx.op("lifecycle"):
            res = run_pbf_pipeline(
                ctx.spark, st["pbf"], out, self.N_IMAGES, self.N_BATCHES,
                phase_timings=tm,
            )
        return {
            "lifecycle": (res["summary"], res["batches"]), "tm": tm, "dir": out,
            **self.dedup.run_pass(ctx, st),
        }

    def cleanup_pass(self, st, res):
        """Keeps only the latest output root, for the output probes."""
        import shutil

        if "last_dir" in st:
            shutil.rmtree(st["last_dir"], ignore_errors=True)
        st["last_dir"] = res["dir"]

    def direct_summary(self, ctx, st) -> dict:
        """The export Summary of `run_export` over the synth OSM tables of
        the same zones, without the wire."""
        import shutil

        from fs2_osm_spark.plans.export import run_export

        t = self._direct_tables(ctx, *st["zones"])
        direct = f"{st['out']}/direct"
        want = run_export(
            ctx.spark, t["nodes"], t["ways"], t["relations"], t["relations_ways"],
            direct,
            relations_nodes=t["relations_nodes"],
            relations_relations=t["relations_relations"],
        )
        shutil.rmtree(direct, ignore_errors=True)
        return want

    def check(self, ctx, st):
        return self.dedup.check(ctx, st)

    def check_pass(self, st, res):
        summary, batches = res["lifecycle"]
        errs = _summary_diff("pass", summary, self.SUMMARY)
        if not batches or batches != st["want"]["lifecycle"][1]:
            errs.append(f"{batches} flagship batches, first pass wrote "
                        f"{st['want']['lifecycle'][1]}")
        if res["dedup"] != st["dedup_want"]:
            errs.append(f"dedup (rows, hash) {res['dedup']}, want {st['dedup_want']}")
        return errs

    def check_trace(self, ctx, st, traced):
        """Every export sink writes from a thread pool: the lifecycle span's
        job-id window must hold at least one such job per sink table. And
        the recorded Summary must still be what the direct path writes."""
        n_sinks = len(self.SUMMARY)
        return [
            f"lifecycle span saw {p['lifecycle']['other_thread_jobs']:.0f} pool jobs "
            f"for {n_sinks} export sinks"
            for p in traced["spark"] if p["lifecycle"]["other_thread_jobs"] < n_sinks
        ] + _summary_diff("recorded", self.SUMMARY, self.direct_summary(ctx, st))

    def probe(self, ctx, st, traced):
        from fs2_osm_spark.catalog import read_table
        from fs2_osm_spark.operators.assembly import feature_polygons
        from fs2_osm_spark.sources.pbf_frames import (
            read_nodes_from_frames,
            read_relations_from_frames,
            read_ways_from_frames,
        )

        spark, out = ctx.spark, {}
        n_ent = 0
        for kind, reader in (
            ("nodes", read_nodes_from_frames),
            ("ways", read_ways_from_frames),
            ("relations", read_relations_from_frames),
        ):
            s, n = timed(lambda reader=reader: reader(spark, st["pbf"]).count())
            out[f"sources.decode_{kind}_s"] = s
            n_ent += n
        out["sources.entities"] = n_ent

        tms = traced["tm"]

        def med(key):
            return float(np.median([tm[key] for tm in tms]))

        out["export.phase_a_s"] = med("phase_a_total")
        out["export.phase_b_lines_s"] = med("phase_b_lines")
        out["export.phase_b_polys_s"] = med("phase_b_polys")
        out["export.phase_b_s"] = med("phase_b_total")
        out["export.sink_max_s"] = float(
            np.median([max(v for k, v in tm.items() if k.startswith("sink_")) for tm in tms])
        )
        out["lineage.flagship_batched_s"] = med("flagship_batched")
        out["export.rows_written"] = sum(self.SUMMARY.values())

        # the output root of the last pass
        out["catalog.bytes_written"], out["catalog.files_written"] = dir_usage(st["last_dir"])
        exp = f"{st['last_dir']}/export"
        out["assembly.feature_polygons_s"], _ = timed(
            lambda: feature_polygons(
                *(read_table(spark, f"{exp}/{t}")
                  for t in ("ways", "nodes", "relations", "relations_ways"))
            ).count()
        )
        out["lineage.batches"] = st["want"]["lifecycle"][1]
        out.update(self.dedup.probe(ctx, st))
        return out


def _summary_diff(what: str, got: dict, want: dict) -> list[str]:
    diff = sorted(k for k in got.keys() | want.keys() if got.get(k) != want.get(k))
    return [f"{what} export summary differs from the direct path on {diff}"] if diff else []


# ---------------------------------------------------------------------------
class ImageDedup:
    """phash -> band pairs -> connected components over near-dup images,
    the dedup op of the pbf_lifecycle workload."""

    N_BASE = 250
    N_BANDS, HAMMING_T = 4, 3

    def stage(self, ctx, d):
        from fs2_osm_spark.synth.images import neardup_batch

        off = ctx.seed * ID_STRIDE

        def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                yield neardup_batch(pdf["id"].to_numpy(np.int64))

        schema = (
            "img_id string, src_id string, variant string, bytes binary, "
            "fmt string, phash long"
        )
        ctx.spark.range(off, off + self.N_BASE, 1, 4 * ctx.cores).mapInPandas(
            gen, schema
        ).write.parquet(f"{d}/neardup")
        return {"neardup": ctx.spark.read.parquet(f"{d}/neardup")}

    def run_pass(self, ctx, st):
        from fs2_osm_spark.operators.dedup import connected_components, release_pins
        from fs2_osm_spark.operators.multimodal import phash_band_pairs, phash_frame

        with ctx.op("dedup"):
            hashed = phash_frame(st["neardup"])
            pairs = phash_band_pairs(hashed, n_bands=self.N_BANDS, hamming_t=self.HAMMING_T)
            res = checksum(connected_components(pairs))
            release_pins()
        return {"dedup": res}

    def check(self, ctx, st):
        """Recomputed phashes equal the stored ones. The clusters CC must
        find are known from the corpus: each base's {o, re, jq, br} in one
        cluster labelled with its least id (min-label propagation), while
        the 4-cell flip stays a singleton and so appears nowhere. Their
        checksum is what every pass's dedup op must return."""
        from pyspark.sql import Window

        from fs2_osm_spark.operators.multimodal import phash_frame

        imgs = st["neardup"]
        bad = (
            phash_frame(imgs).withColumnRenamed("phash", "live")
            .join(imgs.select("img_id", "phash"), "img_id")
            .where(F.col("live") != F.col("phash"))
            .count()
        )
        clustered = imgs.where(F.col("variant").isin("o", "re", "jq", "br"))
        st["dedup_want"] = checksum(clustered.select(
            F.col("img_id").alias("id"),
            F.min("img_id").over(Window.partitionBy("src_id")).alias("cluster"),
        ))
        if st["dedup_want"][0] != 4 * self.N_BASE:
            return [f"{st['dedup_want'][0]} clustered variants for {self.N_BASE} bases"]
        return [f"{bad} recomputed phashes differ from the stored ones"] if bad else []

    def probe(self, ctx, st):
        from fs2_osm_spark.operators.dedup import connected_components, release_pins
        from fs2_osm_spark.operators.multimodal import (
            band_cols,
            phash_band_pairs,
            phash_frame,
        )

        hashed = phash_frame(st["neardup"]).persist()
        phash_s, _ = timed(lambda: noop(hashed))
        pairs = phash_band_pairs(
            hashed, n_bands=self.N_BANDS, hamming_t=self.HAMMING_T
        ).persist()
        band_s, verified = timed(pairs.count)
        bands = hashed.select(
            "img_id", F.posexplode(F.array(*band_cols("phash", self.N_BANDS)))
        )
        a, b = bands.alias("a"), bands.alias("b")
        candidates = (
            a.join(b, (F.col("a.pos") == F.col("b.pos"))
                   & (F.col("a.col") == F.col("b.col"))
                   & (F.col("a.img_id") < F.col("b.img_id")))
            .select("a.img_id", "b.img_id").distinct().count()
        )
        with ctx.tracer.span("cc") as cc_span:
            cc_s, _ = timed(lambda: connected_components(pairs).count())
        pairs.unpersist()
        hashed.unpersist()
        release_pins()
        return {
            "multimodal.phash_s": phash_s,
            "multimodal.band_pairs_s": band_s,
            "multimodal.candidate_pairs": candidates,
            "multimodal.verified_pairs": verified,
            "multimodal.verify_frac": verified / candidates,
            "dedup.cc_s": cc_s,
            "dedup.cc_jobs": cc_span.job_hi - cc_span.job_lo,
        }


WORKLOADS = {w.name: w for w in (SpatialJoin, PbfLifecycle)}
