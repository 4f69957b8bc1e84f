"""Staged parquet fixtures that give DuckDB oracles access to synthesized
(non-star-schema) inputs.

The image corpus is synthesized in-engine (synth/images.py), so the DuckDB
twin of an image query can't see it through the sf_dir views. Staging the
deterministic 2000-image corpus to a committed parquet file lets the oracle
SQL read the SAME rows by absolute path (`read_parquet('<fixture>')`),
turning the geotag/cell and decode-dims queries from rows-only checks into
hard value oracles. The fixture is independent of scale factor — the image
queries always run on the fixed N_IMAGES corpus.

`ensure_images_fixture()` regenerates the file if missing (bit-deterministic
values via generate_batch); tests assert fixture == live synthesis so a
drifting generator can't silently invalidate the oracle.
"""

from __future__ import annotations

import os

import numpy as np

N_FIXTURE_IMAGES = 2_000

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
IMAGES_FIXTURE = os.path.join(_REPO_ROOT, "fixtures", "images_oracle.parquet")


def _write_parquet(path: str, data) -> None:
    """Write ``data`` (a pandas frame or an Arrow table) to ``path`` as
    parquet through a ``.tmp`` sibling and a rename, so an interrupted
    staging run never leaves a half-written fixture behind."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    if not isinstance(data, pa.Table):
        data = pa.Table.from_pandas(data, preserve_index=False)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(data, path + ".tmp")
    os.replace(path + ".tmp", path)


def _record(pdf, names: tuple[str, ...], fn) -> dict[str, np.ndarray]:
    """One recorded column per name: ``fn(img, fmt)`` returns one value per
    name for each fixture row's decoded image. The recorders' one decode
    loop; ``fn`` calls the per-image functions the image passes of
    operators/multimodal.py run, so the query and its ground truth share
    one body."""
    from fs2_osm_spark.codecs.png import decode_image

    rows = [fn(decode_image(bytes(r.bytes), r.fmt), r.fmt) for r in pdf.itertuples()]
    return {n: np.array(c) for n, c in zip(names, zip(*rows), strict=True)}


def decoded_stats_columns(pdf) -> dict[str, np.ndarray]:
    """Per-channel mean/std of each row's DECODED pixels (PNG exact, JQ01
    through the lossy decoder) — the recorded ground truth the
    img_decode_stats oracle reads back, from ``pixel_stats``, the function
    decode_stats runs. Computed once at staging time; the anti-drift test
    recomputes a sample so a silently-changed decoder invalidates the
    fixture loudly instead of the oracle quietly."""
    from fs2_osm_spark.operators.multimodal import pixel_stats

    names = ("dec_mean_r", "dec_mean_g", "dec_mean_b",
             "dec_std_r", "dec_std_g", "dec_std_b")
    return _record(pdf, names, lambda img, fmt: pixel_stats(img)[2:])


def derived_image_columns(pdf) -> dict[str, np.ndarray]:
    """Ground truth for the derived-image oracles, recorded at staging time
    with the functions the queries run (anti-drift test recomputes a
    sample, so a changed codec/resampler invalidates the fixture loudly):

    - rt_psnr: ``roundtrip_psnr``, decode -> re-encode -> decode PSNR
      (img_pixel_roundtrip). NaN, NULL in the parquet, for lossless PNG
      rows (their PSNR is +inf; NULL keeps infinities out of the
      parquet/oracle comparison entirely).
    - rs_mean_r/g/b + rs_phash: ``channel_means`` and phash of the 8x8
      ``block_mean_resize`` thumbnail (img_resize_stats).
    """
    from fs2_osm_spark.codecs.png import phash64
    from fs2_osm_spark.operators.multimodal import (
        block_mean_resize,
        channel_means,
        roundtrip_psnr,
    )

    def derived(img, fmt):
        small = block_mean_resize(img, 8, 8)
        rt = np.nan if fmt == "png" else roundtrip_psnr(img, fmt)
        return (rt, *channel_means(small), phash64(small))

    names = ("rt_psnr", "rs_mean_r", "rs_mean_g", "rs_mean_b", "rs_phash")
    return _record(pdf, names, derived)


def augment_image_columns(pdf) -> dict[str, np.ndarray]:
    """Ground truth for the img_augment oracle (r07), recorded with
    ``augment_values``, the function augment_stats runs:

    - fl_phash: aHash64 of the horizontally flipped decode. The flip
      permutes hash-block columns, so a decoder or hasher that ignores
      spatial layout (returning e.g. the unflipped hash) diverges loudly.
    - cr_phash + cr_mean_r/g/b: aHash64 and channel means of the centered
      half-size crop (the random-resized-crop family's deterministic
      anchor) — crops change the pixel population, so these pin real
      geometry, unlike flip means which are trivially invariant.
    """
    from fs2_osm_spark.operators.multimodal import augment_values

    names = ("fl_phash", "cr_phash", "cr_mean_r", "cr_mean_g", "cr_mean_b")
    return _record(pdf, names, lambda img, fmt: augment_values(img))


OSM_FIXTURE_DIR = os.path.join(_REPO_ROOT, "fixtures", "osm_256")
OSM_FIXTURE_ZONES = 256


def osm_fixture_path(table: str) -> str:
    return os.path.join(OSM_FIXTURE_DIR, f"{table}.parquet")


def ensure_osm_fixture(spark) -> str:
    """Stage the deterministic synthetic OSM world (osm_tables at 256
    zones, the scale the osm_* registry queries run at) as SQL-friendly
    parquet: nodes, ways, exploded ways_nodes(way_id, idx, node_id) and
    way_tags(way_id, key, value). This lets DuckDB oracles REIMPLEMENT the
    assembly semantics (ordered collect, 1e-6 quantized closure, polygon
    whitelist, haversine/shoelace kernels) in independent SQL over the
    same rows — a stronger check than fixture-recorded outputs, because
    both engines derive the answer from the raw tables separately.

    One recorded column rides along: geom_extra.parquet carries
    n_points_simplified per way (Douglas-Peucker is iterative — no SQL
    twin), computed driver-side at staging time from the fixture rows and
    defended by the anti-drift test in tests/test_osm_fixture_oracles.py.
    """
    if not os.path.exists(osm_fixture_path("relations_relations")):
        from fs2_osm_spark.functions.geom_ops import simplify_dp
        from fs2_osm_spark.synth.osm import osm_tables

        t = osm_tables(spark, OSM_FIXTURE_ZONES)
        nodes = (
            t["nodes"].select("osm_id", "lon", "lat", "name")
            .toPandas().sort_values("osm_id").reset_index(drop=True)
        )
        ways_pdf = t["ways"].toPandas().sort_values("osm_id").reset_index(drop=True)
        ways = ways_pdf[["osm_id", "name"]]
        wn_rows, tag_rows = [], []
        for r in ways_pdf.itertuples():
            for i, nid in enumerate(r.nodes):
                wn_rows.append((r.osm_id, i, int(nid)))
            for k in sorted(r.tags):
                tag_rows.append((r.osm_id, k, r.tags[k]))
        import pandas as pd

        ways_nodes = pd.DataFrame(wn_rows, columns=["way_id", "idx", "node_id"])
        way_tags = pd.DataFrame(tag_rows, columns=["way_id", "key", "value"])

        rels_pdf = t["relations"].toPandas().sort_values("osm_id").reset_index(drop=True)
        relations = rels_pdf[["osm_id", "name", "type"]]
        relation_tags = pd.DataFrame(
            [(r.osm_id, k, r.tags[k])
             for r in rels_pdf.itertuples() for k in sorted(r.tags)],
            columns=["relation_id", "key", "value"],
        )
        relations_ways = (
            t["relations_ways"].toPandas()
            .sort_values(["relation_id", "index"]).reset_index(drop=True)
        )
        relations_nodes = (
            t["relations_nodes"].toPandas()
            .sort_values(["relation_id", "index"]).reset_index(drop=True)
        )
        relations_relations = (
            t["relations_relations"].toPandas()
            .sort_values(["parent_id", "index"]).reset_index(drop=True)
        )

        # recorded column: n_points_simplified (DP tol 1e-4) per assembled
        # way geometry, computed driver-side from the SAME fixture rows
        coord = nodes.set_index("osm_id")[["lon", "lat"]]
        extra_rows = []
        for way_id, grp in ways_nodes.groupby("way_id"):
            ids = grp.sort_values("idx")["node_id"]
            pts = coord.reindex(ids).dropna().to_numpy()
            if not len(pts):
                continue
            geom = pts.reshape(-1)
            extra_rows.append((way_id, len(simplify_dp(geom, 1e-4)) // 2))
        geom_extra = pd.DataFrame(
            extra_rows, columns=["way_id", "n_points_simplified"]
        )

        for name, pdf in (
            ("nodes", nodes), ("ways", ways), ("ways_nodes", ways_nodes),
            ("way_tags", way_tags), ("geom_extra", geom_extra),
            ("relations", relations), ("relations_ways", relations_ways),
            ("relation_tags", relation_tags),
            ("relations_nodes", relations_nodes),
            ("relations_relations", relations_relations),
        ):
            _write_parquet(osm_fixture_path(name), pdf)
    return OSM_FIXTURE_DIR


RASTER_FIXTURE = os.path.join(_REPO_ROOT, "fixtures", "raster_oracle.parquet")
RASTER_N_ZONES = 256
RASTER_Z = 12
RASTER_SIZE = 64


def ensure_raster_fixture(spark) -> str:
    """Ground truth for img_rasterize_vectorize: per hot-city z12 tile, the
    covered-pixel count and re-vectorized ring count, computed DRIVER-SIDE
    (plain numpy loop over the collected polygon corpus — no mapInPandas,
    no broadcast) with the same rasterize/vectorize kernels the distributed
    query runs. The oracle therefore proves the Spark plumbing (tile
    partitioning, corpus broadcast, Arrow batching) reproduces the
    driver-side computation exactly; kernel drift is caught loudly by the
    anti-drift test in tests/test_raster.py which recomputes a sample at
    test time against the committed fixture."""
    if not os.path.exists(RASTER_FIXTURE):
        import pyarrow as pa

        from fs2_osm_spark.operators.raster import (
            hot_city_tiles,
            rasterize_mask,
            vectorize_mask,
        )
        from fs2_osm_spark.plans.flagship import polygon_corpus

        ps = polygon_corpus(spark, RASTER_N_ZONES)
        rows = []
        for x, y in hot_city_tiles(RASTER_Z):
            mask = rasterize_mask(ps, RASTER_Z, x, y, RASTER_SIZE)
            rings = vectorize_mask(mask, RASTER_Z, x, y)
            rows.append((RASTER_Z, x, y, int(mask.sum()), len(rings)))
        tbl = pa.Table.from_arrays(
            [pa.array([r[i] for r in rows],
                      type=pa.int32() if i in (0, 4) else pa.int64())
             for i in range(5)],
            names=["z", "x", "y", "covered_px", "n_rings_vectorized"],
        )
        _write_parquet(RASTER_FIXTURE, tbl)
    return RASTER_FIXTURE


def ensure_images_fixture() -> str:
    """Write the staged image corpus if absent; return its absolute path."""
    if not os.path.exists(IMAGES_FIXTURE):
        from fs2_osm_spark.synth.images import generate_batch

        pdf = generate_batch(np.arange(N_FIXTURE_IMAGES, dtype=np.int64))
        for name, vals in decoded_stats_columns(pdf).items():
            pdf[name] = vals
        for name, vals in derived_image_columns(pdf).items():
            pdf[name] = vals
        for name, vals in augment_image_columns(pdf).items():
            pdf[name] = vals
        _write_parquet(IMAGES_FIXTURE, pdf)
    return IMAGES_FIXTURE


FLAGSHIP_FIXTURE = os.path.join(_REPO_ROOT, "fixtures", "flagship_oracle.parquet")
FLAGSHIP_N_IMAGES = 2_000
FLAGSHIP_N_ZONES = 128


def flagship_ground_truth(spark, image_ids=None) -> "pd.DataFrame":
    """Driver-side recomputation of the flagship join at the sf0.001 scale
    (2000 images / 128 zones): caption coords parsed with plain Python re,
    polygon membership by BRUTE-FORCE numpy ray-cast over every polygon
    (PolygonSet._match_scan — deliberately NOT the cell-cover machinery the
    distributed query uses), hex cell / z-x-y tile via the numpy kernel
    twins. The oracle therefore proves the whole distributed plumbing
    (cover build, interior fast path, Catalyst ray-cast, broadcast join)
    reproduces first-principles point-in-polygon answers."""
    import re

    import pandas as pd
    import pyarrow.parquet as pq

    from fs2_osm_spark.functions.geo import tile_xyz_np
    from fs2_osm_spark.functions.hex import hex_cell_np
    from fs2_osm_spark.operators.multimodal import CAPTION_COORD_RE
    from fs2_osm_spark.plans.flagship import HEX_RES, TILE_Z, polygon_corpus

    imgs = pq.read_table(
        ensure_images_fixture(), columns=["image_id", "caption"]
    ).to_pandas()
    if image_ids is not None:
        imgs = imgs[imgs.image_id.isin(set(image_ids))].reset_index(drop=True)
    pat = re.compile(CAPTION_COORD_RE)
    lats, lons = [], []
    for cap in imgs["caption"]:
        m = pat.search(cap)
        lats.append(float(m.group(1)) if m else np.nan)
        lons.append(float(m.group(2)) if m else np.nan)
    px = np.asarray(lons, np.float64)
    py = np.asarray(lats, np.float64)

    ps = polygon_corpus(spark, FLAGSHIP_N_ZONES)
    pt_idx, poly_ids = ps._match_scan(px, py)
    out = pd.DataFrame(
        {
            "image_id": imgs["image_id"].to_numpy()[pt_idx],
            "polygon_id": np.asarray(poly_ids, np.int64),
            "cell": hex_cell_np(px[pt_idx], py[pt_idx], HEX_RES),
        }
    )
    tx, ty = tile_xyz_np(px[pt_idx], py[pt_idx], TILE_Z)
    out["tile_x"] = tx
    out["tile_y"] = ty
    return out.sort_values(["image_id", "polygon_id"]).reset_index(drop=True)


def ensure_flagship_fixture(spark) -> str:
    """Record the brute-force flagship ground truth (committed parquet;
    anti-drift test recomputes it live in tests/test_images_flagship.py)."""
    if not os.path.exists(FLAGSHIP_FIXTURE):
        _write_parquet(FLAGSHIP_FIXTURE, flagship_ground_truth(spark))
    return FLAGSHIP_FIXTURE


DEDUP_FIXTURE_DIR = os.path.join(_REPO_ROOT, "fixtures", "dedup_oracle")


def dedup_fixture_path(name: str) -> str:
    return os.path.join(DEDUP_FIXTURE_DIR, f"{name}.parquet")


def dedup_ground_truth(spark) -> dict[str, "pd.DataFrame"]:
    """BRUTE-FORCE ground truth for the engine-native xxhash64 dedup trio
    over the fixed synth/docs.py corpus. The Spark kernels supply only the
    HASHES (signature minima / simhash bits — those are the operators'
    definition); everything downstream is recomputed driver-side with none
    of the distributed machinery under test:

    - simhash_d3 / simhash_d8: ALL-PAIRS numpy popcount over the 800
      simhashes (no banding, no multi-probe, no join) — certifies that the
      pigeonhole-banded hamming_pairs join finds exactly the full pair set
      its recall guarantee promises, at both the exact-band (d=3) and
      1-bit multi-probe (d=8) operating points.
    - minhash_cc: band-fragment EQUALITY pairs (plain tuple compare — no
      xxhash band keys, no self-join) fed through a python union-find with
      min-label representatives — certifies banding + the iterative
      min-label-propagation connected_components together.
    """
    from collections import defaultdict

    import pandas as pd

    from fs2_osm_spark.operators.dedup import minhash_signatures, simhash64
    from fs2_osm_spark.synth.docs import dedup_corpus, popcount64

    corpus = dedup_corpus(spark)
    sim_rows = simhash64(corpus, "doc_id", "text").collect()
    order = np.argsort([r.doc_id for r in sim_rows])
    ids = np.array([sim_rows[i].doc_id for i in order], np.int64)
    hs = np.array([sim_rows[i].simhash for i in order], np.int64).view(np.uint64)
    d = popcount64(hs[:, None] ^ hs[None, :])
    iu = np.triu_indices(len(ids), k=1)
    dists = d[iu]
    out: dict[str, pd.DataFrame] = {}
    for name, dmax in (("simhash_d3", 3), ("simhash_d8", 8)):
        mask = dists <= dmax
        out[name] = pd.DataFrame(
            {
                "id_a": ids[iu[0][mask]],
                "id_b": ids[iu[1][mask]],
                "hamming": dists[mask],
            }
        )

    sig_rows = minhash_signatures(corpus, "doc_id", "text", n_hashes=32).collect()
    sid = [r.doc_id for r in sig_rows]
    sigs = np.array([r.sig for r in sig_rows], np.int64)
    pairs: set[tuple[int, int]] = set()
    for b in range(8):
        groups: dict[tuple, list[int]] = defaultdict(list)
        for k, did in enumerate(sid):
            groups[tuple(sigs[k, b * 4 : (b + 1) * 4])].append(did)
        for g in groups.values():
            if len(g) > 1:
                g = sorted(g)
                for x in range(len(g)):
                    for y in range(x + 1, len(g)):
                        pairs.add((g[x], g[y]))
    parent: dict[int, int] = {}

    def find(a: int) -> int:
        while parent.setdefault(a, a) != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp: dict[int, list[int]] = defaultdict(list)
    for x in {v for p in pairs for v in p}:
        comp[find(x)].append(x)
    rows = sorted(
        (x, min(mem)) for mem in comp.values() for x in mem
    )
    out["minhash_cc"] = pd.DataFrame(rows, columns=["id", "cluster"])
    return out


def ensure_dedup_fixture(spark) -> str:
    """Record the brute-force dedup ground truth (committed parquet; the
    anti-drift test recomputes it live in tests/test_dedup_fixture.py)."""
    if not all(
        os.path.exists(dedup_fixture_path(n))
        for n in ("simhash_d3", "simhash_d8", "minhash_cc")
    ):
        for name, pdf in dedup_ground_truth(spark).items():
            _write_parquet(dedup_fixture_path(name), pdf)
    return DEDUP_FIXTURE_DIR


AUDIO_FIXTURE = os.path.join(_REPO_ROOT, "fixtures", "audio_oracle.parquet")
N_FIXTURE_CLIPS = 1_000


def ensure_audio_fixture() -> str:
    """Stage the deterministic audio corpus + its recorded features
    (the images_oracle.parquet pattern): the bytes column gives pytest the
    real WAVs, the feature columns give the DuckDB oracle ground truth
    recorded with the same numpy kernels the distributed query runs;
    the anti-drift test recomputes a sample live."""
    if not os.path.exists(AUDIO_FIXTURE):
        from fs2_osm_spark.operators.audio import (
            clip_features_from_samples,
            spectral_fingerprint,
        )
        from fs2_osm_spark.synth.audio import decode_wav as _dw
        from fs2_osm_spark.synth.audio import generate_audio_batch

        pdf = generate_audio_batch(np.arange(N_FIXTURE_CLIPS, dtype=np.int64))
        feats = np.empty((len(pdf), 5))
        fps = np.empty(len(pdf), np.int64)
        for k, r in enumerate(pdf.itertuples()):
            x, sr = _dw(bytes(r.bytes))  # decode once, feed both kernels
            feats[k] = clip_features_from_samples(x, sr)
            fps[k] = spectral_fingerprint(x, sr)
        pdf["rms"], pdf["zcr"], pdf["dom_freq_hz"] = (
            feats[:, 0], feats[:, 1], feats[:, 2]
        )
        pdf["clip_ratio"], pdf["duration_s"] = feats[:, 3], feats[:, 4]
        pdf["fingerprint"] = fps
        _write_parquet(AUDIO_FIXTURE, pdf)
    return AUDIO_FIXTURE


SIM_FIXTURE_DIR = os.path.join(_REPO_ROOT, "fixtures", "sim_oracle")


def sim_fixture_path(name: str) -> str:
    return os.path.join(SIM_FIXTURE_DIR, f"{name}.parquet")


def sim_ground_truth(spark) -> dict[str, "pd.DataFrame"]:
    """BRUTE-FORCE ground truth for the engine-native xxhash64 IVF search
    and Lloyd k-means over the fixed synth/vectors.py corpus. Spark
    supplies only the two HASH columns (`xxhash64(vec_id)` for the stride
    filter, `xxhash64(1, vec_id)` for the sample order — those hashes ARE
    the operators' definition, the dedup-fixture stance); everything
    downstream is recomputed driver-side with plain per-pair numpy dots
    and python loops — none of the matmul assign kernel, the probe kernel,
    the broadcast joins, or the distributed mean-update under test.

    - ivf_ann: strided centroid sample -> argmax-cosine inverted lists ->
      top-n_probe list probe per query -> exact rerank with the
      (round(cos,7) DESC, neighbor_id) tie-break.
    - kmeans_clusters: same strided init (k=8), three Lloyd rounds with
      the per-round round(mean, 9) fixed-point pin kmeans_fit applies
      (empty cluster keeps the previous centroid), then per-vector
      assignment + cosine to the fitted centroid.
    """
    import pandas as pd
    from pyspark.sql import functions as F

    from fs2_osm_spark.synth.vectors import sim_corpus_pdf

    IVF_K, IVF_MOD, IVF_PROBE, TOP_K, N_Q = 16, 17, 4, 5, 20
    KM_K, KM_ITERS, KM_ROUND = 8, 3, 9

    pdf = sim_corpus_pdf()
    vecs = {int(r.vec_id): np.asarray(r.v, np.float64) for r in pdf.itertuples()}
    ids = sorted(vecs)

    hashes = (
        spark.createDataFrame(pd.DataFrame({"vec_id": ids}), "vec_id long")
        .select(
            "vec_id",
            F.xxhash64(F.col("vec_id")).alias("hm"),
            F.xxhash64(F.lit(1), F.col("vec_id")).alias("h1"),
        )
        .toPandas()
    )
    hm = dict(zip(hashes.vec_id.astype(int), hashes.hm.astype(int)))
    h1 = dict(zip(hashes.vec_id.astype(int), hashes.h1.astype(int)))

    def cos(a: np.ndarray, b: np.ndarray) -> float:
        return float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b)))

    def strided_sample(k: int) -> list[np.ndarray]:
        # mirror ivf_centroids: pmod(xxhash64(id), mod) == 0 thinning,
        # then (xxhash64(1, id), id) order, top k; fallback = whole corpus
        thin = [i for i in ids if hm[i] % IVF_MOD == 0]
        pool = thin if len(thin) >= k else ids
        chosen = sorted(pool, key=lambda i: (h1[i], i))[:k]
        return [vecs[i] for i in chosen]

    def assign(cents: list[np.ndarray]) -> dict[int, int]:
        out = {}
        for i in ids:
            sims = [cos(vecs[i], c) for c in cents]
            best = max(range(len(cents)), key=lambda j: (sims[j], -j))
            out[i] = best
        return out

    out: dict[str, pd.DataFrame] = {}

    # ------------------------------------------------------------- IVF ---
    cents = strided_sample(IVF_K)
    lists = assign(cents)
    rows = []
    for q in [i for i in ids if i < N_Q]:
        probe = sorted(
            range(len(cents)), key=lambda j: (-cos(vecs[q], cents[j]), j)
        )[:IVF_PROBE]
        cand = [i for i in ids if lists[i] in probe and i != q]
        scored = [(i, cos(vecs[q], vecs[i])) for i in cand]
        scored.sort(key=lambda t: (-round(t[1], 7), t[0]))
        for rank, (nid, c) in enumerate(scored[:TOP_K], start=1):
            rows.append((q, rank, nid, round(c, 6)))
    out["ivf_ann"] = pd.DataFrame(
        rows, columns=["query_id", "rank", "neighbor_id", "cos_sim"]
    )

    # ---------------------------------------------------------- k-means ---
    cents = strided_sample(KM_K)  # kmeans_fit does NOT round the init
    for _ in range(KM_ITERS):
        a = assign(cents)
        new = []
        for c, prev in enumerate(cents):
            members = [i for i in ids if a[i] == c]
            if members:
                mean = np.sum([vecs[i] for i in members], axis=0) / len(members)
            else:
                mean = prev
            new.append(np.round(mean, KM_ROUND))
        cents = new
    a = assign(cents)
    out["kmeans_clusters"] = pd.DataFrame(
        [(i, a[i], round(cos(vecs[i], cents[a[i]]), 6)) for i in ids],
        columns=["vec_id", "centroid_id", "cos_to_centroid"],
    )
    return out


def ensure_sim_fixture(spark) -> str:
    """Record the brute-force ANN/k-means ground truth (committed parquet;
    the anti-drift test recomputes it live in tests/test_sim_fixture.py)."""
    if not all(
        os.path.exists(sim_fixture_path(n)) for n in ("ivf_ann", "kmeans_clusters")
    ):
        for name, pdf in sim_ground_truth(spark).items():
            _write_parquet(sim_fixture_path(name), pdf)
    return SIM_FIXTURE_DIR


PHASH_CORPUS = os.path.join(_REPO_ROOT, "fixtures", "phash_corpus.parquet")
PHASH_N_BASE = 200  # x5 variants = 1000 corpus rows


def ensure_phash_corpus() -> str:
    """Write the committed near-dup image corpus if absent (see
    synth/images.py neardup_batch). The recorded `phash` column is what the
    img_phash_neardup DuckDB twin derives bands/pairs/closure from; the
    Spark side decodes `bytes` and hashes LIVE, and the anti-drift test in
    tests/test_phash_neardup.py re-synthesizes a sample so a drifting
    generator or codec invalidates the fixture loudly."""
    if not os.path.exists(PHASH_CORPUS):
        from fs2_osm_spark.synth.images import neardup_batch

        pdf = neardup_batch(np.arange(PHASH_N_BASE, dtype=np.int64))
        _write_parquet(PHASH_CORPUS, pdf)
    return PHASH_CORPUS
