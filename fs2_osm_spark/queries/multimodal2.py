"""Image-axis training-pipeline queries (round 7): perceptual-hash
near-dup clustering, the multi-zoom tile pyramid rollup, webdataset-style
shard packing, per-cell representative selection, and streaming
dedup-on-arrival.

All five run on committed fixture corpora (synth/staging.py) so every one
carries a HARD DuckDB value oracle: the Spark side decodes pixels LIVE
(map_rows kernels over the binary column); the twin re-derives the identical
result in pure SQL from the fixture's recorded columns, whose fidelity the
anti-drift tests pin against live synthesis.

Float discipline: per-image luminance is micro-quantized ONCE
(floor(luma*1e6+0.5) as BIGINT, identical expression both engines) so every
downstream aggregate is exact integer arithmetic — no reduce-order or
round-half parity risk anywhere in the pyramid/mosaic rollups.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from fs2_osm_spark.functions.geo import tile_xyz, tile_xyz_sql
from fs2_osm_spark.functions.hex import hex_cell, hex_cell_sql
from fs2_osm_spark.operators.multimodal import (
    CAPTION_COORD_RE,
    geotag,
    phash_band_pairs,
    phash_frame,
)
from fs2_osm_spark.queries.registry import register
from fs2_osm_spark.synth.staging import (
    IMAGES_FIXTURE,
    PHASH_CORPUS,
    ensure_images_fixture,
    ensure_phash_corpus,
)

PHASH_BANDS = 8
PHASH_T = 6  # <= bands-1 => pigeonhole guarantees full recall

PYRAMID_ZOOMS = (12, 10, 8)  # finest first; each step divides x/y by 4

SHARD_BUDGET = 64 * 1024  # bytes per training shard

MOSAIC_RES = 6  # hex resolution for representative selection


# --- img_phash_neardup ------------------------------------------------------

def _phash_neardup_oracle() -> str:
    band_w = 64 // PHASH_BANDS
    mask = (1 << band_w) - 1
    return f"""
    WITH RECURSIVE h AS MATERIALIZED (
        SELECT img_id, phash FROM read_parquet('{PHASH_CORPUS}')
    ),
    bands AS MATERIALIZED (
        SELECT img_id, phash, k,
               (phash >> CAST({band_w} * k AS BIGINT)) & {mask} AS bv
        FROM h, range(0, {PHASH_BANDS}) t(k)
    ),
    cand AS MATERIALIZED (
        SELECT DISTINCT a.img_id AS id_a, b.img_id AS id_b,
                        a.phash AS ph_a, b.phash AS ph_b
        FROM bands a
        JOIN bands b ON a.k = b.k AND a.bv = b.bv AND a.img_id < b.img_id
    ),
    pairs AS MATERIALIZED (
        SELECT id_a, id_b FROM cand
        WHERE bit_count(xor(ph_a, ph_b)) <= {PHASH_T}
    ),
    edges AS (
        SELECT id_a AS x, id_b AS y FROM pairs
        UNION
        SELECT id_b AS x, id_a AS y FROM pairs
    ),
    reach(id, lbl) AS (
        SELECT x AS id, x AS lbl FROM edges
        UNION
        SELECT e.x AS id, r.lbl FROM edges e JOIN reach r ON e.y = r.id
    ),
    cc AS (SELECT id, min(lbl) AS cluster FROM reach GROUP BY id)
    SELECT h.img_id,
           COALESCE(cc.cluster, h.img_id) AS cluster
    FROM h LEFT JOIN cc ON h.img_id = cc.id
    """


@register("img_phash_neardup", oracle=_phash_neardup_oracle())
def img_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-dup clustering over a binary image corpus: decode ->
    aHash64 (live pixel pass, no shuffle) -> 8x8-bit LSH banding (full
    recall at hamming <= 7 by pigeonhole) -> popcount verify at t=6 ->
    min-label connected components; singletons label themselves. The DuckDB
    twin re-derives bands, candidate pairs, the popcount verification, AND
    the transitive closure from the fixture's recorded hashes — the only
    trust boundary is hash == recorded-hash, pinned by the anti-drift test."""
    from fs2_osm_spark.catalog import swap_durable_result
    from fs2_osm_spark.operators.dedup import connected_components
    from fs2_osm_spark.pins import release_pins

    corpus = spark.read.parquet(ensure_phash_corpus())
    hashed = phash_frame(corpus)
    pairs = phash_band_pairs(hashed, n_bands=PHASH_BANDS, hamming_t=PHASH_T)
    cc = connected_components(pairs)
    # enumerate ids from the plain parquet column, NOT from `hashed` — the
    # decode pipeline should run once (inside the pinned band join), not
    # again just to list the corpus
    ids = corpus.select("img_id")
    out = ids.join(cc, ids.img_id == cc.id, "left").select(
        "img_id",
        F.coalesce(F.col("cluster"), F.col("img_id")).alias("cluster"),
    )
    # durable, then release: the CC result reads its last checkpoint
    out = swap_durable_result(out, "img_phash_neardup")
    release_pins()
    return out


# --- img_tile_pyramid -------------------------------------------------------

_LUMA_MICRO_SQL = (
    "CAST(floor((((dec_mean_r + dec_mean_g) + dec_mean_b) / 3.0) * 1000000.0"
    " + 0.5) AS BIGINT)"
)


def _luma_micro_stats(images: DataFrame) -> DataFrame:
    """(image_id, luma_micro) from the LIVE decode pass — the Column twin
    of _LUMA_MICRO_SQL, defined once so the pyramid and mosaic queries
    cannot drift from each other or from the oracle expression. r08: the
    decode is the slim channel-means pass (decode_stats also computed
    stds + the phash check per image — 77% of the Python time — which an
    opaque Python map cannot column-prune away; the mean expression is
    identical, so luma_micro is bit-identical)."""
    return _luma_micro_geo(images).select("image_id", "luma_micro")


def _luma_micro_geo(images: DataFrame) -> DataFrame:
    """(image_id, lon, lat, luma_micro) off ONE decode pass: the caption
    rides through the decode kernel (decode_channel_means carry) and the
    geotag regex runs JVM-side on the output — no image_id equi-join of
    two full corpus scans (r08; at 250k bench images the join was its own
    shuffle plus a second parquet scan). luma_micro is the shared
    _LUMA_MICRO_SQL twin, identical expression as r07."""
    from fs2_osm_spark.operators.multimodal import decode_channel_means

    return geotag(decode_channel_means(images, carry=("caption",))).select(
        "image_id",
        "lon",
        "lat",
        F.floor(
            (((F.col("mean_r") + F.col("mean_g")) + F.col("mean_b")) / 3.0)
            * 1000000.0
            + 0.5
        ).alias("luma_micro"),
    )


def _tile_pyramid_oracle() -> str:
    x12, y12 = tile_xyz_sql("lon", "lat", 12)
    levels = []
    for z in PYRAMID_ZOOMS:
        div = 1 << (12 - z)  # z12 -> z: halve per zoom step
        levels.append(f"""
        SELECT CAST({z} AS BIGINT) AS z,
               x12 // {div} AS x, y12 // {div} AS y,
               CAST(count(*) AS BIGINT) AS n_images,
               CAST(sum(luma_micro) AS BIGINT) AS sum_luma_micro,
               CAST(sum(luma_micro) // count(*) AS BIGINT) AS mean_luma_micro
        FROM base GROUP BY 2, 3""")
    union = "\n    UNION ALL\n".join(levels)
    return f"""
    WITH pts AS (
        SELECT CAST(regexp_extract(caption, 'at (-?\\d+\\.\\d+),(-?\\d+\\.\\d+)', 1)
                    AS DOUBLE) AS lat,
               CAST(regexp_extract(caption, 'at (-?\\d+\\.\\d+),(-?\\d+\\.\\d+)', 2)
                    AS DOUBLE) AS lon,
               {_LUMA_MICRO_SQL} AS luma_micro
        FROM read_parquet('{IMAGES_FIXTURE}')
    ),
    base AS (SELECT {x12} AS x12, {y12} AS y12, luma_micro FROM pts)
    {union}
    """


def pyramid_rollup(images: DataFrame) -> DataFrame:
    """THE tile-pyramid plan — the single definition shared by the oracled
    query, bench.py's 250k timing, and tools/pyramid_scaling.py, so the
    measured plan can never drift from the verified one. ONE live decode
    pass + ONE shuffle at the finest zoom; each z12 partial explodes into
    its (z, x div k, y div k) ancestors and a single groupBy aggregates
    the whole pyramid. (A per-level unionByName would replan — and
    re-decode — the base subtree once per level: measured 3 MapInPandas
    nodes.)"""
    x12, y12 = tile_xyz(F.col("lon"), F.col("lat"), 12)
    base = (
        _luma_micro_geo(images)
        .select(x12.alias("x12"), y12.alias("y12"), "luma_micro")
        .groupBy("x12", "y12")
        .agg(
            F.count(F.lit(1)).alias("n_images"),
            F.sum("luma_micro").alias("sum_luma_micro"),
        )
    )
    levels = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(z).cast("bigint").alias("z"),
                    F.expr(f"x12 div {1 << (12 - z)}").alias("x"),
                    F.expr(f"y12 div {1 << (12 - z)}").alias("y"),
                )
                for z in PYRAMID_ZOOMS
            ]
        )
    )
    return (
        base.select(levels.alias("zxy"), "n_images", "sum_luma_micro")
        .groupBy("zxy.z", "zxy.x", "zxy.y")
        .agg(
            F.sum("n_images").alias("n_images"),
            F.sum("sum_luma_micro").alias("sum_luma_micro"),
        )
        .select(
            "z", "x", "y", "n_images", "sum_luma_micro",
            F.expr("sum_luma_micro div n_images").alias("mean_luma_micro"),
        )
    )


@register("img_tile_pyramid", oracle=_tile_pyramid_oracle())
def img_tile_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-zoom map-tile rollup of decoded image stats (z12 -> z10 -> z8)
    — the hypertable-rollup shape that keeps a 100 TB pyramid build from
    re-scanning pixels per level. The oracle recomputes every level
    directly from the raw points, proving partial-rollup == direct
    aggregation (exact: counts and micro-quantized luma sums are all
    BIGINT)."""
    return pyramid_rollup(spark.read.parquet(ensure_images_fixture()))


# --- img_shard_pack ---------------------------------------------------------

def _shard_pack_oracle() -> str:
    return f"""
    WITH s AS (
        SELECT image_id, CAST(octet_length(bytes) AS BIGINT) AS sz
        FROM read_parquet('{IMAGES_FIXTURE}')
    ),
    o AS (
        SELECT image_id, sz,
               COALESCE(SUM(sz) OVER (ORDER BY image_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                        0) AS off
        FROM s
    )
    SELECT off // {SHARD_BUDGET} AS shard_id,
           CAST(count(*) AS BIGINT) AS n_images,
           CAST(sum(sz) AS BIGINT) AS shard_bytes,
           min(image_id) AS first_id,
           max(image_id) AS last_id
    FROM o GROUP BY 1
    """


@register("img_shard_pack", oracle=_shard_pack_oracle())
def img_shard_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Webdataset-style shard manifest: images are packed into ~64 KiB
    training shards by cumulative byte size in deterministic image_id
    order. The naive formulation is a single-task global window; this runs
    the distributed exclusive prefix sum (the machinery sequence packing
    uses), so shard assignment parallelizes at any corpus size. The
    manifest is a lazy frame: the prefix sum's range offsets are collected
    constants, so a late re-execution gives the same shards."""
    from fs2_osm_spark.operators.packing import distributed_prefix_sum

    imgs = spark.read.parquet(ensure_images_fixture()).select(
        "image_id", F.octet_length("bytes").cast("bigint").alias("sz")
    )
    off = distributed_prefix_sum(imgs, "sz", ["image_id"], out_col="off")
    return off.groupBy(F.expr(f"off div {SHARD_BUDGET}").alias("shard_id")).agg(
        F.count(F.lit(1)).alias("n_images"),
        F.sum("sz").alias("shard_bytes"),
        F.min("image_id").alias("first_id"),
        F.max("image_id").alias("last_id"),
    )


# --- img_cell_mosaic --------------------------------------------------------

def _cell_mosaic_oracle() -> str:
    cell = hex_cell_sql("lon", "lat", MOSAIC_RES)
    return f"""
    WITH pts AS (
        SELECT image_id,
               CAST(regexp_extract(caption, 'at (-?\\d+\\.\\d+),(-?\\d+\\.\\d+)', 1)
                    AS DOUBLE) AS lat,
               CAST(regexp_extract(caption, 'at (-?\\d+\\.\\d+),(-?\\d+\\.\\d+)', 2)
                    AS DOUBLE) AS lon,
               {_LUMA_MICRO_SQL} AS luma_micro
        FROM read_parquet('{IMAGES_FIXTURE}')
    ),
    cells AS (SELECT image_id, luma_micro, {cell} AS cell FROM pts),
    ranked AS (
        SELECT cell, image_id, luma_micro,
               row_number() OVER (PARTITION BY cell
                                  ORDER BY luma_micro DESC, image_id DESC) AS rk,
               count(*) OVER (PARTITION BY cell) AS n_images
        FROM cells
    )
    SELECT cell, image_id AS rep_image_id,
           luma_micro AS rep_luma_micro,
           CAST(n_images AS BIGINT) AS n_images
    FROM ranked WHERE rk = 1
    """


@register("img_cell_mosaic", oracle=_cell_mosaic_oracle())
def img_cell_mosaic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-hex-cell representative image (the mosaic/diversity-sampling
    primitive: one exemplar per map cell for dataset curation or tile
    preview). Deterministic argmax — brightest decoded image, image_id as
    the tie-break — via a window over the cell key; the decode pass stays
    narrow and only (cell, id, luma) reaches the shuffle."""
    images = spark.read.parquet(ensure_images_fixture())
    cells = _luma_micro_geo(images).select(
        "image_id",
        hex_cell(F.col("lon"), F.col("lat"), MOSAIC_RES).alias("cell"),
        "luma_micro",
    )
    w = Window.partitionBy("cell")
    ranked = cells.select(
        "cell",
        "image_id",
        "luma_micro",
        F.row_number()
        .over(w.orderBy(F.col("luma_micro").desc(), F.col("image_id").desc()))
        .alias("rk"),
        F.count(F.lit(1)).over(w).alias("n_images"),
    )
    return ranked.where(F.col("rk") == 1).select(
        "cell",
        F.col("image_id").alias("rep_image_id"),
        F.col("luma_micro").alias("rep_luma_micro"),
        F.col("n_images").cast("bigint").alias("n_images"),
    )


# --- stream_image_dedup -----------------------------------------------------

def _stream_image_dedup_oracle() -> str:
    return f"""
    WITH h AS MATERIALIZED (
        SELECT img_id, phash,
               row_number() OVER (ORDER BY img_id) - 1 AS arrival
        FROM read_parquet('{PHASH_CORPUS}')
    )
    SELECT a.img_id,
           NOT EXISTS (SELECT 1 FROM h b
                       WHERE b.arrival < a.arrival
                         AND bit_count(xor(a.phash, b.phash)) <= {PHASH_T})
               AS is_novel
    FROM h a
    """


@register("stream_image_dedup", oracle=_stream_image_dedup_oracle())
def stream_image_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup-on-arrival over the ordered image feed: foreachBatch
    decodes + hashes each micro-batch live, band-joins it against the
    accumulated hash index (plus earlier arrivals in the same batch), flags
    near-dups, and appends EVERY arrival to the index. Full-recall banding
    makes the streamed result equal the pure threshold formula the oracle
    evaluates all-pairs — and therefore independent of micro-batch
    boundaries (pinned 1-vs-5 batches in pytest)."""
    from fs2_osm_spark.streaming.images import stream_image_dedup

    return stream_image_dedup(
        spark, ensure_phash_corpus(), n_batches=5,
        n_bands=PHASH_BANDS, hamming_t=PHASH_T,
    )


# --- img_augment ------------------------------------------------------------

def _augment_oracle() -> str:
    return f"""
    SELECT image_id,
           fl_phash,
           cr_phash,
           round(cr_mean_r, 6) AS cr_mean_r,
           round(cr_mean_g, 6) AS cr_mean_g,
           round(cr_mean_b, 6) AS cr_mean_b
    FROM read_parquet('{IMAGES_FIXTURE}')
    """


@register("img_augment", oracle=_augment_oracle())
def img_augment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training augmentation (hflip + centered half crop)
    verified per image: the live decode -> transform -> aHash64/stats pass
    must reproduce the fixture's recorded ground truth exactly. The flip
    hash pins spatial layout (a channels-only decoder would still pass
    mean checks but not this); the crop hash + means pin the crop window
    geometry. One narrow row-kernel pass, zero-copy numpy views for both
    transforms, no shuffle."""
    from fs2_osm_spark.operators.multimodal import augment_stats

    images = spark.read.parquet(ensure_images_fixture())
    st = augment_stats(images)
    return st.select(
        "image_id",
        "fl_phash",
        "cr_phash",
        *[
            F.round(F.col(c), 6).alias(c)
            for c in ("cr_mean_r", "cr_mean_g", "cr_mean_b")
        ],
    )


# --- img_phash_multiprobe ---------------------------------------------------

def _phash_multiprobe_oracle() -> str:
    return f"""
    WITH h AS MATERIALIZED (
        SELECT img_id, phash FROM read_parquet('{PHASH_CORPUS}')
    )
    SELECT a.img_id AS id_a, b.img_id AS id_b,
           CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
    FROM h a JOIN h b ON a.img_id < b.img_id
    WHERE bit_count(xor(a.phash, b.phash)) <= {PHASH_T}
    """


@register("img_phash_multiprobe", oracle=_phash_multiprobe_oracle())
def img_phash_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs at t=6 through the SCALE-shaped index: 4 wide 16-bit
    bands + 1-bit multiprobe ((1+1)*4 = 8 > 6 keeps the pigeonhole recall
    guarantee) instead of the 8 narrow bands img_phash_neardup uses. Wide
    keys are what a 10^12-image corpus needs — candidate volume scales with
    n_bands * N^2 / 2^keywidth, so 16-bit keys cost 2^8x fewer candidates
    than 8-bit ones, and the probe fan-out (17 rows/band) buys the recall
    back. The oracle is brute force: every pair within hamming 6 from the
    recorded hashes — so the blocked index must achieve EXACTLY full
    recall at 1/256th the candidate volume."""
    from fs2_osm_spark.catalog import swap_durable_result
    from fs2_osm_spark.operators.dedup import hamming_pairs
    from fs2_osm_spark.pins import release_pins

    corpus = spark.read.parquet(ensure_phash_corpus())
    hashed = phash_frame(corpus).select(
        F.col("img_id"), F.col("phash").alias("simhash")
    )
    pairs = hamming_pairs(
        hashed, "img_id", max_distance=PHASH_T, n_bands=4, probe_bits=1
    ).select("id_a", "id_b", F.col("hamming").cast("bigint").alias("hamming"))
    out = swap_durable_result(pairs, "img_phash_multiprobe")
    release_pins()
    return out


# --- img_text_retrieval -----------------------------------------------------

RETRIEVAL_N_IMG = 32  # image-side query set
RETRIEVAL_TOP_K = 3
_RETRIEVAL_MAX_ID = f"img_{RETRIEVAL_N_IMG:012d}"  # ids are zero-padded


def _img_embed_terms_sql() -> str:
    """The 64 image-embedding features in DuckDB SQL — bit j of the stored
    phash gives the sign, the decoded channel mean (j mod 3) scales the
    magnitude. Formula-identical to the Column construction below."""
    chans = ("dec_mean_r", "dec_mean_g", "dec_mean_b")
    terms = [
        f"CAST(((phash >> {j}) & 1) * 2 - 1 AS DOUBLE)"
        f" * (1.0 + {chans[j % 3]} / 255.0)"
        for j in range(64)
    ]
    return ",\n               ".join(terms)


def _img_text_retrieval_oracle() -> str:
    return f"""
    WITH q AS (
        SELECT image_id,
               [{_img_embed_terms_sql()}] AS qv
        FROM read_parquet('{IMAGES_FIXTURE}')
        WHERE image_id < '{_RETRIEVAL_MAX_ID}'
    ),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    scored AS (
        SELECT q.image_id, e.vec_id,
               list_dot_product(q.qv, e.v)
                 / (sqrt(list_dot_product(q.qv, q.qv))
                    * sqrt(list_dot_product(e.v, e.v))) AS cos
        FROM q JOIN e ON true
    )
    SELECT image_id, rank, vec_id FROM (
        SELECT image_id, vec_id,
               CAST(row_number() OVER (PARTITION BY image_id
                    ORDER BY round(cos, 7) DESC, vec_id) AS BIGINT) AS rank
        FROM scored
    ) WHERE rank <= {RETRIEVAL_TOP_K}
    """


@register("img_text_retrieval", oracle=_img_text_retrieval_oracle())
def img_text_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal retrieval (the CLIP-shape): decode each query image,
    derive a 64-d embedding in the text-embedding space (phash bit signs x
    live decoded channel-mean magnitudes — a deterministic stand-in for a
    learned joint encoder; the Spark-side plumbing is the real thing:
    decode (the stored phash rides through the image pass) -> embed ->
    broadcast the small query side -> JVM higher-order
    cosine against the full embedding corpus -> operators/similarity
    cosine_top_k, the same parity-critical left-fold cosine and top-k as
    sim_cosine_topk: ranked on round(cos, 7) with the id tie-break, scores
    excluded from the output)."""
    from fs2_osm_spark.io import load

    from fs2_osm_spark.operators.multimodal import decode_channel_means

    images = spark.read.parquet(ensure_images_fixture()).where(
        F.col("image_id") < _RETRIEVAL_MAX_ID
    )
    means = decode_channel_means(images, carry=("phash",))
    chans = ("mean_r", "mean_g", "mean_b")
    feats = [
        (
            (F.shiftright(F.col("phash"), j).bitwiseAND(F.lit(1)) * 2 - 1)
            .cast("double")
            * (F.lit(1.0) + F.col(chans[j % 3]) / 255.0)
        )
        for j in range(64)
    ]
    queries = means.select("image_id", F.array(*feats).alias("qv"))
    corpus = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    # image ids and vector ids are separate id spaces: every (image, vector)
    # pair is a candidate, none is excluded as the query itself
    from fs2_osm_spark.operators.similarity import cosine_top_k

    cand = F.broadcast(queries).crossJoin(corpus)
    return cosine_top_k(
        cand, RETRIEVAL_TOP_K, "image_id", "qv", "vec_id", "embedding"
    ).select("image_id", "rank", F.col("neighbor_id").alias("vec_id"))


# --- video_scene_cuts -------------------------------------------------------

N_SCENE_VIDEOS = 60
SCENE_VIDEO_FRAMES = 12
CUT_THRESHOLD_PER_PX = 10  # x (h*w*3): within-scene ~2.6, cuts ~44


def _scene_cuts_oracle() -> str:
    """Ground truth from the RAW synthesis arrays (before PNG/AVI ever
    exist): the decode path must reproduce the original pixels exactly for
    the integer diff sums to match."""
    import numpy as np

    from fs2_osm_spark.synth.video import scene_frames

    rows = []
    for m in range(N_SCENE_VIDEOS):
        frames = scene_frames(m, SCENE_VIDEO_FRAMES)
        for i in range(1, SCENE_VIDEO_FRAMES):
            d = int(
                np.abs(
                    frames[i].astype(np.int64) - frames[i - 1].astype(np.int64)
                ).sum()
            )
            cut = d > CUT_THRESHOLD_PER_PX * frames[i].size
            rows.append(
                f"('scn_{m:06d}', CAST({i} AS BIGINT), CAST({d} AS BIGINT),"
                f" {'true' if cut else 'false'})"
            )
    values = ",\n        ".join(rows)
    return f"""
    SELECT * FROM (VALUES
        {values}
    ) AS t(media_id, frame_idx, diff_abs_sum, is_cut)
    """


@register("video_scene_cuts", oracle=_scene_cuts_oracle())
def video_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal video segmentation: 60 scene-structured clips as REAL AVI
    containers, every frame decoded through the idx1 index, consecutive
    frames differenced as exact BIGINT |d| sums, cuts flagged at a fixed
    per-pixel threshold (within-scene jitter ~2.6/px vs scene boundary
    ~44/px — an order of magnitude apart, so the flag is deterministic).
    Hard-oracled against diffs computed from the raw synthesis arrays
    before any encoding existed — a lossy or misaligned container/codec
    path shifts the integer sums and breaks the hash."""
    import pandas as pd

    from fs2_osm_spark.operators.multimodal import scene_cut_stats
    from fs2_osm_spark.synth.video import make_scene_video

    media = spark.createDataFrame(
        pd.DataFrame(
            [
                (f"scn_{m:06d}", make_scene_video(m, SCENE_VIDEO_FRAMES), "avi")
                for m in range(N_SCENE_VIDEOS)
            ],
            columns=["media_id", "bytes", "fmt"],
        )
    )
    return scene_cut_stats(media, CUT_THRESHOLD_PER_PX)
