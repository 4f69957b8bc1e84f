"""Multimodal (image) queries. Binary decode has no SQL twin, so the hard
oracles come from the committed fixture (fixtures/images_oracle.parquet):
it records, at staging time, what the codecs/resampler produce — decoded
dims, per-channel mean/std, roundtrip PSNR, thumbnail stats + phash — and
the DuckDB twin reads those back while the Spark side recomputes them live.
An anti-drift test recomputes the recorded columns from today's code, so a
changed codec invalidates the fixture loudly instead of the oracle quietly.
Invariants (PSNR >= 40 dB, caption equality, phash tolerance) are also
asserted in tests/test_images_flagship.py. The rasterize round-trip is
hard-oracled the same way (fixtures/raster_oracle.parquet, driver-side
ground truth); only the flagship join (scale) remains rows-only."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fs2_osm_spark.operators.multimodal import (
    decode_stats,
    geotag,
    pixel_roundtrip,
    resize_block_mean,
)
from fs2_osm_spark.plans.flagship import flagship_query
from fs2_osm_spark.queries.registry import register

N_IMAGES = 2_000


@register("img_flagship_spatial_join", oracle=None)
def img_flagship_spatial_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geotag -> hex cell -> PIP join -> tile assignment (the north-star
    pipeline end-to-end). Rows-only at the sf-scaled size; the identical
    join path is hard-oracled at fixed small scale by
    img_flagship_small_oracle."""
    return flagship_query(spark, sf_dir)


def _flagship_small_oracle() -> str:
    from fs2_osm_spark.synth.staging import FLAGSHIP_FIXTURE

    return f"""
    SELECT image_id, polygon_id, cell, tile_x, tile_y
    FROM read_parquet('{FLAGSHIP_FIXTURE}')
    """


@register("img_flagship_small_oracle", oracle=_flagship_small_oracle())
def img_flagship_small_oracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FLAGSHIP join itself, hard-oracled (r06) at the fixed sf0.001
    scale (2000 images / 128 zones): the Spark side runs the exact
    production path (geotag -> broadcast cell cover -> interior fast path /
    Catalyst ray-cast -> hex cell + z/x/y tiles); the oracle reads the
    committed fixture recorded by a BRUTE-FORCE driver-side recomputation
    (plain-python caption parse + numpy ray-cast over every polygon — no
    cover, no grid, no Spark; synth/staging.py flagship_ground_truth).
    Anti-drift pytest recomputes the fixture live in
    tests/test_images_flagship.py."""
    from fs2_osm_spark.synth.staging import (
        FLAGSHIP_N_IMAGES,
        FLAGSHIP_N_ZONES,
        ensure_flagship_fixture,
    )

    ensure_flagship_fixture(spark)
    return flagship_query(
        spark, sf_dir, n_images=FLAGSHIP_N_IMAGES, n_zones=FLAGSHIP_N_ZONES
    )


def _decode_stats_oracle() -> str:
    from fs2_osm_spark.synth.staging import IMAGES_FIXTURE

    return f"""
    SELECT image_id,
           round(dec_mean_r, 6) AS mean_r,
           round(dec_mean_g, 6) AS mean_g,
           round(dec_mean_b, 6) AS mean_b,
           round(dec_std_r, 6) AS std_r,
           round(dec_std_g, 6) AS std_g,
           round(dec_std_b, 6) AS std_b,
           true AS phash_match
    FROM read_parquet('{IMAGES_FIXTURE}')
    """


@register("img_decode_stats", oracle=_decode_stats_oracle())
def img_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pixel stats of every DECODED image (PNG + lossy JQ01 paths)
    cross-checked against the fixture's recorded per-channel mean/std —
    identical float64 pipelines on both sides, rounded to 6 decimals.
    phash_match is a live check (exact for PNG, hamming <=
    PHASH_LOSSY_TOLERANCE for JQ01); the oracle asserts it holds for every
    row, so a distorting decoder breaks the hash via means AND phash."""
    from fs2_osm_spark.synth.staging import ensure_images_fixture

    images = spark.read.parquet(ensure_images_fixture())
    st = decode_stats(images)
    return st.select(
        "image_id",
        *[F.round(F.col(c), 6).alias(c)
          for c in ("mean_r", "mean_g", "mean_b", "std_r", "std_g", "std_b")],
        "phash_match",
    )


def _pixel_roundtrip_oracle() -> str:
    from fs2_osm_spark.synth.staging import IMAGES_FIXTURE

    return f"""
    SELECT image_id,
           fmt = 'png' AS lossless,
           round(rt_psnr, 6) AS psnr_db
    FROM read_parquet('{IMAGES_FIXTURE}')
    """


@register("img_pixel_roundtrip", oracle=_pixel_roundtrip_oracle())
def img_pixel_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """decode -> re-encode -> decode, PSNR per image, hard-oracled against
    the fixture's recorded roundtrip PSNR (same codecs at staging time;
    anti-drift test recomputes a sample). Lossless PNG rows report NULL
    (their PSNR is +inf — keeping infinities out of the comparison); lossy
    JQ01 rows must reproduce the recorded dB to 6 decimals. The input_hint
    invariant (>= 40 dB) is asserted in tests/test_images_flagship.py."""
    from fs2_osm_spark.synth.staging import ensure_images_fixture

    images = spark.read.parquet(ensure_images_fixture())
    rt = pixel_roundtrip(images)
    return rt.select(
        "image_id",
        "lossless",
        F.when(~F.col("lossless"), F.round(F.col("psnr_db"), 6)).alias("psnr_db"),
    )


def _geotag_cells_oracle() -> str:
    from fs2_osm_spark.functions.hex import hex_cell_sql
    from fs2_osm_spark.synth.staging import IMAGES_FIXTURE

    return f"""
    WITH pts AS (
        SELECT CAST(regexp_extract(caption, 'at (-?\\d+\\.\\d+),(-?\\d+\\.\\d+)', 1)
                    AS DOUBLE) AS lat,
               CAST(regexp_extract(caption, 'at (-?\\d+\\.\\d+),(-?\\d+\\.\\d+)', 2)
                    AS DOUBLE) AS lon
        FROM read_parquet('{IMAGES_FIXTURE}')
    )
    SELECT {hex_cell_sql("lon", "lat", 6)} AS cell,
           CAST(count(*) AS BIGINT) AS n
    FROM pts GROUP BY 1
    """


@register("img_geotag_cells", oracle=_geotag_cells_oracle())
def img_geotag_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Caption geotag + hex cell histogram — the skew profile of the hot
    cities (drives the salting factor). Hard-oracled: both engines read the
    staged image fixture (synth/staging.py) and evaluate the same regexp +
    formula-identical hex-cell SQL."""
    from fs2_osm_spark.functions.hex import hex_cell
    from fs2_osm_spark.synth.staging import ensure_images_fixture

    images = spark.read.parquet(ensure_images_fixture())
    pts = geotag(images)
    return (
        pts.select(hex_cell(F.col("lon"), F.col("lat"), 6).alias("cell"))
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _decode_dims_oracle() -> str:
    from fs2_osm_spark.synth.staging import IMAGES_FIXTURE

    return f"""
    SELECT image_id, CAST(w AS BIGINT) AS dec_w, CAST(h AS BIGINT) AS dec_h,
           true AS phash_match
    FROM read_parquet('{IMAGES_FIXTURE}')
    """


@register("img_decode_dims", oracle=_decode_dims_oracle())
def img_decode_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary decode cross-checked against independent metadata: the Spark
    side DECODES every image (PNG + JQ01 paths) and reports the decoded
    dimensions and phash agreement; the oracle reads the staged fixture's
    stored (w, h) columns and asserts phash_match for every row (a live
    check on both codec paths: exact hash for PNG, hamming-tolerant for
    lossy). A decoder that mis-sizes, crops, or distorts any image breaks
    the value hash. (Per-channel mean/std are oracled separately in
    img_decode_stats against the fixture's recorded decoded stats.)"""
    from fs2_osm_spark.synth.staging import ensure_images_fixture

    images = spark.read.parquet(ensure_images_fixture())
    return decode_stats(images).select(
        "image_id",
        F.col("dec_w").cast("bigint"),
        F.col("dec_h").cast("bigint"),
        "phash_match",
    )


def _resize_oracle() -> str:
    from fs2_osm_spark.synth.staging import IMAGES_FIXTURE

    return f"""
    SELECT image_id, CAST(8 AS BIGINT) AS w, CAST(8 AS BIGINT) AS h,
           rs_phash AS phash
    FROM read_parquet('{IMAGES_FIXTURE}')
    """


@register("img_resize", oracle=_resize_oracle())
def img_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block-mean thumbnail of every fixture image; the derived image's
    phash must equal the fixture's recorded thumbnail phash bit-for-bit —
    any change to the resampler or the decode path breaks the value hash."""
    from fs2_osm_spark.synth.staging import ensure_images_fixture

    images = spark.read.parquet(ensure_images_fixture())
    return resize_block_mean(images, 8, 8).select(
        "image_id",
        F.col("w").cast("bigint"),
        F.col("h").cast("bigint"),
        "phash",
    )


def _resize_stats_oracle() -> str:
    from fs2_osm_spark.synth.staging import IMAGES_FIXTURE

    return f"""
    SELECT image_id,
           round(rs_mean_r, 6) AS mean_r,
           round(rs_mean_g, 6) AS mean_g,
           round(rs_mean_b, 6) AS mean_b,
           true AS phash_match
    FROM read_parquet('{IMAGES_FIXTURE}')
    """


@register("img_resize_stats", oracle=_resize_stats_oracle())
def img_resize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two chained narrow image passes — resize feeding decode_stats, which
    decodes the thumbnail's PNG on purpose — no shuffle between them,
    verified against the fixture's recorded thumbnail stats. phash_match
    must be true for every row: the thumbnail is PNG (lossless), so the
    phash emitted by the resize stage must survive the encode/decode hop
    exactly."""
    from fs2_osm_spark.synth.staging import ensure_images_fixture

    images = spark.read.parquet(ensure_images_fixture())
    small = resize_block_mean(images, 8, 8)
    st = decode_stats(small)
    return st.select(
        "image_id",
        *[F.round(F.col(c), 6).alias(c) for c in ("mean_r", "mean_g", "mean_b")],
        "phash_match",
    )


def _frame_sample_oracle() -> str:
    return """
    SELECT 'vid_' || lpad(CAST(v.range AS VARCHAR), 6, '0') AS media_id,
           CAST(f.f AS BIGINT) AS frame_idx,
           CAST(16 AS BIGINT) AS frame_w,
           CAST(12 AS BIGINT) AS frame_h
    FROM range(200) v, (VALUES (0), (4), (8), (12)) f(f)
    """


@register("img_frame_sample", oracle=_frame_sample_oracle())
def img_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling (decode stubbed behind a deterministic fake
    container — no codec libs here; Spark plumbing real): 200 fake videos
    x 16 frames, every 4th sampled -> 800 frame rows. The oracle is the
    closed-form expansion (every id x sampled index x the container's fixed
    16x12 frame dims) — wrong stride, dropped video, or mis-decoded frame
    dims all break the hash."""
    import pandas as pd

    from fs2_osm_spark.operators.multimodal import make_fake_video, sample_frames

    media = spark.createDataFrame(
        pd.DataFrame(
            [(f"vid_{i:06d}", make_fake_video(i), "fakevideo") for i in range(200)],
            columns=["media_id", "bytes", "fmt"],
        )
    )
    return sample_frames(media, every_n=4).select(
        "media_id",
        F.col("frame_idx").cast("bigint"),
        F.col("frame_w").cast("bigint"),
        F.col("frame_h").cast("bigint"),
    )


def _rasterize_oracle() -> str:
    from fs2_osm_spark.synth.staging import RASTER_FIXTURE

    return f"""
    SELECT CAST(z AS BIGINT) AS z,
           CAST(x AS BIGINT) AS x,
           CAST(y AS BIGINT) AS y,
           CAST(covered_px AS BIGINT) AS covered_px,
           CAST(n_rings_vectorized AS BIGINT) AS n_rings_vectorized
    FROM read_parquet('{RASTER_FIXTURE}')
    """


@register("img_rasterize_vectorize", oracle=_rasterize_oracle())
def img_rasterize_vectorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rasterize the OSM polygon corpus into z12 tile masks (PNG) and
    re-vectorize each mask in the same pass (north-star round trip).
    Tiles = the z12 tiles containing the hot-city centers + neighbors.
    Hard-oracled against the staged fixture, whose ground truth is the
    same kernels run DRIVER-SIDE in a plain loop — the comparison proves
    the distributed plumbing (broadcast corpus, Arrow batching)
    reproduces the sequential computation; kernel drift is caught by the
    anti-drift recompute in tests/test_raster.py."""
    import pandas as pd

    from fs2_osm_spark.operators.raster import hot_city_tiles, rasterize_tiles
    from fs2_osm_spark.plans.flagship import polygon_corpus
    from fs2_osm_spark.synth.staging import (
        RASTER_N_ZONES,
        RASTER_SIZE,
        RASTER_Z,
        ensure_raster_fixture,
    )

    ensure_raster_fixture(spark)
    tiles_df = spark.createDataFrame(
        pd.DataFrame(hot_city_tiles(RASTER_Z), columns=["x", "y"])
    )
    ps = polygon_corpus(spark, RASTER_N_ZONES)
    out = rasterize_tiles(tiles_df, ps, RASTER_Z, size=RASTER_SIZE)
    return out.select(
        *[F.col(c).cast("bigint").alias(c)
          for c in ("z", "x", "y", "covered_px", "n_rings_vectorized")]
    )


def _audio_features_oracle() -> str:
    from fs2_osm_spark.synth.staging import AUDIO_FIXTURE

    return f"""
    SELECT audio_id,
           round(duration_s, 6) AS duration_s,
           round(rms, 6) AS rms,
           round(zcr, 6) AS zcr,
           round(dom_freq_hz, 6) AS dom_freq_hz,
           round(clip_ratio, 6) AS clip_ratio
    FROM read_parquet('{AUDIO_FIXTURE}')
    """


@register("audio_features", oracle=_audio_features_oracle())
def audio_features_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio modality (r06): real RIFF/WAV PCM16 decode + vectorized
    per-clip features (duration from the decoded stream, RMS,
    zero-crossing rate, dominant rFFT frequency, clip ratio) inside Arrow
    batches — no external audio library needed, the container format is
    pure byte layout. Hard-oracled against fixture-recorded ground truth
    (anti-drift test recomputes a sample live; the dominant frequency is
    additionally pinned to the id-derived synthesis tone in pytest)."""
    from fs2_osm_spark.operators.audio import audio_features
    from fs2_osm_spark.synth.audio import audio_table
    from fs2_osm_spark.synth.staging import N_FIXTURE_CLIPS, ensure_audio_fixture

    ensure_audio_fixture()
    feats = audio_features(audio_table(spark, N_FIXTURE_CLIPS))
    return feats.select(
        "audio_id",
        *[
            F.round(c, 6).cast("double").alias(c)
            for c in ("duration_s", "rms", "zcr", "dom_freq_hz", "clip_ratio")
        ],
    )


N_VIDEOS = 100
VIDEO_FRAMES = 16
VIDEO_STRIDE = 4


def _video_frame_stats_oracle() -> str:
    """Ground truth computed from the RAW synthesis arrays — before the
    PNG encode and the AVI container ever exist — so the oracle checks the
    whole container-walk + index-seek + PNG-decode path reproduces the
    original pixels exactly (lossless end to end)."""
    import numpy as np

    rows = []
    for m in range(N_VIDEOS):
        for i in range(0, VIDEO_FRAMES, VIDEO_STRIDE):
            rng = np.random.default_rng(m * 1000 + i)
            img = rng.integers(0, 256, size=(12, 16, 3), dtype=np.uint8)
            rows.append(
                f"('vid_{m:06d}', CAST({i} AS BIGINT), CAST(16 AS BIGINT),"
                f" CAST(12 AS BIGINT),"
                f" CAST({round(float(np.mean(img, dtype=np.float64)), 6)!r}"
                f" AS DOUBLE))"
            )
    values = ",\n        ".join(rows)
    return f"""
    SELECT * FROM (VALUES
        {values}
    ) AS t(media_id, frame_idx, frame_w, frame_h, mean_px)
    """


@register("video_frame_stats", oracle=_video_frame_stats_oracle())
def video_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL AVI container video (r06): 100 clips x 16 frames as genuine
    RIFF/AVI files (hdrl/avih/strl headers, movi '00dc' chunks, idx1
    index; MPNG = PNG payloads in the MJPEG-in-AVI layout), every 4th
    frame decoded via INDEX SEEK only. Hard-oracled against per-frame mean
    pixel values computed from the raw synthesis arrays before any
    encoding existed — a broken chunk walk, index offset, or codec breaks
    the hash."""
    import pandas as pd

    from fs2_osm_spark.operators.multimodal import sample_frames_indexed
    from fs2_osm_spark.synth.video import make_video

    media = spark.createDataFrame(
        pd.DataFrame(
            [
                (f"vid_{i:06d}", make_video(i, n_frames=VIDEO_FRAMES), "avi")
                for i in range(N_VIDEOS)
            ],
            columns=["media_id", "bytes", "fmt"],
        )
    )
    out = sample_frames_indexed(media, every_n=VIDEO_STRIDE)
    return out.select(
        "media_id",
        F.col("frame_idx").cast("bigint").alias("frame_idx"),
        F.col("frame_w").cast("bigint").alias("frame_w"),
        F.col("frame_h").cast("bigint").alias("frame_h"),
        F.round("mean_px", 6).cast("double").alias("mean_px"),
    )


def _audio_fp_oracle() -> str:
    from fs2_osm_spark.synth.staging import AUDIO_FIXTURE

    return f"""
    SELECT audio_id,
           CAST(fingerprint AS BIGINT) AS fingerprint,
           CAST(count(*) OVER (PARTITION BY fingerprint) AS BIGINT)
               AS cluster_size
    FROM read_parquet('{AUDIO_FIXTURE}')
    """


@register("audio_fingerprint_dedup", oracle=_audio_fp_oracle())
def audio_fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-dup detection (r06): per-clip 64-band spectral
    fingerprint (energy-concentration bits — the audio SimHash) computed
    from the decoded WAV inside Arrow batches, then a fingerprint
    groupBy gives dedup clusters: same-tone-structure clips collide
    regardless of their noise floor / amplitude variation. Hard-oracled
    against the fixture-recorded fingerprints (anti-drift pytest
    recomputes a sample); cluster sizes re-derived by both engines."""
    from fs2_osm_spark.operators.audio import audio_fingerprints
    from fs2_osm_spark.synth.audio import audio_table
    from fs2_osm_spark.synth.staging import N_FIXTURE_CLIPS, ensure_audio_fixture

    from pyspark.sql import Window

    ensure_audio_fixture()
    fps = audio_fingerprints(audio_table(spark, N_FIXTURE_CLIPS))
    # window, not groupBy+self-join: the join would re-plan (and re-run)
    # the decode+FFT row-kernel scan for both branches; the window
    # mirrors the oracle's count(*) OVER (PARTITION BY fingerprint) and
    # decodes each clip exactly once
    size = F.count(F.lit(1)).over(Window.partitionBy("fingerprint"))
    return fps.select(
        "audio_id", "fingerprint", size.cast("bigint").alias("cluster_size")
    )
