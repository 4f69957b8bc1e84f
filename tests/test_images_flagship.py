"""Image table invariants (input_hint) + flagship query determinism."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from fs2_osm_spark.codecs.png import (
    decode_image,
    decode_png,
    encode_lossy,
    encode_png,
    phash64,
    psnr,
)
from fs2_osm_spark.operators.multimodal import geotag, pixel_roundtrip
from fs2_osm_spark.plans.flagship import flagship_query
from fs2_osm_spark.synth.images import coords_for_ids, generate_batch, images_table


# ------------------------------------------------------------- codecs ------
def test_png_roundtrip_lossless():
    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(24, 32, 3), dtype=np.uint8)
    assert (decode_png(encode_png(img)) == img).all()
    with pytest.raises(ValueError, match="HxWx3 uint8"):
        encode_png(img[:, :, 0])  # a 2-D image; an assert would vanish under -O


def test_lossy_roundtrip_psnr():
    """The input_hint invariant on the REAL lossy codec (JQ01 block-DCT):
    40 <= PSNR < inf — high fidelity, but provably not lossless, on pure
    noise (the worst case for transform coding)."""
    rng = np.random.default_rng(8)
    img = rng.integers(0, 256, size=(24, 32, 3), dtype=np.uint8)
    enc = encode_lossy(img)
    out = decode_image(enc, "jpeg")
    p = psnr(img, out)
    assert 40.0 <= p < float("inf")
    assert not np.array_equal(out, img)  # genuinely lossy
    assert enc == encode_lossy(img)  # deterministic bytes


def test_dct_codec_properties():
    """JQ01 structure: non-multiple-of-8 shapes round-trip exactly in shape,
    quality is monotone in fidelity and rate, legacy LQ01 payloads still
    decode, and the entropy stage genuinely compresses vs raw."""
    import struct
    import zlib

    from fs2_osm_spark.codecs.dct import decode_dct, encode_dct

    rng = np.random.default_rng(12)
    img = rng.integers(0, 256, size=(21, 19, 3), dtype=np.uint8)  # ragged dims
    out = decode_dct(encode_dct(img))
    assert out.shape == img.shape and out.dtype == np.uint8
    p_lo, p_hi = (psnr(img, decode_dct(encode_dct(img, q))) for q in (50, 98))
    assert p_lo < p_hi
    n_lo, n_hi = (len(encode_dct(img, q)) for q in (50, 98))
    assert n_lo < n_hi
    # smooth content compresses far below raw size (zero high-freq runs)
    smooth = np.tile(
        np.linspace(0, 255, 64, dtype=np.uint8)[None, :, None], (64, 1, 3)
    )
    assert len(encode_dct(smooth)) < smooth.size // 4
    # legacy LQ01 decode path
    q = (img >> 2).astype(np.uint8)
    legacy = b"LQ01" + struct.pack(">II", 19, 21) + zlib.compress(q.tobytes(), 6)
    dec = decode_image(legacy, "jpeg")
    assert psnr(img, dec) >= 40.0


def test_phash_deterministic_and_locality():
    rng = np.random.default_rng(9)
    img = rng.integers(0, 256, size=(16, 16, 3), dtype=np.uint8)
    assert phash64(img) == phash64(img.copy())
    # tiny perturbation keeps most bits
    img2 = img.copy()
    img2[0, 0] ^= 1
    diff = bin((phash64(img) ^ phash64(img2)) & ((1 << 64) - 1)).count("1")
    assert diff <= 4


def test_hamming64_sign_bit():
    """Signed-int64 hashes with only bit 63 differing: true distance 1.

    An unmasked bin(a ^ b).count('1') reads 63 here — the latent bug fixed
    in decode_stats' phash check (advice r04)."""
    from fs2_osm_spark.operators.multimodal import hamming64

    a = 0x0123456789ABCDEF
    b = np.int64(np.uint64(a) ^ np.uint64(1 << 63))  # sign bit flipped
    assert int(b) < 0
    assert hamming64(a, int(b)) == 1
    assert hamming64(int(b), a) == 1
    assert hamming64(a, a) == 0
    assert hamming64(-1, 0) == 64
    # numpy scalars (what pandas itertuples yields) work unchanged
    assert hamming64(np.int64(a), b) == 1


# ----------------------------------------------------------- synthesis -----
def test_generate_batch_deterministic():
    ids = np.arange(50, dtype=np.int64)
    a = generate_batch(ids)
    b = generate_batch(ids)
    assert (a["caption"] == b["caption"]).all()
    assert all(bytes(x) == bytes(y) for x, y in zip(a["bytes"], b["bytes"]))


def test_coords_hot_cluster_skew():
    ids = np.arange(20_000, dtype=np.int64)
    lon, lat = coords_for_ids(ids)
    near_city = (
        (np.abs(lon[:, None] - np.array([10.0, 13.4, 8.8])[None]) < 0.3)
        & (np.abs(lat[:, None] - np.array([53.55, 52.52, 53.08])[None]) < 0.3)
    ).any(axis=1)
    frac = near_city.mean()
    assert 0.6 < frac < 0.8  # HOT_FRACTION=0.7


def test_images_table_partition_invariant(spark):
    a = images_table(spark, 300, partitions=2).select("image_id", "caption", "phash")
    b = images_table(spark, 300, partitions=7).select("image_id", "caption", "phash")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_pixel_roundtrip_all_pass(spark):
    images = images_table(spark, 200)
    rt = pixel_roundtrip(images).collect()
    assert len(rt) == 200
    for r in rt:
        assert r.psnr_db >= 40.0
        assert r.caption.startswith("img ")  # caption passthrough intact


def test_pixel_pass_schemas(spark):
    """Every pixel pass keeps its declared output columns: names, order,
    types and nullability, written out literally. The id column is non-null
    whatever the input says; carried columns keep the input's field."""
    from fs2_osm_spark.operators import multimodal as mm
    from fs2_osm_spark.synth.staging import ensure_images_fixture, ensure_phash_corpus

    images = spark.read.parquet(ensure_images_fixture())
    i = ("image_id", "string", False)
    means = [(c, "double", False) for c in ("mean_r", "mean_g", "mean_b")]
    cases = [
        (mm.decode_stats(images), [
            i, ("dec_w", "int", False), ("dec_h", "int", False), *means,
            ("std_r", "double", False), ("std_g", "double", False),
            ("std_b", "double", False), ("phash_match", "boolean", False),
        ]),
        (mm.decode_channel_means(images), [i, *means]),
        (mm.decode_channel_means(images, carry=("caption", "phash")), [
            i, ("caption", "string", True), ("phash", "bigint", True), *means,
        ]),
        (mm.pixel_roundtrip(images), [
            i, ("caption", "string", False), ("psnr_db", "double", False),
            ("lossless", "boolean", False),
        ]),
        (mm.resize_block_mean(images, 8, 8), [
            i, ("bytes", "binary", False), ("w", "int", False),
            ("h", "int", False), ("fmt", "string", False),
            ("phash", "bigint", False),
        ]),
        (mm.phash_frame(spark.read.parquet(ensure_phash_corpus())), [
            ("img_id", "string", False), ("phash", "bigint", False),
        ]),
        (mm.augment_stats(images), [
            i, ("fl_phash", "bigint", False), ("cr_phash", "bigint", False),
            ("cr_mean_r", "double", False), ("cr_mean_g", "double", False),
            ("cr_mean_b", "double", False),
        ]),
    ]
    for df, want in cases:
        got = [(f.name, f.dataType.simpleString(), f.nullable) for f in df.schema]
        assert got == want


def test_geotag_matches_generation(spark):
    images = images_table(spark, 200)
    got = geotag(images).select("image_id", "lon", "lat").collect()
    ids = np.array([int(r.image_id.split("_")[1]) for r in got])
    lon, lat = coords_for_ids(ids)
    for k, r in enumerate(got):
        # caption carries 6 decimals; geotag must reproduce to that precision
        assert r.lon == pytest.approx(lon[k], abs=1e-6)
        assert r.lat == pytest.approx(lat[k], abs=1e-6)


def test_caption_parser_matches_coord_regex(spark):
    """caption_lat/caption_lon (substring_index) equal CAPTION_COORD_RE
    extraction — the form the DuckDB twins use — over generated captions
    and the same caption grammar with negative coordinates (the generator's
    extent is all-positive). neardup_batch rows carry no caption."""
    import re

    from pyspark.sql import functions as F

    from fs2_osm_spark.operators.multimodal import (
        CAPTION_COORD_RE,
        caption_lat,
        caption_lon,
    )

    ids = np.arange(2000)
    captions = generate_batch(ids, slim=True)["caption"].tolist()
    captions += generate_batch(np.arange(5000, 5020))["caption"].tolist()
    lon, lat = coords_for_ids(ids[:500])
    captions += [
        f"img {i} taken at {sla * la:.6f},{slo * lo:.6f} near city"
        for i, la, lo in zip(ids[:500].tolist(), lat.tolist(), lon.tolist())
        for sla, slo in ((-1, 1), (1, -1), (-1, -1))
    ]
    captions += [
        "img 1 taken at -0.500000,-179.999999 near city",
        "img 2 taken at 0.000000,-0.000001 near city",
    ]
    c = F.col("caption")
    got = (
        spark.createDataFrame([(s,) for s in captions], "caption string")
        .select(
            "caption",
            caption_lat(c).alias("lat"),
            caption_lon(c).alias("lon"),
            F.regexp_extract(c, CAPTION_COORD_RE, 1).cast("double").alias("re_lat"),
            F.regexp_extract(c, CAPTION_COORD_RE, 2).cast("double").alias("re_lon"),
        )
        .collect()
    )
    assert len(got) == len(captions)
    for r in got:
        m = re.search(CAPTION_COORD_RE, r.caption)
        want = (float(m.group(1)), float(m.group(2)))
        assert (r.lat, r.lon) == (r.re_lat, r.re_lon) == want, r.caption


# ------------------------------------------------------------ flagship -----
def test_flagship_runs_and_is_deterministic(spark):
    out1 = flagship_query(spark, "/root/testdata/sf0.001", n_images=500, n_zones=64)
    rows1 = sorted(map(tuple, out1.collect()))
    assert len(rows1) > 0
    out2 = flagship_query(spark, "/root/testdata/sf0.001", n_images=500, n_zones=64)
    rows2 = sorted(map(tuple, out2.collect()))
    assert rows1 == rows2
    # every matched image has valid tile + cell
    for image_id, polygon_id, cell, tx, ty in rows1:
        assert 0 <= tx < (1 << 12) and 0 <= ty < (1 << 12)
        assert cell > 0 and polygon_id > 0


def test_images_fixture_matches_live_synthesis():
    """The committed oracle fixture (fixtures/images_oracle.parquet) must
    equal what synth/images.py generates today — a drifting generator would
    otherwise silently invalidate the img_geotag_cells/img_decode_dims
    oracles."""
    import pyarrow.parquet as pq

    from fs2_osm_spark.synth.images import generate_batch
    from fs2_osm_spark.synth.staging import (
        N_FIXTURE_IMAGES,
        ensure_images_fixture,
    )

    tbl = pq.read_table(ensure_images_fixture()).to_pandas()
    live = generate_batch(np.arange(N_FIXTURE_IMAGES, dtype=np.int64))
    assert len(tbl) == N_FIXTURE_IMAGES
    assert (tbl["image_id"].values == live["image_id"].values).all()
    assert (tbl["caption"].values == live["caption"].values).all()
    assert (tbl["phash"].values == live["phash"].values).all()
    assert (tbl["w"].values == live["w"].values).all()
    assert (tbl["h"].values == live["h"].values).all()
    assert all(bytes(a) == bytes(b) for a, b in zip(tbl["bytes"], live["bytes"]))


def test_images_fixture_decoded_stats_match_decoder():
    """The fixture's recorded per-channel mean/std (the img_decode_stats
    oracle's ground truth) must equal what today's decoders produce — a
    silently-changed codec invalidates the fixture loudly here instead of
    the oracle quietly."""
    import pyarrow.parquet as pq

    from fs2_osm_spark.synth.staging import (
        augment_image_columns,
        decoded_stats_columns,
        derived_image_columns,
        ensure_images_fixture,
    )

    tbl = pq.read_table(ensure_images_fixture()).to_pandas()
    sample = tbl.iloc[::7]  # ~285 rows spanning both codec paths
    assert set(sample["fmt"]) == {"png", "jpeg"}
    for name, vals in decoded_stats_columns(sample).items():
        assert (vals == sample[name].to_numpy()).all(), name
    derived = derived_image_columns(sample)
    for name in ("rs_mean_r", "rs_mean_g", "rs_mean_b", "rs_phash"):
        assert (derived[name] == sample[name].to_numpy()).all(), name
    for name, vals in augment_image_columns(sample).items():
        assert (vals == sample[name].to_numpy()).all(), name
    got_psnr = pd.Series(derived["rt_psnr"], index=sample.index, dtype="float64")
    assert got_psnr.isna().equals(sample["rt_psnr"].isna())
    assert (got_psnr.dropna() == sample["rt_psnr"].dropna()).all()


def test_flagship_fixture_anti_drift(spark):
    """The committed flagship ground truth (fixtures/flagship_oracle.parquet)
    recomputed live on a deterministic image sample: a drifted geotag
    parser, PIP kernel, hex/tile math, or polygon corpus invalidates the
    fixture loudly instead of the img_flagship_small_oracle quietly."""
    import pyarrow.parquet as pq

    from fs2_osm_spark.synth.staging import (
        ensure_flagship_fixture,
        flagship_ground_truth,
    )

    fx = pq.read_table(ensure_flagship_fixture(spark)).to_pandas()
    sample_ids = sorted(set(fx["image_id"]))[::5]  # every 5th matched image
    live = flagship_ground_truth(spark, image_ids=sample_ids)
    sub = (
        fx[fx.image_id.isin(set(sample_ids))]
        .sort_values(["image_id", "polygon_id"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(sub, live, check_exact=True)
