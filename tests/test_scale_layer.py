"""Skew operators, Hilbert partitioning, and the frame source."""

from __future__ import annotations

import os
import tempfile

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from fs2_osm_spark.operators.partitioning import (
    hilbert_d_np,
    hilbert_range_partition,
    hilbert_sql_layers,
)
from fs2_osm_spark.operators.skew import salted_broadcast_join, salted_count_sum
from fs2_osm_spark.sources.pbf_frames import (
    iter_frames,
    read_nodes_from_frames,
    write_frames,
)
from fs2_osm_spark.sources.proto_wire import encode_primitive_block


def test_salted_agg_equals_plain(spark):
    df = spark.range(0, 20000).select(
        (F.col("id") % 3).cast("string").alias("k"),
        (F.col("id") % 7).cast("double").alias("v"),
        F.col("id").alias("rid"),
    )
    salted = {
        (r.k): (r.n, r.s)
        for r in salted_count_sum(df, ["k"], "v", "rid", salt_factor=8).collect()
    }
    plain = {
        (r.k): (r.n, r.s)
        for r in df.groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
        .collect()
    }
    assert salted == plain


def test_salted_join_equals_plain(spark):
    big = spark.range(0, 10000).select(
        (F.col("id") % 5).alias("key"), F.col("id").alias("rid")
    )
    small = spark.createDataFrame(
        pd.DataFrame({"key": range(5), "name": [f"k{i}" for i in range(5)]})
    )
    a = sorted(
        (r.rid, r.name)
        for r in salted_broadcast_join(big, small, "key", 8, "rid").collect()
    )
    b = sorted((r.rid, r.name) for r in big.join(small, "key").collect())
    assert a == b


def test_hilbert_bijective_and_adjacent():
    for order in (2, 4, 6):
        n = 1 << order
        xx, yy = np.meshgrid(np.arange(n), np.arange(n))
        d = hilbert_d_np(xx.ravel(), yy.ravel(), order)
        assert sorted(d.tolist()) == list(range(n * n))
        pos = {int(v): (int(x), int(y)) for v, x, y in zip(d, xx.ravel(), yy.ravel())}
        for i in range(n * n - 1):
            (x1, y1), (x2, y2) = pos[i], pos[i + 1]
            assert abs(x1 - x2) + abs(y1 - y2) == 1


def test_hilbert_range_partition_locality(spark):
    rng = np.random.default_rng(4)
    pts = spark.createDataFrame(
        pd.DataFrame(
            {
                "pid": np.arange(20000),
                "lon": rng.uniform(-10, 10, 20000),
                "lat": rng.uniform(40, 60, 20000),
            }
        )
    )
    parts = hilbert_range_partition(pts, "lon", "lat", order=8, n_partitions=16,
                                    id_cols=["pid"])
    # spatial locality: average per-partition hilbert span << global span
    spans = parts.groupBy(F.spark_partition_id().alias("p")).agg(
        (F.max("hilbert") - F.min("hilbert")).alias("span")
    ).collect()
    global_span = (1 << 16) - 1
    avg_span = float(np.mean([r.span for r in spans]))
    assert avg_span < global_span / 8


def test_frame_roundtrip_and_spark_decode(spark):
    blocks = [
        encode_primitive_block([42, 1, 2], [530000000, 10000000, 2000000],
                               [100000000, 5000000, 1000000], [1, 2, 0, 0, 0],
                               ["", "amenity", "cafe"]),
        encode_primitive_block([7], [10000000], [10000000], [0], [""],
                               granularity=200, lat_offset=500000000,
                               lon_offset=-300000000),
    ]
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "fixture.opf")
        write_frames(path, blocks)
        # frame-level parse
        raw = open(path, "rb").read()
        assert len(list(iter_frames(raw))) == 2
        # end-to-end spark decode
        nodes = {r.osm_id: r for r in read_nodes_from_frames(spark, path).collect()}
        assert set(nodes) == {42, 43, 45, 7}
        assert nodes[42].lat == pytest.approx(53.0)
        assert nodes[45].lat == pytest.approx(54.2)
        assert nodes[42].tags == {"amenity": "cafe"}
        assert nodes[7].lat == pytest.approx(2.5)
        assert nodes[7].lon == pytest.approx(1.7)


def test_frame_corruption_detected(spark):
    import struct
    import zlib

    from fs2_osm_spark.sources.proto_wire import encode_blob, encode_blob_header

    payload = encode_primitive_block([1], [0], [0], [0], [""])
    blob = encode_blob(zlib.compress(payload), len(payload) + 5)  # wrong raw size
    hdr = encode_blob_header("OSMData", len(blob))
    data = struct.pack(">i", len(hdr)) + hdr + blob
    with pytest.raises(ValueError, match="raw size mismatch"):
        list(iter_frames(data))


def test_pbf_wire_format_is_real_protobuf():
    """The frame payloads are genuine protobuf wire format: hand-decode a
    PrimitiveBlock with no codec involvement, and round-trip negative
    deltas / custom granularity / int32 fields through zigzag varints.
    Unknown fields (e.g. date_granularity=18) must be skipped."""
    from fs2_osm_spark.sources.proto_wire import (
        decode_primitive_block,
        read_varint,
        write_varint_field,
    )

    blk = encode_primitive_block(
        [42, -1, 2], [530000000, -10000000, 2000000], [1, 2, 3],
        [1, 2, 0], ["", "k", "v"], granularity=200,
        lat_offset=500000000, lon_offset=-300000000,
    )
    # first field must be tag (1 << 3) | 2 = 0x0A: stringtable, len-delimited
    key, _ = read_varint(blk, 0)
    assert key == 0x0A
    out = decode_primitive_block(blk)
    assert out["ids"].tolist() == [42, -1, 2]
    assert out["lats"].tolist() == [530000000, -10000000, 2000000]
    assert out["keys_vals"].tolist() == [1, 2, 0]
    assert out["string_table"] == ["", "k", "v"]
    assert out["granularity"] == 200
    assert out["lat_offset"] == 500000000
    assert out["lon_offset"] == -300000000
    # date_granularity (field 18) is decoded, defaulting to 1000
    assert out["date_granularity"] == 1000
    extra = bytearray(blk)
    write_varint_field(extra, 18, 2000)
    out2 = decode_primitive_block(bytes(extra))
    assert out2["ids"].tolist() == [42, -1, 2]
    assert out2["date_granularity"] == 2000
    # forward compatibility: a genuinely unknown field is skipped
    extra2 = bytearray(blk)
    write_varint_field(extra2, 63, 7)
    assert decode_primitive_block(bytes(extra2))["ids"].tolist() == [42, -1, 2]


def test_info_timestamps_respect_date_granularity(spark):
    """A foreign PBF with non-default date_granularity (field 18) must
    scale DenseInfo timestamps by it, not by a hardcoded 1000."""
    from fs2_osm_spark.sources.pbf_frames import read_node_info_from_frames
    from fs2_osm_spark.sources.proto_wire import encode_dense_info

    di = encode_dense_info([1, 1], [750_000_000, 5], [7, 1], [3, 0], [1, 0])
    blk = encode_primitive_block(
        [100, 1], [0, 1], [0, 1], [], ["", "alice"],
        dense_info=di, date_granularity=2000,
    )
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "part.osm.pbf")
        write_frames(path, [blk])
        rows = {r.osm_id: r for r in
                read_node_info_from_frames(spark, path).collect()}
    assert rows[100].epoch_ms == 750_000_000 * 2000
    assert rows[101].epoch_ms == 750_000_005 * 2000
    assert rows[101].user == "alice"


def test_unsupported_blob_compression_raises():
    """A blob with neither raw nor zlib_data (e.g. lz4_data field 6) must
    fail with a clear error, not TypeError from zlib.decompress(None)."""
    import struct

    from fs2_osm_spark.sources.proto_wire import (
        encode_blob_header,
        write_len_field,
        write_varint_field,
    )

    blob = bytearray()
    write_varint_field(blob, 2, 10)  # raw_size
    write_len_field(blob, 6, b"\x00" * 10)  # lz4_data (unsupported)
    hdr = encode_blob_header("OSMData", len(blob))
    data = struct.pack(">i", len(hdr)) + hdr + bytes(blob)
    with pytest.raises(ValueError, match="unsupported blob compression"):
        list(iter_frames(data))


def test_way_relation_frame_decode(spark):
    """Ways/relations round-trip the real protobuf wire format: delta refs,
    string-table tags, member roles/types enum."""
    from fs2_osm_spark.queries.osm import (
        osm_relation_frame_decode,
        osm_way_frame_decode,
    )

    ways = {r.way_id: r for r in osm_way_frame_decode(spark, "").collect()}
    assert len(ways) == 20
    assert ways[100].n_refs == 3
    assert ways[100].first_ref == 1 and ways[100].last_ref == 6  # 1, +2, +3
    assert ways[105].tags_json == '{"highway":"residential"}'

    rels = {r.relation_id: r for r in osm_relation_frame_decode(spark, "").collect()}
    assert len(rels) == 5
    r = rels[902]
    assert r.n_members == 2
    assert r.roles_csv == "outer,inner"
    assert r.types_csv == "way,way"
    assert r.last_member_id == 103  # 102, +1 delta
    assert r.tags_json == '{"type":"multipolygon"}'


def test_dense_info_decode(spark):
    """S10: DenseInfo delta chains + string-table usernames round-trip."""
    from fs2_osm_spark.queries.osm import osm_dense_info_decode

    rows = {r.osm_id: r for r in osm_dense_info_decode(spark, "").collect()}
    assert set(rows) == {100, 101, 102}
    assert rows[100].version == 1 and rows[102].version == 2
    assert rows[100].epoch_ms == 1_500_000_000_000
    assert rows[101].epoch_ms == 1_500_000_010_000
    assert rows[102].epoch_ms == 1_500_000_005_000
    assert rows[102].changeset == 902
    assert rows[101].uid == 42 and rows[102].uid == 40
    assert [rows[i].user for i in (100, 101, 102)] == ["alice", "bob", "alice"]
