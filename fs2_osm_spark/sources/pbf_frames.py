"""OSM PBF frame source — the real wire format, protobuf-encoded.

Reproduces the reference's wire layer
(/root/reference/core/src/main/scala/fs2/osm/core/PbfReader.scala:11-29:
repeat: read 4-byte big-endian length -> BlobHeader -> datasize bytes ->
Blob; core/src/main/scala/fs2/osm/core/package.scala:27-44: zlib inflate ->
PrimitiveBlock) as a Spark `binaryFile` scan + per-file frame parser,
and the reference's one entity stream (OsmEntityDecoder.pipe) as one
entity frame: ``read_entities`` parses each file once through one kernel,
``block_entities``, on ``map_rows``, and the node/way/relation/node-info
readers are kind filters over that frame.

The container has no protobuf library, so the protobuf WIRE FORMAT itself
is implemented in sources/proto_wire.py (varint/zigzag/length-delimited) —
frames written here are real OSM PBF: [4B BE len][BlobHeader(type=
"OSMData", datasize)][Blob(raw_size, zlib_data)] with a protobuf
PrimitiveBlock/PrimitiveGroup/DenseNodes payload per
core/src/main/protobuf/{fileformat,osmformat}.proto. Unknown fields are
skipped by wire type, so blocks from other OSM tooling parse too.
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Iterator

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fs2_osm_spark.rowmap import map_rows
from fs2_osm_spark.sources.dense_decode import (
    decode_delta_refs,
    decode_dense_block_np,
)
from fs2_osm_spark.sources.proto_wire import (
    MEMBER_TYPES,
    decode_blob,
    decode_blob_header,
    decode_primitive_block,
    encode_blob,
    encode_blob_header,
)


def write_frames(path: str, blocks: list[bytes]) -> None:
    """blocks: PrimitiveBlock payloads -> real PBF file framing."""
    with open(path, "wb") as f:
        for payload in blocks:
            blob = encode_blob(zlib.compress(payload, 6), len(payload))
            hdr = encode_blob_header("OSMData", len(blob))
            f.write(struct.pack(">i", len(hdr)))
            f.write(hdr)
            f.write(blob)


def iter_frames(data: bytes) -> Iterator[bytes]:
    """The PbfReader repeat-pull: 4B BE length -> BlobHeader -> Blob ->
    inflate -> raw-size check -> PrimitiveBlock payload. Non-OSMData blobs
    (e.g. the OSMHeader preamble) are skipped, matching the reference."""
    pos = 0
    while pos < len(data):
        (hdr_len,) = struct.unpack_from(">i", data, pos)
        pos += 4
        type_, datasize = decode_blob_header(data[pos : pos + hdr_len])
        pos += hdr_len
        raw, raw_size, zdata = decode_blob(data[pos : pos + datasize])
        pos += datasize
        if type_ != "OSMData":
            continue
        if raw is None and zdata is None:
            raise ValueError(
                "unsupported blob compression: neither raw nor zlib_data "
                "present (lz4/zstd/obsolete bzip2 blobs are not supported)"
            )
        payload = raw if raw is not None else zlib.decompress(zdata)
        if raw_size >= 0 and len(payload) != raw_size:
            raise ValueError(
                f"frame raw size mismatch: {len(payload)} != {raw_size}"
            )
        yield payload


# One row per entity. Nodes fill lon/lat; ways fill refs with their node
# ids; relations fill refs with their member ids, plus member_roles and
# member_types. The five Info columns are null for a node whose block has
# no DenseInfo, and the proto defaults (version -1, rest null) for a way or
# relation without Info.
ENTITY_SCHEMA = (
    "kind string, osm_id long, lon double, lat double,"
    " tags map<string,string>, refs array<long>,"
    " member_roles array<string>, member_types array<string>,"
    " version int, epoch_ms long, changeset long, uid long, user string"
)
_INFO_COLS = ("version", "epoch_ms", "changeset", "uid", "user")


def _info_tuple(info: dict | None, st: list[str], date_granularity: int) -> tuple:
    """Entity-level Info (S10, model.scala:81-105): username through the
    block string table, timestamp scaled by date_granularity to epoch ms.
    Absent Info -> proto defaults (version -1, rest null)."""
    if not info:
        return (-1, None, None, None, None)
    ts = info["timestamp"]
    sid = info["user_sid"]
    return (
        info["version"],
        ts * date_granularity if ts is not None else None,
        info["changeset"],
        info["uid"],
        st[sid] if sid is not None and sid < len(st) else None,
    )


def _dense_info_tuples(
    di: dict | None, n: int, st: list[str], date_granularity: int
) -> list[tuple]:
    """DenseInfo (S10: osmformat.proto:154-170) aligned with the n dense
    ids: versions plain; timestamp/changeset/uid/user_sid delta-coded
    running sums; usernames through the block string table; timestamps
    scaled by date_granularity. No DenseInfo -> all-null tuples."""
    if not di:
        return [(None,) * 5] * n
    vers = di.get("versions", [])
    ts, cs, uid, usid = (
        np.cumsum(np.asarray(di.get(k, []), np.int64)).tolist()
        for k in ("timestamps", "changesets", "uids", "user_sids")
    )
    return [
        (
            int(vers[k]) if k < len(vers) else -1,
            ts[k] * date_granularity if k < len(ts) else None,
            cs[k] if k < len(cs) else None,
            uid[k] if k < len(uid) else None,
            st[usid[k]] if k < len(usid) else None,
        )
        for k in range(n)
    ]


def block_entities(b: dict) -> Iterator[tuple]:
    """One decoded PrimitiveBlock (``decode_primitive_block``'s dict) ->
    ENTITY_SCHEMA rows: dense nodes through the decode contract
    (``decode_dense_block_np``) with their DenseInfo; ways with tags from
    keys/vals string-table indices and delta-decoded refs
    (WayImporter.scala:25-53); relations with delta-decoded member ids,
    roles via the string table, types via the MemberType enum
    (RelationImporter.scala:21-70). A block without ways, relations,
    DenseInfo or date_granularity (field 18, default 1000 ms) may omit
    those keys."""
    st = b["string_table"]
    dg = b.get("date_granularity", 1000)
    nodes = decode_dense_block_np(
        b["ids"], b["lats"], b["lons"], b["keys_vals"], st,
        b["granularity"], b["lat_offset"], b["lon_offset"],
    )
    for osm_id, lon, lat, tags, info in zip(
        nodes["osm_id"].tolist(), nodes["lon"].tolist(), nodes["lat"].tolist(),
        nodes["tags"], _dense_info_tuples(b.get("dense_info"), len(nodes), st, dg),
    ):
        yield ("node", osm_id, lon, lat, tags, None, None, None, *info)
    for w in b.get("ways", ()):
        yield (
            "way", w["way_id"], None, None,
            {st[k]: st[v] for k, v in zip(w["keys"], w["vals"])},
            decode_delta_refs(w["refs"]), None, None,
            *_info_tuple(w["info"], st, dg),
        )
    for r in b.get("relations", ()):
        yield (
            "relation", r["rel_id"], None, None,
            {st[k]: st[v] for k, v in zip(r["keys"], r["vals"])},
            decode_delta_refs(r["memids"]),
            [st[i] for i in r["roles_sid"]],
            [MEMBER_TYPES[t] for t in r["types"]],
            *_info_tuple(r["info"], st, dg),
        )


def file_entities(data: bytes) -> Iterator[tuple]:
    """Every entity of one PBF file, frame by frame."""
    for payload in iter_frames(data):
        yield from block_entities(decode_primitive_block(payload))


def read_entities(spark: SparkSession, path: str) -> DataFrame:
    """binaryFile scan -> per-file frame parse -> one ENTITY_SCHEMA frame.

    One file = one task; at scale the extract is split into many frame
    files (the reference's input is likewise a sequence of independent
    blobs), so parallelism = file count. Each file is parsed once for all
    entity kinds; the per-kind readers below are projections of this
    frame."""
    files = spark.read.format("binaryFile").load(path)
    return map_rows(files, ["content"], file_entities, ENTITY_SCHEMA)


def _of_kind(ents: DataFrame, kind: str) -> DataFrame:
    return ents.filter(F.col("kind") == kind)


def entity_nodes(ents: DataFrame) -> DataFrame:
    """Node rows (osm_id, lon, lat, name, tags) of an entity frame; name =
    tags['name'] (NodeImporter.scala:41)."""
    return _of_kind(ents, "node").select(
        "osm_id", "lon", "lat", F.col("tags")["name"].alias("name"), "tags"
    )


def read_nodes_from_frames(spark: SparkSession, path: str) -> DataFrame:
    return entity_nodes(read_entities(spark, path))


def read_ways_from_frames(spark: SparkSession, path: str) -> DataFrame:
    return _of_kind(read_entities(spark, path), "way").select(
        F.col("osm_id").alias("way_id"), "tags", "refs", *_INFO_COLS
    )


def read_relations_from_frames(spark: SparkSession, path: str) -> DataFrame:
    return _of_kind(read_entities(spark, path), "relation").select(
        F.col("osm_id").alias("relation_id"),
        "tags",
        F.col("refs").alias("member_ids"),
        "member_roles",
        "member_types",
        *_INFO_COLS,
    )


def read_node_info_from_frames(spark: SparkSession, path: str) -> DataFrame:
    """DenseInfo rows; nodes of a block without DenseInfo have none."""
    return (
        _of_kind(read_entities(spark, path), "node")
        .filter(F.col("version").isNotNull())
        .select("osm_id", *_INFO_COLS)
    )
