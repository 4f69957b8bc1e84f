"""Distributed .osm.pbf writer: synthesize the OSM world straight to the
real wire format.

Turns zone batches (synth/osm.py) into framed PBF files — dense-node blocks
plus way/relation entity groups, encoded with the pure-python protobuf
codec (proto_wire.py) and the 4-byte BE BlobHeader/Blob framing
(pbf_frames.write_frames). This is the input side of the end-to-end
lifecycle job (jobs/pbf_pipeline_job.py): the engine both writes and reads
the interchange format, so the reader is exercised against independently
constructed bytes rather than its own fixtures.

Scale shape: one file per Spark partition via mapInPandas — file count =
task parallelism for the downstream binaryFile scan (each frame file is an
independent split, mirroring how a planet extract is consumed). Files land
on a shared filesystem path (local dir here; a cluster points this at the
distributed store).

Coordinates quantize to the standard granularity-100 nanodegree lattice
(1e-7 deg — OSM's native precision); names ride in tags["name"] as they do
in real OSM data and are lifted back to columns by the frame readers'
bridge (plans/pbf_pipeline.py).
"""

from __future__ import annotations

import os
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from fs2_osm_spark.sources.proto_wire import (
    encode_entity_group,
    encode_info,
    encode_primitive_block,
    encode_relation,
    encode_way,
)


def synth_info_fields(osm_id: int) -> tuple[int, int, int, int, str]:
    """Deterministic entity Info (version, timestamp s, changeset, uid,
    user) as a pure function of the id — the wire carries real S10 metadata
    without widening the relational tables (the reference decodes Info for
    every entity, model.scala:81-105, but its schema stores none of it)."""
    return (
        osm_id % 7 + 1,
        1_500_000_000 + osm_id % 86_400,
        osm_id % 1_000 + 1,
        osm_id % 5 + 1,
        f"mapper{osm_id % 5 + 1}",
    )


def _delta(vals) -> list[int]:
    """Delta-encode against a 0 seed, vectorized (the per-way/per-node
    Python loop this replaces dominated the writer's profile)."""
    a = np.asarray(vals, np.int64)
    if a.size == 0:
        return []
    out = np.empty_like(a)
    out[0] = a[0]
    out[1:] = a[1:] - a[:-1]
    return out.tolist()


def _string_table() -> tuple[list[str], Callable[[str], int]]:
    """A block string table (index 0 is the empty string) and the function
    that interns a string into it, returning its index."""
    st: list[str] = [""]
    sid: dict[str, int] = {"": 0}

    def intern(x: str) -> int:
        if x not in sid:
            sid[x] = len(st)
            st.append(x)
        return sid[x]

    return st, intern


def encode_zone_blocks(zones: np.ndarray) -> list[bytes]:
    """Zone ids -> [dense-node block, way/relation entity block]."""
    from fs2_osm_spark.synth.osm import _gen_zone_tables

    t = _gen_zone_tables(np.asarray(zones, np.int64))

    # ---- dense nodes (granularity 100 -> units of 1e-7 deg) ----
    nd = t["nodes"].sort_values("osm_id")
    ids = nd["osm_id"].to_numpy(np.int64)
    lat_u = np.round(nd["lat"].to_numpy(np.float64) * 1e7).astype(np.int64)
    lon_u = np.round(nd["lon"].to_numpy(np.float64) * 1e7).astype(np.int64)
    st, intern = _string_table()
    kv: list[int] = []
    if any(tags for tags in nd["tags"]):
        for tags in nd["tags"]:
            for k, v in (tags or {}).items():
                kv.extend((intern(k), intern(v)))
            kv.append(0)
    node_block = encode_primitive_block(
        _delta(ids), _delta(lat_u), _delta(lon_u), kv, st
    )

    # ---- ways + relations entity group (shared string table) ----
    st2, intern2 = _string_table()

    def info_for(osm_id: int) -> bytes:
        ver, ts, cs, uid, user = synth_info_fields(osm_id)
        return encode_info(
            version=ver, timestamp=ts, changeset=cs, uid=uid,
            user_sid=intern2(user),
        )

    way_msgs = []
    for r in t["ways"].itertuples():
        tags = dict(r.tags)
        if r.name:
            tags["name"] = r.name
        way_msgs.append(
            encode_way(
                int(r.osm_id),
                [intern2(k) for k in tags],
                [intern2(v) for v in tags.values()],
                _delta(r.nodes),
                info=info_for(int(r.osm_id)),
            )
        )
    # one linear groupby pre-index instead of an O(relations x members)
    # boolean scan per relation (the old rw[rw.relation_id == id] pattern).
    # All three member kinds merge into ONE index-ordered member list per
    # relation, carrying the MemberType enum (node=0/way=1/relation=2 —
    # osmformat.proto Relation.MemberType), as real PBF relations do.
    member_frames = [
        t["relations_ways"].rename(columns={"way_id": "member_id"}).assign(mtype=1),
        t["relations_nodes"].rename(columns={"node_id": "member_id"}).assign(mtype=0),
        t["relations_relations"]
        .rename(columns={"parent_id": "relation_id", "child_id": "member_id"})
        .assign(mtype=2),
    ]
    rw = pd.concat(member_frames, ignore_index=True).sort_values(
        ["relation_id", "index"]
    )
    members_by_rel = {
        rid: (
            g["role"].tolist(),
            _delta(g["member_id"].to_numpy(np.int64)),
            g["mtype"].tolist(),
        )
        for rid, g in rw.groupby("relation_id", sort=False)
    }
    rel_msgs = []
    for r in t["relations"].itertuples():
        tags = dict(r.tags)
        if r.name:
            tags["name"] = r.name
        roles, mem_deltas, mtypes = members_by_rel.get(
            int(r.osm_id), ([], [], [])
        )
        rel_msgs.append(
            encode_relation(
                int(r.osm_id),
                [intern2(k) for k in tags],
                [intern2(v) for v in tags.values()],
                [intern2(role) for role in roles],
                mem_deltas,
                mtypes,
                info=info_for(int(r.osm_id)),
            )
        )
    entity_block = encode_entity_group(st2, way_msgs, rel_msgs)
    return [node_block, entity_block]


def write_osm_pbf(
    spark: SparkSession, out_dir: str, n_zones: int, n_files: int | None = None
) -> DataFrame:
    """Write n_zones of synthetic OSM world as framed .osm.pbf files, one
    per partition. Returns a (file, n_zones, n_bytes) summary DataFrame
    (the action that materializes the writes)."""
    from fs2_osm_spark.sources.pbf_frames import write_frames

    os.makedirs(out_dir, exist_ok=True)
    parts = n_files or spark.sparkContext.defaultParallelism

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        zones = np.concatenate(
            [pdf["id"].to_numpy(np.int64) for pdf in batches] or [np.array([], np.int64)]
        )
        rows = []
        if zones.size:
            path = os.path.join(out_dir, f"part-{pid:05d}.osm.pbf")
            blocks = encode_zone_blocks(zones)
            write_frames(path, blocks)
            rows.append((path, int(zones.size), os.path.getsize(path)))
        yield pd.DataFrame(rows, columns=["file", "n_zones", "n_bytes"])

    return spark.range(0, n_zones, 1, parts).mapInPandas(
        fn, "file string, n_zones long, n_bytes long"
    )
