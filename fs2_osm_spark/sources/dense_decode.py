"""Dense-entity decode kernels — the PBF decode contract, Spark-first.

Reproduces the semantics of the reference's streaming decoder
(/root/reference/core/src/main/scala/fs2/osm/core/DenseNodeStream.scala:11-58,
model.scala:15-61) as vectorized numpy per block — the wire format is
already columnar (parallel packed arrays, osmformat.proto:216-239), so the
decode is cumsum + scaling + dictionary take per block. The Spark side is
the PBF entity kernel (pbf_frames.block_entities on rowmap.map_rows), which
calls this contract for every block's dense nodes.

Pinned semantics (SURVEY.md §4.3):
1. delta chains: value_i = sum of deltas[0..i]        (ids, refs, memids)
2. coordinate scaling: coord = 1e-9 * (offset + granularity * delta_sum),
   defaults granularity=100, offsets=0
3. tag decode: keys_vals is a 0-delimited (key_idx, val_idx) pair stream
   into the block string table; duplicate keys keep the LAST value
   (Scala toMap semantics, package.scala:15-24)
4. name column = tags['name'] (NodeImporter.scala:41)
5. a keys_vals stream with trailing pairs after its last 0, or with more
   0-closed segments than nodes, is malformed: ValueError, not lost tags
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from fs2_osm_spark.rowmap import map_rows


def decode_dense_block_np(
    ids: np.ndarray,
    lats: np.ndarray,
    lons: np.ndarray,
    keys_vals: np.ndarray,
    string_table: list[str],
    granularity: int = 100,
    lat_offset: int = 0,
    lon_offset: int = 0,
) -> pd.DataFrame:
    """One encoded dense block -> decoded node rows (pure numpy)."""
    osm_ids = np.cumsum(np.asarray(ids, np.int64))
    lat_sum = np.cumsum(np.asarray(lats, np.int64))
    lon_sum = np.cumsum(np.asarray(lons, np.int64))
    lat_deg = 1e-9 * (lat_offset + granularity * lat_sum)
    lon_deg = 1e-9 * (lon_offset + granularity * lon_sum)

    n = len(osm_ids)
    tags: list[dict[str, str]] = []
    kv = np.asarray(keys_vals, np.int64)
    if kv.size == 0:
        tags = [{} for _ in range(n)]
    else:
        # split the 0-delimited stream into per-node segments, then decode
        # pairs via dictionary take; last-write-wins via dict() insertion
        zeros = np.nonzero(kv == 0)[0]
        if kv[-1] != 0:
            raise ValueError(
                "dense keys_vals: trailing (key, val) pairs without a closing 0"
            )
        if len(zeros) > n:
            raise ValueError(
                f"dense keys_vals: {len(zeros)} tag segments for {n} nodes"
            )
        start = 0
        for z in zeros.tolist():
            seg = kv[start:z]
            pairs = seg.reshape(-1, 2)
            tags.append({string_table[int(k)]: string_table[int(v)] for k, v in pairs})
            start = z + 1
        while len(tags) < n:
            tags.append({})
    names = [t.get("name") for t in tags]
    return pd.DataFrame(
        {
            "osm_id": osm_ids,
            "lon": lon_deg,
            "lat": lat_deg,
            "name": names,
            "tags": tags,
        }
    )


_BLOCK_COLS = (
    "ids", "lats", "lons", "keys_vals", "string_table",
    "granularity", "lat_offset", "lon_offset",
)


def decode_dense_blocks(blocks: DataFrame) -> DataFrame:
    """Encoded dense-block DataFrame -> decoded nodes DataFrame, each row
    run through the PBF entity kernel like a block parsed off the wire.

    blocks schema (FIXTURES.md §2): block_id, ids, lats, lons, keys_vals,
    string_table, granularity, lat_offset, lon_offset.
    """
    from fs2_osm_spark.sources.pbf_frames import (
        ENTITY_SCHEMA,
        block_entities,
        entity_nodes,
    )

    def kernel(*vals):
        return block_entities(dict(zip(_BLOCK_COLS, vals)))

    return entity_nodes(map_rows(blocks, _BLOCK_COLS, kernel, ENTITY_SCHEMA))


def decode_delta_refs(refs_delta: list[int]) -> list[int]:
    """Way refs / relation memids delta chain (model.scala:54-61, :15-45)."""
    return np.cumsum(np.asarray(refs_delta, np.int64)).tolist()
