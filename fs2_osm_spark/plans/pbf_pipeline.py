"""End-to-end PBF lifecycle: framed .osm.pbf -> decode -> export -> features
-> flagship spatial join, as one resumable job.

This stitches the full reference lifecycle (PbfReader -> importers ->
PostgresExporter.runExport, PostgresExporter.scala:41-58) to the north-rule
flagship: S4/S5 framing+protobuf, S6-S10 decode, S12-S14 sinks + the 17
feature passes (run_export), then the image PIP join + tiling, batched with
per-batch lineage rows so a killed run resumes idempotently
(plans/lineage.py).

The frame source decodes each file once into one entity frame
(sources/pbf_frames.read_entities: kind, osm_id, coordinates, a tags map,
delta-decoded refs, member arrays); `frame_tables` projects it to the
engine's normalized schemas — the name column lifts from tags["name"]
(which stays in the map, as in real OSM data; FIXTURES.md: name =
tags['name'] when present), relation members explode to the
(relation_id, member id, index, role) tables split by member type, exactly
the reference's RelationImporter split (RelationImporter.scala:21-70).
The export consumes that pinned frame, and the flagship's polygon corpus
is the union of the osm_lines and multipolygon pins the export's Phase B
built (export_tables), so the geometry is assembled and stitched once per
run; no stage reads an exported table back.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fs2_osm_spark.pins import Pins


def frame_tables(
    spark: SparkSession, pbf_dir: str, pins: Pins | None = None
) -> dict[str, DataFrame]:
    """The decoded entity frame -> normalized nodes/ways/relations and the
    three relation member tables.

    With the caller's ``pins``, the entity frame is persisted there, so
    the six tables and their consumers share a single Python frame-decode
    pass (the reference's broadcastThrough fan-out) instead of re-decoding
    per action; the caller releases it once the consumers have
    materialized.
    """
    from fs2_osm_spark.sources.pbf_frames import entity_nodes, read_entities

    ents = read_entities(spark, pbf_dir)
    if pins is not None:
        ents = pins.persist(ents)
    kind, tags = F.col("kind"), F.col("tags")
    ways = ents.filter(kind == "way").select(
        "osm_id", tags["name"].alias("name"), F.col("refs").alias("nodes"), "tags"
    )
    rels = ents.filter(kind == "relation")
    relations = rels.select(
        "osm_id", tags["name"].alias("name"), tags["type"].alias("type"), "tags"
    )
    members = rels.select(
        F.col("osm_id").alias("relation_id"),
        F.posexplode(
            F.arrays_zip("refs", "member_roles", "member_types")
        ).alias("index", "m"),
    ).select(
        "relation_id",
        F.col("m.refs").alias("member_id"),
        F.col("index").cast("int").alias("index"),
        F.col("m.member_roles").alias("role"),
        F.col("m.member_types").alias("member_type"),
    )
    # RelationImporter.scala:52-71: one typed split per member table
    relations_ways = members.filter(F.col("member_type") == "way").select(
        "relation_id", F.col("member_id").alias("way_id"), "index", "role"
    )
    relations_nodes = members.filter(F.col("member_type") == "node").select(
        "relation_id", F.col("member_id").alias("node_id"), "index", "role"
    )
    relations_relations = members.filter(
        F.col("member_type") == "relation"
    ).select(
        F.col("relation_id").alias("parent_id"),
        F.col("member_id").alias("child_id"),
        "index",
        "role",
    )
    return {
        "nodes": entity_nodes(ents),
        "ways": ways,
        "relations": relations,
        "relations_ways": relations_ways,
        "relations_nodes": relations_nodes,
        "relations_relations": relations_relations,
    }


def run_pbf_pipeline(
    spark: SparkSession,
    pbf_dir: str,
    output_root: str,
    n_images: int = 2_000,
    n_batches: int = 8,
    fail_after: int | None = None,
    phase_timings: dict[str, float] | None = None,
) -> dict:
    """The full lifecycle. Returns {"summary": export Summary dict,
    "batches": batches processed this invocation}.

    One Pins block holds the entity frame and the export's lines and
    multipolygon pins until the cover build has collected the corpus;
    they are released on success and on failure alike. The flagship stage
    writes batched by a coarse tile stripe through the lineage log — kill
    and re-submit to resume from the last completed batch (fail_after is
    the pytest crash hook)."""
    from fs2_osm_spark.operators.assembly import polygon_union
    from fs2_osm_spark.plans.export import export_tables
    from fs2_osm_spark.plans.flagship import flagship_from_tables, prepare_corpus
    from fs2_osm_spark.plans.lineage import run_batched
    from fs2_osm_spark.synth.images import images_table

    tm = phase_timings if phase_timings is not None else {}
    t0 = time.time()
    with Pins() as pins:
        t = frame_tables(spark, pbf_dir, pins)
        summary, lines, multipolygons = export_tables(
            t["nodes"], t["ways"], t["relations"], t["relations_ways"],
            os.path.join(output_root, "export"),
            t["relations_nodes"], t["relations_relations"], pins,
            phase_timings=tm,
        )
        tm["export_total"] = round(time.time() - t0, 3)

        t1 = time.time()
        # the corpus (whitelisted closed ways ∪ multipolygons) from the
        # pins Phase B built; the cover build collects it to the driver,
        # so nothing reads the pins once this block ends
        cover = prepare_corpus(spark, polygon_union(lines, multipolygons).select(
            "polygon_id", "outer", "inners"
        ))
    images = images_table(spark, n_images)
    result = flagship_from_tables(images, cover)
    n = run_batched(
        spark,
        result.withColumn("batch", F.pmod(F.col("tile_x"), F.lit(n_batches))),
        "batch", os.path.join(output_root, "flagship"), fail_after=fail_after,
    )
    tm["flagship_batched"] = round(time.time() - t1, 3)
    return {"summary": summary, "batches": n}
