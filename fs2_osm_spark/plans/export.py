"""End-to-end export lifecycle — the PostgresExporter.runExport equivalent.

Reference shape (/root/reference/postgres/src/main/scala/fs2/osm/postgres/
PostgresExporter.scala:41-58): Phase A streams entities through a 3-way
broadcastThrough fan-out into nodes/ways/relations sinks, folding a Summary
monoid; Phase B runs every feature's INSERT…SELECT after a barrier.

Spark-first re-expression:
- the fan-out (D1) becomes compute-once / consume-many: the caller's entity
  DataFrames are written once per table and never read back — Phase B
  consumes the same frames, no re-decode, no per-entity objects;
- the way sink (S13, WayImporter.scala:25-53) writes `ways` plus the
  order-bearing exploded `ways_nodes(way_id, node_id, index)`;
- the relation sink (S14, RelationImporter.scala:21-70) splits members by
  kind and dedupes on (relation_id, member_id, role) keep-first — the
  ON CONFLICT DO NOTHING equivalent (R27);
- Summary (D6, Summary.scala:6-50) becomes a per-table inserted-count dict;
- Phase B materializes the whole feature catalog (run_all_features) after
  the raw tables land — Highway/Coastline consume the assembled osm_lines
  (derived-table reuse, R11). The lines and the stitched multipolygons
  are each pinned once; the polygon features read a lazy union of the two
  pins, and export_tables hands both pins back so the caller's polygon
  corpus assembles nothing again.
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor

from fs2_osm_spark.catalog import write_table
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fs2_osm_spark.operators.assembly import (
    build_multipolygons,
    build_osm_lines,
    polygon_union,
    simple_polygons,
)
from fs2_osm_spark.pins import Pins
from fs2_osm_spark.plans.features import run_all_features


def run_export(
    spark: SparkSession,
    nodes: DataFrame,
    ways: DataFrame,
    relations: DataFrame,
    relations_ways: DataFrame,
    output_root: str,
    relations_nodes: DataFrame,
    relations_relations: DataFrame,
    phase_timings: dict[str, float] | None = None,
) -> dict[str, int]:
    """Load raw tables, then run the feature catalog. Returns the Summary:
    table name -> rows written. ``spark`` is unused; positional callers
    keep passing it. export_tables under pins of its own, released on
    return or failure."""
    with Pins() as pins:
        summary, _, _ = export_tables(
            nodes, ways, relations, relations_ways, output_root,
            relations_nodes, relations_relations, pins, phase_timings,
        )
    return summary


def export_tables(
    nodes: DataFrame,
    ways: DataFrame,
    relations: DataFrame,
    relations_ways: DataFrame,
    output_root: str,
    relations_nodes: DataFrame,
    relations_relations: DataFrame,
    pins: Pins,
    phase_timings: dict[str, float] | None = None,
) -> tuple[dict[str, int], DataFrame, DataFrame]:
    """The export body: (Summary, osm_lines, multipolygons). The two
    frames are the assembled geometry Phase B consumed, pinned in the
    caller's ``pins`` and materialized, so the caller can build more on
    them (run_pbf_pipeline's polygon corpus) without assembling again.

    Every table is written once and read back by nobody: each consumer
    uses the frame it already holds. Within a phase the sinks are
    independent INSERT…SELECTs, so they are submitted as CONCURRENT Spark
    actions from a thread pool — the reference streams its passes through
    one connection sequentially, but on a cluster the scheduler
    interleaves independent small jobs and keeps executors busy (a 24-sink
    tail of driver round-trips otherwise serializes into fixed per-job
    latency). Phase B's two shared inputs (lines and the multipolygons)
    are pinned and MATERIALIZED before its pool starts, so concurrent
    consumers hit the cache instead of racing to recompute the
    assembly/stitch lineage per feature."""
    summary: dict[str, int] = {}
    tm = phase_timings if phase_timings is not None else {}

    def sink(df: DataFrame, name: str) -> None:
        from pyspark.sql import Observation

        path = os.path.join(output_root, name)
        t0 = time.time()
        # one job per sink, not two: the inserted-count Summary metric is
        # observed ON the write itself (CollectMetrics) instead of a
        # second count() job — with 24 sink tables the driver
        # round-trips were half the phase wall. The REBALANCE hint
        # lets AQE size the write: tiny feature tables collapse to one
        # output file instead of one per cached partition (guide §6 —
        # same hint yields ~advisory-size files at cluster scale).
        obs = Observation()
        write_table(
            df.observe(obs, F.count(F.lit(1)).alias("n")).hint("rebalance"),
            path,
        )
        summary[name] = int(obs.get["n"])
        tm[f"sink_{name}"] = round(time.time() - t0, 3)

    def sink_all(tables: dict[str, DataFrame]) -> None:
        """sink() every table as concurrent Spark actions, at most 16 at a
        time; re-raises the first failure in table order."""
        with ThreadPoolExecutor(max_workers=16) as ex:
            futures = [ex.submit(sink, df, n) for n, df in tables.items()]
            for fut in futures:
                fut.result()

    # ---- Phase A: raw tables (the importer fan-out) ----
    # the entity tables plus the member tables of the way/relation sinks
    # (WayImporter.scala:25-53, RelationImporter.scala:52-71,
    # DefaultSchema.scala:34-60): exploded ways_nodes and the three typed
    # relation-member tables with the keep-first ON CONFLICT DO NOTHING
    # dedupe per unique constraint. All seven derive from the caller's
    # frames, so they are seven concurrent sink jobs.
    t_a = time.time()
    sink_all({
        "nodes": nodes,
        "ways": ways,
        "relations": relations,
        "ways_nodes": ways.select(
            F.col("osm_id").alias("way_id"),
            F.posexplode("nodes").alias("index", "node_id"),
        ).select("way_id", "node_id", "index"),
        "relations_ways": relations_ways.groupBy(
            "relation_id", "way_id", "role"
        ).agg(F.min("index").alias("index")),
        "relations_nodes": relations_nodes.groupBy(
            "relation_id", "node_id", "role"
        ).agg(F.min("index").alias("index")),
        "relations_relations": relations_relations.groupBy(
            "parent_id", "child_id", "role"
        ).agg(F.min("index").alias("index")),
    })
    tm["phase_a_total"] = round(time.time() - t_a, 3)

    # ---- Phase B: feature passes (after the barrier) ----
    t_b = time.time()
    lines = pins.persist(build_osm_lines(ways, nodes))
    lines.count()  # materialize before concurrent consumers
    tm["phase_b_lines"] = round(time.time() - t_b, 3)
    # the stitch applyInPandas runs once: every polygon feature and the
    # caller's corpus read this pin. The raw memberships go in as they
    # are: the multipolygon and admin-boundary assemblies each open with
    # the keep-first dedupe.
    t_p = time.time()
    multipolygons = pins.persist(build_multipolygons(relations, relations_ways, lines))
    multipolygons.count()
    tm["phase_b_polys"] = round(time.time() - t_p, 3)
    # feature passes each filter the UN-whitelisted closed-way ∪
    # multipolygon union with their own predicate, like the reference's
    # per-feature SQL; the `polygons` table is way-sourced only
    # (PolygonFeature.scala:30-32: combineWays is commented out), with the
    # exact taggedPolygons whitelist
    sink_all({
        "osm_lines": lines,
        "polygons": simple_polygons(lines),
        **run_all_features(
            lines, polygon_union(lines, multipolygons, whitelist=False),
            ways=ways, relations=relations, relations_ways=relations_ways,
        ),
    })
    tm["phase_b_total"] = round(time.time() - t_b, 3)
    return summary, lines, multipolygons
