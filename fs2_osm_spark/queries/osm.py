"""OSM-pipeline queries. The synthesized OSM world isn't visible through
the DuckDB star views, so these were historically rows-only; round 5
staged the deterministic 256-zone tables as fixtures/osm_256 parquet,
which lets DuckDB REIMPLEMENT the assembly semantics in independent SQL
(osm_lines_assembly, osm_simple_polygons; geom_stats_osm_lines in
geom_q.py). Golden decode semantics stay pinned by
tests/test_decode_assembly.py; wire-decode streams whose payloads aren't
dtype-stable scalars remain rows-only."""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fs2_osm_spark.operators.assembly import (
    build_multipolygons,
    build_osm_lines,
    simple_polygons,
)
from fs2_osm_spark.plans.features import FEATURES, run_all_features
from fs2_osm_spark.queries.registry import register
from fs2_osm_spark.sources.dense_decode import decode_dense_blocks
from fs2_osm_spark.synth.osm import golden_dense_blocks, osm_tables

N_ZONES = 256


def _driver_safe_tags(df: DataFrame) -> DataFrame:
    """Serialize the MapType `tags` column to deterministic JSON (sorted keys).

    The driver's canonicalizer sorts every output column with pandas and
    crashes on dict values ("unhashable type: dict") — registered queries
    must only emit sortable scalars. array_sort over map_entries fixes the
    key order so the JSON string is deterministic across partitions.
    """
    tags_json = F.to_json(
        F.map_from_entries(F.array_sort(F.map_entries("tags")))
    ).alias("tags_json")
    others = [c for c in df.columns if c != "tags"]
    return df.select(*others, tags_json)


def _dense_decode_oracle() -> str:
    """Hand-derived expectation for the golden dense blocks (the inputs are
    hand-built, so the decode contract's answer is known by construction —
    fully independent of the decoder). Coordinates are written as the SAME
    double arithmetic `1e-9 * (offset + granularity * running_sum)` over
    exact integer literals, so both engines produce bit-identical floats.

    block 0: ids cumsum 42,43,45; g=100, offsets 0; node 42 tagged
    {amenity: cafe}. block 1: ids cumsum 7,10; g=200, lat_off 5e8,
    lon_off -3e8."""
    rows = [
        # (osm_id, lon_off, g, lon_sum, lat_off, lat_sum, tags_json)
        (42, 0, 100, 100000000, 0, 530000000, '{"amenity":"cafe"}'),
        (43, 0, 100, 105000000, 0, 540000000, "{}"),
        (45, 0, 100, 106000000, 0, 542000000, "{}"),
        (7, -300000000, 200, 10000000, 500000000, 10000000, "{}"),
        (10, -300000000, 200, 10000005, 500000000, 10000000, "{}"),
    ]
    values = ",\n        ".join(
        f"(CAST({i} AS BIGINT),"
        f" 1e-9 * ({lo} + {g} * CAST({ls} AS BIGINT)),"
        f" 1e-9 * ({to} + {g} * CAST({ts} AS BIGINT)),"
        f" CAST(NULL AS VARCHAR), '{tj}')"
        for i, lo, g, ls, to, ts, tj in rows
    )
    return f"""
    SELECT * FROM (VALUES
        {values}
    ) AS t(osm_id, lon, lat, name, tags_json)
    """


@register("osm_dense_decode", oracle=_dense_decode_oracle())
def osm_dense_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PBF dense-node decode kernel (S5-S10) over the golden encoded
    blocks. Hard-oracled (r05) against hand-derived VALUES — the golden
    inputs are hand-built, so the expected ids/coords/tags are known by
    construction (DenseNodeStreamSpec.scala:22-76 semantics)."""
    blocks = spark.createDataFrame(golden_dense_blocks())
    return _driver_safe_tags(decode_dense_blocks(blocks))


def _fixture_pts_cte() -> str:
    """Shared CTE body: way vertices resolved + ordered from the staged OSM
    fixture (the DuckDB-visible twin of posexplode + resolve join)."""
    from fs2_osm_spark.synth.staging import osm_fixture_path

    return f"""
    SELECT wn.way_id, wn.idx, n.lon, n.lat
    FROM read_parquet('{osm_fixture_path("ways_nodes")}') wn
    JOIN read_parquet('{osm_fixture_path("nodes")}') n ON wn.node_id = n.osm_id
    """


# Spark: (c * 1e6).cast(bigint) truncates toward zero; DuckDB trunc() is
# also toward-zero, so the quantized closure test matches bit-for-bit.
_Q = "CAST(trunc({v} * 1000000.0) AS BIGINT)"


def _lines_assembly_oracle() -> str:
    qfl = _Q.format(v="arg_min(lon, idx)")
    qll = _Q.format(v="arg_max(lon, idx)")
    qft = _Q.format(v="arg_min(lat, idx)")
    qlt = _Q.format(v="arg_max(lat, idx)")
    return f"""
    WITH pts AS ({_fixture_pts_cte()})
    SELECT way_id,
           CAST(count(*) AS BIGINT) AS n_pts,
           ({qfl} = {qll} AND {qft} = {qlt}) AS is_closed
    FROM pts GROUP BY way_id
    """


@register("osm_lines_assembly", oracle=_lines_assembly_oracle())
def osm_lines_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """osm_lines: posexplode + join + ordered collect -> packed coords
    (R1-R4). Hard-oracled (r05): DuckDB re-derives n_pts and the 1e-6
    quantized closure INDEPENDENTLY from the staged fixture tables
    (fixtures/osm_256) — both engines assemble from the raw rows, nothing
    is recorded. Fixture == live synth is pinned by the anti-drift test."""
    from fs2_osm_spark.synth.staging import ensure_osm_fixture

    ensure_osm_fixture(spark)
    t = osm_tables(spark, N_ZONES)
    lines = build_osm_lines(t["ways"], t["nodes"])
    return lines.select(
        "way_id", F.col("n_pts").cast("bigint").alias("n_pts"), "is_closed"
    )


def _polygon_whitelist_cond() -> str:
    """The taggedPolygons whitelist as a single condition over an EAV tag
    alias `t` — generated from the SAME constants the Spark predicate uses
    (operators/assembly.py POLYGON_KEYS / POLYGON_VALUE_IN)."""
    from fs2_osm_spark.operators.assembly import POLYGON_KEYS, POLYGON_VALUE_IN

    keys = ", ".join(f"'{k}'" for k in POLYGON_KEYS)
    val_conds = " OR ".join(
        "(t.key = '{k}' AND t.value IN ({vs}))".format(
            k=k, vs=", ".join(f"'{v}'" for v in vs)
        )
        for k, vs in POLYGON_VALUE_IN.items()
    )
    return f"t.key IN ({keys}) OR {val_conds}"


def _simple_polygons_oracle() -> str:
    from fs2_osm_spark.operators.assembly import POLYGON_KEYS, POLYGON_VALUE_IN
    from fs2_osm_spark.synth.staging import osm_fixture_path

    keys = ", ".join(f"'{k}'" for k in POLYGON_KEYS)
    val_conds = " OR ".join(
        "(key = '{k}' AND value IN ({vs}))".format(
            k=k, vs=", ".join(f"'{v}'" for v in vs)
        )
        for k, vs in POLYGON_VALUE_IN.items()
    )
    tags = osm_fixture_path("way_tags")
    qfl = _Q.format(v="arg_min(lon, idx)")
    qll = _Q.format(v="arg_max(lon, idx)")
    qft = _Q.format(v="arg_min(lat, idx)")
    qlt = _Q.format(v="arg_max(lat, idx)")
    return f"""
    WITH pts AS ({_fixture_pts_cte()}),
    lines AS (
        SELECT way_id,
               CAST(count(*) AS BIGINT) AS n_pts,
               ({qfl} = {qll} AND {qft} = {qlt}) AS is_closed
        FROM pts GROUP BY way_id
    ),
    keyed AS (
        SELECT DISTINCT way_id FROM read_parquet('{tags}')
        WHERE key IN ({keys}) OR {val_conds}
    )
    SELECT l.way_id AS polygon_id,
           CAST(2 * l.n_pts AS BIGINT) AS n_coords
    FROM lines l JOIN keyed k ON l.way_id = k.way_id
    WHERE l.is_closed
      AND l.way_id NOT IN (
          SELECT way_id FROM read_parquet('{tags}')
          WHERE key = 'area' AND value = 'no'
      )
    """


@register("osm_simple_polygons", oracle=_simple_polygons_oracle())
def osm_simple_polygons(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's `polygons` table (closed ways + exact tag
    whitelist). Hard-oracled (r05): the DuckDB twin re-applies the
    whitelist — generated from the SAME POLYGON_KEYS / POLYGON_VALUE_IN
    constants, so the predicate can't drift in one place only — plus the
    quantized-closure filter, independently in SQL over the staged
    fixture."""
    from fs2_osm_spark.synth.staging import ensure_osm_fixture

    ensure_osm_fixture(spark)
    t = osm_tables(spark, N_ZONES)
    lines = build_osm_lines(t["ways"], t["nodes"])
    return simple_polygons(lines).select(
        "polygon_id", F.size("outer").cast("bigint").alias("n_coords")
    )


def _stitch_ctes() -> str:
    """Shared recursive-CTE block re-deriving the multipolygon stitcher's
    COUNTABLE structure in SQL (final query must start WITH RECURSIVE):

    - segments = deduped (relation, way, role) members of multipolygon
      relations whose way resolves to >= 2 points,
    - components = transitive closure over shared 1e-6-quantized endpoints
      (the stitcher merges exactly when an endpoint pair matches),
    - ring point count = sum(segment pts) - (n_segs - 1) joins, + 1 repair
      point iff the component is an open chain (any endpoint with odd
      occurrence count — ComplexPolygonBuilder.scala:90-93 closure repair).

    Equality with the greedy stitcher holds when every component is a
    simple chain/cycle (endpoint degree <= 2) — true by construction for
    the synthetic corpus; a branching corpus would mismatch LOUDLY in the
    compare rather than silently."""
    qfl = _Q.format(v="arg_min(lon, idx)")
    qll = _Q.format(v="arg_max(lon, idx)")
    qft = _Q.format(v="arg_min(lat, idx)")
    qlt = _Q.format(v="arg_max(lat, idx)")
    from fs2_osm_spark.synth.staging import osm_fixture_path

    rels = osm_fixture_path("relations")
    rws = osm_fixture_path("relations_ways")
    return f"""
    pts AS ({_fixture_pts_cte()}),
    lines AS (
        SELECT way_id, CAST(count(*) AS BIGINT) AS n_pts,
               ({qfl} = {qll} AND {qft} = {qlt}) AS is_closed,
               {qfl} AS qfl, {qft} AS qft, {qll} AS qll, {qlt} AS qlt
        FROM pts GROUP BY way_id
    ),
    mp_rels AS (
        SELECT osm_id AS relation_id FROM read_parquet('{rels}')
        WHERE type = 'multipolygon'
    ),
    segs AS (
        SELECT rw.relation_id, rw.way_id, rw.role,
               l.n_pts, l.qfl, l.qft, l.qll, l.qlt
        FROM (SELECT DISTINCT relation_id, way_id, role
              FROM read_parquet('{rws}')) rw
        JOIN mp_rels USING (relation_id)
        JOIN lines l ON l.way_id = rw.way_id
        WHERE l.n_pts >= 2
    ),
    edges AS (
        SELECT a.relation_id, a.role, a.way_id AS wa, b.way_id AS wb
        FROM segs a JOIN segs b
          ON a.relation_id = b.relation_id AND a.role = b.role
         AND a.way_id <> b.way_id
         AND ((a.qfl = b.qfl AND a.qft = b.qft)
           OR (a.qfl = b.qll AND a.qft = b.qlt)
           OR (a.qll = b.qfl AND a.qlt = b.qft)
           OR (a.qll = b.qll AND a.qlt = b.qlt))
    ),
    reach AS (
        SELECT relation_id, role, way_id AS a, way_id AS b FROM segs
        UNION
        SELECT r.relation_id, r.role, r.a, e.wb
        FROM reach r JOIN edges e
          ON e.relation_id = r.relation_id AND e.role = r.role AND e.wa = r.b
    ),
    comp AS (
        SELECT relation_id, role, a AS way_id, min(b) AS label
        FROM reach GROUP BY relation_id, role, a
    ),
    eps AS (
        SELECT relation_id, role, label, qx, qy, count(*) AS cnt FROM (
            SELECT c.relation_id, c.role, c.label, s.qfl AS qx, s.qft AS qy
            FROM comp c JOIN segs s ON s.relation_id = c.relation_id
                                    AND s.role = c.role AND s.way_id = c.way_id
            UNION ALL
            SELECT c.relation_id, c.role, c.label, s.qll AS qx, s.qlt AS qy
            FROM comp c JOIN segs s ON s.relation_id = c.relation_id
                                    AND s.role = c.role AND s.way_id = c.way_id
        ) GROUP BY relation_id, role, label, qx, qy
    ),
    rings AS (
        SELECT r.relation_id, r.role, r.label,
               r.tot_pts - (r.n_segs - 1)
                 + (CASE WHEN cl.closed THEN 0 ELSE 1 END) AS ring_pts
        FROM (
            SELECT c.relation_id, c.role, c.label,
                   CAST(count(*) AS BIGINT) AS n_segs,
                   CAST(sum(s.n_pts) AS BIGINT) AS tot_pts
            FROM comp c JOIN segs s ON s.relation_id = c.relation_id
                                    AND s.role = c.role AND s.way_id = c.way_id
            GROUP BY c.relation_id, c.role, c.label
        ) r JOIN (
            SELECT relation_id, role, label,
                   (count(*) FILTER (WHERE cnt % 2 = 1) = 0) AS closed
            FROM eps GROUP BY relation_id, role, label
        ) cl USING (relation_id, role, label)
    )
    """


def _multipolygons_oracle() -> str:
    return f"""
    WITH RECURSIVE {_stitch_ctes()}
    SELECT o.relation_id AS polygon_id,
           CAST(row_number() OVER (PARTITION BY o.relation_id
                                   ORDER BY o.label) - 1 AS BIGINT) AS ring_no,
           CAST(2 * o.ring_pts AS BIGINT) AS outer_coords,
           CAST((SELECT count(*) FROM rings i
                 WHERE i.relation_id = o.relation_id AND i.role = 'inner'
                   AND i.ring_pts > 3) AS BIGINT) AS n_holes
    FROM rings o WHERE o.role = 'outer'
    """


@register("osm_multipolygons", oracle=_multipolygons_oracle())
def osm_multipolygons(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-based multipolygon stitching (replaces R13's per-relation loop).
    Hard-oracled (r05): DuckDB re-derives ring structure via a recursive
    transitive closure over quantized endpoint matches — component count,
    stitched point count (joins + closure repair), and hole filtering all
    recomputed independently. Hole->ring containment uses the synthetic
    corpus's single-outer property (every hole belongs to ring 0); a
    multi-outer corpus would fail the compare loudly, not silently."""
    from fs2_osm_spark.synth.staging import ensure_osm_fixture

    ensure_osm_fixture(spark)
    t = osm_tables(spark, N_ZONES)
    lines = build_osm_lines(t["ways"], t["nodes"])
    mp = build_multipolygons(t["relations"], t["relations_ways"], lines)
    return mp.select(
        "polygon_id",
        F.col("ring_no").cast("bigint").alias("ring_no"),
        F.size("outer").cast("bigint").alias("outer_coords"),
        F.size("inners").cast("bigint").alias("n_holes"),
    )


# Feature predicates re-expressed over the EAV tag fixture — kept in ONE
# table so the SQL twin and plans/features.py can be diffed side by side.
# (name, source, SQL predicate builder over a tag-EAV alias)
def _tag_exists(tags_path: str, id_col: str, id_expr: str, cond: str) -> str:
    return (f"EXISTS (SELECT 1 FROM read_parquet('{tags_path}') t "
            f"WHERE t.{id_col} = {id_expr} AND {cond})")


def _feature_count_sql() -> dict[str, str]:
    """feature name -> scalar-subquery SQL for its row count, re-deriving
    run_all_features over the staged fixture: line features count matching
    osm_lines rows; polygon features count matching closed ways PLUS one
    row per outer ring of matching multipolygon relations (all_polygons is
    un-whitelisted — each feature applies its own predicate)."""
    from fs2_osm_spark.synth.staging import osm_fixture_path

    wt = osm_fixture_path("way_tags")
    rt = osm_fixture_path("relation_tags")
    rels = osm_fixture_path("relations")
    wn = osm_fixture_path("ways_nodes")

    def w_has(k: str) -> str:
        return _tag_exists(wt, "way_id", "l.way_id", f"t.key = '{k}'")

    def w_eq(k: str, v: str) -> str:
        return _tag_exists(wt, "way_id", "l.way_id",
                           f"t.key = '{k}' AND t.value = '{v}'")

    def r_has(k: str) -> str:
        return _tag_exists(rt, "relation_id", "nc.relation_id", f"t.key = '{k}'")

    def r_eq(k: str, v: str) -> str:
        return _tag_exists(rt, "relation_id", "nc.relation_id",
                           f"t.key = '{k}' AND t.value = '{v}'")

    # (way-predicate, relation-predicate) per feature — transcriptions of
    # plans/features.py FEATURES (which transcribe the reference Scala)
    line_preds = {
        "highways": w_has("highway"),
        "coastlines": w_eq("natural", "coastline"),
        "waterways": w_has("waterway"),
        "rails": w_has("railway"),
    }
    poly_preds = {
        "waters": (w_eq("natural", "water"), r_eq("natural", "water")),
        "buildings": (w_has("building"), r_has("building")),
        "landuses": (w_has("landuse"), r_has("landuse")),
        "industrial": (w_eq("landuse", "industrial"),
                       r_eq("landuse", "industrial")),
        "amenities": (
            f"({w_eq('landuse', 'industrial')} AND {w_eq('amenity', 'recycling')})",
            f"({r_eq('landuse', 'industrial')} AND {r_eq('amenity', 'recycling')})",
        ),
        "leisures": (w_has("leisure"), r_has("leisure")),
        "woods": (
            f"({w_eq('natural', 'wood')} OR {w_eq('landuse', 'forest')})",
            f"({r_eq('natural', 'wood')} OR {r_eq('landuse', 'forest')})",
        ),
        "railways": (w_eq("landuse", "railway"), r_eq("landuse", "railway")),
        "protected_areas": (w_eq("boundary", "protected_area"),
                            r_eq("boundary", "protected_area")),
    }
    out = {
        name: f"(SELECT count(*) FROM lines l WHERE {pred})"
        for name, pred in line_preds.items()
    }
    for name, (wp, rp) in poly_preds.items():
        out[name] = f"""(
            (SELECT count(*) FROM lines l WHERE l.is_closed AND {wp})
            + (SELECT coalesce(count(*), 0)
               FROM (SELECT relation_id, label FROM rings
                     WHERE role = 'outer') nc
               JOIN read_parquet('{rels}') r ON r.osm_id = nc.relation_id
               WHERE r.type = 'multipolygon' AND {rp})
        )"""
    out["highways_nodes"] = f"""(
        SELECT count(*) FROM read_parquet('{wn}') x
        WHERE EXISTS (SELECT 1 FROM read_parquet('{wt}') t
                      WHERE t.way_id = x.way_id AND t.key = 'highway')
    )"""
    out["administrative_boundaries"] = f"""(
        (SELECT count(*) FROM lines l
         WHERE l.is_closed AND {w_eq("boundary", "administrative")})
        + (SELECT count(*) FROM read_parquet('{rels}') r
           WHERE r.type = 'boundary'
             AND EXISTS (SELECT 1 FROM read_parquet('{rt}') t
                         WHERE t.relation_id = r.osm_id
                           AND t.key = 'boundary'
                           AND t.value = 'administrative')
             AND EXISTS (SELECT 1 FROM read_parquet('{osm_fixture_path("relations_ways")}') m
                         JOIN lines ml ON ml.way_id = m.way_id
                         WHERE m.relation_id = r.osm_id))
    )"""
    return out


def _feature_catalog_oracle() -> str:
    selects = " UNION ALL ".join(
        f"SELECT '{name}' AS feature, CAST({sql} AS BIGINT) AS n"
        for name, sql in _feature_count_sql().items()
    )
    return f"WITH RECURSIVE {_stitch_ctes()} {selects}"


@register("osm_feature_catalog", oracle=_feature_catalog_oracle())
def osm_feature_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All catalog features (SURVEY.md §2.4) -> per-feature row counts,
    incl. the highways_nodes side table and the two-pass (closed ways +
    relation ST_Collect) administrative_boundaries. Hard-oracled (r05):
    every feature's count re-derived in SQL over the staged fixture — tag
    predicates re-transcribed as EXISTS over the EAV tag tables, the
    multipolygon contribution via the recursive stitch-structure CTE."""
    from fs2_osm_spark.operators.assembly import all_polygons
    from fs2_osm_spark.pins import persist
    from fs2_osm_spark.synth.staging import ensure_osm_fixture

    ensure_osm_fixture(spark)
    t = osm_tables(spark, N_ZONES)
    lines = persist(build_osm_lines(t["ways"], t["nodes"]))
    polys = all_polygons(lines, t["relations"], t["relations_ways"])
    outs = run_all_features(
        lines,
        polys,
        ways=t["ways"],
        relations=t["relations"],
        relations_ways=t["relations_ways"],
    )
    per_feature = None
    for name, df in outs.items():
        c = df.agg(F.count(F.lit(1)).alias("n")).select(
            F.lit(name).alias("feature"), "n"
        )
        per_feature = c if per_feature is None else per_feature.unionByName(c)
    return per_feature


def _frame_source_oracle() -> str:
    """Closed-form expansion of the framed fixture below: ids are deltas
    1..100 (cumsum k(k+1)/2), lat deltas [5e8]+[1e6]*99, lon deltas
    [8e7]+[1e6]*99, granularity 100, every node tagged highway=residential.
    Double formulas mirror the decoder's exact int arithmetic."""
    return """
    SELECT CAST(((i + 1) * (i + 2)) // 2 AS BIGINT) AS osm_id,
           1e-9 * (0 + 100 * (80000000 + i * 1000000)) AS lon,
           1e-9 * (0 + 100 * (500000000 + i * 1000000)) AS lat,
           CAST(NULL AS VARCHAR) AS name,
           '{"highway":"residential"}' AS tags_json
    FROM range(0, 100) t(i)
    """


@functools.cache
def _fixture_dir() -> str:
    """This process's one directory of frame fixtures, removed at exit."""
    d = tempfile.mkdtemp(prefix="opf_")
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


@functools.cache
def _write_frame_fixture() -> str:
    """The deterministic 100-node framed fixture shared by the frame-source
    and http-source queries (same closed-form oracle); written once per
    process."""
    from fs2_osm_spark.sources.pbf_frames import write_frames
    from fs2_osm_spark.sources.proto_wire import encode_primitive_block

    path = os.path.join(_fixture_dir(), "nodes.opf")
    blocks = [
        encode_primitive_block(
            ids=list(range(1, 101)),
            lats=[500000000] + [1000000] * 99,
            lons=[80000000] + [1000000] * 99,
            keys_vals=[1, 2, 0] * 100,
            string_table=["", "highway", "residential"],
        )
    ]
    write_frames(path, blocks)
    return path


@register("osm_http_source_decode", oracle=_frame_source_oracle())
def osm_http_source_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2/S3: the SAME framed fixture served over an in-process loopback
    HTTP server (no external data), fetched via the scheme-dispatched
    downloader (Downloader.scala:17-21, toFile :36-47) and decoded by the
    frame scanner's entity kernel — same closed-form oracle as the direct
    binaryFile path, so a transport-layer corruption breaks the hash. The
    download is eager (driver-side), so the server is closed before the
    DataFrame is evaluated; the distributed manifest fan-out path is
    exercised in tests/test_http_source.py."""
    import http.server
    import socketserver
    import threading

    from fs2_osm_spark.sources.http_source import read_nodes_from_url

    path = _write_frame_fixture()
    quiet = type(
        "H", (http.server.SimpleHTTPRequestHandler,),
        {"log_message": lambda *a: None},
    )
    handler = functools.partial(quiet, directory=os.path.dirname(path))
    httpd = socketserver.TCPServer(("127.0.0.1", 0), handler)
    port = httpd.server_address[1]
    threading.Thread(target=httpd.serve_forever, daemon=True).start()
    try:
        df = read_nodes_from_url(
            spark, f"http://127.0.0.1:{port}/{os.path.basename(path)}"
        )
    finally:
        httpd.shutdown()
        httpd.server_close()
    return _driver_safe_tags(df)


@register("osm_frame_source_decode", oracle=_frame_source_oracle())
def osm_frame_source_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wire-layer framing contract (PbfReader.scala:11-29 semantics): write
    a deterministic framed+zlib fixture, scan via binaryFile, inflate, parse
    blocks, dense-decode to nodes. Hard-oracled (r05) against the
    closed-form expansion of the hand-built deltas — a mis-framed blob,
    broken inflate, or off-by-one delta chain all break the hash."""
    from fs2_osm_spark.sources.pbf_frames import read_nodes_from_frames

    return _driver_safe_tags(
        read_nodes_from_frames(spark, _write_frame_fixture())
    )


def _export_summary_oracle() -> str:
    """The whole 24-table Summary re-derived in SQL: raw fan-out counts
    straight off the fixture tables (ways_nodes = raw explode,
    relations_ways = keep-first dedupe), osm_lines/polygons via the shared
    assembly CTEs, every feature via the same per-feature count SQL as the
    catalog oracle."""
    from fs2_osm_spark.synth.staging import osm_fixture_path

    raw = {
        "nodes": f"(SELECT count(*) FROM read_parquet('{osm_fixture_path('nodes')}'))",
        "ways": f"(SELECT count(*) FROM read_parquet('{osm_fixture_path('ways')}'))",
        "ways_nodes":
            f"(SELECT count(*) FROM read_parquet('{osm_fixture_path('ways_nodes')}'))",
        "relations":
            f"(SELECT count(*) FROM read_parquet('{osm_fixture_path('relations')}'))",
        "relations_ways": f"""(
            SELECT count(*) FROM (
                SELECT DISTINCT relation_id, way_id, role
                FROM read_parquet('{osm_fixture_path('relations_ways')}')
            )
        )""",
        "relations_nodes": f"""(
            SELECT count(*) FROM (
                SELECT DISTINCT relation_id, node_id, role
                FROM read_parquet('{osm_fixture_path('relations_nodes')}')
            )
        )""",
        "relations_relations": f"""(
            SELECT count(*) FROM (
                SELECT DISTINCT parent_id, child_id, role
                FROM read_parquet('{osm_fixture_path('relations_relations')}')
            )
        )""",
        "osm_lines": "(SELECT count(*) FROM lines)",
        "polygons": f"""(
            SELECT count(*) FROM lines l
            WHERE l.is_closed
              AND EXISTS (
                  SELECT 1 FROM read_parquet('{osm_fixture_path('way_tags')}') t
                  WHERE t.way_id = l.way_id AND ({_polygon_whitelist_cond()})
              )
              AND NOT EXISTS (
                  SELECT 1 FROM read_parquet('{osm_fixture_path('way_tags')}') t
                  WHERE t.way_id = l.way_id
                    AND t.key = 'area' AND t.value = 'no'
              )
        )""",
    }
    counts = {**raw, **_feature_count_sql()}
    selects = " UNION ALL ".join(
        f"SELECT '{name}' AS table_name, CAST({sql} AS BIGINT) AS n_rows"
        for name, sql in counts.items()
    )
    return f"WITH RECURSIVE {_stitch_ctes()} {selects}"


@register("osm_export_summary", oracle=_export_summary_oracle())
def osm_export_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full runExport lifecycle (PostgresExporter.scala:41-58 parity):
    raw-table fan-out -> phase barrier -> all feature passes; returns the
    Summary fold (table -> rows written), one row per materialized table.
    Hard-oracled (r05, extended to 24 tables r06): all Summary counts re-derived in SQL over the
    staged fixture — and the Spark side still actually WRITES each table
    and counts the rows each write took, so the oracle covers the sinks
    too."""
    import pandas as pd

    from fs2_osm_spark.plans.export import run_export
    from fs2_osm_spark.synth.staging import ensure_osm_fixture

    ensure_osm_fixture(spark)
    t = osm_tables(spark, N_ZONES)
    root = tempfile.mkdtemp(prefix="export_")
    try:
        summary = run_export(
            spark, t["nodes"], t["ways"], t["relations"], t["relations_ways"],
            root,
            relations_nodes=t["relations_nodes"],
            relations_relations=t["relations_relations"],
        )
    finally:  # the Summary is local rows: nothing reads the tables
        shutil.rmtree(root, ignore_errors=True)

    return spark.createDataFrame(
        pd.DataFrame(sorted(summary.items()), columns=["table_name", "n_rows"]),
        "table_name string, n_rows long",
    )


@register(
    "osm_decode_semantics_oracle",
    oracle="""
    SELECT order_id, pos,
           decoded_id,
           CAST(round(1e-9 * (500000000 + 100 * coord_sum), 9) AS DOUBLE) AS coord
    FROM (
        SELECT l_orderkey AS order_id,
               CAST(row_number() OVER w AS BIGINT) AS pos,
               CAST(sum(l_partkey) OVER w AS BIGINT) AS decoded_id,
               sum(l_quantity * 100000) OVER w AS coord_sum
        FROM lineitem
        WINDOW w AS (PARTITION BY l_orderkey
                     ORDER BY l_linenumber, l_partkey, l_suppkey, l_quantity
                     ROWS UNBOUNDED PRECEDING)
    )
    """,
)
def osm_decode_semantics_oracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dense-decode CONTRACT (SURVEY §4.3 items 1-2) under the oracle on
    neutral data: delta chains are running sums in arrival order, and the
    coordinate formula 1e-9*(offset + granularity*sum) — here offset=5e8,
    granularity=100 — must match bit-for-bit in both engines."""
    from fs2_osm_spark.io import load
    from pyspark.sql import Window

    li = load(spark, sf_dir, "lineitem")
    w = (
        Window.partitionBy("l_orderkey")
        .orderBy("l_linenumber", "l_partkey", "l_suppkey", "l_quantity")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return li.select(
        F.col("l_orderkey").alias("order_id"),
        F.row_number()
        .over(
            Window.partitionBy("l_orderkey").orderBy(
                "l_linenumber", "l_partkey", "l_suppkey", "l_quantity"
            )
        )
        .cast("bigint")
        .alias("pos"),
        F.sum("l_partkey").over(w).cast("bigint").alias("decoded_id"),
        F.round(
            1e-9 * (F.lit(500000000) + 100 * F.sum(F.col("l_quantity") * 100000).over(w)),
            9,
        )
        .cast("double")
        .alias("coord"),
    )


@functools.cache
def _wire_fixture() -> str:
    """One framed PBF file holding a dense block + a ways/relations block;
    written once per process."""
    from fs2_osm_spark.sources.pbf_frames import write_frames
    from fs2_osm_spark.sources.proto_wire import (
        encode_entity_group,
        encode_info,
        encode_primitive_block,
        encode_relation,
        encode_way,
    )

    st = [
        "", "highway", "residential", "type", "multipolygon", "outer",
        "inner", "alice", "bob",
    ]
    # even ways carry Info (S10, field 4), odd ways omit it — the decoder
    # must produce the proto defaults (version -1, rest null) for the latter
    ways = [
        encode_way(
            100 + i, keys=[1], vals=[2], refs=[10 * i + 1, 2, 3],
            info=(
                encode_info(
                    version=i % 3 + 1, timestamp=1_600_000_000 + i,
                    changeset=7_000 + i, uid=5 + i % 2, user_sid=7,
                )
                if i % 2 == 0
                else None
            ),
        )
        for i in range(20)
    ]
    rels = [
        encode_relation(
            900 + i, keys=[3], vals=[4], roles_sid=[5, 6],
            memids=[100 + i, 1], types=[1, 1],
            info=encode_info(
                version=i + 1, timestamp=1_600_000_100 + i,
                changeset=7_100 + i, uid=6, user_sid=8,
            ),
        )
        for i in range(5)
    ]
    blocks = [
        encode_primitive_block(
            ids=list(range(1, 11)), lats=[1000000] * 10, lons=[2000000] * 10,
            keys_vals=[], string_table=[""],
        ),
        encode_entity_group(st, ways=ways, relations=rels),
    ]
    path = os.path.join(_fixture_dir(), "entities.osm.pbf")
    write_frames(path, blocks)
    return path


# the tags map serializes through _driver_safe_tags (Spark to_json, no
# spaces) — the literals below must match that byte-for-byte
_WAY_FRAME_ORACLE = """
    SELECT CAST(100 + i AS BIGINT) AS way_id,
           '{"highway":"residential"}' AS tags_json,
           CAST(3 AS BIGINT) AS n_refs,
           CAST(10 * i + 1 AS BIGINT) AS first_ref,
           CAST(10 * i + 6 AS BIGINT) AS last_ref,
           CAST(CASE WHEN i % 2 = 0 THEN i % 3 + 1 ELSE -1 END AS BIGINT)
               AS version,
           CAST(CASE WHEN i % 2 = 0 THEN (1600000000 + CAST(i AS BIGINT)) * 1000 END
               AS BIGINT) AS epoch_ms,
           CAST(CASE WHEN i % 2 = 0 THEN 7000 + i END AS BIGINT) AS changeset,
           CAST(CASE WHEN i % 2 = 0 THEN 5 + i % 2 END AS BIGINT) AS uid,
           CASE WHEN i % 2 = 0 THEN 'alice' END AS "user"
    FROM range(0, 20) t(i)
    """


@register("osm_way_frame_decode", oracle=_WAY_FRAME_ORACLE)
def osm_way_frame_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Way groups decoded from real protobuf PBF frames (S8 at wire level:
    delta refs, string-table tags — WayImporter.scala:25-53). Hard-oracled
    (r05): the fixture's refs are hand-built deltas [10i+1, 2, 3], so the
    decoded absolutes [10i+1, 10i+3, 10i+6] are known by construction."""
    from fs2_osm_spark.sources.pbf_frames import read_ways_from_frames

    ways = read_ways_from_frames(spark, _wire_fixture())
    return _driver_safe_tags(ways.select(
        "way_id",
        "tags",
        F.size("refs").cast("bigint").alias("n_refs"),
        F.element_at("refs", 1).alias("first_ref"),
        F.element_at("refs", -1).alias("last_ref"),
        F.col("version").cast("bigint").alias("version"),
        "epoch_ms",
        "changeset",
        "uid",
        "user",
    ))


_REL_FRAME_ORACLE = """
    SELECT CAST(900 + i AS BIGINT) AS relation_id,
           '{"type":"multipolygon"}' AS tags_json,
           CAST(2 AS BIGINT) AS n_members,
           'outer,inner' AS roles_csv,
           'way,way' AS types_csv,
           CAST(101 + i AS BIGINT) AS last_member_id,
           CAST(i + 1 AS BIGINT) AS version,
           CAST((1600000100 + CAST(i AS BIGINT)) * 1000 AS BIGINT) AS epoch_ms,
           CAST(7100 + i AS BIGINT) AS changeset,
           CAST(6 AS BIGINT) AS uid,
           'bob' AS "user"
    FROM range(0, 5) t(i)
    """


@register("osm_relation_frame_decode", oracle=_REL_FRAME_ORACLE)
def osm_relation_frame_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relation groups decoded from real protobuf PBF frames (S9 at wire
    level: delta member ids, roles/types — RelationImporter.scala:21-70).
    Hard-oracled (r05; Info columns r06): member deltas [100+i, 1] decode
    to [100+i, 101+i]; roles_sid [5, 6] and types [1, 1] resolve to
    outer/inner and way/way through the hand-built string table; every
    relation carries Info (model.scala:81-105) resolved the same way."""
    from fs2_osm_spark.sources.pbf_frames import read_relations_from_frames

    rels = read_relations_from_frames(spark, _wire_fixture())
    return _driver_safe_tags(rels.select(
        "relation_id",
        "tags",
        F.size("member_ids").cast("bigint").alias("n_members"),
        F.array_join("member_roles", ",").alias("roles_csv"),
        F.array_join("member_types", ",").alias("types_csv"),
        F.element_at("member_ids", -1).alias("last_member_id"),
        F.col("version").cast("bigint").alias("version"),
        "epoch_ms",
        "changeset",
        "uid",
        "user",
    ))


# hand-derived from the deltas below: ids 100,101,102; timestamp cumsum
# [1.5e9, +10, -5] x date_granularity 1000 ms; changesets 900,901,902;
# uids 42,42,40; user_sid cumsum 1,2,1 -> alice,bob,alice
_DENSE_INFO_ORACLE = """
    SELECT * FROM (VALUES
        (CAST(100 AS BIGINT), CAST(1 AS BIGINT),
         CAST(1500000000000 AS BIGINT), CAST(900 AS BIGINT),
         CAST(42 AS BIGINT), 'alice'),
        (CAST(101 AS BIGINT), CAST(3 AS BIGINT),
         CAST(1500000010000 AS BIGINT), CAST(901 AS BIGINT),
         CAST(42 AS BIGINT), 'bob'),
        (CAST(102 AS BIGINT), CAST(2 AS BIGINT),
         CAST(1500000005000 AS BIGINT), CAST(902 AS BIGINT),
         CAST(40 AS BIGINT), 'alice')
    ) AS t(osm_id, version, epoch_ms, changeset, uid, "user")
    """


@functools.cache
def _dense_info_fixture() -> str:
    """One dense block of three nodes with DenseInfo; written once per
    process."""
    from fs2_osm_spark.sources.pbf_frames import write_frames
    from fs2_osm_spark.sources.proto_wire import encode_dense_info, encode_primitive_block

    info = encode_dense_info(
        versions=[1, 3, 2],
        timestamps=[1_500_000_000, 10, -5],     # deltas (seconds)
        changesets=[900, 1, 1],
        uids=[42, 0, -2],
        user_sids=[1, 1, -1],                   # deltas into string table
    )
    block = encode_primitive_block(
        ids=[100, 1, 1],
        lats=[0, 0, 0],
        lons=[0, 0, 0],
        keys_vals=[],
        string_table=["", "alice", "bob"],
        dense_info=info,
    )
    path = os.path.join(_fixture_dir(), "dense_info.osm.pbf")
    write_frames(path, [block])
    return path


@register("osm_dense_info_decode", oracle=_DENSE_INFO_ORACLE)
def osm_dense_info_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DenseInfo decode (S10): version/timestamp/changeset/uid/user carried
    alongside dense nodes, delta chains + string-table usernames.
    Hard-oracled (r05) against the hand-derived running sums of the
    fixture's deltas (negative deltas and the default 1000 ms
    date_granularity included)."""
    from fs2_osm_spark.sources.pbf_frames import read_node_info_from_frames

    info = read_node_info_from_frames(spark, _dense_info_fixture())
    return info.select(
        "osm_id",
        F.col("version").cast("bigint").alias("version"),
        "epoch_ms", "changeset", "uid", "user",
    )


def _apply_diff_oracle() -> str:
    from fs2_osm_spark.synth.staging import osm_fixture_path

    nodes = osm_fixture_path("nodes")
    return f"""
    WITH base AS (
        SELECT osm_id, lon, lat, 1 AS version, 'base' AS op, 0 AS rnk
        FROM read_parquet('{nodes}')
    ),
    diff AS (
        SELECT osm_id, lon + 0.001 AS lon, lat, 2 AS version,
               'modify' AS op, 1 AS rnk
        FROM read_parquet('{nodes}') WHERE osm_id % 7 = 0
        UNION ALL
        SELECT osm_id, lon, lat, 3 AS version, 'delete' AS op, 2 AS rnk
        FROM read_parquet('{nodes}') WHERE osm_id % 13 = 0
        UNION ALL
        SELECT 90000000 + i AS osm_id,
               7.0 + i * 0.01 AS lon, 51.0 + i * 0.005 AS lat,
               1 AS version, 'create' AS op, 1 AS rnk
        FROM range(0, 50) t(i)
    ),
    merged AS (
        SELECT osm_id, lon, lat, op,
               row_number() OVER (PARTITION BY osm_id
                                  ORDER BY version DESC, rnk DESC,
                                           lon DESC, lat DESC, op DESC) AS rn
        FROM (SELECT * FROM base UNION ALL SELECT * FROM diff)
    )
    SELECT osm_id,
           CAST(trunc(lon * 1000000.0) AS BIGINT) AS qlon,
           CAST(trunc(lat * 1000000.0) AS BIGINT) AS qlat
    FROM merged WHERE rn = 1 AND op <> 'delete'
    """


@register("osm_apply_diff", oracle=_apply_diff_oracle())
def osm_apply_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OsmChange-style incremental merge (r06, beyond the reference's
    planet-only ingest): a deterministic change set — modify every 7th
    node (+0.001 lon, v2), tombstone every 13th (v3 delete, which also
    overrides the modify where both apply), create 50 new nodes — applied
    with operators/diff.py apply_diff (union -> one key shuffle -> max_by
    (version, op-rank) struct -> drop deletes). The oracle re-derives the
    same change set arithmetically from the staged fixture and merges it
    with a window, so survivor choice, delete-beats-modify ordering, and
    payload propagation are all independently checked."""
    from fs2_osm_spark.operators.diff import apply_diff
    from fs2_osm_spark.pins import persist
    from fs2_osm_spark.synth.staging import ensure_osm_fixture

    ensure_osm_fixture(spark)
    t = osm_tables(spark, N_ZONES)
    # the base feeds four scans (base + three diff branches): cache the
    # tiny synth output once instead of re-running the generator per branch
    # (a session pin — the driver consumes the result lazily;
    # O(nodes-at-256-zones) ~ a few hundred KB)
    base = persist(t["nodes"].select("osm_id", "lon", "lat"))
    modify = base.filter(F.col("osm_id") % 7 == 0).select(
        "osm_id",
        (F.col("lon") + 0.001).alias("lon"),
        "lat",
        F.lit(2).alias("version"),
        F.lit("modify").alias("op"),
    )
    delete = base.filter(F.col("osm_id") % 13 == 0).select(
        "osm_id", "lon", "lat",
        F.lit(3).alias("version"), F.lit("delete").alias("op"),
    )
    create = spark.range(0, 50).select(
        (F.lit(90_000_000) + F.col("id")).alias("osm_id"),
        (F.lit(7.0) + F.col("id") * 0.01).alias("lon"),
        (F.lit(51.0) + F.col("id") * 0.005).alias("lat"),
        F.lit(1).alias("version"),
        F.lit("create").alias("op"),
    )
    diff = modify.unionByName(delete).unionByName(create)
    out = apply_diff(base, diff)
    from fs2_osm_spark.functions.geo import quantize

    return out.select(
        "osm_id",
        quantize(F.col("lon")).alias("qlon"),
        quantize(F.col("lat")).alias("qlat"),
    )


def _pagerank_oracle() -> str:
    """The whole fixed-point PageRank unrolled in DuckDB (the
    sim_kmeans_fit_md5 chained-CTE pattern): edges re-derived from the
    staged fixture's exploded ways_nodes by the idx+1 self-join, then
    PR_ITERS damped update rounds in pure BIGINT arithmetic — `//` here
    and DIV in Spark are both floor on the positive operands, so the twin
    is bit-exact with no float anywhere. MATERIALIZED pins the
    multiply-referenced CTEs (DuckDB inlines by default — the optimizer
    blowup gotcha from the hilbert twin)."""
    from fs2_osm_spark.operators.graph import PR_DAMPING_PCT, PR_SCALE
    from fs2_osm_spark.synth.staging import osm_fixture_path

    wn = osm_fixture_path("ways_nodes")
    d = PR_DAMPING_PCT
    base_num = (100 - d) * PR_SCALE
    parts = [
        f"""
    WITH wn AS (SELECT way_id, idx, node_id FROM read_parquet('{wn}')),
    pairs AS (
        SELECT a.node_id AS u, b.node_id AS v
        FROM wn a JOIN wn b ON a.way_id = b.way_id AND b.idx = a.idx + 1
    ),
    edges AS MATERIALIZED (
        SELECT DISTINCT u, v FROM (
            SELECT u, v FROM pairs
            UNION ALL SELECT v AS u, u AS v FROM pairs
        )
    ),
    deg AS MATERIALIZED (SELECT u, count(*) AS deg FROM edges GROUP BY u),
    nodes AS MATERIALIZED (
        SELECT DISTINCT node_id FROM (
            SELECT u AS node_id FROM edges UNION ALL SELECT v FROM edges
        )
    ),
    nn AS (SELECT count(*) AS n FROM nodes),
    p0 AS (
        SELECT node_id, CAST({PR_SCALE} AS BIGINT) // n AS pr
        FROM nodes CROSS JOIN nn
    )"""
    ]
    prev = "p0"
    for it in range(1, PR_ITERS + 1):
        parts.append(
            f""",
    p{it} AS MATERIALIZED (
        SELECT n0.node_id,
               CAST({base_num} AS BIGINT) // (100 * nn.n)
               + ({d} * COALESCE(s.agg, CAST(0 AS BIGINT))) // 100 AS pr
        FROM nodes n0 CROSS JOIN nn
        LEFT JOIN (
            SELECT e.v AS node_id, sum(p.pr // d.deg) AS agg
            FROM edges e
            JOIN {prev} p ON p.node_id = e.u
            JOIN deg d ON d.u = e.u
            GROUP BY e.v
        ) s ON s.node_id = n0.node_id
    )"""
        )
        prev = f"p{it}"
    parts.append(f"\n    SELECT node_id, pr AS pr_pico FROM {prev}")
    return "".join(parts)


PR_ITERS = 3


@register("graph_pagerank", oracle=_pagerank_oracle())
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Road-network PageRank (junction centrality) over the synthesized
    OSM way graph — the iterative graph-centrality operator of a
    training-data quality pipeline, hard-oracled end-to-end: consecutive
    way nodes become symmetric edges, then PR_ITERS damped rounds in
    BIGINT pico-rank fixed point (operators/graph.py — every step integer
    arithmetic, so the unrolled DuckDB twin matches bit-for-bit; fixture
    == live synth is pinned by the staging anti-drift test). Edges are
    sourced from the STAGED fixture parquet — the very ways_nodes table
    the oracle reads — via the same idx+1 self-join (r08: the r07 version
    derived them from live osm_tables synthesis; reading the identical
    rows removes every cross-engine input-divergence window the
    CORRECTNESS_r07 hash mismatch could have exploited), and the final
    rank vector is materialized through the durable-table swap so the
    returned plan is a plain scan, not the live iteration lineage."""
    from fs2_osm_spark.catalog import swap_durable_result
    from fs2_osm_spark.operators.graph import pagerank_fixed_point
    from fs2_osm_spark.pins import release_pins
    from fs2_osm_spark.synth.staging import ensure_osm_fixture, osm_fixture_path

    ensure_osm_fixture(spark)
    wn = spark.read.parquet(osm_fixture_path("ways_nodes"))
    a = wn.select("way_id", "idx", F.col("node_id").alias("u"))
    b = wn.select(
        "way_id", (F.col("idx") - 1).alias("idx"), F.col("node_id").alias("v")
    )
    pairs = a.join(b, ["way_id", "idx"]).select("u", "v")
    edges = pairs.union(
        pairs.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).distinct()
    pr = pagerank_fixed_point(edges, n_iters=PR_ITERS)
    out = swap_durable_result(
        pr.select("node_id", F.col("pr").alias("pr_pico")), "graph_pagerank"
    )
    release_pins()
    return out
