"""Second tranche of relational operators: the remaining SURVEY.md §2.3
shapes (R11 derived-table reuse, R21 ST_Collect, R22 ST_Dump, R23
geometry-type filter, D6 summary fold) plus TPC-H-style multi-join
aggregations exercising Catalyst's join reordering and partial aggregation
at depth."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fs2_osm_spark.io import load
from fs2_osm_spark.queries.registry import register


# --------------------------------------------------------------------------
# R21: ST_Collect — gather member geometries into one collection column.
# Analogue: per supplier, the sorted set of part ids supplied (rendered as
# a string so the value hash is array-layout independent).
# --------------------------------------------------------------------------
@register(
    "r21_collect_members",
    oracle="""
    SELECT l_suppkey AS supp_id,
           array_to_string(list_sort(list(DISTINCT l_partkey)), ',') AS members,
           CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_members
    FROM lineitem GROUP BY l_suppkey
    """,
)
def r21_collect_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    members = F.array_sort(F.collect_set("l_partkey"))
    return li.groupBy(F.col("l_suppkey").alias("supp_id")).agg(
        F.concat_ws(",", F.transform(members, lambda x: x.cast("string"))).alias(
            "members"
        ),
        F.count_distinct(F.col("l_partkey")).alias("n_members"),
    )


# --------------------------------------------------------------------------
# R22: ST_Dump — explode a multi-geometry into its component parts.
# Analogue: split each order's lineitems into contiguous runs by returnflag
# (the "parts" of the collection), then explode runs to rows.
# --------------------------------------------------------------------------
@register(
    "r22_dump_parts",
    oracle="""
    SELECT l_orderkey AS order_id, l_returnflag AS part_kind,
           CAST(count(*) AS BIGINT) AS part_size
    FROM lineitem GROUP BY l_orderkey, l_returnflag
    """,
)
def r22_dump_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build the nested collection (order -> [(kind, size)...]) then explode
    it back out — the collect/dump round trip of R21/R22."""
    li = load(spark, sf_dir, "lineitem")
    inner = li.groupBy("l_orderkey", "l_returnflag").agg(
        F.count(F.lit(1)).alias("part_size")
    )
    nested = inner.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_list(F.struct("l_returnflag", "part_size"))).alias(
            "parts"
        )
    )
    return nested.select(
        F.col("l_orderkey").alias("order_id"), F.explode("parts").alias("p")
    ).select(
        "order_id",
        F.col("p.l_returnflag").alias("part_kind"),
        F.col("p.part_size").alias("part_size"),
    )


# --------------------------------------------------------------------------
# R23: geometry-type filter (WHERE ST_GeometryType(geom) = ...).
# Analogue: discriminate rows by a computed type tag, keep one type.
# --------------------------------------------------------------------------
@register(
    "r23_type_filter",
    oracle="""
    SELECT order_id, kind FROM (
        SELECT o_orderkey AS order_id,
               CASE WHEN o_totalprice > 150000 THEN 'multi'
                    WHEN o_totalprice > 50000 THEN 'line'
                    ELSE 'point' END AS kind
        FROM orders
    ) WHERE kind = 'line'
    """,
)
def r23_type_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    kind = (
        F.when(F.col("o_totalprice") > 150000, "multi")
        .when(F.col("o_totalprice") > 50000, "line")
        .otherwise("point")
    )
    return orders.select(
        F.col("o_orderkey").alias("order_id"), kind.alias("kind")
    ).filter(F.col("kind") == "line")


# --------------------------------------------------------------------------
# R11: derived-table reuse — build a derived relation once, feed two
# downstream consumers (the osm_lines -> highways/coastlines shape).
# --------------------------------------------------------------------------
@register(
    "r11_derived_reuse",
    oracle="""
    WITH order_stats AS (
        SELECT l_orderkey AS order_id,
               CAST(count(*) AS BIGINT) AS n_items,
               CAST(round(sum(l_extendedprice), 2) AS DOUBLE) AS total
        FROM lineitem GROUP BY l_orderkey
    )
    SELECT 'big' AS consumer, CAST(count(*) AS BIGINT) AS n,
           CAST(round(sum(total), 2) AS DOUBLE) AS vol
    FROM order_stats WHERE n_items > 4
    UNION ALL
    SELECT 'small' AS consumer, CAST(count(*) AS BIGINT) AS n,
           CAST(round(sum(total), 2) AS DOUBLE) AS vol
    FROM order_stats WHERE n_items <= 4
    """,
)
def r11_derived_reuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fs2_osm_spark.pins import persist

    li = load(spark, sf_dir, "lineitem")
    # compute once, consume twice (D1/R11)
    stats = persist(
        li.groupBy(F.col("l_orderkey").alias("order_id")).agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum("l_extendedprice"), 2).cast("double").alias("total"),
        )
    )
    big = stats.filter(F.col("n_items") > 4).agg(
        F.lit("big").alias("consumer"),
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("total"), 2).cast("double").alias("vol"),
    )
    small = stats.filter(F.col("n_items") <= 4).agg(
        F.lit("small").alias("consumer"),
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("total"), 2).cast("double").alias("vol"),
    )
    return big.unionByName(small)


# --------------------------------------------------------------------------
# D6: Summary monoid fold — merge per-writer (table -> count) maps.
# --------------------------------------------------------------------------
@register(
    "d6_summary_fold",
    oracle="""
    SELECT kind AS table_name, CAST(count(*) AS BIGINT) AS inserted FROM (
        SELECT CASE WHEN event_type IN ('click', 'view') THEN 'nodes'
                    WHEN event_type = 'purchase' THEN 'ways'
                    ELSE 'relations' END AS kind
        FROM events
    ) GROUP BY kind
    """,
)
def d6_summary_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    kind = (
        F.when(F.col("event_type").isin("click", "view"), "nodes")
        .when(F.col("event_type") == "purchase", "ways")
        .otherwise("relations")
    )
    return ev.select(kind.alias("table_name")).groupBy("table_name").agg(
        F.count(F.lit(1)).alias("inserted")
    )


# --------------------------------------------------------------------------
# TPC-H-style depth: shipping-priority (Q3 shape) and local-volume (Q5
# shape) — multi-join + filter + agg + top-k, the plans Catalyst must
# reorder well.
# --------------------------------------------------------------------------
@register(
    "tpch_q3_shipping_priority",
    oracle="""
    SELECT o.o_orderkey AS order_id,
           CAST(round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS DOUBLE)
               AS revenue,
           o.o_orderpriority AS priority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY o.o_orderkey, o.o_orderpriority
    ORDER BY revenue DESC, order_id
    LIMIT 20
    """,
)
def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("o_orderkey").alias("order_id"),
            F.col("o_orderpriority").alias("priority"),
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("order_id"))
        .limit(20)
        .select("order_id", "revenue", "priority")
    )


@register(
    "tpch_q5_local_volume",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS DOUBLE)
               AS revenue
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def tpch_q5_local_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(
            c,
            (o.o_custkey == c.c_custkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
            .cast("double")
            .alias("revenue")
        )
    )


# --------------------------------------------------------------------------
# S2 cell assignment — hard-oracled (r06) by a COMPLETE DuckDB twin of the
# published S2 algorithm: unit-sphere xyz, cube-face dispatch, quadratic
# uv->st, and the 30-level Hilbert walk as a recursive CTE carrying
# (pos, orientation) with the canonical kIJtoPos/kPosToOrientation tables
# rendered as SQL list literals. Signed-int64 view of the uint64 id is
# reproduced with an explicit face>=4 wrap; the level-12 parent is the
# same lsb bit-trick on two's-complement BIGINTs. Both engines matched
# bit-for-bit over the full customer key range at prototype time;
# invariants additionally pinned in tests/test_geo_kernels.py.
# --------------------------------------------------------------------------
def _s2_oracle() -> str:
    from fs2_osm_spark.functions import geo
    from fs2_osm_spark.functions.s2 import _IJ_TO_POS, _POS_TO_ORIENTATION

    ij_to_pos = ",".join(
        str(int(_IJ_TO_POS[o, k])) for o in range(4) for k in range(4)
    )
    pos_to_or = ",".join(str(int(x)) for x in _POS_TO_ORIENTATION)
    lon = geo.synth_lon_sql("c_custkey")
    lat = geo.synth_lat_sql("c_custkey")
    return f"""
    WITH RECURSIVE pts AS (
      SELECT c_custkey AS point_id, {lon} AS lon, {lat} AS lat FROM customer
    ),
    xyz AS (
      SELECT point_id,
             cos(radians(lat)) * cos(radians(lon)) AS x,
             cos(radians(lat)) * sin(radians(lon)) AS y,
             sin(radians(lat)) AS z
      FROM pts
    ),
    faced AS (
      SELECT *,
        CASE WHEN abs(x) >= abs(y) AND abs(x) >= abs(z)
                  THEN CASE WHEN x >= 0 THEN 0 ELSE 3 END
             WHEN abs(y) >= abs(z) THEN CASE WHEN y >= 0 THEN 1 ELSE 4 END
             ELSE CASE WHEN z >= 0 THEN 2 ELSE 5 END END AS face
      FROM xyz
    ),
    fuv AS (
      SELECT point_id, face,
        CASE face WHEN 0 THEN y/x WHEN 1 THEN -x/y WHEN 2 THEN -x/z
                  WHEN 3 THEN z/x WHEN 4 THEN z/y ELSE -y/z END AS u,
        CASE face WHEN 0 THEN z/x WHEN 1 THEN z/y WHEN 2 THEN -y/z
                  WHEN 3 THEN y/x WHEN 4 THEN -x/y ELSE -x/z END AS v
      FROM faced
    ),
    stij AS (
      SELECT point_id, face,
        least(greatest(CAST(floor((CASE WHEN u >= 0 THEN 0.5*sqrt(1+3*u)
            ELSE 1-0.5*sqrt(1-3*u) END) * 1073741824.0) AS BIGINT), 0),
            1073741823) AS i,
        least(greatest(CAST(floor((CASE WHEN v >= 0 THEN 0.5*sqrt(1+3*v)
            ELSE 1-0.5*sqrt(1-3*v) END) * 1073741824.0) AS BIGINT), 0),
            1073741823) AS j
      FROM fuv
    ),
    hil AS (
      SELECT point_id, face, i, j, 0 AS lvl, CAST(0 AS BIGINT) AS pos,
             face % 2 AS orient
      FROM stij
      UNION ALL
      SELECT point_id, face, i, j, lvl + 1,
             pos * 4 + p,
             xor(orient, [{pos_to_or}][p + 1])
      FROM (
        SELECT point_id, face, i, j, lvl, pos, orient,
               [{ij_to_pos}][orient * 4 + ((i >> (29 - lvl)) & 1) * 2
                             + ((j >> (29 - lvl)) & 1) + 1] AS p
        FROM hil WHERE lvl < 30
      )
    ),
    leaf AS (
      SELECT point_id,
             (CASE WHEN face < 4 THEN face ELSE face - 8 END)
               * 2305843009213693952 + pos * 2 + 1 AS s2_l30
      FROM hil WHERE lvl = 30
    )
    SELECT point_id, (s2_l30 & -68719476736) | 68719476736 AS s2_l12, s2_l30
    FROM leaf
    """


@register("geo_s2_cell_assignment", oracle=_s2_oracle())
def geo_s2_cell_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import types as T

    from fs2_osm_spark.functions.geo import synth_lat, synth_lon
    from fs2_osm_spark.functions.s2 import s2_cell_np, s2_parent
    from fs2_osm_spark.rowmap import map_columns

    cust = load(spark, sf_dir, "customer")
    pts = cust.select(
        F.col("c_custkey").alias("point_id"),
        synth_lon(F.col("c_custkey")).alias("lon"),
        synth_lat(F.col("c_custkey")).alias("lat"),
    )

    def cells(lon, lat):
        leaf = s2_cell_np(lon, lat, 30)
        return s2_parent(leaf, 12), leaf

    return map_columns(
        pts, ["point_id"], ["lon", "lat"], cells,
        [T.StructField("s2_l12", T.LongType(), False),
         T.StructField("s2_l30", T.LongType(), False)],
    )


# --------------------------------------------------------------------------
# Grouping sets / rollup — beyond the reference's surface (SURVEY §2.3 notes
# it has none); target-side capability for hierarchical summaries.
# --------------------------------------------------------------------------
@register(
    "agg_rollup",
    oracle="""
    SELECT coalesce(l_returnflag, 'ALL') AS flag,
           coalesce(l_linestatus, 'ALL') AS status,
           CAST(count(*) AS BIGINT) AS n,
           CAST(round(sum(l_quantity), 2) AS DOUBLE) AS qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_quantity"), 2).cast("double").alias("qty"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("flag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("status"),
            "n",
            "qty",
        )
    )


@register(
    "agg_cube",
    oracle="""
    SELECT coalesce(o_orderstatus, 'ALL') AS status,
           coalesce(o_orderpriority, 'ALL') AS priority,
           CAST(count(*) AS BIGINT) AS n
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n",
        )
    )


# --------------------------------------------------------------------------
# Target-side joins beyond the reference's surface (it has only inner /
# lateral-cross / semi — SURVEY §2.3 notes): anti join and null-preserving
# left outer join, both staples of training-data pipelines (e.g. "documents
# with no dedup cluster yet").
# --------------------------------------------------------------------------
@register(
    "r_anti_join",
    oracle="""
    SELECT CAST(c_custkey AS BIGINT) AS cust_id, c_mktsegment AS segment
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def r_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select(
        F.col("c_custkey").cast("bigint").alias("cust_id"),
        F.col("c_mktsegment").alias("segment"),
    )


@register(
    "r_left_outer_join",
    oracle="""
    SELECT CAST(c.c_custkey AS BIGINT) AS cust_id,
           CAST(count(o.o_orderkey) AS BIGINT) AS n_orders,
           CAST(round(coalesce(sum(o.o_totalprice), 0.0), 2) AS DOUBLE) AS total
    FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey
    """,
)
def r_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy(F.col("c_custkey").cast("bigint").alias("cust_id"))
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2)
            .cast("double")
            .alias("total"),
        )
    )


# --------------------------------------------------------------------------
# Exact interpolated percentiles — skew diagnostics (cell-histogram tails
# drive the salting factor).
# --------------------------------------------------------------------------
@register(
    "agg_percentiles",
    oracle="""
    SELECT l_returnflag AS flag,
           CAST(round(quantile_cont(l_extendedprice, 0.5), 4) AS DOUBLE) AS p50,
           CAST(round(quantile_cont(l_extendedprice, 0.95), 4) AS DOUBLE) AS p95
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy(F.col("l_returnflag").alias("flag")).agg(
        F.round(F.percentile("l_extendedprice", F.lit(0.5)), 4)
        .cast("double")
        .alias("p50"),
        F.round(F.percentile("l_extendedprice", F.lit(0.95)), 4)
        .cast("double")
        .alias("p95"),
    )


@register(
    "tpch_q10_returned_items",
    oracle="""
    SELECT c.c_custkey AS cust_id,
           n.n_name AS nation,
           CAST(round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS DOUBLE)
               AS revenue,
           CAST(round(c.c_acctbal, 2) AS DOUBLE) AS acctbal
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
    GROUP BY c.c_custkey, n.n_name, c.c_acctbal
    ORDER BY revenue DESC, cust_id
    LIMIT 20
    """,
)
def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10 shape: who returned the most revenue — fact x 2 dims, returned
    lines only, top-20 with a deterministic tie-break."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            F.col("c_custkey").alias("cust_id"),
            F.col("n_name").alias("nation"),
            F.col("c_acctbal"),
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
            .cast("double")
            .alias("revenue")
        )
        .select(
            "cust_id",
            "nation",
            "revenue",
            F.round("c_acctbal", 2).cast("double").alias("acctbal"),
        )
        .orderBy(F.col("revenue").desc(), F.col("cust_id"))
        .limit(20)
    )


# --------------------------------------------------------------------------
# Sketch aggregates — the approximate layer a 100 TB pipeline actually uses
# (exact distinct/quantiles shuffle every value; sketches are fixed-size
# mergeable state). The oracle pattern: Spark emits the EXACT value (hard
# cross-engine check) plus a boolean asserting its own sketch landed inside
# the sketch's error contract; the DuckDB twin re-derives the exact value
# independently and pins the boolean to TRUE — so a broken or drifting
# sketch breaks the hash even though the sketch itself is approximate.
# --------------------------------------------------------------------------
@register(
    "agg_approx_distinct",
    oracle="""
    SELECT l_returnflag AS flag,
           CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_distinct,
           TRUE AS sketch_within_10pct
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct counting (approx_count_distinct, rsd=0.02)
    checked against the exact count computed in the SAME Spark job; the
    oracle recomputes the exact count in DuckDB and requires the sketch
    error to stay inside 10% (5x the configured rsd — deterministic for a
    given input since the HLL hash is fixed)."""
    li = load(spark, sf_dir, "lineitem")
    agg = li.groupBy(F.col("l_returnflag").alias("flag")).agg(
        F.countDistinct("l_orderkey").alias("exact_distinct"),
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("approx"),
    )
    err = F.abs(F.col("approx") - F.col("exact_distinct")) / F.col(
        "exact_distinct"
    )
    return agg.select(
        "flag",
        F.col("exact_distinct").cast("bigint").alias("exact_distinct"),
        (err <= 0.10).alias("sketch_within_10pct"),
    )


@register(
    "agg_approx_quantiles",
    oracle="""
    SELECT l_returnflag AS flag,
           CAST(round(quantile_disc(l_extendedprice, 0.5), 2) AS DOUBLE)
               AS exact_p50_disc,
           TRUE AS sketch_within_rank_eps
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greenwald-Khanna approximate median (percentile_approx,
    accuracy=10000) checked against its rank-error contract: the sketch's
    answer must lie between the exact 0.5 +/- 3/accuracy quantiles
    (computed exactly in the same job); the oracle re-derives the exact
    discrete median in DuckDB and pins the contract boolean TRUE."""
    li = load(spark, sf_dir, "lineitem")
    eps = 3.0 / 10000.0
    agg = li.groupBy(F.col("l_returnflag").alias("flag")).agg(
        F.expr("percentile(l_extendedprice, 0.5)").alias("exact_cont"),
        F.expr(
            f"percentile(l_extendedprice, array({0.5 - eps}, 0.5, {0.5 + eps}))"
        ).alias("band"),
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("approx"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY l_extendedprice)")
        .alias("exact_disc"),
    )
    ok = (F.col("approx") >= F.element_at("band", 1)) & (
        F.col("approx") <= F.element_at("band", 3)
    )
    return agg.select(
        "flag",
        F.round(F.col("exact_disc"), 2).cast("double").alias("exact_p50_disc"),
        ok.alias("sketch_within_rank_eps"),
    )


@register(
    "table_compaction",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
           TRUE AS compacted_fewer_files
    FROM orders
    """,
)
def table_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction (r06): fragment the orders table into 64 tiny
    parquet files (the shape incremental per-batch appends leave behind),
    compact to target-sized files with operators/maintenance.compact_table
    (coalesce — no shuffle), and emit the row count + key checksum the
    oracle re-derives from the source table, plus the contract boolean
    that compaction actually reduced the file count. Content loss, row
    duplication, or a no-op compaction all break the hash."""
    import shutil
    import tempfile

    from fs2_osm_spark.operators.maintenance import compact_table

    orders = load(spark, sf_dir, "orders")
    frag = tempfile.mkdtemp(prefix="frag_")
    dst = tempfile.mkdtemp(prefix="compact_")
    try:
        orders.repartition(64).write.mode("overwrite").parquet(frag)
        res = compact_table(spark, frag, dst, target_file_mb=256)
        out = spark.read.parquet(dst)
        # materialize before removing the staging dirs the plan reads from
        pdf = out.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("o_orderkey").cast("bigint").alias("key_sum"),
            F.lit(res["files_after"] < res["files_before"]).alias(
                "compacted_fewer_files"
            ),
        ).toPandas()
    finally:
        shutil.rmtree(frag, ignore_errors=True)
        shutil.rmtree(dst, ignore_errors=True)
    return spark.createDataFrame(
        pdf, "n_rows long, key_sum long, compacted_fewer_files boolean"
    )


@register(
    "table_stats",
    oracle="""
    SELECT 'o_orderkey' AS "column",
           CAST(min(o_orderkey) AS VARCHAR) AS min_val,
           CAST(max(o_orderkey) AS VARCHAR) AS max_val,
           CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_nulls,
           TRUE AS ndv_within_10pct
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus',
           CAST(min(o_orderstatus) AS VARCHAR), CAST(max(o_orderstatus) AS VARCHAR),
           CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           TRUE
    FROM orders
    UNION ALL
    SELECT 'o_totalprice',
           CAST(CAST(min(o_totalprice) AS DECIMAL(38,9)) AS VARCHAR),
           CAST(CAST(max(o_totalprice) AS DECIMAL(38,9)) AS VARCHAR),
           CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           TRUE
    FROM orders
    """,
)
def table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog statistics collection (r06): per-column min/max/null-count
    in one aggregate pass (the footer stats scan pruning reads), plus the
    HLL NDV checked against its error contract (exact countDistinct in the
    same job, 10% band at rsd=0.02). The oracle re-derives min/max/nulls
    exactly and pins the NDV contract boolean TRUE."""
    from fs2_osm_spark.operators.maintenance import collect_table_stats

    cols = ["o_orderkey", "o_orderstatus", "o_totalprice"]
    orders = load(spark, sf_dir, "orders")
    stats = collect_table_stats(orders, cols)
    exact_row = orders.agg(
        *[F.countDistinct(c).alias(c) for c in cols]
    ).collect()[0]
    import pandas as pd

    exact = spark.createDataFrame(
        pd.DataFrame(
            {"column": cols, "exact_ndv": [int(exact_row[c]) for c in cols]}
        )
    )
    joined = stats.join(F.broadcast(exact), "column")
    ok = (
        F.abs(F.col("approx_ndv") - F.col("exact_ndv"))
        / F.col("exact_ndv")
        <= 0.10
    )
    return joined.select(
        "column", "min_val", "max_val", "n_nulls",
        ok.alias("ndv_within_10pct"),
    )


@register(
    "join_bucketed_colocated",
    oracle="""
    SELECT o.o_orderpriority AS priority,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(round(sum(l.l_extendedprice), 2) AS DOUBLE) AS revenue
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-once-shuffle join (r06): orders and lineitem are written as
    bucketed+sorted tables CLUSTERED BY the order key into the same bucket
    count, then joined through the catalog — a sort-merge join with NO
    ShuffleExchange on either side (plan pinned by
    tests/test_scale_operators.py; broadcast disabled here so the bucketed
    path is what actually runs). The oracle re-derives the aggregate from
    the raw tables, so a bucket-pruning or bucket-alignment bug that
    drops/duplicates rows breaks the hash."""
    import shutil
    import tempfile
    import uuid

    from fs2_osm_spark.operators.bucketing import (
        colocated_join,
        drop_bucketed,
        write_bucketed,
    )

    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    root = tempfile.mkdtemp(prefix="bucketed_")
    tag = uuid.uuid4().hex[:8]
    ta, tb = f"t_orders_{tag}", f"t_lineitem_{tag}"
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        write_bucketed(o, ta, f"{root}/o", "o_orderkey")
        write_bucketed(
            li.withColumnRenamed("l_orderkey", "o_orderkey"),
            tb, f"{root}/l", "o_orderkey",
        )
        out = (
            colocated_join(spark, ta, tb, "o_orderkey")
            .groupBy(F.col("o_orderpriority").alias("priority"))
            .agg(
                F.count(F.lit(1)).alias("n_items"),
                F.round(F.sum("l_extendedprice"), 2)
                .cast("double")
                .alias("revenue"),
            )
        )
        # materialize before dropping the catalog tables the plan reads
        pdf = out.toPandas()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        drop_bucketed(spark, ta, tb)
        # DROP TABLE on an external (path-option) table keeps the files:
        # delete the staged copies or every run leaks both projections
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(
        pdf, "priority string, n_items long, revenue double"
    )
