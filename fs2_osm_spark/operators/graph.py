"""Graph centrality over relational edge tables: fixed-point PageRank.

Web-scale training pipelines weight documents by link-graph centrality
(the CommonCrawl harmonic/PageRank quality signals); over the OSM road
network the same operator ranks junction importance. The distributed
shape per iteration is two shuffles — an equi-join of the rank vector to
the edge list on the source key and a groupBy on the destination key —
exactly the join-aggregate pattern that scales with executors; hub
vertices (skewed destination keys) are handled the same way the engine's
other skewed aggregates are (AQE skew split / salting, BENCH/SKEW.md).

Cross-engine exactness: ranks are BIGINT "pico-rank" fixed-point values
(1.0 == 10^12). Every step — the uniform init, each vertex's share
(pr DIV deg), the damped update ((85 * sum) DIV 100) — is integer
arithmetic, so the DuckDB oracle's unrolled-CTE re-derivation matches
bit-for-bit with NO float-reduce-order risk at all (a stronger guarantee
than the round(x, 9) fixed-point pin the k-means twin needs). Mass lost
to integer truncation is bounded by one pico-rank per edge per round and
is identical in both engines by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fs2_osm_spark.pins import checkpoint, unpin

PR_SCALE = 10**12  # 1.0 of rank mass, in pico-rank units
PR_DAMPING_PCT = 85


def pagerank_fixed_point(
    edges: DataFrame, n_iters: int = 3, damping_pct: int = PR_DAMPING_PCT,
    scale: int = PR_SCALE,
) -> DataFrame:
    """PageRank over a DIRECTED edge list ``(u, v)`` (pass both directions
    for an undirected graph). Returns ``(node_id, pr)`` with pr in
    pico-rank BIGINTs after ``n_iters`` damped iterations.

    Sinks (vertices with no out-edges) simply leak their mass — no
    dangling-mass redistribution — which the oracle mirrors; on a
    symmetrized graph there are no sinks. A checkpoint per round truncates
    the growing lineage (the connected-components convention) so the plan
    stays O(1) deep regardless of n_iters; only the result's checkpoint
    outlives the call (a session pin).
    """
    deg = edges.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    nodes = checkpoint(
        edges.select(F.col("u").alias("node_id"))
        .union(edges.select(F.col("v").alias("node_id")))
        .distinct()
    )
    n = nodes.count()
    if n == 0:
        unpin(nodes)
        raise ValueError("pagerank_fixed_point: empty edge list")
    base = (100 - damping_pct) * scale // (100 * n)
    e = checkpoint(edges.join(deg, "u"))  # (u, v, deg): reused per round
    pr = nodes.select(
        "node_id", F.lit(scale // n).cast("bigint").alias("pr")
    )
    for _ in range(n_iters):
        agg = (
            e.join(pr.withColumnRenamed("node_id", "u"), "u")
            .select("v", F.expr("pr DIV deg").alias("share"))
            .groupBy("v")
            .agg(F.sum("share").alias("agg"))
        )
        prev, pr = pr, checkpoint(
            nodes.join(agg, nodes.node_id == agg.v, "left")
            .select(
                "node_id",
                (
                    F.lit(base)
                    + F.expr(
                        f"({damping_pct} * coalesce(agg, cast(0 as bigint)))"
                        " DIV 100"
                    )
                )
                .cast("bigint")
                .alias("pr"),
            )
        )
        unpin(prev)
    unpin(e)
    if n_iters > 0:  # the result reads only its own checkpoint
        unpin(nodes)
    return pr
