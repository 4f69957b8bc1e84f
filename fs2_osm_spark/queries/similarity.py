"""Similarity search over the embeddings table (array<float> column).

Brute-force cosine top-k is the correctness baseline; the sign-LSH bucket
variant is the scale path (bucket equi-join instead of cross join). Both
oracle-checked: dot products are evaluated as ordered left-folds in double
precision on both engines (Spark `aggregate` over zip_with; DuckDB
list_dot_product), and ranks order by the rounded similarity with an id
tie-break so float last-ulp noise cannot flip the comparison.

The engine-scale ANN path (IVF coarse quantizer + probe) lives in
operators/similarity.py with pytest recall checks.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from fs2_osm_spark.functions.text import h16_sql
from fs2_osm_spark.io import load
from fs2_osm_spark.operators.similarity import (
    brute_force_topk,
    cosine,
    cosine_top_k,
    ivf_assign,
    ivf_centroids,
    ivf_search,
    kmeans_assignments,
    kmeans_fit,
    pq_adc_search,
    pq_codes,
    pq_encode_recon,
    pq_train,
)
from fs2_osm_spark.queries.registry import register

N_QUERIES = 20
TOP_K = 5
LSH_DIMS = (1, 9, 17, 25)  # 1-based dims for the sign-bucket hash
IVF_K = 16
IVF_PROBE = 4
IVF_MOD = 17
PQ_M = 8       # subspaces
PQ_D = 8       # dims per subspace (embeddings are 64-d)
PQ_K = 16      # codewords per subspace -> 4-bit codes


def _corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, v): the embeddings table as a vector corpus."""
    return load(spark, sf_dir, "embeddings").select("vec_id", F.col("embedding").alias("v"))


def _queries(corpus: DataFrame) -> DataFrame:
    """(query_id, qv): the first N_QUERIES corpus vectors as the query set."""
    return corpus.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )


def _md5_centroids(corpus: DataFrame) -> list[tuple[int, np.ndarray]]:
    """The portable coarse quantizer: the IVF_K corpus vectors with
    md5-hash % IVF_MOD == 0 and the smallest (hash, vec_id), numbered in
    that order — the `cents` CTE of the DuckDB twins."""
    h = F.expr(h16_sql("CAST(vec_id AS STRING)")).cast("bigint")
    sampled = (
        corpus.withColumn("h", h)
        .filter(F.pmod(F.col("h"), F.lit(IVF_MOD)) == 0)
        .orderBy("h", "vec_id")
        .limit(IVF_K)
        .collect()
    )
    return [(i, np.asarray(r.v, np.float64)) for i, r in enumerate(sampled)]


def _fixed_codebook(corpus: DataFrame) -> list[np.ndarray]:
    """The fixed PQ codebook: the first PQ_K corpus vectors, split into PQ_M
    sub-slices of PQ_D dims (deterministic, no fit)."""
    rows = corpus.filter(F.col("vec_id") < PQ_K).orderBy("vec_id").collect()
    cmat = np.asarray([r.v for r in rows], np.float64)
    return [cmat[:, m * PQ_D : (m + 1) * PQ_D] for m in range(PQ_M)]


@register(
    "sim_cosine_topk",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               list_dot_product(q.v, c.v)
                 / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v)))
                 AS cos
        FROM e q JOIN e c ON q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
    )
    SELECT query_id, rank, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY round(cos, 7) DESC, neighbor_id) AS BIGINT) AS rank
        FROM scored
    ) WHERE rank <= {TOP_K}
    """,
)
def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: broadcast the (small) query set, score all
    corpus vectors JVM-side via higher-order functions, window top-k."""
    corpus = _corpus(spark, sf_dir)
    return brute_force_topk(corpus, _queries(corpus), TOP_K).select(
        "query_id", "rank", "neighbor_id"
    )


_bucket_sql_terms = " + ".join(
    f"(CASE WHEN embedding[{d}] > 0 THEN {1 << k} ELSE 0 END)"
    for k, d in enumerate(LSH_DIMS)
)


def _lsh_bucket() -> Column:
    """The sign-LSH bucket id of `embedding` (bigint), formula-identical to
    _bucket_sql_terms."""
    bucket = None
    for k, d in enumerate(LSH_DIMS):
        term = F.when(F.element_at("embedding", d) > 0, F.lit(1 << k)).otherwise(0)
        bucket = term if bucket is None else bucket + term
    return bucket.cast("bigint")


@register(
    "sim_lsh_buckets",
    oracle=f"""
    SELECT vec_id, CAST({_bucket_sql_terms} AS BIGINT) AS bucket,
           CAST(label AS BIGINT) AS label
    FROM embeddings
    """,
)
def sim_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucketing: 4 fixed coordinate hyperplanes -> 16 buckets.
    The bucket id is the equi-join key of the ANN path."""
    emb = load(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        _lsh_bucket().alias("bucket"),
        F.col("label").cast("bigint").alias("label"),
    )


@register(
    "sim_bucket_ann",
    oracle=f"""
    WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v,
               CAST({_bucket_sql_terms} AS BIGINT) AS bucket
        FROM embeddings
    ),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               list_dot_product(q.v, c.v)
                 / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v)))
                 AS cos
        FROM e q JOIN e c ON q.bucket = c.bucket AND c.vec_id <> q.vec_id
        WHERE q.vec_id < 50
    )
    SELECT query_id, rank, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY round(cos, 7) DESC, neighbor_id) AS BIGINT) AS rank
        FROM scored
    ) WHERE rank <= 3
    """,
)
def sim_bucket_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via bucket equi-join + exact rerank — no cross join: candidates
    are co-partitioned by bucket (the 10^12-scale join shape)."""
    emb = load(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", F.col("embedding").alias("v"), _lsh_bucket().alias("bucket"))
    q = e.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), "bucket"
    )
    cand = q.join(e, "bucket").filter(F.col("vec_id") != F.col("query_id"))
    return cosine_top_k(cand, 3).select("query_id", "rank", "neighbor_id")


@register(
    "sim_embedding_neardup",
    oracle="""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    p AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               list_dot_product(a.v, b.v)
                 / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
                 AS cos
        FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, CAST(round(cos, 6) AS DOUBLE) AS cos_sim
    FROM p WHERE cos >= 0.35
    """,
)
def sim_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, label-blocked (the blocking
    key bounds the pair explosion — same pattern as LSH banding)."""
    emb = load(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", "label", F.col("embedding").alias("v"))
    a = e.alias("a")
    b = e.alias("b")
    cos = cosine(F.col("a.v"), F.col("b.v"))
    return (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            cos.alias("cos"),
        )
        .filter(F.col("cos") >= 0.35)
        .select("id_a", "id_b", F.round("cos", 6).alias("cos_sim"))
    )


def _ivf_fixture_oracle() -> str:
    from fs2_osm_spark.synth.staging import sim_fixture_path

    return f"""
    SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id,
           CAST(cos_sim AS DOUBLE) AS cos_sim
    FROM read_parquet('{sim_fixture_path("ivf_ann")}')
    """


@register("sim_ivf_ann", oracle=_ivf_fixture_oracle())
def sim_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-native xxhash64 IVF ANN (strided coarse quantizer + n_probe
    inverted-list search + exact rerank), hard-oracled (r07) on the fixed
    synth/vectors.py corpus: the committed fixture records, by driver-side
    BRUTE FORCE (per-pair python-loop cosines — no matmul assign kernel,
    no probe kernel, no broadcast join), the full search result; Spark
    contributed only the two xxhash64 columns, which ARE the sampler's
    definition (anti-drift pytest: tests/test_sim_fixture.py). The
    sf-scaled tables stay covered by the portable md5 twin
    (sim_ivf_ann_md5, full DuckDB re-derivation). Recall vs brute force is
    additionally pinned by tests/test_scale_operators.py."""
    from fs2_osm_spark.synth.staging import ensure_sim_fixture
    from fs2_osm_spark.synth.vectors import sim_corpus

    ensure_sim_fixture(spark)
    corpus = sim_corpus(spark)
    cents = ivf_centroids(corpus, n_centroids=16)
    assigned = ivf_assign(corpus, cents)
    return ivf_search(assigned, cents, _queries(corpus), k=TOP_K, n_probe=4)


def _ivf_md5_oracle(cand_filter: str = "") -> str:
    """Full IVF pipeline re-derived in DuckDB: same md5-strided centroid
    sample, same argmax assignment, same n_probe nearest-list probe, same
    exact rerank with the (round(cos,7) DESC, neighbor_id) tie-break the
    engine's window uses. `cand_filter` narrows the searchable inverted
    lists (metadata-filtered retrieval — sim_ivf_ann_filtered)."""
    h = h16_sql("CAST(vec_id AS VARCHAR)")
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    cent_sel AS (
        SELECT vec_id, v, {h} AS h FROM e
        WHERE {h} % {IVF_MOD} = 0
        ORDER BY h, vec_id LIMIT {IVF_K}
    ),
    cents AS (
        SELECT row_number() OVER (ORDER BY h, vec_id) - 1 AS cid, v AS cv
        FROM cent_sel
    ),
    cos_all AS (
        SELECT e.vec_id, c.cid,
               list_dot_product(e.v, c.cv)
                 / (sqrt(list_dot_product(e.v, e.v))
                    * sqrt(list_dot_product(c.cv, c.cv))) AS cos
        FROM e CROSS JOIN cents c
    ),
    assigned AS (
        SELECT vec_id, cid FROM (
            SELECT vec_id, cid,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY cos DESC, cid) AS rn
            FROM cos_all
        ) WHERE rn = 1{" AND " + cand_filter if cand_filter else ""}
    ),
    probe AS (
        SELECT vec_id AS query_id, cid FROM (
            SELECT vec_id, cid,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY cos DESC, cid) AS rn
            FROM cos_all WHERE vec_id < {N_QUERIES}
        ) WHERE rn <= {IVF_PROBE}
    ),
    scored AS (
        SELECT p.query_id, a.vec_id AS neighbor_id,
               list_dot_product(q.v, n.v)
                 / (sqrt(list_dot_product(q.v, q.v))
                    * sqrt(list_dot_product(n.v, n.v))) AS cos
        FROM probe p
        JOIN assigned a ON a.cid = p.cid AND a.vec_id <> p.query_id
        JOIN e q ON q.vec_id = p.query_id
        JOIN e n ON n.vec_id = a.vec_id
    )
    SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id,
           CAST(round(cos, 6) AS DOUBLE) AS cos_sim
    FROM (
        SELECT query_id, neighbor_id, cos,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY round(cos, 7) DESC, neighbor_id) AS rank
        FROM scored
    ) WHERE rank <= {TOP_K}
    """


@register("sim_ivf_ann_md5", oracle=_ivf_md5_oracle())
def sim_ivf_ann_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with the PORTABLE md5-strided coarse quantizer (the
    verifiable twin of sim_ivf_ann's xxhash64 fast path, same pattern as
    dedup's md5/xxhash pairs): centroid sample, inverted-list assignment,
    n_probe search, exact rerank — the whole pipeline hard-oracled against
    a DuckDB re-derivation. Same plan shape as the fast path (stride
    filter -> TakeOrderedAndProject sample -> broadcast assign -> bucket
    equi-join), so the oracle certifies the real scale machinery."""
    corpus = _corpus(spark, sf_dir)
    cents = _md5_centroids(corpus)
    assigned = ivf_assign(corpus, cents)
    return ivf_search(assigned, cents, _queries(corpus), k=TOP_K, n_probe=IVF_PROBE)


@register(
    "sim_embedding_quantize",
    oracle="""
    WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v,
               list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) AS m
        FROM embeddings
    ),
    q AS (
        SELECT vec_id, v, m,
               list_transform(v, x -> round(x * 127.0 / m)) AS qv
        FROM e
    ),
    d AS (
        SELECT vec_id, v,
               list_transform(qv, x -> x * m / 127.0) AS dv
        FROM q
    )
    SELECT vec_id,
           CAST(round(list_dot_product(v, dv)
                / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(dv, dv))),
                5) AS DOUBLE) AS recon_cos
    FROM d
    """,
)
def sim_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8 embedding quantization (per-vector absmax scale) + dequantize +
    reconstruction cosine — the storage-compression op of an embedding
    pipeline; quantize/dequantize are higher-order Column functions
    (JVM-side), and the oracle mirrors them with DuckDB list lambdas."""
    emb = load(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    e = emb.select("vec_id", v.alias("v")).withColumn(
        "m", F.array_max(F.transform(F.col("v"), lambda x: F.abs(x)))
    )
    qv = F.transform(F.col("v"), lambda x: F.round(x * 127.0 / F.col("m"), 0))
    d = e.withColumn("qv", qv).withColumn(
        "dv", F.transform(F.col("qv"), lambda x: x * F.col("m") / 127.0)
    )
    cos = cosine(F.col("v"), F.col("dv"))
    return d.select("vec_id", F.round(cos, 5).cast("double").alias("recon_cos"))


KMEANS_K = 8


@register(
    "sim_kmeans_assign",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    cents AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < {KMEANS_K}),
    scored AS (
        SELECT e.vec_id, c.cid,
               list_dot_product(e.v, c.cv)
                 / (sqrt(list_dot_product(e.v, e.v))
                    * sqrt(list_dot_product(c.cv, c.cv))) AS cos
        FROM e CROSS JOIN cents c
    )
    SELECT vec_id, CAST(cid AS BIGINT) AS centroid_id FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY cos DESC, cid) AS rn
        FROM scored
    ) WHERE rn = 1
    """,
)
def sim_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The k-means ASSIGNMENT step, hard-oracled: k fixed centroids (the
    first k corpus vectors — deterministic, no fit) and per-vector argmax
    cosine, run through the engine's real assignment kernel (ivf_assign —
    one vectorized numpy matmul per Arrow batch). Proves the Python fast
    path agrees exactly with the SQL argmax; the iterative Lloyd FIT has no
    SQL twin and stays pytest-pinned (sim_kmeans_clusters)."""
    emb = _corpus(spark, sf_dir)
    cents = [
        np.asarray(r.v, np.float64)
        for r in emb.filter(F.col("vec_id") < KMEANS_K).orderBy("vec_id").collect()
    ]
    # the oracle's centroid id is the vec_id: the index equals it only when
    # ids 0..KMEANS_K-1 all exist
    if len(cents) != KMEANS_K:
        raise ValueError(
            f"sim_kmeans_assign needs vec_ids 0..{KMEANS_K - 1}, found {len(cents)}"
        )
    assigned = ivf_assign(emb, list(enumerate(cents)))
    return assigned.select("vec_id", F.col("centroid_id").cast("bigint"))


KMFIT_ITERS = 3
KMFIT_ROUND = 9


def _kmeans_fit_md5_oracle() -> str:
    """Full Lloyd k-means fit UNROLLED in DuckDB SQL: the md5-strided init
    sample, then KMFIT_ITERS chained (assign -> mean-update) CTE pairs —
    per-dim means via the positional unnest zip, centroids quantized to
    KMFIT_ROUND decimals each round (both engines round identically, which
    pins the iteration to a shared fixed point — floating reduce-order
    drift cannot compound across rounds). Empty clusters keep the previous
    centroid via the LEFT JOIN coalesce, mirroring kmeans_fit."""
    h = h16_sql("CAST(vec_id AS VARCHAR)")

    def cos(a: str, b: str) -> str:
        return (
            f"list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a}))"
            f" * sqrt(list_dot_product({b}, {b})))"
        )

    parts = [
        f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    cent_sel AS (
        SELECT vec_id, v, {h} AS h FROM e
        WHERE {h} % {IVF_MOD} = 0
        ORDER BY h, vec_id LIMIT {IVF_K}
    ),
    c0 AS (
        SELECT row_number() OVER (ORDER BY h, vec_id) - 1 AS cid,
               list_transform(v, x -> round(x, {KMFIT_ROUND})) AS cv
        FROM cent_sel
    )"""
    ]
    prev = "c0"
    for it in range(1, KMFIT_ITERS + 1):
        parts.append(
            f""",
    a{it} AS (
        SELECT vec_id, cid FROM (
            SELECT e.vec_id, c.cid,
                   row_number() OVER (PARTITION BY e.vec_id
                                      ORDER BY {cos('e.v', 'c.cv')} DESC,
                                               c.cid) AS rn
            FROM e CROSS JOIN {prev} c
        ) WHERE rn = 1
    ),
    m{it} AS (
        SELECT cid, dim, round(sum(x) / count(*), {KMFIT_ROUND}) AS val
        FROM (
            SELECT a.cid,
                   unnest(range(1, len(e.v) + 1)) AS dim,
                   unnest(e.v) AS x
            FROM a{it} a JOIN e ON e.vec_id = a.vec_id
        ) GROUP BY cid, dim
    ),
    c{it} AS (
        SELECT p.cid, coalesce(n.cv, p.cv) AS cv
        FROM {prev} p LEFT JOIN (
            SELECT cid, list(val ORDER BY dim) AS cv FROM m{it} GROUP BY cid
        ) n ON n.cid = p.cid
    )"""
        )
        prev = f"c{it}"
    parts.append(
        f"""
    SELECT vec_id, CAST(cid AS BIGINT) AS centroid_id,
           CAST(round(cos, 6) AS DOUBLE) AS cos_to_centroid
    FROM (
        SELECT e.vec_id, c.cid, {cos('e.v', 'c.cv')} AS cos,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {cos('e.v', 'c.cv')} DESC,
                                           c.cid) AS rn
        FROM e CROSS JOIN {prev} c
    ) WHERE rn = 1
    """
    )
    return "".join(parts)


@register("sim_kmeans_fit_md5", oracle=_kmeans_fit_md5_oracle())
def sim_kmeans_fit_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ITERATIVE Lloyd fit, hard-oracled end-to-end (r06) — the
    portable twin of sim_kmeans_clusters, same pattern as the md5/xxhash
    dedup pairs: md5-strided init (the sim_ivf_ann_md5 sample), then
    KMFIT_ITERS full distributed assign+update rounds with centroids
    quantized to KMFIT_ROUND decimals per round on BOTH engines (a shared
    fixed point: cross-engine floating reduce-order drift ~1e-13 cannot
    survive the 1e-9 quantizer, so the trajectories stay bit-identical).
    The DuckDB twin unrolls the whole fit as chained SQL CTEs and
    re-derives every assignment and centroid independently."""
    corpus = _corpus(spark, sf_dir)
    init = [(i, np.round(v, KMFIT_ROUND)) for i, v in _md5_centroids(corpus)]
    model = kmeans_fit(
        corpus, k=IVF_K, n_iters=KMFIT_ITERS, init=init,
        round_decimals=KMFIT_ROUND,
    )
    return kmeans_assignments(corpus, model)


def _kmeans_fixture_oracle() -> str:
    from fs2_osm_spark.synth.staging import sim_fixture_path

    return f"""
    SELECT vec_id, CAST(centroid_id AS BIGINT) AS centroid_id,
           CAST(cos_to_centroid AS DOUBLE) AS cos_to_centroid
    FROM read_parquet('{sim_fixture_path("kmeans_clusters")}')
    """


@register("sim_kmeans_clusters", oracle=_kmeans_fixture_oracle())
def sim_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd k-means with the engine-native xxhash64-strided
    init, hard-oracled (r07) on the fixed synth/vectors.py corpus: the
    committed fixture records, by driver-side BRUTE FORCE (python-loop
    cosines, sequential mean updates — none of the matmul assign kernel or
    the (centroid, dim) shuffle aggregate), the full 3-round fit plus the
    final assignments; `round_decimals=9` pins each round to the shared
    fixed point so reduce-order float drift cannot compound (anti-drift
    pytest: tests/test_sim_fixture.py). The sf-scaled tables stay covered
    by the portable md5 twin (sim_kmeans_fit_md5, full unrolled DuckDB
    re-derivation). Returns one row per vector with its cluster and
    similarity to the fitted centroid."""
    from fs2_osm_spark.synth.staging import ensure_sim_fixture
    from fs2_osm_spark.synth.vectors import sim_corpus

    ensure_sim_fixture(spark)
    corpus = sim_corpus(spark)
    model = kmeans_fit(corpus, k=8, n_iters=3, round_decimals=9)
    return kmeans_assignments(corpus, model)


def _pq_oracle() -> str:
    """Product quantization re-derived in SQL: per-subspace argmin over the
    fixed codebook (first PQ_K vectors' sub-slices) using the SAME expanded
    L2 form `x·x - 2 x·c + c·c` the numpy kernel evaluates, 4-bit codes
    packed into one BIGINT, and the reconstruction cosine from the chosen
    codewords."""
    sub = f"v[m.m * {PQ_D} + 1 : m.m * {PQ_D} + {PQ_D}]"
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    ms AS (SELECT unnest(range(0, {PQ_M})) AS m),
    cb AS (
        SELECT m.m, e.vec_id AS code, {sub} AS cw
        FROM e, ms m WHERE e.vec_id < {PQ_K}
    ),
    sub AS (SELECT vec_id, m.m, {sub} AS x FROM e, ms m),
    scored AS (
        SELECT s.vec_id, s.m, c.code,
               list_dot_product(s.x, s.x)
                 - 2 * list_dot_product(s.x, c.cw)
                 + list_dot_product(c.cw, c.cw) AS d2
        FROM sub s JOIN cb c ON c.m = s.m
    ),
    best AS (
        SELECT vec_id, m, code FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id, m
                                         ORDER BY d2, code) AS rn
            FROM scored
        ) WHERE rn = 1
    ),
    recon AS (
        SELECT b.vec_id,
               CAST(sum(b.code * (CAST(1 AS BIGINT) << (4 * b.m))) AS BIGINT)
                   AS pq_code,
               flatten(list(c.cw ORDER BY b.m)) AS rv
        FROM best b JOIN cb c ON c.m = b.m AND c.code = b.code
        GROUP BY b.vec_id
    )
    SELECT r.vec_id, r.pq_code,
           CAST(round(list_dot_product(e.v, r.rv)
                / (sqrt(list_dot_product(e.v, e.v))
                   * sqrt(list_dot_product(r.rv, r.rv))), 5) AS DOUBLE)
               AS recon_cos
    FROM recon r JOIN e ON e.vec_id = r.vec_id
    """


@register("sim_pq_encode", oracle=_pq_oracle())
def sim_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization (r06) — the compression layer of
    billion-scale ANN (IVF-PQ): each 64-d vector splits into 8 subspaces
    encoded as the nearest of 16 fixed codewords (the first 16 corpus
    vectors' sub-slices — deterministic, no fit), 4-bit codes packed into
    one BIGINT (32x compression: 256-byte float32 vector -> one
    8-byte packed long), plus the reconstruction
    cosine measuring quantization quality. The kernel (one numpy matmul
    per subspace per Arrow batch against the codebook it captures) is
    operators/similarity.pq_encode_recon — shared with sim_pq_trained so
    the encode semantics cannot desynchronize; the oracle re-derives
    codes, packing, and reconstruction independently in SQL with the same
    expanded L2 form."""
    corpus = _corpus(spark, sf_dir)
    return pq_encode_recon(corpus, _fixed_codebook(corpus))


PQ_PROBE = 6             # IVF lists probed by ADC search (ADC scoring is
                         # cheap integer lookups, so IVF-PQ probes more
                         # lists than the raw-vector IVF path's 4)
PQ_RERANK = 40           # ADC shortlist size fed to the exact rerank
PQ_LUT_SCALE = 1_000_000  # LUT quantum: 1e-6 of L2² -> exact BIGINT ADC sums


def _pq_ann_oracle() -> str:
    """The COMPLETE IVF-PQ ADC search re-derived in DuckDB: md5-strided
    coarse quantizer, argmax list assignment, per-subspace argmin codes,
    n_probe nearest-list probe, per-query INTEGER lookup tables (same
    floor(d2*scale+0.5) quantization as the numpy side — the ADC sum is
    exact BIGINT arithmetic on both engines, so candidate ranking cannot
    drift on float reduce order), top-RERANK shortlist, exact cosine
    rerank with the engine's (round(cos,7) DESC, id) tie-break."""
    h = h16_sql("CAST(vec_id AS VARCHAR)")
    sub = f"v[m.m * {PQ_D} + 1 : m.m * {PQ_D} + {PQ_D}]"
    d2 = (
        "list_dot_product(s.x, s.x) - 2 * list_dot_product(s.x, c.cw)"
        " + list_dot_product(c.cw, c.cw)"
    )
    cosq = (
        "list_dot_product(q.v, n.v) / (sqrt(list_dot_product(q.v, q.v))"
        " * sqrt(list_dot_product(n.v, n.v)))"
    )
    return f"""
    WITH e AS MATERIALIZED (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    cent_sel AS (
        SELECT vec_id, v, {h} AS h FROM e
        WHERE {h} % {IVF_MOD} = 0
        ORDER BY h, vec_id LIMIT {IVF_K}
    ),
    cents AS MATERIALIZED (
        SELECT row_number() OVER (ORDER BY h, vec_id) - 1 AS cid, v AS cv
        FROM cent_sel
    ),
    cos_all AS MATERIALIZED (
        SELECT e.vec_id, c.cid,
               list_dot_product(e.v, c.cv)
                 / (sqrt(list_dot_product(e.v, e.v))
                    * sqrt(list_dot_product(c.cv, c.cv))) AS cos
        FROM e CROSS JOIN cents c
    ),
    assigned AS MATERIALIZED (
        SELECT vec_id, cid FROM (
            SELECT vec_id, cid,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY cos DESC, cid) AS rn
            FROM cos_all
        ) WHERE rn = 1
    ),
    ms AS (SELECT unnest(range(0, {PQ_M})) AS m),
    cb AS MATERIALIZED (
        SELECT m.m, e.vec_id AS code, {sub} AS cw
        FROM e, ms m WHERE e.vec_id < {PQ_K}
    ),
    sub AS MATERIALIZED (SELECT vec_id, m.m, {sub} AS x FROM e, ms m),
    codes AS MATERIALIZED (
        SELECT vec_id, m, code FROM (
            SELECT s.vec_id, s.m, c.code,
                   row_number() OVER (PARTITION BY s.vec_id, s.m
                                      ORDER BY {d2}, c.code) AS rn
            FROM sub s JOIN cb c ON c.m = s.m
        ) WHERE rn = 1
    ),
    probe AS (
        SELECT vec_id AS query_id, cid FROM (
            SELECT vec_id, cid,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY cos DESC, cid) AS rn
            FROM cos_all WHERE vec_id < {N_QUERIES}
        ) WHERE rn <= {PQ_PROBE}
    ),
    lut AS MATERIALIZED (
        SELECT s.vec_id AS query_id, s.m, c.code,
               CAST(floor(({d2}) * {PQ_LUT_SCALE} + 0.5) AS BIGINT) AS dq
        FROM sub s JOIN cb c ON c.m = s.m
        WHERE s.vec_id < {N_QUERIES}
    ),
    adc AS (
        SELECT p.query_id, a.vec_id AS neighbor_id, sum(l.dq) AS adc
        FROM probe p
        JOIN assigned a ON a.cid = p.cid AND a.vec_id <> p.query_id
        JOIN codes k ON k.vec_id = a.vec_id
        JOIN lut l ON l.query_id = p.query_id AND l.m = k.m
                  AND l.code = k.code
        GROUP BY p.query_id, a.vec_id
    ),
    short AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY adc, neighbor_id) AS rn
            FROM adc
        ) WHERE rn <= {PQ_RERANK}
    )
    SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id,
           CAST(round(cos, 6) AS DOUBLE) AS cos_sim
    FROM (
        SELECT s.query_id, s.neighbor_id, {cosq} AS cos,
               row_number() OVER (PARTITION BY s.query_id
                                  ORDER BY round({cosq}, 7) DESC,
                                           s.neighbor_id) AS rank
        FROM short s
        JOIN e q ON q.vec_id = s.query_id
        JOIN e n ON n.vec_id = s.neighbor_id
    ) WHERE rank <= {TOP_K}
    """


@register("sim_pq_ann", oracle=_pq_ann_oracle())
def sim_pq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ADC search (r07) — the query path a billion-vector index
    actually runs, completing r06's encode-only sim_pq_encode:

    1. index build: md5-strided IVF coarse quantizer (the sim_ivf_ann_md5
       sample), argmax list assignment, then pq_codes drops the raw
       vectors — the searchable index is (vec_id, centroid_id, one packed
       BIGINT of 4-bit codes), 8 bytes of payload per vector;
    2. query side: each of the N_QUERIES queries gets its n_probe nearest
       lists plus an INTEGER lookup table (128 BIGINTs = L2² distances to
       every codeword, floor(d2*1e6+0.5)-quantized) — LUTs are built
       driver-side (O(queries), tiny) and shipped in the broadcast;
    3. ADC scoring is pure JVM Column arithmetic: candidates come from the
       broadcast (query, probed-centroid) equi-join against the code
       index, and the asymmetric distance is the SUM of 8 element_at LUT
       lookups keyed by 4-bit shifts of pq_code — integer-exact, no float
       drift, no Python, no raw vectors touched;
    4. the top-PQ_RERANK shortlist per query (tie-break neighbor_id) is
       broadcast back against the corpus for the exact cosine rerank.

    The DuckDB twin re-derives the whole pipeline — codes, probes, integer
    LUTs, ADC sums, shortlist, rerank — independently in SQL; recall vs
    exact brute force is pinned by tests/test_pq_ann.py."""
    corpus = _corpus(spark, sf_dir)
    cents = _md5_centroids(corpus)
    subs = _fixed_codebook(corpus)

    # compressed index: codes only, vectors dropped
    index = pq_codes(ivf_assign(corpus, cents), subs)

    # query side, driver-built (O(N_QUERIES) rows): probe lists + int LUTs
    q_rows = _queries(corpus).orderBy("query_id").collect()
    return pq_adc_search(
        index,
        corpus,
        q_ids=np.asarray([r.query_id for r in q_rows], np.int64),
        qmat=np.asarray([r.qv for r in q_rows], np.float64),
        cents=np.stack([c for _, c in cents]),
        subs=subs,
        n_probe=PQ_PROBE,
        rerank=PQ_RERANK,
        top_k=TOP_K,
        lut_scale=PQ_LUT_SCALE,
    )


PQ_TRAIN_ITERS = 2
PQ_TRAIN_ROUND = 9


def _pq_trained_oracle() -> str:
    """The per-subspace Lloyd codebook TRAINING unrolled in DuckDB — one
    chained-CTE fit over the exploded (vec, subspace) sub-slices keyed by
    (m, code), L2 assignment with lowest-code ties, per-dim means via the
    positional unnest zip, centroids quantized to PQ_TRAIN_ROUND decimals
    each round (the shared fixed point), empty codes keeping the previous
    codeword — then the final encode/pack/reconstruction from the trained
    codebook, exactly the sim_pq_encode output shape."""
    sub = f"v[m.m * {PQ_D} + 1 : m.m * {PQ_D} + {PQ_D}]"

    def d2(x: str, c: str) -> str:
        return (
            f"list_dot_product({x}, {x}) - 2 * list_dot_product({x}, {c})"
            f" + list_dot_product({c}, {c})"
        )

    parts = [
        f"""
    WITH e AS MATERIALIZED (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    ms AS (SELECT unnest(range(0, {PQ_M})) AS m),
    sub AS MATERIALIZED (SELECT vec_id, m.m, {sub} AS x FROM e, ms m),
    c0 AS (
        SELECT m.m, e.vec_id AS code,
               list_transform({sub}, x -> round(x, {PQ_TRAIN_ROUND})) AS cw
        FROM e, ms m WHERE e.vec_id < {PQ_K}
    )"""
    ]
    prev = "c0"
    for it in range(1, PQ_TRAIN_ITERS + 1):
        parts.append(
            f""",
    a{it} AS (
        SELECT vec_id, m, code FROM (
            SELECT s.vec_id, s.m, c.code,
                   row_number() OVER (PARTITION BY s.vec_id, s.m
                                      ORDER BY {d2('s.x', 'c.cw')},
                                               c.code) AS rn
            FROM sub s JOIN {prev} c ON c.m = s.m
        ) WHERE rn = 1
    ),
    m{it} AS (
        SELECT m, code, dim,
               round(sum(xv) / count(*), {PQ_TRAIN_ROUND}) AS val
        FROM (
            SELECT a.m, a.code,
                   unnest(range(1, len(s.x) + 1)) AS dim,
                   unnest(s.x) AS xv
            FROM a{it} a JOIN sub s ON s.vec_id = a.vec_id AND s.m = a.m
        ) GROUP BY m, code, dim
    ),
    c{it} AS MATERIALIZED (
        SELECT p.m, p.code, coalesce(n.cw, p.cw) AS cw
        FROM {prev} p LEFT JOIN (
            SELECT m, code, list(val ORDER BY dim) AS cw
            FROM m{it} GROUP BY m, code
        ) n ON n.m = p.m AND n.code = p.code
    )"""
        )
        prev = f"c{it}"
    parts.append(
        f""",
    best AS (
        SELECT vec_id, m, code FROM (
            SELECT s.vec_id, s.m, c.code,
                   row_number() OVER (PARTITION BY s.vec_id, s.m
                                      ORDER BY {d2('s.x', 'c.cw')},
                                               c.code) AS rn
            FROM sub s JOIN {prev} c ON c.m = s.m
        ) WHERE rn = 1
    ),
    recon AS (
        SELECT b.vec_id,
               CAST(sum(b.code * (CAST(1 AS BIGINT) << (4 * b.m))) AS BIGINT)
                   AS pq_code,
               flatten(list(c.cw ORDER BY b.m)) AS rv
        FROM best b JOIN {prev} c ON c.m = b.m AND c.code = b.code
        GROUP BY b.vec_id
    )
    SELECT r.vec_id, r.pq_code,
           CAST(round(list_dot_product(e.v, r.rv)
                / (sqrt(list_dot_product(e.v, e.v))
                   * sqrt(list_dot_product(r.rv, r.rv))), 5) AS DOUBLE)
               AS recon_cos
    FROM recon r JOIN e ON e.vec_id = r.vec_id
    """
    )
    return "".join(parts)


@register("sim_pq_trained", oracle=_pq_trained_oracle())
def sim_pq_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAINED PQ codebooks (r07): per-subspace Lloyd refinement of the
    fixed sample codebook — the k-means codebooks a production IVF-PQ
    index actually trains. Each of the 8 subspaces fits its 16 codewords
    independently via the distributed L2 Lloyd loop (operators/
    similarity.pq_train: slice is pure Column work, assignment one numpy
    matmul per Arrow batch, update one (code, dim) shuffle aggregate),
    with codewords quantized to 1e-9 per round on BOTH engines so the
    training trajectory is a shared fixed point; the DuckDB twin unrolls
    the entire fit as chained CTEs keyed by (subspace, code) and
    re-derives init, every assignment, every mean, the final codes,
    packing and reconstruction cosine independently. Codebook quality
    improvement over the fixed sample codebook is pinned by
    tests/test_pq_ann.py."""
    corpus = _corpus(spark, sf_dir)
    trained = pq_train(
        corpus, _fixed_codebook(corpus), n_iters=PQ_TRAIN_ITERS,
        round_decimals=PQ_TRAIN_ROUND,
    )
    return pq_encode_recon(corpus, trained)


ANN_FILTER_SQL = "vec_id % 3 = 0"  # the metadata predicate of the filtered search


@register("sim_ivf_ann_filtered", oracle=_ivf_md5_oracle(ANN_FILTER_SQL))
def sim_ivf_ann_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """METADATA-FILTERED vector search (the filtered-retrieval feature of
    vector stores): each query retrieves top-k only among corpus vectors
    satisfying a metadata predicate. The filter is pushed INTO the
    inverted-list candidate side — `assigned.filter(...)` narrows the
    bucket equi-join's build input before any distance work, so
    selectivity cuts the rerank cost proportionally (the scale win over
    post-filtering a top-k that may then underflow k). Same md5-portable
    quantizer as sim_ivf_ann_md5; the DuckDB twin applies the identical
    predicate to its assigned CTE."""
    corpus = _corpus(spark, sf_dir)
    cents = _md5_centroids(corpus)
    assigned = ivf_assign(corpus, cents).filter(F.expr(ANN_FILTER_SQL))
    return ivf_search(assigned, cents, _queries(corpus), k=TOP_K, n_probe=IVF_PROBE)
