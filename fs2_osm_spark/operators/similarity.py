"""Similarity search operators: brute-force baseline + IVF ANN scale path.

Every search here is candidate generation, then `cosine_top_k`: the exact
cosine rerank ranked by operators/knn.keep_top on round(cos, 7) descending
with the neighbour id as tie-break. Candidates are a broadcast cross join
(brute force), a centroid-id equi-join (IVF), or the ADC shortlist (PQ,
itself a `keep_top` on the integer ADC distance). Self-exclusion
(id != query_id) belongs to candidate generation, never to the tail.

Brute force broadcasts the query set and scores JVM-side (zip_with +
aggregate fold — no UDF). The IVF path builds a deterministic coarse
quantizer (strided sample of the corpus as centroids), assigns vectors to
their nearest centroid with one vectorized numpy matmul per Arrow batch
(a rowmap.map_columns kernel), and probes the n_probe nearest lists at
query time the same way: candidate generation becomes a centroid-id
equi-join instead of a cross join, which is the shape that survives 10^12
rows (lists are range-partitionable, hot lists saltable).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fs2_osm_spark.operators.knn import keep_top
from fs2_osm_spark.rowmap import map_columns


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


def cosine_top_k(
    cand: DataFrame, k: int, query_id_col: str = "query_id",
    query_vec_col: str = "qv", id_col: str = "vec_id", vec_col: str = "v",
) -> DataFrame:
    """(query, rank, neighbor_id, cos_sim) over candidate (query, neighbour)
    pairs: exact cosine, ranked on round(cos, 7) descending, then the
    neighbour id. Keeps every candidate row it is given — a candidate whose
    id equals the query id is ranked like any other."""
    scored = cand.select(
        query_id_col,
        F.col(id_col).alias("neighbor_id"),
        cosine(F.col(query_vec_col), F.col(vec_col)).alias("cos"),
    )
    return keep_top(
        scored, query_id_col, [F.round("cos", 7).desc(), F.col("neighbor_id")], k
    ).select(query_id_col, "rank", "neighbor_id", F.round("cos", 6).alias("cos_sim"))


def brute_force_topk(
    corpus: DataFrame, queries: DataFrame, k: int, id_col: str = "vec_id",
    vec_col: str = "v", query_id_col: str = "query_id", query_vec_col: str = "qv",
) -> DataFrame:
    cand = (
        F.broadcast(queries)
        .crossJoin(corpus)
        .filter(F.col(id_col) != F.col(query_id_col))
    )
    return cosine_top_k(cand, k, query_id_col, query_vec_col, id_col, vec_col)


# ----------------------------------------------------------------- IVF -----
def ivf_centroids(corpus: DataFrame, n_centroids: int, id_col: str = "vec_id",
                  vec_col: str = "v", sample_mod: int = 17) -> list[tuple[int, np.ndarray]]:
    """Deterministic coarse quantizer: hash-strided sample. (K-means would
    refine these; a fixed sample keeps the index reproducible, which the
    resume/lineage story depends on.)

    Scale shape: `xxhash64(id) % sample_mod == 0` thins the corpus ~1/mod in
    a single narrow scan, then orderBy(hash, id).limit(k) compiles to
    TakeOrderedAndProject — a distributed partial top-k with no global sort
    shuffle and no driver-side count. (The previous design ran
    row_number() over an un-partitioned Window plus corpus.count(): a
    single-task full-corpus funnel, the 100 TB scale-killer.) Ordering by
    the hash rather than the id keeps the k survivors spread uniformly
    across the id range — ordering by id would draw every centroid from the
    head of the corpus, skewing id-correlated data to one region. If the
    thinned sample is too small (tiny corpus), fall back to top-k-by-hash
    of the full table.
    """
    by_hash = [F.xxhash64(F.lit(1), F.col(id_col)), F.col(id_col)]
    sampled = (
        corpus.select(id_col, vec_col)
        .filter(F.pmod(F.xxhash64(F.col(id_col)), F.lit(sample_mod)) == 0)
        .orderBy(*by_hash)
        .limit(n_centroids)
        .collect()
    )
    if len(sampled) < n_centroids:
        sampled = (
            corpus.select(id_col, vec_col).orderBy(*by_hash).limit(n_centroids).collect()
        )
    return [(i, np.asarray(r[vec_col], np.float64)) for i, r in enumerate(sampled)]


def _sq_l2(x: np.ndarray, c: np.ndarray, cc: np.ndarray) -> np.ndarray:
    """(rows of x, rows of c) squared L2 in the expanded form
    x·x − 2 x·c + c·c (`cc` = per-row c·c) — the form the DuckDB twins
    evaluate, so both engines take the same decision on near-ties."""
    return np.einsum("ij,ij->i", x, x)[:, None] - 2.0 * (x @ c.T) + cc[None, :]


def _unit(x: np.ndarray) -> np.ndarray:
    return x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-30)


def _nearest(x: np.ndarray, cents: np.ndarray, n: int, metric: str = "cos") -> np.ndarray:
    """(rows, n) indices of the `n` nearest centroids per row of `x`, nearest
    first: highest cosine ("cos") or lowest expanded L2 ("l2"). Ties go to
    the lower centroid index, the (score, cid) order of the SQL twins."""
    if metric == "cos":
        score = -(_unit(x) @ _unit(cents).T)
    else:
        score = _sq_l2(x, cents, np.einsum("ij,ij->i", cents, cents))
    if n == 1:  # first-index argmin: the stable order without a sort
        return np.argmin(score, axis=1)[:, None]
    return np.argsort(score, axis=1, kind="stable")[:, :n]


def ivf_assign(corpus: DataFrame, centroids: list[tuple[int, np.ndarray]],
               vec_col: str = "v", metric: str = "cos") -> DataFrame:
    """Nearest-centroid id per corpus vector, appended as `centroid_id`:
    one matmul per Arrow batch against the centroid matrix captured in the
    kernel (cosine argmax or expanded-L2 argmin, ties to the lower id)."""
    if metric not in ("cos", "l2"):
        raise ValueError(f"unknown metric {metric!r} (cos|l2)")
    cm = np.stack([c for _, c in centroids])
    return map_columns(
        corpus, corpus.columns, [vec_col],
        lambda x: (_nearest(x, cm, 1, metric)[:, 0],),
        [T.StructField("centroid_id", T.LongType(), False)],
    )


def ivf_search(
    assigned: DataFrame,
    centroids: list[tuple[int, np.ndarray]],
    queries: DataFrame,
    k: int,
    n_probe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "v",
    query_id_col: str = "query_id",
    query_vec_col: str = "qv",
) -> DataFrame:
    """Probe the n_probe nearest inverted lists, exact-rerank candidates."""
    cm = np.stack([c for _, c in centroids])
    q = map_columns(
        queries, [query_id_col, query_vec_col], [query_vec_col],
        lambda qv: (list(_nearest(qv, cm, n_probe)),),
        [T.StructField("probe_lists", T.ArrayType(T.LongType()))],
    )
    q = q.select(query_id_col, query_vec_col, F.explode("probe_lists").alias("centroid_id"))
    cand = q.join(assigned, "centroid_id").filter(
        F.col(id_col) != F.col(query_id_col)
    )
    return cosine_top_k(cand, k, query_id_col, query_vec_col, id_col, vec_col)


# ------------------------------------------------------------------ PQ -----
def _pq_check_width(subs: list[np.ndarray]) -> None:
    """4-bit packing needs K <= 16 codewords and <= 15 subspaces: the 16th
    subspace would occupy bits 60-63, where numpy packing wraps to a
    negative BIGINT while the DuckDB twin's code*(1<<(4*m)) overflows
    instead — the cross-engine contract only holds below the sign bit.
    17 codewords would pack wrong codes silently, so this raises."""
    if subs[0].shape[0] > 16 or len(subs) > 15:
        raise ValueError(
            f"PQ 4-bit packing needs <= 16 codewords and <= 15 subspaces, got "
            f"{subs[0].shape[0]} codewords x {len(subs)} subspaces"
        )


def _pq_subspaces(x: np.ndarray, subs: list[np.ndarray]) -> list[np.ndarray]:
    """The per-subspace column slices of `x`; its width must be exactly
    n_sub × d_sub (a wider vector would be encoded on a prefix only)."""
    d_sub = subs[0].shape[1]
    if x.shape[1] != len(subs) * d_sub:
        raise ValueError(
            f"PQ codebook covers {len(subs)} x {d_sub} dims, vectors have width {x.shape[1]}"
        )
    return [x[:, m * d_sub : (m + 1) * d_sub] for m in range(len(subs))]


def _pq_encode(x: np.ndarray, subs: list[np.ndarray]) -> tuple[np.ndarray, np.ndarray]:
    """(codes (n, n_sub), packed int64 (n,)): per subspace the nearest
    codeword by expanded L2 (ties → lowest code), 4 bits per subspace packed
    into one int64."""
    codes = np.stack(
        [_nearest(xm, s, 1, "l2")[:, 0] for xm, s in zip(_pq_subspaces(x, subs), subs)],
        axis=1,
    )
    packed = (codes << (4 * np.arange(len(subs), dtype=np.int64))).sum(axis=1)
    return codes, packed


def pq_codes(
    df: DataFrame,
    subs: list[np.ndarray],
    id_cols: tuple[str, ...] = ("vec_id", "centroid_id"),
    vec_col: str = "v",
) -> DataFrame:
    """Product-quantization encode: the compressed index rows of IVF-PQ.

    Each vector splits into len(subs) subspaces; each subspace is encoded as
    the argmin-L2 codeword index (expanded form x·x − 2 x·c + c·c, ties →
    lowest code) and the 4-bit codes pack into ONE BIGINT — a billion-row
    index is 8 bytes/vector plus ids, small enough to keep hot. One numpy
    matmul per subspace per Arrow batch against the codebook captured in
    the kernel; the payload vector column is DROPPED on output (that is the
    point: ADC search never touches raw vectors until the exact rerank).
    """
    _pq_check_width(subs)
    return map_columns(
        df, [c for c in df.columns if c in id_cols], [vec_col],
        lambda x: (_pq_encode(x, subs)[1],),
        [T.StructField("pq_code", T.LongType(), False)],
    )


def pq_train(
    corpus: DataFrame,
    subs_init: list[np.ndarray],
    n_iters: int = 2,
    round_decimals: int = 9,
    id_col: str = "vec_id",
    vec_col: str = "v",
) -> list[np.ndarray]:
    """Lloyd-refine a PQ codebook per subspace (the k-means PQ codebooks a
    production IVF-PQ index trains, replacing the fixed sample codebook).

    Each subspace's codewords are fitted independently: slice the vector
    column (pure Column ops), run the distributed Lloyd loop with the L2
    metric (PQ encodes by argmin-L2, so training must optimize the same
    objective), centroids quantized to `round_decimals` per round — the
    same cross-engine fixed-point trick as sim_kmeans_fit_md5, which lets
    a DuckDB twin re-derive the whole training trajectory bit-identically.
    Per round this is one narrow Arrow-batch assign pass and one
    (subspace-code, dim) shuffle aggregate; only the tiny k×d codebook
    returns to the driver."""
    d_sub = subs_init[0].shape[1]
    trained: list[np.ndarray] = []
    for m, s0 in enumerate(subs_init):
        sub_corpus = corpus.select(
            id_col,
            F.transform(
                F.slice(F.col(vec_col), m * d_sub + 1, d_sub),
                lambda x: x.cast("double"),
            ).alias("v"),
        )
        init = [
            (j, np.round(s0[j].astype(np.float64), round_decimals))
            for j in range(s0.shape[0])
        ]
        fitted = kmeans_fit(
            sub_corpus, k=len(init), n_iters=n_iters, id_col=id_col,
            vec_col="v", init=init, round_decimals=round_decimals,
            metric="l2",
        )
        trained.append(np.stack([v for _, v in fitted]))
    return trained


def pq_encode_recon(
    corpus: DataFrame,
    subs: list[np.ndarray],
    id_col: str = "vec_id",
    vec_col: str = "v",
) -> DataFrame:
    """(id, pq_code, recon_cos): PQ-encode against `subs` and measure the
    reconstruction cosine — the quality metric of a codebook. The encode
    core of pq_codes (one matmul per subspace per batch) plus the
    reconstruction gather."""
    _pq_check_width(subs)

    def fn(x: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        codes, packed = _pq_encode(x, subs)
        recon = np.concatenate([s[codes[:, m]] for m, s in enumerate(subs)], axis=1)
        num = np.einsum("ij,ij->i", x, recon)
        cos = num / (
            np.sqrt(np.einsum("ij,ij->i", x, x))
            * np.sqrt(np.einsum("ij,ij->i", recon, recon))
        )
        return packed, np.round(cos, 5)

    return map_columns(
        corpus, [id_col], [vec_col], fn,
        [T.StructField("pq_code", T.LongType(), False),
         T.StructField("recon_cos", T.DoubleType(), False)],
    )


def pq_adc_search(
    index: DataFrame,
    corpus: DataFrame,
    q_ids: np.ndarray,
    qmat: np.ndarray,
    cents: np.ndarray,
    subs: list[np.ndarray],
    n_probe: int,
    rerank: int,
    top_k: int,
    lut_scale: int = 1_000_000,
    id_col: str = "vec_id",
    vec_col: str = "v",
) -> DataFrame:
    """ADC search over a pq_codes index — the IVF-PQ query path.

    `index` is the compressed (id, centroid_id, pq_code) table; `corpus`
    the raw-vector table (touched only by the exact rerank of ≤
    len(q_ids)·rerank ids); `q_ids`/`qmat` the query vectors (driver-side —
    O(queries), tiny); `cents` the coarse-quantizer matrix; `subs` the PQ
    codebook sub-matrices.

    Plan shape: the (query, probed-centroid, integer-LUT) rows broadcast
    against the code index — a centroid-id equi-join, never a cross join —
    and the asymmetric distance is len(subs) element_at lookups summed in
    JVM Column arithmetic (integer-exact: LUT entries are
    floor(d2·lut_scale+0.5) BIGINTs, so ranking cannot drift on float
    reduce order). The per-query top-`rerank` shortlist (tie-break
    neighbor id) broadcasts back against the corpus for the exact cosine
    rerank. At 10^12 rows only the 8-byte-payload index shuffles; raw
    vectors stay in columnar storage until the rerank's pruned id probe.
    """
    n_sub = len(subs)
    k = subs[0].shape[0]
    spark = index.sparkSession
    probes = _nearest(qmat, cents, n_probe)
    luts = pq_lut(qmat, subs, lut_scale)
    qdf = spark.createDataFrame(
        pd.DataFrame(
            {
                "query_id": np.repeat(q_ids, n_probe),
                "centroid_id": probes.reshape(-1),
                "qv": [qmat[i].tolist() for i in range(len(q_ids))
                       for _ in range(n_probe)],
                "lut": [luts[i].tolist() for i in range(len(q_ids))
                        for _ in range(n_probe)],
            }
        ),
        "query_id long, centroid_id long, qv array<double>, lut array<bigint>",
    )
    cand = (
        F.broadcast(qdf)
        .join(index, "centroid_id")
        .filter(F.col(id_col) != F.col("query_id"))
    )
    adc = None
    for m in range(n_sub):
        code = (
            F.shiftrightunsigned(F.col("pq_code"), 4 * m)
            .bitwiseAND(F.lit(15))
            .cast("int")
        )
        term = F.element_at(F.col("lut"), code + F.lit(m * k + 1))
        adc = term if adc is None else adc + term
    scored = cand.select(
        "query_id", "qv", F.col(id_col).alias("neighbor_id"), adc.alias("adc")
    )
    # (a two-phase top-rerank — local rank within (query, neighbor-hash
    # bucket) then global — was tried in r08 and measured SLOWER at this
    # scale: the extra 3.8M-row shuffle outweighs the per-query sort it
    # saves. At true cluster scale with orders more candidates per query
    # the two-phase shape is the one to revisit.)
    shortlist = keep_top(
        scored, "query_id", [F.col("adc").asc(), F.col("neighbor_id")], rerank
    ).select("query_id", "qv", "neighbor_id")
    rer = F.broadcast(shortlist).join(
        corpus, F.col(id_col) == F.col("neighbor_id")
    )
    return cosine_top_k(rer, top_k, "query_id", "qv", id_col, vec_col)


def pq_lut(queries: np.ndarray, subs: list[np.ndarray], scale: int) -> np.ndarray:
    """Per-query ADC lookup tables, INTEGER-quantized: entry (m, j) is the
    L2² distance from the query's m-th sub-slice to codeword j, times
    `scale`, floor(x+0.5)-rounded to BIGINT. Integer LUTs make the ADC sum
    exact arithmetic — bit-identical across engines and reduce orders —
    instead of a float knife-edge. Shape (n_queries, n_sub * k), m-major."""
    d2 = [
        _sq_l2(xm, s, np.einsum("ij,ij->i", s, s))
        for xm, s in zip(_pq_subspaces(queries, subs), subs)
    ]
    return np.floor(np.concatenate(d2, axis=1) * scale + 0.5).astype(np.int64)


# -------------------------------------------------------------- k-means ----
def kmeans_fit(
    corpus: DataFrame,
    k: int,
    n_iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "v",
    init: list[tuple[int, np.ndarray]] | None = None,
    round_decimals: int | None = None,
    metric: str = "cos",
) -> list[tuple[int, np.ndarray]]:
    """Distributed Lloyd iterations over an embedding column.

    Init = the deterministic hash-stride sample (ivf_centroids), or an
    injected `init` list (e.g. the portable md5-strided sample). Each round
    is one narrow assign pass (vectorized numpy matmul per Arrow batch) and
    one (centroid, dim) shuffle aggregate; only the k x d centroid matrix —
    tiny — returns to the driver between rounds, so the plan scales with
    executors while the loop stays O(n_iters) jobs. Reproducible up to
    floating-sum reduce order (assignments are argmax over cosines, robust
    to last-ulp drift except on exact ties); `round_decimals` quantizes the
    updated centroids each round, pinning the iteration to a cross-engine
    fixed point so an independent re-derivation (the sim_kmeans_fit_md5
    DuckDB twin) lands on bit-identical centroids.
    """
    centroids = init if init is not None else ivf_centroids(corpus, k, id_col, vec_col)
    if not centroids:
        raise ValueError("kmeans_fit: corpus is empty — no vectors to seed centroids")
    for _ in range(n_iters):
        assigned = ivf_assign(corpus, centroids, vec_col, metric)
        stats = (
            assigned.select(
                "centroid_id", F.posexplode(F.col(vec_col)).alias("dim", "x")
            )
            .groupBy("centroid_id", "dim")
            .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        if not stats:
            # empty corpus (or all-null vectors): nothing to update —
            # keep the seed centroids rather than crash on max() of []
            return centroids
        dim = len(centroids[0][1])
        sums: dict[int, np.ndarray] = {}
        counts: dict[int, int] = {}
        for r in stats:
            sums.setdefault(r.centroid_id, np.zeros(dim))[r.dim] = r.s
            counts[r.centroid_id] = r.n
        centroids = [
            (
                c,
                sums[c] / counts[c] if c in sums else vec,  # empty list keeps seed
            )
            for c, vec in centroids
        ]
        if round_decimals is not None:
            centroids = [(c, np.round(v, round_decimals)) for c, v in centroids]
    return centroids


def kmeans_assignments(
    corpus: DataFrame,
    centroids: list[tuple[int, np.ndarray]],
    id_col: str = "vec_id",
    vec_col: str = "v",
) -> DataFrame:
    """(id, centroid_id, cos to own centroid) for a fitted model."""
    assigned = ivf_assign(corpus, centroids, vec_col)
    spark = corpus.sparkSession
    cdf = F.broadcast(
        spark.createDataFrame(
            pd.DataFrame(
                {"centroid_id": [c for c, _ in centroids],
                 "cvec": [v.tolist() for _, v in centroids]}
            ),
            "centroid_id long, cvec array<double>",
        )
    )
    return assigned.join(cdf, "centroid_id").select(
        id_col,
        "centroid_id",
        F.round(cosine(F.col(vec_col), F.col("cvec")), 6).alias("cos_to_centroid"),
    )
