"""Deduplication operators — exact, MinHash+LSH, Jaccard verify, SimHash —
all oracle-checked against DuckDB.

Near-duplicates don't exist in the synthetic corpus (500 distinct texts), so
the LSH queries build `corpus = documents UNION ALL mutated(documents)`
(mutant = same text + 3 appended tokens, id + 1,000,000) — both engines
construct it identically, giving the banding/verification path real positives
with known ground truth (each doc should pair with its mutant).

Hashing uses the md5 fragments from functions/text.py so Spark and DuckDB
compute identical signatures; the band self-join itself is the one in
operators/dedup.py. The engine-native fast path (xxhash64, JVM-side) lives
there too and is pinned by pytest instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fs2_osm_spark.functions.text import minhash_sql
from fs2_osm_spark.io import load
from fs2_osm_spark.operators.dedup import _band_join, shingles
from fs2_osm_spark.queries.registry import register

N_HASHES = 8
N_BANDS = 4  # rows per band = 2
MUT_OFFSET = 1_000_000
MUT_SUFFIX = " zzz yyy xxx"

# ---------------------------------------------------------------- SQL ------
_CORPUS_SQL = f"""
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + {MUT_OFFSET} AS doc_id, text || '{MUT_SUFFIX}' AS text
    FROM documents
"""

_SHINGLES_SQL = f"""
    WITH corpus AS ({_CORPUS_SQL}),
    words AS (
        SELECT doc_id,
               unnest(string_split(text, ' ')) AS w,
               generate_subscripts(string_split(text, ' '), 1) AS pos
        FROM corpus
    ),
    grams AS (
        SELECT doc_id,
               w || ' ' || lead(w, 1) OVER win || ' ' || lead(w, 2) OVER win AS sh
        FROM words
        WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
    )
    SELECT doc_id, sh FROM grams WHERE sh IS NOT NULL
"""

_minhash_aggs_sql = ",\n           ".join(
    f"min({minhash_sql('sh', i)}) AS m{i}" for i in range(N_HASHES)
)
_SIGNATURES_SQL = f"""
    WITH shingles AS ({_SHINGLES_SQL})
    SELECT doc_id,
           {_minhash_aggs_sql}
    FROM shingles GROUP BY doc_id
"""

_band_rows_sql = "\n        UNION ALL\n".join(
    f"SELECT doc_id, CAST({b} AS BIGINT) AS band, md5(m{2*b} || m{2*b+1}) AS key "
    f"FROM sigs"
    for b in range(N_BANDS)
)
_LSH_PAIRS_SQL = f"""
    WITH sigs AS ({_SIGNATURES_SQL}),
    bands AS (
        {_band_rows_sql}
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
    WHERE a.doc_id < b.doc_id
"""


# -------------------------------------------------------------- Spark ------
def _corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    mut = docs.select(
        (F.col("doc_id") + MUT_OFFSET).alias("doc_id"),
        F.concat(F.col("text"), F.lit(MUT_SUFFIX)).alias("text"),
    )
    return docs.unionByName(mut)


def _signatures(corpus: DataFrame) -> DataFrame:
    sh = shingles(corpus, "doc_id", "text")
    aggs = [
        F.min(F.expr(minhash_sql("sh", i))).alias(f"m{i}") for i in range(N_HASHES)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def _band_rows(sigs: DataFrame) -> DataFrame:
    bands = F.array(
        *[
            F.struct(
                F.lit(b).cast("bigint").alias("band"),
                F.md5(
                    F.concat(F.col(f"m{2*b}"), F.col(f"m{2*b+1}")).cast("binary")
                ).alias("key"),
            )
            for b in range(N_BANDS)
        ]
    )
    return sigs.select("doc_id", F.explode(bands).alias("bk")).select(
        "doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )


def _lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    bands = _band_rows(_signatures(_corpus(spark, sf_dir)))
    return _band_join(bands, "doc_id").select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
    )


# ------------------------------------------------------------ queries ------
@register(
    "dedup_exact",
    oracle="""
    SELECT doc_id,
           md5(text) AS cluster_id,
           CAST(row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS BIGINT)
               AS dup_rank
    FROM documents
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy; dup_rank > 1 marks removable copies."""
    docs = load(spark, sf_dir, "documents")
    cluster = F.md5(F.col("text").cast("binary"))
    w = Window.partitionBy(cluster).orderBy("doc_id")
    return docs.select(
        "doc_id",
        cluster.alias("cluster_id"),
        F.row_number().over(w).cast("bigint").alias("dup_rank"),
    )


@register("dedup_minhash_signatures", oracle=_SIGNATURES_SQL)
def dedup_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-3-gram shingles -> 8 seeded md5 minhashes per doc."""
    return _signatures(_corpus(spark, sf_dir))


@register("dedup_lsh_pairs", oracle=_LSH_PAIRS_SQL)
def dedup_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding (4 bands x 2 rows): candidate near-duplicate pairs via
    self-join on band keys — each doc should pair with its mutant."""
    return _lsh_pairs(spark, sf_dir)


@register(
    "dedup_jaccard_verify",
    oracle=f"""
    WITH pairs AS ({_LSH_PAIRS_SQL}),
    sh AS (SELECT DISTINCT doc_id, sh FROM ({_SHINGLES_SQL})),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
        SELECT p.doc_a, p.doc_b, count(*) AS i
        FROM pairs p
        JOIN sh x ON x.doc_id = p.doc_a
        JOIN sh y ON y.doc_id = p.doc_b AND y.sh = x.sh
        GROUP BY p.doc_a, p.doc_b
    )
    SELECT i.doc_a, i.doc_b,
           CAST(round(CAST(i.i AS DOUBLE) / (sa.n + sb.n - i.i), 6) AS DOUBLE)
               AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE CAST(i.i AS DOUBLE) / (sa.n + sb.n - i.i) >= 0.5
    """,
)
def dedup_jaccard_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard verification of the LSH candidates (>= 0.5)."""
    pairs = _lsh_pairs(spark, sf_dir)
    sh = shingles(_corpus(spark, sf_dir), "doc_id", "text").distinct()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    x = sh.alias("x")
    y = sh.alias("y")
    inter = (
        pairs.join(x, F.col("x.doc_id") == F.col("doc_a"))
        .join(y, (F.col("y.doc_id") == F.col("doc_b")) & (F.col("y.sh") == F.col("x.sh")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = F.col("i").cast("double") / (F.col("sa.n") + F.col("sb.n") - F.col("i"))
    return (
        inter.join(sa, F.col("sa.doc_id") == F.col("doc_a"))
        .join(sb, F.col("sb.doc_id") == F.col("doc_b"))
        .filter(jac >= 0.5)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


_simhash_bits_sql = " + ".join(
    f"(CASE WHEN sum(2 * (floor(h / {1 << b}) % 2) - 1) > 0 THEN {1 << b} ELSE 0 END)"
    for b in range(16)
)


@register(
    "dedup_simhash16",
    oracle=f"""
    WITH words AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    hashed AS (
        SELECT doc_id,
               (instr('0123456789abcdef', substr(md5(w), 1, 1)) - 1) * 4096
             + (instr('0123456789abcdef', substr(md5(w), 2, 1)) - 1) * 256
             + (instr('0123456789abcdef', substr(md5(w), 3, 1)) - 1) * 16
             + (instr('0123456789abcdef', substr(md5(w), 4, 1)) - 1) AS h
        FROM words
    )
    SELECT doc_id, CAST({_simhash_bits_sql} AS BIGINT) AS simhash
    FROM hashed GROUP BY doc_id
    """,
)
def dedup_simhash16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash over token frequency (portable md5 variant; the
    64-bit xxhash64 fast path is operators/dedup.py::simhash64)."""
    from fs2_osm_spark.functions.text import h16_sql

    docs = load(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("w")
    ).select("doc_id", F.expr(h16_sql("w")).alias("h"))
    bits = None
    for b in range(16):
        weight = F.sum(2 * (F.floor(F.col("h") / (1 << b)) % 2) - 1)
        term = F.when(weight > 0, F.lit(1 << b)).otherwise(F.lit(0))
        bits = term if bits is None else bits + term
    return words.groupBy("doc_id").agg(bits.cast("bigint").alias("simhash"))


def _minhash_cc_oracle() -> str:
    from fs2_osm_spark.synth.staging import dedup_fixture_path

    return f"""
    SELECT id, CAST(cluster AS BIGINT) AS cluster
    FROM read_parquet('{dedup_fixture_path("minhash_cc")}')
    """


@register("dedup_minhash_fast", oracle=_minhash_cc_oracle())
def dedup_minhash_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-native xxhash64 MinHash+LSH+connected-components pipeline,
    hard-oracled (r07) on the fixed synth/docs.py corpus: the committed
    fixture records, by driver-side BRUTE FORCE, the band-fragment
    EQUALITY pairs (plain tuple compare — no banding join, no xxhash band
    keys) pushed through a python union-find — so the distributed banding
    self-join AND the iterative min-label propagation must together
    reproduce first-principles clusters exactly (anti-drift pytest:
    tests/test_dedup_fixture.py). The sf-scaled throughput of the same
    pipeline is what bench.py times (dedup_minhash_fast section)."""
    from fs2_osm_spark.catalog import swap_durable_result
    from fs2_osm_spark.operators.dedup import (
        connected_components,
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from fs2_osm_spark.pins import release_pins
    from fs2_osm_spark.synth.docs import dedup_corpus
    from fs2_osm_spark.synth.staging import ensure_dedup_fixture

    ensure_dedup_fixture(spark)
    sigs = minhash_signatures(dedup_corpus(spark), "doc_id", "text", n_hashes=32)
    pairs = lsh_candidate_pairs(sigs, "doc_id", n_bands=8, n_hashes=32)
    labels = connected_components(pairs)
    # durable, then release: the labels read CC's last checkpoint
    out = swap_durable_result(
        labels.select(
            F.col("id").cast("bigint").alias("id"),
            F.col("cluster").cast("bigint").alias("cluster"),
        ),
        "dedup_minhash_fast",
    )
    release_pins()
    return out


def _simhash_oracle(name: str) -> str:
    from fs2_osm_spark.synth.staging import dedup_fixture_path

    return f"""
    SELECT id_a, id_b, CAST(hamming AS BIGINT) AS hamming
    FROM read_parquet('{dedup_fixture_path(name)}')
    """


@register("dedup_simhash_fast", oracle=_simhash_oracle("simhash_d3"))
def dedup_simhash_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit xxhash64 SimHash + blocked hamming pairs, hard-oracled (r07)
    at the standard near-dup operating point d=3 (4 exact bands of 16 bits
    — ~65k-key bands prune hard at any N; the r02 d=12 setting was a scale
    trap). The committed fixture records the ALL-PAIRS numpy-popcount
    ground truth over the fixed corpus's simhashes, so the pigeonhole
    banding join must find exactly the full d<=3 pair set its recall
    guarantee promises. Larger radii: dedup_simhash_multiprobe."""
    from fs2_osm_spark.operators.dedup import hamming_pairs, simhash64
    from fs2_osm_spark.synth.docs import dedup_corpus
    from fs2_osm_spark.synth.staging import ensure_dedup_fixture

    ensure_dedup_fixture(spark)
    sims = simhash64(dedup_corpus(spark), "doc_id", "text")
    return hamming_pairs(sims, "doc_id", max_distance=3).select(
        "id_a", "id_b", F.col("hamming").cast("bigint").alias("hamming")
    )


@register("dedup_simhash_multiprobe", oracle=_simhash_oracle("simhash_d8"))
def dedup_simhash_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wider-radius SimHash near-dup via 1-bit multi-probe banding,
    hard-oracled (r07) against the same all-pairs popcount fixture at d=8.

    d=8 → 5 bands of ~13 bits: the probe side emits each band key plus its
    ≤1-bit flips (~14 keys/band), buying half the band count of exact
    banding and so squaring the per-band key space (8k vs ~90 keys) —
    candidate volume stays ~linear in N where exact banding at d=8
    degenerates toward all-pairs. The fixture makes the multi-probe recall
    guarantee a hard equality, not a pytest bound."""
    from fs2_osm_spark.operators.dedup import hamming_pairs, simhash64
    from fs2_osm_spark.synth.docs import dedup_corpus
    from fs2_osm_spark.synth.staging import ensure_dedup_fixture

    ensure_dedup_fixture(spark)
    sims = simhash64(dedup_corpus(spark), "doc_id", "text")
    return hamming_pairs(sims, "doc_id", max_distance=8).select(
        "id_a", "id_b", F.col("hamming").cast("bigint").alias("hamming")
    )


@register(
    "dedup_cc_clusters",
    oracle=f"""
    WITH RECURSIVE pairs AS ({_LSH_PAIRS_SQL}),
    edges AS (
        SELECT doc_a AS x, doc_b AS y FROM pairs
        UNION
        SELECT doc_b AS x, doc_a AS y FROM pairs
    ),
    reach(id, lbl) AS (
        SELECT x AS id, x AS lbl FROM edges
        UNION
        SELECT e.x AS id, r.lbl FROM edges e JOIN reach r ON e.y = r.id
    )
    SELECT id, CAST(min(lbl) AS BIGINT) AS cluster
    FROM reach GROUP BY id
    """,
)
def dedup_cc_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components (iterative min-label propagation) over the
    md5-LSH candidate pairs — a HARD oracle for the CC operator itself: the
    DuckDB twin computes the same components by transitive closure
    (recursive CTE), so every label must match exactly. The xxhash64 fast
    path (dedup_minhash_fast) reuses this operator on engine-native pairs."""
    from fs2_osm_spark.catalog import swap_durable_result
    from fs2_osm_spark.operators.dedup import connected_components
    from fs2_osm_spark.pins import release_pins

    pairs = _lsh_pairs(spark, sf_dir).select(
        F.col("doc_a").alias("id_a"), F.col("doc_b").alias("id_b")
    )
    # durable, then release: the labels read CC's last checkpoint
    out = swap_durable_result(connected_components(pairs), "dedup_cc_clusters")
    release_pins()
    return out
