"""Text-analysis operators over the documents table, all oracle-checked.

Token counting, quality scoring, language ID (marker heuristic), and an
order-sensitive rolling fingerprint — the text half of the training-data
pipeline ops (task brief), expressed with built-in functions (split /
higher-order filter / window lead) so everything stays JVM-side."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fs2_osm_spark.functions.text import (
    LANG_MARKERS,
    h16_sql,
    marker_count_duck,
    marker_count_sql,
)
from fs2_osm_spark.io import load
from fs2_osm_spark.queries.registry import register


@register(
    "text_token_count",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct
    FROM documents
    """,
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    return docs.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_distinct"),
    )


@register(
    "text_quality_score",
    oracle=f"""
    SELECT doc_id,
           CAST(round(CAST(n_chars AS DOUBLE) / len(string_split(text, ' ')), 6) AS DOUBLE)
               AS avg_token_len,
           CAST(round(CAST({marker_count_duck(('the', 'a'))} AS DOUBLE)
               / len(string_split(text, ' ')), 6) AS DOUBLE) AS stopword_ratio,
           (n_chars >= 50 AND n_chars <= 10000) AS length_ok
    FROM documents
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_tok = F.size(toks).cast("double")
    stop = F.expr(marker_count_sql(("the", "a"))).cast("double")
    return docs.select(
        "doc_id",
        F.round(F.col("n_chars").cast("double") / n_tok, 6).alias("avg_token_len"),
        F.round(stop / n_tok, 6).alias("stopword_ratio"),
        ((F.col("n_chars") >= 50) & (F.col("n_chars") <= 10000)).alias("length_ok"),
    )


_lang_counts_duck = {k: marker_count_duck(v) for k, v in LANG_MARKERS.items()}
_l1, _l2, _l3 = LANG_MARKERS.keys()


@register(
    "text_langid",
    oracle=f"""
    SELECT doc_id,
           CASE WHEN c1 >= c2 AND c1 >= c3 THEN '{_l1}'
                WHEN c2 >= c3 THEN '{_l2}'
                ELSE '{_l3}' END AS pred_lang,
           CAST(c1 + c2 + c3 AS BIGINT) AS n_markers
    FROM (
        SELECT doc_id,
               {_lang_counts_duck[_l1]} AS c1,
               {_lang_counts_duck[_l2]} AS c2,
               {_lang_counts_duck[_l3]} AS c3
        FROM documents
    )
    """,
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    c1 = F.expr(marker_count_sql(LANG_MARKERS[_l1]))
    c2 = F.expr(marker_count_sql(LANG_MARKERS[_l2]))
    c3 = F.expr(marker_count_sql(LANG_MARKERS[_l3]))
    base = docs.select("doc_id", c1.alias("c1"), c2.alias("c2"), c3.alias("c3"))
    pred = (
        F.when((F.col("c1") >= F.col("c2")) & (F.col("c1") >= F.col("c3")), _l1)
        .when(F.col("c2") >= F.col("c3"), _l2)
        .otherwise(_l3)
    )
    return base.select(
        "doc_id",
        pred.alias("pred_lang"),
        (F.col("c1") + F.col("c2") + F.col("c3")).cast("bigint").alias("n_markers"),
    )


@register(
    "text_fingerprint",
    oracle=f"""
    SELECT doc_id,
           CAST(sum((pos % 7 + 1) * {h16_sql("w")}) % 1000000007 AS BIGINT)
               AS fingerprint
    FROM (
        SELECT doc_id,
               unnest(string_split(text, ' ')) AS w,
               generate_subscripts(string_split(text, ' '), 1) AS pos
        FROM documents
    ) GROUP BY doc_id
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive document fingerprint: position-weighted 16-bit token
    hashes mod 1e9+7 (rolling-hash family, SQL-portable)."""
    docs = load(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos0", "w")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "w")
    term = (F.col("pos") % 7 + 1) * F.expr(h16_sql("w"))
    return words.groupBy("doc_id").agg(
        (F.sum(term) % 1000000007).cast("bigint").alias("fingerprint")
    )


@register(
    "text_bpe_token_count",
    oracle=r"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))
                AS BIGINT) AS n_bpe_tokens,
           CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_numbers
    FROM documents
    """,
)
def text_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex token counting (letters runs / digit runs / punct),
    the pre-tokenizer split shape; pattern chosen to behave identically
    under Java regex (Spark) and RE2 (DuckDB)."""
    docs = load(spark, sf_dir, "documents")
    pat = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"
    return docs.select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(pat)).cast("bigint").alias("n_bpe_tokens"),
        F.regexp_count(F.col("text"), F.lit("[0-9]+")).cast("bigint").alias("n_numbers"),
    )


PACK_BUDGET = 512


@register(
    "text_pack_bins",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents
    ),
    s AS (
        SELECT doc_id, n_tokens,
               CAST(coalesce(sum(n_tokens) OVER (
                   ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS psum
        FROM t
    )
    SELECT doc_id, n_tokens,
           psum // {PACK_BUDGET} AS bin_id,
           psum % {PACK_BUDGET} AS offset_in_bin
    FROM s
    """,
)
def text_pack_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: token-budget bin assignment over the global doc_id
    order (concat-and-chunk, the LM-training packing shape). The Spark side
    runs the DISTRIBUTED prefix sum (one collected job of range totals,
    then a window per range — operators/packing.py; a global Window would
    collapse to one task); the oracle is DuckDB's single-node window
    cumsum, so the distributed decomposition must reproduce the sequential
    scan exactly."""
    from fs2_osm_spark.operators.packing import pack_token_bins

    docs = load(spark, sf_dir, "documents")
    counted = docs.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tokens"),
    )
    packed = pack_token_bins(counted, "n_tokens", ["doc_id"], PACK_BUDGET)
    return packed.select(
        "doc_id", "n_tokens", "bin_id",
        F.col("offset_in_bin").cast("bigint").alias("offset_in_bin"),
    )


# deterministic mixing weights: keep-permille per source bucket (a "data
# recipe"); unlisted sources fall back to DEFAULT_PERMILLE
MIX_PERMILLE = {"src0": 1000, "src1": 750, "src2": 500, "src3": 250, "src4": 0}
DEFAULT_PERMILLE = 900
TRAIN_PERMILLE = 950  # 95/5 train-val split


def _mix_oracle() -> str:
    from fs2_osm_spark.functions.text import h16_sql

    keep_h = h16_sql("'mix|' || doc_id")
    split_h = h16_sql("'split|' || doc_id")
    cases = " ".join(
        f"WHEN source = '{s}' THEN {p}" for s, p in MIX_PERMILLE.items()
    )
    return f"""
    SELECT doc_id, source,
           ({keep_h} % 1000) < (CASE {cases} ELSE {DEFAULT_PERMILLE} END)
               AS kept,
           CASE WHEN ({split_h} % 1000) < {TRAIN_PERMILLE}
                THEN 'train' ELSE 'val' END AS split
    FROM documents
    """


@register("text_dataset_mix", oracle=_mix_oracle())
def text_dataset_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic dataset mixing + train/val split: per-source keep
    rates (a data recipe) and a 95/5 split, both decided by a content
    hash of the doc id — reproducible across runs, cluster sizes and
    engines (the md5 fragment evaluates identically in Spark and DuckDB),
    and embarrassingly parallel: a pure Column filter, no shuffle, no
    sampling state."""
    from fs2_osm_spark.functions.text import h16_sql

    docs = load(spark, sf_dir, "documents")
    keep_h = F.expr(h16_sql("'mix|' || doc_id"))
    split_h = F.expr(h16_sql("'split|' || doc_id"))
    permille = F.lit(DEFAULT_PERMILLE)
    for s, p in reversed(MIX_PERMILLE.items()):
        permille = F.when(F.col("source") == s, F.lit(p)).otherwise(permille)
    return docs.select(
        "doc_id",
        "source",
        ((keep_h % 1000) < permille).alias("kept"),
        F.when((split_h % 1000) < TRAIN_PERMILLE, F.lit("train"))
        .otherwise(F.lit("val"))
        .alias("split"),
    )


# --- corpus-curation ops: PII redaction + repetition filtering -------------

# cross-engine regexes (same semantics under Java regex and RE2)
EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PHONE_RE = "555-[0-9]{4}"


@register(
    "text_pii_redact",
    oracle=f"""
    WITH aug AS (
        -- deterministic PII is synthesized INTO the input on both sides
        -- (the corpus itself is PII-free, which would make redaction a
        -- no-op test): every doc gains an email, every 3rd a phone
        SELECT doc_id,
               text || ' contact ' || source || '@example.com'
                    || CASE WHEN n_chars % 3 = 0
                            THEN ' call 555-' || CAST(1000 + n_chars % 9000 AS VARCHAR)
                            ELSE '' END AS t
        FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, '{EMAIL_RE}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(t, '{PHONE_RE}')) AS BIGINT) AS n_phones,
           md5(regexp_replace(regexp_replace(t, '{EMAIL_RE}', '<EMAIL>', 'g'),
               '{PHONE_RE}', '<PHONE>', 'g')) AS redacted_md5
    FROM aug
    """,
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (emails + phone patterns -> placeholder tokens), the
    standard pre-training redaction pass. Deterministic PII is injected
    into the corpus identically on both engines; the oracle matches the
    per-doc match counts AND the md5 of the fully redacted text, so a
    regex-semantics or replacement-order divergence breaks the hash.
    Pure Column regexp ops — JVM-side, no shuffle."""
    docs = load(spark, sf_dir, "documents")
    t = F.concat(
        F.col("text"), F.lit(" contact "), F.col("source"),
        F.lit("@example.com"),
        F.when(
            F.col("n_chars") % 3 == 0,
            F.concat(F.lit(" call 555-"),
                     (F.lit(1000) + F.col("n_chars") % 9000).cast("string")),
        ).otherwise(F.lit("")),
    )
    aug = docs.select("doc_id", t.alias("t"))
    redacted = F.regexp_replace(
        F.regexp_replace(F.col("t"), EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
    )
    return aug.select(
        "doc_id",
        F.regexp_count(F.col("t"), F.lit(EMAIL_RE)).cast("bigint").alias("n_emails"),
        F.regexp_count(F.col("t"), F.lit(PHONE_RE)).cast("bigint").alias("n_phones"),
        F.md5(redacted.cast("binary")).alias("redacted_md5"),
    )


@register(
    "text_repetition_filter",
    oracle="""
    WITH toks AS (
        -- parallel unnest = positional zip (DuckDB aligns multiple
        -- unnests), giving (token, position) pairs
        SELECT doc_id, unnest(L) AS w, unnest(range(1, len(L) + 1)) AS pos
        FROM (SELECT doc_id, string_split(text, ' ') AS L FROM documents)
    ),
    grams AS (
        SELECT doc_id, w,
               w || ' ' || lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS g
        FROM toks
    ),
    stats AS (
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(max(cnt) AS BIGINT) AS top_cnt,
               CAST(count(g) AS BIGINT) AS n_grams,
               CAST(count(DISTINCT g) AS BIGINT) AS n_distinct_grams
        FROM (
            SELECT doc_id, w, g,
                   count(*) OVER (PARTITION BY doc_id, w) AS cnt
            FROM grams
        ) GROUP BY doc_id
    )
    SELECT doc_id,
           CAST(round(CAST(top_cnt AS DOUBLE) / n_tokens, 6) AS DOUBLE)
               AS top_token_ratio,
           CAST(round(1.0 - CAST(n_distinct_grams AS DOUBLE) / n_grams, 6)
                AS DOUBLE) AS dup_2gram_ratio,
           (CAST(top_cnt AS DOUBLE) / n_tokens <= 0.2
            AND 1.0 - CAST(n_distinct_grams AS DOUBLE) / n_grams <= 0.9)
               AS keep
    FROM stats
    """,
)
def text_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality filter (Gopher-style): most-frequent-token
    ratio and duplicate-2-gram ratio per document, with a keep flag. One
    explode + one shuffle on doc_id; at 100 TB this is the standard
    map-side-combinable shape (token counts partial-aggregate before the
    shuffle)."""
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos", "w")
    )
    w_ord = Window.partitionBy("doc_id").orderBy("pos")
    grams = toks.select(
        "doc_id", "w",
        F.concat_ws(" ", F.col("w"), F.lead("w").over(w_ord)).alias("g_raw"),
        F.lead("w").over(w_ord).isNotNull().alias("has_next"),
    ).select(
        "doc_id", "w", F.when(F.col("has_next"), F.col("g_raw")).alias("g")
    )
    per_tok = grams.withColumn(
        "cnt", F.count(F.lit(1)).over(Window.partitionBy("doc_id", "w"))
    )
    stats = per_tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.max("cnt").alias("top_cnt"),
        F.count("g").alias("n_grams"),
        F.countDistinct("g").alias("n_distinct_grams"),
    )
    top_ratio = F.col("top_cnt").cast("double") / F.col("n_tokens")
    dup_ratio = F.lit(1.0) - F.col("n_distinct_grams").cast("double") / F.col("n_grams")
    return stats.select(
        "doc_id",
        F.round(top_ratio, 6).cast("double").alias("top_token_ratio"),
        F.round(dup_ratio, 6).cast("double").alias("dup_2gram_ratio"),
        ((top_ratio <= 0.2) & (dup_ratio <= 0.9)).alias("keep"),
    )


@register(
    "text_global_shuffle",
    oracle=f"""
    SELECT doc_id,
           CAST(row_number() OVER (ORDER BY {h16_sql("doc_id || '|shuf'")},
                                   doc_id) - 1 AS BIGINT) AS shuffle_rank
    FROM documents
    """,
)
def text_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch-shuffle rank for training-order assembly: every
    document gets its position in a seeded hash order. The naive Spark
    formulation (row_number over a global ORDER BY with no partitions)
    collapses to ONE task; this runs the hash order through
    distributed_prefix_sum (the same scale-safe machinery sequence packing
    uses), counting 1 per row, so rank assignment parallelizes at any
    corpus size."""
    from fs2_osm_spark.operators.packing import distributed_prefix_sum

    docs = load(spark, sf_dir, "documents")
    h = F.expr(h16_sql("doc_id || '|shuf'")).cast("bigint")
    keyed = docs.select("doc_id").withColumn("h", h).withColumn(
        "one", F.lit(1)
    )
    return distributed_prefix_sum(
        keyed, "one", ["h", "doc_id"], out_col="shuffle_rank"
    ).select("doc_id", "shuffle_rank")


_DECON_N = 5  # n-gram size for contamination matching


@register(
    "text_decontaminate",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ),
    grams AS (
        SELECT doc_id,
               array_to_string(ws[i : i + {_DECON_N} - 1], ' ') AS g
        FROM toks,
             unnest(range(1, len(ws) - {_DECON_N} + 2)) AS t(i)
    ),
    eval_grams AS (
        SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0
    )
    SELECT d.doc_id,
           CAST(count(DISTINCT e.g) AS BIGINT) AS n_hit_grams,
           count(DISTINCT e.g) > 0 AS contaminated
    FROM grams d LEFT JOIN eval_grams e ON d.g = e.g
    WHERE d.doc_id % 97 <> 0
    GROUP BY d.doc_id
    """,
)
def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (r06) — the training-pipeline op that
    removes eval-set leakage: every training document is checked for
    5-gram collisions against the held-out set (docs with id % 97 == 0
    stand in for the benchmark). Scale shape: eval n-grams are a DISTINCT
    projection (small — benchmarks are tiny next to the corpus) joined to
    the exploded training grams on the gram key — an equi-join Spark
    broadcasts when the eval side fits, never an all-pairs comparison.
    The oracle re-derives the same grams and collisions in SQL."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split(F.col("text"), " ").alias("ws"))
    n = F.size("ws")
    # docs shorter than the gram size have no grams: without the filter
    # F.sequence(0, n-5) DESCENDS for n<5 and slice() raises on index 0
    # (DuckDB's range() just emits nothing — a crash or an oracle split)
    toks = toks.filter(n >= _DECON_N)
    grams = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), n - _DECON_N),
                lambda i: F.concat_ws(" ", F.slice("ws", i + 1, _DECON_N)),
            )
        ).alias("g"),
    )
    eval_grams = (
        grams.filter(F.col("doc_id") % 97 == 0).select("g").distinct()
    )
    train = grams.filter(F.col("doc_id") % 97 != 0)
    hits = train.join(
        F.broadcast(eval_grams.withColumn("hit", F.lit(1))), "g", "left"
    )
    return hits.groupBy("doc_id").agg(
        F.count_distinct(F.when(F.col("hit") == 1, F.col("g"))).alias(
            "n_hit_grams"
        ),
        (
            F.count_distinct(F.when(F.col("hit") == 1, F.col("g"))) > 0
        ).alias("contaminated"),
    )


STRAT_KEEP = 50


@register(
    "text_stratified_sample",
    oracle=f"""
    WITH classed AS (
        SELECT doc_id,
               CASE WHEN c1 >= c2 AND c1 >= c3 THEN '{_l1}'
                    WHEN c2 >= c3 THEN '{_l2}'
                    ELSE '{_l3}' END AS pred_lang,
               {h16_sql("CAST(doc_id AS VARCHAR)")} AS h
        FROM (
            SELECT doc_id,
                   {_lang_counts_duck[_l1]} AS c1,
                   {_lang_counts_duck[_l2]} AS c2,
                   {_lang_counts_duck[_l3]} AS c3
            FROM documents
        )
    )
    SELECT doc_id, pred_lang, CAST(rank AS BIGINT) AS rank
    FROM (
        SELECT doc_id, pred_lang,
               row_number() OVER (PARTITION BY pred_lang
                                  ORDER BY h, doc_id) AS rank
        FROM classed
    ) WHERE rank <= {STRAT_KEEP}
    """,
)
def text_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced downsampling (r07): keep the STRAT_KEEP docs with the
    smallest md5 hash per language class — a deterministic per-class
    reservoir (hash order is a uniform random permutation that every
    engine, executor count, and rerun agrees on; no RNG state). The
    balancing step of a training-data mixture: majority classes shrink to
    the cap, minority classes pass through whole.

    Scale shape: one shuffle on the class key + per-class rank. With few
    huge classes the rank itself is the hot-key case — at 10^12 rows use
    operators/sampling.stratified_topk_by_hash, the EXACT two-phase
    decomposition (rank within (class, partition) first — the shuffle key
    includes the partition id, so no hot reducer — then exact-rank the
    bounded survivor set); tests/test_sampling.py pins that it returns
    these exact rows under several partitionings. The oracle pins the
    hash-order semantics both share."""
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    c1 = F.expr(marker_count_sql(LANG_MARKERS[_l1]))
    c2 = F.expr(marker_count_sql(LANG_MARKERS[_l2]))
    c3 = F.expr(marker_count_sql(LANG_MARKERS[_l3]))
    base = docs.select("doc_id", c1.alias("c1"), c2.alias("c2"), c3.alias("c3"))
    pred = (
        F.when((F.col("c1") >= F.col("c2")) & (F.col("c1") >= F.col("c3")), _l1)
        .when(F.col("c2") >= F.col("c3"), _l2)
        .otherwise(_l3)
    )
    h = F.expr(h16_sql("CAST(doc_id AS STRING)"))
    classed = base.select("doc_id", pred.alias("pred_lang"), h.alias("h"))
    w = Window.partitionBy("pred_lang").orderBy("h", "doc_id")
    return (
        classed.select(
            "doc_id", "pred_lang",
            F.row_number().over(w).cast("bigint").alias("rank"),
        )
        .filter(F.col("rank") <= STRAT_KEEP)
    )


SUBSTR_N = 8  # tokens per span for exact substring-level dedup


@register(
    "dedup_exact_substring",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ),
    grams AS (
        SELECT doc_id, array_to_string(ws[i : i + {SUBSTR_N} - 1], ' ') AS g
        FROM toks, unnest(range(1, len(ws) - {SUBSTR_N} + 2)) AS t(i)
        WHERE len(ws) >= {SUBSTR_N}
    ),
    dup AS (
        SELECT g FROM grams GROUP BY g HAVING count(DISTINCT doc_id) >= 2
    )
    SELECT gr.doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(count(d.g) AS BIGINT) AS n_dup_positions,
           CAST(round(count(d.g) * 1.0 / count(*), 6) AS DOUBLE) AS dup_frac
    FROM grams gr LEFT JOIN dup d ON gr.g = d.g
    GROUP BY gr.doc_id
    """,
)
def dedup_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-level dedup (the Lee et al. 2022 'Deduplicating
    Training Data' shape, at span granularity rather than whole-document):
    every {SUBSTR_N}-token span is a candidate; a span occurring in >= 2
    DISTINCT documents is duplicated text, and each document reports how
    much of it is covered by such spans. Scale shape: explode to one row
    per span position, ONE shuffle on the span key to find cross-document
    spans (count distinct doc partial-aggregates map-side), equi-join the
    duplicated-span set back — never an all-pairs document comparison. At
    100 TB the span string would be replaced by its 128-bit hash as the
    join key (constant-width shuffle rows); the string key keeps the
    oracle portable here and the plan identical."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split(F.col("text"), " ").alias("ws"))
    n = F.size("ws")
    toks = toks.filter(n >= SUBSTR_N)
    grams = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), n - SUBSTR_N),
                lambda i: F.concat_ws(" ", F.slice("ws", i + 1, SUBSTR_N)),
            )
        ).alias("g"),
    )
    dup = (
        grams.groupBy("g")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("g", F.lit(1).alias("is_dup"))
    )
    joined = grams.join(dup, "g", "left")
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.count("is_dup").alias("n_dup_positions"),
        F.round(F.count("is_dup") / F.count(F.lit(1)), 6).alias("dup_frac"),
    )


LM_SCALE = 1_000_000  # integer-micro log-probs: exact BIGINT sums both engines


@register(
    "text_lm_quality_score",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ),
    words AS (SELECT doc_id, unnest(ws) AS w FROM toks),
    uni AS (SELECT w, count(*) AS cu FROM words GROUP BY w),
    voc AS (SELECT count(*) AS v FROM uni),
    bi_pos AS (
        SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
        FROM toks, unnest(range(1, len(ws))) AS t(i)
        WHERE len(ws) >= 2
    ),
    bi AS (SELECT w1, w2, count(*) AS cb FROM bi_pos GROUP BY w1, w2),
    scored AS (
        SELECT p.doc_id,
               CAST(floor(ln((b.cb + 1.0) / (u.cu + v.v)) * {LM_SCALE} + 0.5)
                    AS BIGINT) AS q
        FROM bi_pos p
        JOIN bi b ON b.w1 = p.w1 AND b.w2 = p.w2
        JOIN uni u ON u.w = p.w1
        CROSS JOIN voc v
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum(q) AS BIGINT) AS lm_score_micro,
           CAST(round(sum(q) / (count(*) * 1e6), 6) AS DOUBLE) AS avg_logprob
    FROM scored GROUP BY doc_id
    """,
)
def text_lm_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram language-model quality scoring (the KenLM-style perplexity
    filter of CCNet/Gopher pipelines, self-trained): an add-one-smoothed
    word-bigram model is fit on the corpus itself and every document is
    scored by its mean log-probability — low scores flag boilerplate and
    gibberish for the quality gate. Cross-engine exactness: each bigram's
    log-prob is quantized to an INTEGER micro-log (floor(ln(p)*1e6 + 0.5),
    the sim_pq_ann LUT trick), so per-document sums are exact BIGINT
    arithmetic — no float-reduce-order drift. Scale shape: bigram counts
    via a window over ONE shuffle on (w1, w2) (no join back for the count),
    unigram counts broadcast (vocab << corpus; at 100 TB this becomes a
    hash-partitioned equi-join), and the per-document sum partial-aggregates
    map-side."""
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split(F.col("text"), " ").alias("ws"))
    words = toks.select("doc_id", F.explode("ws").alias("w"))
    uni = words.groupBy("w").agg(F.count(F.lit(1)).alias("cu"))
    v = uni.count()  # exact vocab size (one count-distinct shuffle)
    n = F.size("ws")
    pairs = toks.filter(n >= 2).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), n - 2),
                lambda i: F.struct(
                    F.element_at("ws", i + 1).alias("w1"),
                    F.element_at("ws", i + 2).alias("w2"),
                ),
            )
        ).alias("p"),
    ).select("doc_id", "p.w1", "p.w2")
    cb = F.count(F.lit(1)).over(Window.partitionBy("w1", "w2"))
    scored = (
        pairs.withColumn("cb", cb)
        .join(F.broadcast(uni.withColumnRenamed("w", "w1")), "w1")
        .withColumn(
            "q",
            F.floor(
                F.log((F.col("cb") + 1.0) / (F.col("cu") + F.lit(v)))
                * LM_SCALE
                + 0.5
            ).cast("bigint"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum("q").alias("lm_score_micro"),
        F.round(
            F.sum("q") / (F.count(F.lit(1)) * F.lit(1e6)), 6
        ).alias("avg_logprob"),
    )


SNAP_OFFSET = 1_000_000  # second-crawl-snapshot id offset in the pipeline


def _pipeline_oracle() -> str:
    cases = " ".join(
        f"WHEN source = '{s}' THEN {p}" for s, p in MIX_PERMILLE.items()
    )
    keep_h = h16_sql("'mix|' || doc_id")
    split_h = h16_sql("'split|' || doc_id")
    return f"""
    WITH corpus AS (
        SELECT doc_id, text, source, n_chars FROM documents
        UNION ALL
        SELECT doc_id + {SNAP_OFFSET}, text, source, n_chars FROM documents
    ),
    q AS (
        SELECT * FROM corpus
        WHERE n_chars BETWEEN 50 AND 10000
          AND len(string_split(text, ' ')) >= 8
    ),
    dedup AS MATERIALIZED (
        SELECT doc_id, text, source FROM (
            SELECT doc_id, text, source,
                   row_number() OVER (PARTITION BY md5(text)
                                      ORDER BY doc_id) AS rn
            FROM q
        ) WHERE rn = 1
    ),
    toks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM dedup),
    grams AS MATERIALIZED (
        SELECT doc_id,
               array_to_string(ws[i : i + {_DECON_N} - 1], ' ') AS g
        FROM toks, unnest(range(1, len(ws) - {_DECON_N} + 2)) AS t(i)
    ),
    eval_grams AS (SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0),
    contaminated AS (
        SELECT DISTINCT d.doc_id
        FROM grams d JOIN eval_grams e ON d.g = e.g
        WHERE d.doc_id % 97 <> 0
    ),
    clean AS (
        SELECT * FROM dedup
        WHERE doc_id % 97 <> 0
          AND doc_id NOT IN (SELECT doc_id FROM contaminated)
    ),
    mixed AS (
        SELECT doc_id, source,
               CASE WHEN ({split_h} % 1000) < {TRAIN_PERMILLE}
                    THEN 'train' ELSE 'val' END AS split,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM clean
        WHERE ({keep_h} % 1000) < (CASE {cases} ELSE {DEFAULT_PERMILLE} END)
    ),
    s AS (
        SELECT doc_id, source, split, n_tokens,
               CAST(coalesce(sum(n_tokens) OVER (
                   ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS psum
        FROM mixed
    )
    SELECT doc_id, source, split, n_tokens,
           psum // {PACK_BUDGET} AS bin_id,
           psum % {PACK_BUDGET} AS offset_in_bin
    FROM s
    """


@register("text_pipeline_end2end", oracle=_pipeline_oracle())
def text_pipeline_end2end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED training-data pipeline, end to end in one plan: two
    crawl snapshots of the corpus (the union simulates a re-crawl, so
    exact dedup has real work) -> quality gate (length bounds + minimum
    token count) -> exact dedup keeping the earliest snapshot per content
    hash -> benchmark decontamination (drop 5-gram collisions with the
    held-out doc_id % 97 == 0 set, which is itself held out) -> data-recipe
    mixing + 95/5 split (md5 permille) -> token-budget sequence packing
    over the survivors (distributed prefix sum). Every stage is the SAME
    machinery its standalone query oracles individually; this query pins
    that the stages compose — one DuckDB CTE chain re-derives the whole
    pipeline. Scale shape: the only shuffles are the dedup hash partition,
    the gram equi-join (eval side broadcast), and the pack range shuffle —
    filters and the mix are narrow. The mixed survivors are the one durable
    result: the prefix sum reads its input twice (range totals, then the
    windows), and the staged table keeps the dedup and gram joins to one
    run; the packing on top stays lazy."""
    from pyspark.sql import Window

    from fs2_osm_spark.catalog import swap_durable_result
    from fs2_osm_spark.operators.packing import pack_token_bins

    docs = load(spark, sf_dir, "documents")
    base = docs.select("doc_id", "text", "source", "n_chars")
    corpus = base.unionByName(
        base.withColumn("doc_id", F.col("doc_id") + SNAP_OFFSET)
    )
    toks = F.split(F.col("text"), " ")
    q = corpus.filter(
        F.col("n_chars").between(50, 10000) & (F.size(toks) >= 8)
    )
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    dedup = (
        q.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "text", "source")
    )
    grams = dedup.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - _DECON_N),
                lambda i: F.concat_ws(" ", F.slice(toks, i + 1, _DECON_N)),
            )
        ).alias("g"),
    )
    eval_grams = grams.filter(F.col("doc_id") % 97 == 0).select("g").distinct()
    contaminated = (
        grams.filter(F.col("doc_id") % 97 != 0)
        .join(F.broadcast(eval_grams), "g")
        .select("doc_id")
        .distinct()
    )
    clean = dedup.filter(F.col("doc_id") % 97 != 0).join(
        contaminated, "doc_id", "left_anti"
    )
    keep_h = F.expr(h16_sql("'mix|' || doc_id"))
    split_h = F.expr(h16_sql("'split|' || doc_id"))
    permille = F.lit(DEFAULT_PERMILLE)
    for s, p in reversed(MIX_PERMILLE.items()):
        permille = F.when(F.col("source") == s, F.lit(p)).otherwise(permille)
    mixed = clean.filter((keep_h % 1000) < permille).select(
        "doc_id",
        "source",
        F.when((split_h % 1000) < TRAIN_PERMILLE, F.lit("train"))
        .otherwise(F.lit("val"))
        .alias("split"),
        F.size(toks).cast("bigint").alias("n_tokens"),
    )
    mixed = swap_durable_result(mixed, "text_pipeline_end2end")
    packed = pack_token_bins(mixed, "n_tokens", ["doc_id"], PACK_BUDGET)
    return packed.select(
        "doc_id", "source", "split", "n_tokens",
        "bin_id", F.col("offset_in_bin").cast("bigint").alias("offset_in_bin"),
    )


BPE_MERGES = 3


def _bpe_oracle() -> str:
    """BPE training fully re-derived in SQL (the kmeans/pagerank unrolled
    chained-CTE pattern): each round re-counts weighted adjacent pairs,
    picks the (count DESC, left, right) winner, and applies it with the
    stretch-parity closed form of greedy leftmost-non-overlapping merging
    — pair-positions are grouped into maximal consecutive stretches
    (gaps-and-islands) and the odd members are the merge starts, which is
    exactly what the engine's left-to-right fold computes."""
    parts = [
        """
    WITH v AS (
        SELECT word, CAST(count(*) AS BIGINT) AS cnt
        FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        GROUP BY word
    ),
    s0 AS (
        SELECT word, cnt, list_append(string_split(word, ''), '</w>') AS s
        FROM v
    )"""
    ]
    for k in range(BPE_MERGES):
        parts.append(
            f""",
    pos{k} AS MATERIALIZED (
        SELECT word, cnt, i, s[i] AS sym, s[i + 1] AS nxt, len(s) AS L
        FROM s{k}, unnest(range(1, len(s) + 1)) AS t(i)
    ),
    best{k} AS MATERIALIZED (
        SELECT sym AS a, nxt AS b, CAST(sum(cnt) AS BIGINT) AS pc
        FROM pos{k} WHERE i < L
        GROUP BY sym, nxt
        ORDER BY pc DESC, a, b LIMIT 1
    ),
    mark{k} AS (
        SELECT p.word, p.cnt, p.i, p.sym, p.nxt,
               CASE WHEN p.i < p.L AND p.sym = bb.a AND p.nxt = bb.b
                    THEN 1 ELSE 0 END AS is_pair
        FROM pos{k} p CROSS JOIN best{k} bb
    ),
    st{k} AS (
        SELECT word, cnt, i, sym, nxt, is_pair,
               CASE WHEN is_pair = 1 AND
                    (row_number() OVER (PARTITION BY word, is_pair, grp
                                        ORDER BY i)) % 2 = 1
                    THEN 1 ELSE 0 END AS is_start
        FROM (
            SELECT *, i - row_number() OVER (PARTITION BY word, is_pair
                                             ORDER BY i) AS grp
            FROM mark{k}
        )
    ),
    fin{k} AS (
        SELECT word, cnt, i,
               CASE WHEN is_start = 1 THEN sym || nxt ELSE sym END AS sym,
               coalesce(lag(is_start) OVER (PARTITION BY word ORDER BY i), 0)
                   AS prev_start
        FROM st{k}
    ),
    s{k + 1} AS MATERIALIZED (
        SELECT word, cnt, list(sym ORDER BY i) AS s
        FROM fin{k} WHERE prev_start = 0
        GROUP BY word, cnt
    ),
    tot{k + 1} AS (
        SELECT CAST(sum(cnt * len(s)) AS BIGINT) AS t FROM s{k + 1}
    )"""
        )
    selects = "\n    UNION ALL ".join(
        f"SELECT CAST({k + 1} AS BIGINT) AS step, a AS left_sym,"
        f" b AS right_sym, pc AS pair_count, t AS corpus_tokens_after"
        f" FROM best{k} CROSS JOIN tot{k + 1}"
        for k in range(BPE_MERGES)
    )
    parts.append("\n    " + selects)
    return "".join(parts)


@register("text_bpe_train", oracle=_bpe_oracle())
def text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL BPE merge training (Sennrich et al. 2016 — the algorithm
    behind GPT-style tokenizers), distributed and hard-oracled
    end-to-end: BPE_MERGES rounds of weighted pair counting, deterministic
    top-1 selection, and greedy merge application over the corpus
    word-frequency table (operators/bpe.py). Each learned merge depends on
    every previous round's rewritten vocabulary, so the oracle's unrolled
    twin pins the whole iterative computation; outputs one row per merge
    with its pair count and the corpus token total after applying it."""
    import pandas as pd

    from fs2_osm_spark.operators.bpe import bpe_train
    from fs2_osm_spark.pins import release_pins

    docs = load(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    merges, _ = bpe_train(vocab, BPE_MERGES)
    release_pins()  # only the driver-side merge list is returned
    pdf = pd.DataFrame(
        [(k + 1, l, r, pc, ta) for k, (l, r, pc, ta) in enumerate(merges)],
        columns=[
            "step", "left_sym", "right_sym", "pair_count",
            "corpus_tokens_after",
        ],
    )
    return spark.createDataFrame(
        pdf,
        "step long, left_sym string, right_sym string,"
        " pair_count long, corpus_tokens_after long",
    )
