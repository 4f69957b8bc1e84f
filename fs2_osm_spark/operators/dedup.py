"""Engine-native dedup operators — the scale path.

Unlike queries/dedup.py (md5 fragments chosen for cross-engine oracle
parity), these use xxhash64 — Spark's JVM-side 64-bit hash — so the whole
MinHash/SimHash pipeline stays inside whole-stage codegen: shingles slide
an n-gram window over each document's word array (no shuffle), hashing is
a Catalyst expression, signatures are plain min() aggregates. No Python in
the hot path at all.

Clustering uses iterative min-label propagation over the candidate-pair
graph (connected components), a bounded number of self-join rounds — the
set-based replacement for a driver-side union-find.

Near-dup pairing is ONE banded self-join for every hash family: MinHash
LSH bands here, md5 bands in queries/dedup.py, SimHash and perceptual
hashes through ``hamming_pairs`` (operators/multimodal.phash_band_pairs).
``band_cols`` is the one 64-bit band-key definition and ``_band_join`` the
one join body: it pins its band rows with a lazy session ``persist``
(fs2_osm_spark.pins) — zero jobs at compose time, where even
localCheckpoint(eager=False) would materialize the upstream shuffle stages
under AQE — joins on (band, key, id_a < id_b) and dedupes each pair once.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# release_pins is re-exported: existing callers import it from here
from fs2_osm_spark.pins import checkpoint, persist, release_pins, unpin  # noqa: F401


def shingles(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(id, shingle) word n-grams. JVM-side, narrow: split once, slide the
    n-gram window over the WORD ARRAY with transform(sequence(...)), then
    explode. The r07 formulation posexploded words and ran lead() over a
    per-document window — a full shuffle+sort of every word in the corpus
    just to look one row ahead; the array form emits identical shingles
    (verified multiset-equal) with no exchange at all, so the minhash
    pipeline's only shuffle is its signature groupBy.

    The split lands behind an explode(array(...)) Generate node ON
    PURPOSE: referencing the raw split(...) expression from inside the
    transform lambda re-evaluates the split per emitted element (the
    projection-collapse/inlining trap — measured 4x SLOWER than the
    window it replaced); the Generate is a projection barrier, so the
    lambda reads a materialized array attribute instead."""
    ws_df = df.select(
        F.col(id_col),
        F.explode(F.array(F.split(F.col(text_col), " "))).alias("_ws"),
    ).filter(F.size("_ws") >= n)
    ws = F.col("_ws")
    grams = F.transform(
        F.sequence(F.lit(0), F.size(ws) - n),
        lambda i: F.concat_ws(
            " ", *[F.element_at(ws, (i + j + 1).cast("int")) for j in range(n)]
        ),
    )
    return ws_df.select(F.col(id_col), F.explode(grams).alias("sh"))


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, n_hashes: int = 32, shingle_n: int = 3
) -> DataFrame:
    """(id, sig array<bigint>): n_hashes seeded xxhash64 minima."""
    sh = shingles(df, id_col, text_col, shingle_n)
    aggs = [
        F.min(F.xxhash64(F.lit(i), F.col("sh"))).alias(f"m{i}")
        for i in range(n_hashes)
    ]
    sigs = sh.groupBy(id_col).agg(*aggs)
    return sigs.select(
        id_col, F.array(*[F.col(f"m{i}") for i in range(n_hashes)]).alias("sig")
    )


def lsh_candidate_pairs(
    sigs: DataFrame, id_col: str, n_bands: int, n_hashes: int
) -> DataFrame:
    """Candidate pairs: band the signature array (one xxhash64 key per
    band of n_hashes/n_bands minima) and pair ids through ``_band_join``.

    n_hashes (the signature length) is required: composing this operator
    must never trigger a Spark job, and inferring the length from data would
    execute the whole upstream signature pipeline once just to measure the
    array — a cost a 100 TB caller must not pay.
    """
    rows_per_band = n_hashes // n_bands
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(
                    *[F.col("sig")[b * rows_per_band + r] for r in range(rows_per_band)]
                ).alias("key"),
            )
            for b in range(n_bands)
        ]
    )
    banded = sigs.select(F.col(id_col), F.explode(bands).alias("bk")).select(
        id_col, "bk.band", "bk.key"
    )
    return _band_join(banded, id_col)


def connected_components(
    pairs: DataFrame, max_iters: int = 10
) -> DataFrame:
    """(id, cluster) via min-label propagation over undirected pairs.

    Each round joins current labels across edges and takes the min —
    converges in O(diameter) rounds; near-dup clusters are tiny, so
    max_iters=10 is far beyond any realistic diameter. Converged means a
    round changed no label; if none of the ``max_iters`` rounds did, the
    labels may still be split and RuntimeError is raised instead.
    Deterministic. Only the result's checkpoint outlives the call (a
    session pin).
    """
    # pin the pair list first — the symmetric union would otherwise compute
    # the upstream pair-generation pipeline twice; then pin the edge list so
    # iterations never reach upstream at all. No distinct() on the
    # symmetric union (r08): id_a < id_b makes the two directions disjoint,
    # and the per-round min() aggregate is duplicate-insensitive anyway —
    # the distinct was a whole extra shuffle of the edge list for nothing.
    pairs = checkpoint(pairs)
    edges = checkpoint(
        pairs.select(F.col("id_a").alias("x"), F.col("id_b").alias("y")).unionByName(
            pairs.select(F.col("id_b").alias("x"), F.col("id_a").alias("y"))
        )
    )
    unpin(pairs)
    labels = (
        edges.select(F.col("x").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("cluster"))
    )
    new_labels = None
    for _ in range(max_iters):
        # one join + ONE aggregation per round (r08): the self label and
        # every neighbor label land in a union keyed by id, and a single
        # groupBy takes min over {self} ∪ {neighbors} — identical to the
        # classic least(self, coalesce(neighbor_min, self)) but without
        # the separate neighbor_min groupBy AND the left join back onto
        # labels (a whole label-vector shuffle per round). The convergence
        # flag (new < old self label) rides on the same aggregation; its
        # check is a narrow scan of the checkpointed output.
        own = labels.select("id", "cluster", F.lit(True).alias("_own"))
        nbr = edges.join(labels, edges.y == labels.id).select(
            F.col("x").alias("id"), F.col("cluster"), F.lit(False).alias("_own")
        )
        prev, new_labels = new_labels, checkpoint(  # truncate the plan
            own.unionByName(nbr)
            .groupBy("id")
            .agg(
                F.min("cluster").alias("cluster"),
                F.min(F.when(F.col("_own"), F.col("cluster"))).alias("_old"),
            )
            .select(
                "id", "cluster", (F.col("cluster") < F.col("_old")).alias("_chg")
            )
        )
        unpin(prev)  # nothing reads the previous round now
        labels = new_labels.select("id", "cluster")
        if new_labels.filter(F.col("_chg")).limit(1).count() == 0:
            break
    else:
        unpin(new_labels)
        unpin(edges)
        raise RuntimeError(
            f"connected_components: labels still changing after "
            f"max_iters={max_iters} rounds (a component's diameter "
            f"exceeds the cap); raise max_iters"
        )
    unpin(edges)  # the result reads only its own checkpoint
    return labels


def simhash64(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash from xxhash64 token hashes — 64 JVM-side aggregates.

    Near-dup detection then filters on hamming distance:
    bit_count(a ^ b) <= t (see hamming_pairs).
    """
    words = df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("w")
    ).select(id_col, F.xxhash64("w").alias("h"))
    bits = None
    for b in range(64):
        weight = F.sum(
            2 * F.shiftrightunsigned(F.col("h"), b).bitwiseAND(F.lit(1)) - 1
        )
        term = F.when(weight > 0, F.lit(1 << b if b < 63 else -(1 << 63))).otherwise(
            F.lit(0)
        )
        bits = term if bits is None else bits + term
    return words.groupBy(id_col).agg(bits.cast("bigint").alias("simhash"))


def _band_bounds(n_bands: int) -> list[int]:
    return [round(i * 64 / n_bands) for i in range(n_bands + 1)]


def band_cols(col: str, n_bands: int) -> list[Column]:
    """The n_bands contiguous band keys of a 64-bit hash column: band k is
    bits [lo, hi) of the UNSIGNED hash (``_band_bounds``; any band count,
    widths differ by at most one bit). The one band-key definition — the
    banded self-joins (``hamming_pairs``, phash) and the streaming
    dedup-on-arrival join (streaming/images.py) all key on it.

    Masked with bitwiseAND (sign-safe — % would follow the sign of a
    negative bigint and split equal low bits by bit 63); the full-width
    band needs no mask (the literal 2^64-1 would overflow int64). For
    widths under 64 bits this equals the DuckDB twins' (h >> lo) & mask."""
    bounds = _band_bounds(n_bands)
    out = []
    for lo, hi in zip(bounds, bounds[1:]):
        shifted = F.shiftrightunsigned(F.col(col), lo)
        if hi - lo < 64:
            shifted = shifted.bitwiseAND(F.lit((1 << (hi - lo)) - 1))
        out.append(shifted)
    return out


def _band_join(
    exact: DataFrame, id_col: str, probe: DataFrame | None = None
) -> DataFrame:
    """The banded self-join: (id_a, id_b) with id_a < id_b for every pair
    of ids sharing a (band, key) row, one row per pair.

    ``exact`` holds the (id, band, key[, ...]) rows; the join's two sides
    reuse them through one lazy session pin (otherwise BOTH sides re-run
    the upstream signature/hash pipeline). ``probe`` (multi-probe only)
    replaces the left side with its perturbed keys. Every other column c
    rides along as c_a/c_b, and the distinct runs BEFORE the caller's
    verification, so a pair colliding in several bands is verified once.
    The join key is (band, key): a co-partitioned equi-join, no cross
    product; a hot key (boilerplate text, flat thumbnails) is the AQE
    skew-join case.
    """
    exact = persist(exact)
    a = (exact if probe is None else probe).alias("a")
    b = exact.alias("b")
    carried = [c for c in exact.columns if c not in (id_col, "band", "key")]
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            *[F.col(f"{s}.{c}").alias(f"{c}_{s}") for c in carried for s in "ab"],
        )
        .distinct()
    )


def hamming_pairs(
    sims: DataFrame,
    id_col: str,
    max_distance: int,
    n_bands: int | None = None,
    probe_bits: int | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance — blocked, never all-pairs.

    Pigeonhole recall guarantee: split the 64 bits into n_bands contiguous
    bands; if two hashes differ in d <= (probe_bits+1)*n_bands - 1 bits,
    at least one band carries <= probe_bits of those differences, so either
    the band keys agree exactly (probe_bits=0) or the probe side's <=1-bit
    perturbation of its key equals the other side's key (probe_bits=1).
    The union of the per-band equi-joins therefore has full recall.

    Candidate volume is governed by the band key width w = 64/n_bands: each
    band's self-join groups collide in a 2^w key space, so expected
    candidates ~ n_bands * N^2 / 2^w for random hashes. Exact banding at
    large d is a scale trap — d=12 would need 13 bands of ~5 bits (~32 keys,
    ~N^2/32 candidates per band, effectively all-pairs). Defaults keep the
    key wide instead:

      d <= 3  -> exact banding, d+1 bands (>= 16-bit keys)   [probe_bits=0]
      d >  3  -> multi-probe, ceil((d+1)/2) bands            [probe_bits=1]
                 (probe side also emits every 1-bit flip of each band key:
                 width+1 probe rows per band, a constant-factor fan-out that
                 buys half the band count and so squares the key space
                 relative to exact banding at the same d)

    The pairs come from ``_band_join`` (deduped there, before the popcount
    verification). Bad arguments raise ValueError.
    """
    if probe_bits is None:
        probe_bits = 0 if (n_bands is not None or max_distance <= 3) else 1
    if probe_bits not in (0, 1):
        raise ValueError(f"probe_bits must be 0 or 1, got {probe_bits}")
    if n_bands is None:
        n_bands = (max_distance + probe_bits + 1) // (probe_bits + 1)
    if not 1 <= n_bands <= 64:
        raise ValueError(f"n_bands must be in [1, 64], got {n_bands}")
    if (probe_bits + 1) * n_bands < max_distance + 1:
        raise ValueError(
            f"recall guarantee violated: (probe_bits+1)*n_bands="
            f"{(probe_bits + 1) * n_bands} must exceed max_distance={max_distance}"
        )
    bounds = _band_bounds(n_bands)
    keys = band_cols("simhash", n_bands)

    def rows(df: DataFrame, probe: bool) -> DataFrame:
        entries = []
        for i, key in enumerate(keys):
            entries.append(F.struct(F.lit(i).alias("band"), key.alias("key")))
            width = bounds[i + 1] - bounds[i]
            for j in range(width if probe else 0):
                # every 1-bit perturbation of this band's key (XOR is
                # literal-folded by Catalyst; bit 63 of a full-width band
                # flips sign, which bitwiseXOR handles exactly)
                flip = (1 << j) if j < 63 else -(1 << 63)
                entries.append(
                    F.struct(
                        F.lit(i).alias("band"),
                        key.bitwiseXOR(F.lit(flip)).alias("key"),
                    )
                )
        return df.select(
            F.col(id_col), "simhash", F.explode(F.array(*entries)).alias("bk")
        ).select(id_col, "bk.band", "bk.key", "simhash")

    if probe_bits:
        # both sides explode from the hashes: pin them so the upstream
        # hash pass runs once (lazy — composing runs no job)
        sims = persist(sims)
    pairs = _band_join(
        rows(sims, False), id_col, rows(sims, True) if probe_bits else None
    )
    dist = F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b")))
    return pairs.select("id_a", "id_b", dist.alias("hamming")).where(
        F.col("hamming") <= max_distance
    )
