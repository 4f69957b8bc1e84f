"""Byte-pair-encoding merge training over a word-frequency table.

Real BPE training (the Sennrich et al. 2016 algorithm, the one GPT-style
tokenizers derive from), distributed: each round counts all adjacent
symbol pairs weighted by word frequency (explode + one shuffled
aggregate with map-side partial combine), picks the most frequent pair
(TakeOrderedAndProject — a distributed top-1, no global sort), and
applies the merge to every word with a greedy left-to-right fold that
runs entirely JVM-side (SQL `aggregate` over the symbol array — no
Python in the hot path). Only the single winning pair returns to the
driver between rounds, so the loop is O(n_merges) jobs over an
arbitrarily large vocabulary.

Greedy-fold correctness note: the fold merges the accumulator's last
symbol with the current one when they equal the chosen (left, right).
Because the merged product `left||right` is strictly longer than `left`,
a freshly-merged element can never immediately re-merge — which makes
the fold exactly the leftmost-non-overlapping (greedy) application, the
same closed form the DuckDB twin derives via stretch-parity marking.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fs2_osm_spark.pins import checkpoint, unpin

END_MARK = "</w>"


def _sq(s: str) -> str:
    """Escape a symbol for embedding in a Spark SQL string literal."""
    return s.replace("\\", "\\\\").replace("'", "\\'")


def _merge_expr(left: str, right: str) -> str:
    """SQL aggregate-fold applying one (left, right) merge to column s."""
    prod = _sq(left + right)
    left, right = _sq(left), _sq(right)
    return (
        "aggregate(s, cast(array() as array<string>), (acc, x) -> "
        f"case when size(acc) > 0 and element_at(acc, -1) = '{left}' "
        f"and x = '{right}' "
        f"then concat(slice(acc, 1, size(acc) - 1), array('{prod}')) "
        "else concat(acc, array(x)) end)"
    )


def bpe_train(
    vocab: DataFrame, n_merges: int
) -> tuple[list[tuple[str, str, int, int]], DataFrame]:
    """Learn ``n_merges`` BPE merges from ``vocab(word, cnt)``.

    Returns ([(left, right, pair_count, corpus_tokens_after)], final
    symbolized vocab ``(word, cnt, s array<string>)``). Symbols start as
    characters plus the end-of-word marker; ties on pair count break
    lexicographically on (left, right) so training is deterministic. Only
    the returned vocab's checkpoint outlives the call (a session pin).
    """
    syms = checkpoint(
        vocab.select(
            "word",
            "cnt",
            F.concat(F.split("word", ""), F.array(F.lit(END_MARK))).alias("s"),
        )
    )
    merges: list[tuple[str, str, int, int]] = []
    for _ in range(n_merges):
        n = F.size("s")
        pairs = (
            syms.filter(n >= 2)
            .select(
                "cnt",
                F.explode(
                    F.transform(
                        F.sequence(F.lit(0), n - 2),
                        lambda i: F.struct(
                            F.element_at("s", i + 1).alias("a"),
                            F.element_at("s", i + 2).alias("b"),
                        ),
                    )
                ).alias("p"),
            )
            .groupBy("p.a", "p.b")
            .agg(F.sum("cnt").alias("pc"))
        )
        best = pairs.orderBy(F.desc("pc"), "a", "b").limit(1).collect()
        if not best:
            break
        left, right, pc = best[0].a, best[0].b, int(best[0].pc)
        prev, syms = syms, checkpoint(
            syms.withColumn("s", F.expr(_merge_expr(left, right)))
        )
        unpin(prev)
        tokens_after = int(
            syms.select(F.sum(F.col("cnt") * F.size("s")).alias("t"))
            .collect()[0]
            .t
        )
        merges.append((left, right, pc, tokens_after))
    return merges, syms
