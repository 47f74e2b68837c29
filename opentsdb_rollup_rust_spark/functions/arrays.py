"""F3/F4 — token-array scalar functions.

All built-in expressions (JVM): no explode in the hot path, no Python.
Every stat is exact in both ANSI modes (Spark 4 defaults ANSI on; a
session with it off must never silently wrap or null out a stat).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: a row whose |partial sums| stay below this fits the int32 fold
INT_FOLD_BOUND = 2**31


def token_array_stats(tokens: Column | str) -> dict[str, Column]:
    """Exact per-row stats over an array<int> column, as long columns.

    first/last use element_at (1-based; -1 = last). An empty array has
    no min/max/first/last, so ``n_tok`` raises on it in both ANSI
    modes (with ANSI off element_at would silently return null).

    ``tok_sum`` folds in IntegerType when the row provably fits —
    ``size * greatest(|min|, |max|) < 2^31``, computed in long, bounds
    every partial sum — and in LongType otherwise. CaseWhen evaluates
    only the branch it takes, so in-contract rows skip the fold's
    per-element ``cast(long)`` (a large share of the interpreted fold's
    cost, OPTIMIZATION_r06.md "Int accumulator") and out-of-contract
    rows stay exact instead of wrapping (ANSI off) or throwing (ANSI
    on).
    """
    t = F.col(tokens) if isinstance(tokens, str) else tokens
    n = F.size(t)
    lo = F.array_min(t).cast("long")
    hi = F.array_max(t).cast("long")
    fits_int = n.cast("long") * F.greatest(F.abs(lo), F.abs(hi)) < F.lit(
        INT_FOLD_BOUND
    )
    tok_sum = F.when(
        fits_int, F.aggregate(t, F.lit(0), lambda acc, x: acc + x).cast("long")
    ).otherwise(
        F.aggregate(t, F.lit(0).cast("long"), lambda acc, x: acc + x.cast("long"))
    )
    n_tok = F.when(
        n == 0, F.raise_error(F.lit("token_array_stats: empty token array"))
    ).otherwise(n)
    return {
        "n_tok": n_tok.cast("long"),
        "tok_sum": tok_sum,
        "tok_min": lo,
        "tok_max": hi,
        "tok_first": F.element_at(t, 1).cast("long"),
        "tok_last": F.element_at(t, -1).cast("long"),
    }


def token_invariant_violations(derived: DataFrame, source: DataFrame) -> DataFrame:
    """F4 — per-row token-array equality invariant (BASELINE.json:15).

    Any table derived from sequences that still carries (doc_id, tokens)
    must hold the exact source array. Returns the violating rows
    (must be empty). Array equality is element-wise in Spark.
    """
    s = source.select(F.col("doc_id"), F.col("tokens").alias("_src_tokens"))
    return (
        derived.join(s, "doc_id", "inner")
        .where(
            (F.col("tokens") != F.col("_src_tokens"))
            | F.col("tokens").isNull()
            | F.col("_src_tokens").isNull()
        )
        .select("doc_id")
    )
