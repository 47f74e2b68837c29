"""S3 — derive the metric stream from the sequences table.

BASELINE.json:6: "treating per-sequence token statistics as the metric
stream". Each sequence row emits 6 points (one per TOKEN_STATS entry),
series_id = source ':' stat — the (metric, tags) analogue flattened to
a string, mirroring OpenTSDB's TSUID = metric_uid + tag_uids.

Event time is deterministic: epoch('2024-01-01') +
xxhash64(doc_id) % 30d (FIXTURES.md §2) — no wall-clock anywhere.

Long format via F.stack (built-in UDTF-like expression, JVM-side);
the tokens array never survives past this operator, so column pruning
keeps coarser tiers from ever reading it (SURVEY.md §4).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import EPOCH_BASE_SECONDS, HORIZON_SECONDS, SERIES_SEP, TOKEN_STATS
from ..functions.arrays import token_array_stats


def event_time(doc_id: Column | str) -> Column:
    c = F.col(doc_id) if isinstance(doc_id, str) else doc_id
    sec = F.lit(EPOCH_BASE_SECONDS) + F.pmod(F.xxhash64(c), F.lit(HORIZON_SECONDS))
    return F.timestamp_seconds(sec)


def derive_points(
    sequences: DataFrame, keep_doc_id: bool = False, impl: str = "sql"
) -> DataFrame:
    """sequences -> points(series_id string, ts timestamp, value long).

    The long form of derive_wide: one F.stack over its stat columns, so
    the stat expressions exist in one place. ``keep_doc_id=True``
    additionally carries doc_id (for lineage / invariant tests); the
    scale path drops it so the shuffle rows stay narrow.

    ``impl`` accepts only "sql", the one derive (kept so existing
    callers that name it keep working)."""
    if impl != "sql":
        raise ValueError(f"derive_points: unknown impl {impl!r} (only 'sql')")
    stack_args: list[Column] = []
    for name in TOKEN_STATS:
        stack_args.append(F.lit(name))
        stack_args.append(F.col(name))
    pass_cols = ["doc_id"] if keep_doc_id else []
    long = derive_wide(sequences, keep_doc_id).select(
        *pass_cols,
        F.col("source"),
        F.timestamp_seconds(F.col("ts_sec")).alias("ts"),
        F.stack(F.lit(len(TOKEN_STATS)), *stack_args).alias("stat", "value"),
    )
    return long.select(
        *pass_cols,
        F.concat_ws(SERIES_SEP, F.col("source"), F.col("stat")).alias("series_id"),
        F.col("ts"),
        F.col("value"),
    )


def derive_wide(sequences: DataFrame, keep_doc_id: bool = False) -> DataFrame:
    """One row per sequence: ([doc_id,] source, ts_sec, <TOKEN_STATS>).

    The WIDE form of the metric stream — rollup.fused_tier_rollup
    aggregates this directly so the 6x row explosion to long format
    (and the per-point series_id string build) happens only on the
    aggregated output, never on the raw points.

    The stats are Spark built-ins (functions.arrays.token_array_stats):
    JVM-side, transparent to Catalyst (tokens are pruned right after
    this projection and never cross a shuffle), exact in both ANSI
    modes, and loud on an empty token array. The token sum takes the
    int32 fold only when ``n_tok * greatest(|tok_min|, |tok_max|) <
    2^31`` (computed per row in long, so it bounds every partial sum)
    and the long fold otherwise. Built-ins replaced a vectorized Arrow
    UDF derive, which paid a Python-boundary cost for no gain:
    interleaved A/B in one JVM at local[4], fused 1m->1h->1d noop
    pipeline (BENCH/derive_ab_r07.json), median sql vs arrow 1.40 vs
    1.67 s at 25k sequences and 5.04 vs 5.46 s at 500k, sql ahead in
    6 of 6 pairs at both scales.
    """
    stats = token_array_stats("tokens")
    pass_cols = [F.col("doc_id")] if keep_doc_id else []
    return sequences.select(
        *pass_cols,
        F.col("source"),
        F.unix_timestamp(event_time("doc_id")).alias("ts_sec"),
        *[stats[s].alias(s) for s in TOKEN_STATS],
    )
