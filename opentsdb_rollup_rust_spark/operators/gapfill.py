"""J1/J2/W1 — gap-fill for missing windows (BASELINE.json:6).

Fill policies mirror the OpenTSDB downsampler fill policies
(docs.opentsdb.net "Downsampling"):
  none  — missing windows absent (no fill pass at all)
  zero  — value columns 0, count 0
  null  — filled row present, typed nulls
  nan   — query-output render: missing values as NaN doubles (count 0)
  ffill — forward-fill: carry last observed value per series
  interp — linear interpolation between the bracketing observed
          windows (OpenTSDB's "lerp" downsampler semantics), kept in
          EXACT integer arithmetic: floor-division lerp so Spark and
          any ANSI-SQL oracle agree bit-for-bit (no float division)

One kernel (``fill_gaps``) serves every fill, here and in
``/api/query`` (plans/api_query.api_query_finish): each observed row
emits itself plus the gap up to the next observed row of its series,
as one ``explode(sequence(...))``. The row's neighbours come from one
window over the series keys ordered by time, so a fill is one
(series)-partitioned sort over the observed rows — one scan of the
input, no spine, no join, nothing persisted.

Scale note: the explode produces |series| x |windows| rows — the
same cardinality the fill output must have, so it cannot be avoided.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..config import STORED_AGGS, resolve_interval_seconds

FILL_POLICIES = ("none", "zero", "null", "nan", "ffill", "interp")


def gap_fill(rollup: DataFrame, interval: str, policy: str = "zero") -> DataFrame:
    """Fill missing windows of a single-interval rollup frame, each
    series between its own first and last window."""
    if policy not in FILL_POLICIES:
        raise ValueError(f"unknown fill policy {policy!r}")
    if policy == "none":
        return rollup
    # interp leaves count out of the lerp: interpolating an event count
    # is meaningless, so a filled window keeps the count-0 marker that
    # zero and nan give it too
    cols = ("sum", "min", "max") if policy == "interp" else STORED_AGGS
    out = fill_gaps(
        rollup.select(
            "series_id", F.unix_timestamp("window_start").alias("_t"), *STORED_AGGS
        ),
        ["series_id"],
        "_t",
        cols,
        resolve_interval_seconds(interval),
        {"nan": "null", "interp": "linear"}.get(policy, policy),
    )
    vals = {c: F.col(c) for c in STORED_AGGS}
    if policy in ("nan", "interp"):
        vals["count"] = F.coalesce("count", F.lit(0).cast("long"))
    if policy == "nan":
        # OpenTSDB's NaN fill is query-output semantics: missing values
        # surface as NaN doubles (count stays an exact 0 long). Never
        # stored — tiers keep exact longs; this is a read-path render.
        for c in ("sum", "min", "max"):
            vals[c] = F.coalesce(F.col(c).cast("double"), F.lit(float("nan")))
    ts_type = rollup.schema["window_start"].dataType
    return out.select(
        "series_id",
        F.timestamp_seconds("_t").cast(ts_type).alias("window_start"),
        F.lit(interval).alias("interval"),
        *(vals[c].alias(c) for c in STORED_AGGS),
    )


def fill_gaps(
    df: DataFrame,
    keys: Sequence[str],
    t: str,
    cols: Sequence[str],
    step: int,
    policy: str,
    lo: int | None = None,
    hi: int | None = None,
) -> DataFrame:
    """Fill every missing ``step`` of each series in one pass.

    ``df`` has one row per (``keys``, ``t``); ``t`` is an epoch-second
    long aligned to ``step``. Each row emits its own ``t`` (with its
    own values) and every ``t`` up to, not including, the next row of
    its series. A series' first row also emits back to ``lo`` and its
    last row up to ``hi``, when given; otherwise a series is filled
    between its own first and last row. On an emitted ``t`` that is
    not the row's own, each column of ``cols`` is

    - ``zero``: 0;
    - ``null``: null;
    - ``ffill``: the row's value (null before the first row);
    - ``linear``: the floor lerp between the row and the next one of
      its series, in exact int64 (null before the first row and after
      the last).

    Every other column of ``df`` keeps its value on the row's own ``t``
    and is null on the rows it emits. The output has ``df``'s columns.
    """
    if policy not in ("zero", "null", "ffill", "linear"):
        raise ValueError(f"unknown fill policy {policy!r}")
    keys, cols = list(keys), list(cols)
    w = Window.partitionBy(*keys).orderBy(t)
    # Spark rejects window functions inside a generator, so each row's
    # neighbours become columns of a select before the explode
    nb = df.select(
        "*",
        F.lag(t).over(w).alias("_pt"),
        F.lead(t).over(w).alias("_nt"),
        *(F.lead(c).over(w).alias(f"_n_{c}") for c in cols if policy == "linear"),
    )
    own = F.col(t)
    start = own
    if lo is not None:
        start = F.when(F.col("_pt").isNull(), F.least(F.lit(lo), own)).otherwise(own)
    last_end = own if hi is None else F.greatest(F.lit(hi), own)
    # a duplicate (keys, t) makes the next t this t: the clamp keeps
    # sequence's end >= start, so the row emits itself and never raises
    end = F.greatest(F.coalesce(F.col("_nt") - F.lit(step), last_end), own)
    seq = F.sequence(start, end, F.lit(step).cast("long"))
    staged = nb.select("*", F.explode(seq).alias("_ft"))
    ft, is_own = F.col("_ft"), F.col("_ft") == own

    def filled(c: str) -> Column:
        v = F.col(c)
        if policy == "zero":
            return F.when(is_own, v).otherwise(F.lit(0).cast("long"))
        if policy == "ffill":
            return F.when(ft >= own, v)
        if policy == "linear":
            lerp = _floor_lerp(f"`{c}`", f"`_n_{c}`", f"`{t}`", "_nt", "_ft")
            return F.when(is_own, v).when(ft > own, F.expr(lerp))
        return F.when(is_own, v)

    return staged.select(
        *[
            ft.alias(t) if c == t
            else c if c in keys
            else filled(c).alias(c) if c in cols
            else F.when(is_own, F.col(c)).alias(c)
            for c in df.columns
        ]
    )


def _floor_lerp(v0: str, v1: str, t0: str, t1: str, t: str) -> str:
    """SQL for ``v0 + (v1 - v0) * (t - t0) // (t1 - t0)`` with Python's
    floor ``//``, in int64 only."""
    return f"{v0} + {_ppm_div(f'({v1} - {v0}) * ({t} - {t0})', f'{t1} - {t0}')}"


def _ppm_div(num: str, den: str) -> str:
    """Pure-int64 FLOOR-division SQL fragment. Spark's DIV truncates
    toward zero, but the ppm discipline (and every DuckDB oracle's
    ``//``) is FLOOR — they differ by 1 ulp on negative quotients.
    pmod is the floored modulus (sign of the divisor), so
    (num - pmod(num, den)) is exactly divisible and DIV of it IS the
    floor, for either divisor sign; a double ``/`` would go lossy past
    2^53. Identical aggregate calls inside one expression collapse to
    a single buffer, so ``num`` appearing twice costs nothing."""
    return f"((({num}) - pmod(({num}), ({den}))) DIV ({den}))"
