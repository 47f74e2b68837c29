"""J1/J2/W1 — gap-fill for missing windows (BASELINE.json:6).

Fill policies mirror the OpenTSDB downsampler fill policies
(docs.opentsdb.net "Downsampling"):
  none  — missing windows absent (no spine join at all)
  zero  — value columns 0, count 0
  null  — spine row present, typed nulls
  nan   — query-output render: missing values as NaN doubles (count 0)
  ffill — forward-fill: carry last observed value per series
  interp — linear interpolation between the bracketing observed
          windows (OpenTSDB's "lerp" downsampler semantics), kept in
          EXACT integer arithmetic: floor-division lerp so Spark and
          any ANSI-SQL oracle agree bit-for-bit (no float division)

Step 1 (J1): dense per-series window spine LEFT JOIN observed windows.
The spine is generated with sequence()+explode over each series' own
[min, max] window range — distributed, proportional to output size,
no driver loop. Step 2 (W1/J2): forward-fill is a window function
(last ignorenulls over unbounded-preceding row frame) — the as-of-join
semantics without a join.

Scale note: the spine explode produces |series| x |windows| rows — the
same cardinality the fill output must have, so it cannot be avoided;
it shuffles once on (series_id) for the window function. For zero/null
fill there is no window function and the left join is a plain
shuffle-hash/SMJ on (series_id, window_start).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..config import STORED_AGGS, resolve_interval_seconds
from .rollup import ROLLUP_COLS

FILL_POLICIES = ("none", "zero", "null", "nan", "ffill", "interp")


def window_spine(rollup: DataFrame, interval: str) -> DataFrame:
    """Dense (series_id, window_start) spine spanning each series'
    observed [min, max] window range at ``interval``."""
    sec = resolve_interval_seconds(interval)
    bounds = rollup.groupBy("series_id").agg(
        F.min("window_start").alias("w0"), F.max("window_start").alias("w1")
    )
    return bounds.select(
        "series_id",
        F.explode(
            F.sequence(
                F.col("w0"),
                F.col("w1"),
                F.expr(f"INTERVAL {sec} SECONDS"),
            )
        ).alias("window_start"),
    )


def gap_fill(rollup: DataFrame, interval: str, policy: str = "zero") -> DataFrame:
    """Fill missing windows of a single-interval rollup frame."""
    if policy not in FILL_POLICIES:
        raise ValueError(f"unknown fill policy {policy!r}")
    if policy == "none":
        return rollup

    spine = window_spine(rollup, interval)
    joined = spine.join(
        rollup.drop("interval"), ["series_id", "window_start"], "left"
    ).withColumn("interval", F.lit(interval))

    if policy == "null":
        return joined.select(*ROLLUP_COLS)
    if policy == "nan":
        # OpenTSDB's NaN fill is query-output semantics: missing values
        # surface as NaN doubles (count stays an exact 0 long). Never
        # stored — tiers keep exact longs; this is a read-path render.
        nan = F.lit(float("nan"))
        return joined.select(
            "series_id",
            "window_start",
            "interval",
            F.coalesce(F.col("sum").cast("double"), nan).alias("sum"),
            F.coalesce("count", F.lit(0).cast("long")).alias("count"),
            F.coalesce(F.col("min").cast("double"), nan).alias("min"),
            F.coalesce(F.col("max").cast("double"), nan).alias("max"),
        )
    if policy == "zero":
        # count 0 marks the window as synthetic; min/max 0 matches the
        # OpenTSDB zero-fill (NaN-free numeric zero substitution).
        return joined.select(
            "series_id",
            "window_start",
            "interval",
            F.coalesce("sum", F.lit(0).cast("long")).alias("sum"),
            F.coalesce("count", F.lit(0).cast("long")).alias("count"),
            F.coalesce("min", F.lit(0).cast("long")).alias("min"),
            F.coalesce("max", F.lit(0).cast("long")).alias("max"),
        )
    if policy == "ffill":
        w = (
            Window.partitionBy("series_id")
            .orderBy("window_start")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        out = joined
        for c in STORED_AGGS:
            out = out.withColumn(c, F.last(c, ignorenulls=True).over(w))
        return out.select(*ROLLUP_COLS)
    # interp — integer lerp between the bracketing observed windows.
    # The spine spans each series' OWN [min, max] observed range, so
    # every synthetic window has both a previous and a next
    # observation; no edge-null handling is needed. count stays 0 on
    # synthetic windows (the same "this row was made up" marker the
    # zero policy uses) — interpolating an event count is meaningless.
    #
    # Exactness discipline (memory: cross-engine-exactness): the lerp
    # uses FLOOR division implemented purely in int64 —
    #   prev + (next - prev) * dt_num // dt_den
    # with // as floor via pmod: (a - pmod(a, b)) / b is an exact
    # multiple, so the final divide is exact in any engine; Spark's
    # `div` truncation never sees a negative exact-multiple mismatch.
    wprev = (
        Window.partitionBy("series_id")
        .orderBy("window_start")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wnext = (
        Window.partitionBy("series_id")
        .orderBy("window_start")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    ws = F.unix_timestamp("window_start").cast("long")
    observed = F.col("count").isNotNull()
    out = joined.withColumn("_ws", ws)
    out = out.withColumn(
        "_pt", F.last(F.when(observed, F.col("_ws")), ignorenulls=True).over(wprev)
    ).withColumn(
        "_nt", F.first(F.when(observed, F.col("_ws")), ignorenulls=True).over(wnext)
    )
    out = out.withColumn("_den", F.col("_nt") - F.col("_pt"))
    for c in ("sum", "min", "max"):
        out = (
            out.withColumn(f"_p_{c}", F.last(c, ignorenulls=True).over(wprev))
            .withColumn(f"_n_{c}", F.first(c, ignorenulls=True).over(wnext))
            .withColumn(
                f"_num_{c}",
                (F.col(f"_n_{c}") - F.col(f"_p_{c}"))
                * (F.col("_ws") - F.col("_pt")),
            )
        )

    def _lerp(c: str) -> F.Column:
        # `div` is Spark's bigint division (truncating); fed an exact
        # floor multiple it IS floor division, and it never leaves int64
        # (a double `/` would go lossy past 2^53).
        fdiv = F.expr(f"(_num_{c} - pmod(_num_{c}, _den)) div _den")
        return (
            F.when(observed, F.col(c)).otherwise(F.col(f"_p_{c}") + fdiv).alias(c)
        )

    return out.select(
        "series_id",
        "window_start",
        "interval",
        _lerp("sum"),
        F.coalesce("count", F.lit(0).cast("long")).alias("count"),
        _lerp("min"),
        _lerp("max"),
    )
