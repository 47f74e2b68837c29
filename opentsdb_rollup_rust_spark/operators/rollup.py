"""A1-A4 — the heart of the engine: tumbling rollups and the cascade.

Semantics (docs.opentsdb.net "Rollup And Pre-Aggregates" +
BASELINE.json:6):

- A1 tumbling_rollup: per (series, epoch-aligned window): SUM, COUNT,
  MIN, MAX. AVG IS NEVER STORED — sum+count make tiers losslessly
  re-aggregable.
- A2 cascade_reagg: coarser tier from finer tier:
  sum=sum(sum), count=sum(count), min=min(min), max=max(max).
  Never re-average. cascade(direct(x)) == direct-at-coarser(x) exactly
  because all four aggregators are decomposable and values are int64.
- A3 derived_avg: avg = sum/count at read time.
- A4 preaggregate: across-series aggregation (collapse the tag
  dimension) at the same windows — OpenTSDB's "pre-aggregates".

Spark notes: groupBy on (series_id, bucket) gets automatic partial
(map-side) + final hash aggregation from Catalyst — at 10^12-row scale
the partial agg collapses each task's rows to ~|series x windows per
task| before the exchange, which is the single most important scale
property of this plan. No UDFs anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import SERIES_SEP, STORED_AGGS, TOKEN_STATS, resolve_interval_seconds
from ..functions.timeutil import time_bucket

ROLLUP_COLS = ("series_id", "window_start", "interval", *STORED_AGGS)

#: The stored-aggregate rule, the one place it is written: for each
#: stored column, (aggregate over raw values, merge over stored rows).
#: sum->sum, count->sum, min->min, max->max are all decomposable, so a
#: coarser window is an exact merge of finer ones (A2, and the
#: sub-aggregate sharing of Factor Windows). Every rollup builder,
#: batch or streaming, takes its aggregates from here.
STORED_RULE = dict(
    zip(STORED_AGGS, ((F.sum, F.sum), (F.count, F.sum), (F.min, F.min), (F.max, F.max)))
)


def stored_aggs(prefix: str = "") -> list[Column]:
    """The stored columns aggregated from the raw ``value`` column, each
    aliased ``prefix`` + its name."""
    return [STORED_RULE[a][0]("value").alias(prefix + a) for a in STORED_AGGS]


def merged_aggs() -> list[Column]:
    """The stored columns merged from rows that already store them."""
    return [STORED_RULE[a][1](a).alias(a) for a in STORED_AGGS]


def _tier_select(agg: DataFrame, key: str, label: str) -> DataFrame:
    return agg.select("series_id", key, F.lit(label).alias("interval"), *STORED_AGGS)


def reaggregate(finer: DataFrame, window_key: Column | str, label: str) -> DataFrame:
    """Tier rows at ``label`` from finer stored rows, merged per
    (series_id, ``window_key``); the key column is, or is aliased,
    ``window_start``. The cascade (A2), the calendar tiers (A17) and
    the salted rollup's second phase (A5) are all this one merge."""
    merged = finer.groupBy("series_id", window_key).agg(*merged_aggs())
    return _tier_select(merged, "window_start", label)


def tumbling_rollup(points: DataFrame, interval: str) -> DataFrame:
    """A1: points(series_id, ts, value) -> rollup rows at ``interval``."""
    sec = resolve_interval_seconds(interval)
    agg = points.groupBy(
        "series_id", time_bucket("ts", sec).alias("window_start")
    ).agg(*stored_aggs())
    return _tier_select(agg, "window_start", interval)


def cascade_reagg(finer: DataFrame, interval: str) -> DataFrame:
    """A2: re-aggregate a finer rollup tier to ``interval``."""
    sec = resolve_interval_seconds(interval)
    return reaggregate(
        finer, time_bucket("window_start", sec).alias("window_start"), interval
    )


_CALENDAR_UNITS = {"week": "1wc", "month": "1nc"}


def calendar_rollup(finer: DataFrame, unit: str = "week") -> DataFrame:
    """A17: calendar-aligned downsample (OpenTSDB 2.3+ calendar mode,
    the 'c' suffix in '1wc' / '1nc').

    Unlike the fixed-width tiers, calendar windows are NOT uniform
    (ISO weeks cross month edges; months are 28-31 days), so
    ``time_bucket``'s epoch-multiple floor cannot express them —
    ``date_trunc`` (codegen'd, session-timezone UTC) is the window
    key. Weeks/months contain whole days, so cascading from the 1d
    tier is exact (same decomposable sum/count/min/max re-agg as
    cascade_reagg; the oracle computes direct from raw points, so a
    hash match proves cascade == direct for the non-uniform windows
    too)."""
    try:
        label = _CALENDAR_UNITS[unit]
    except KeyError:
        raise ValueError(
            f"unsupported calendar unit {unit!r}; one of {sorted(_CALENDAR_UNITS)}"
        ) from None
    return reaggregate(
        finer, F.date_trunc(unit, F.col("window_start")).alias("window_start"), label
    )


def calendar_rollup_tz(
    finer: DataFrame, tz: str = "America/New_York"
) -> DataFrame:
    """A17b: TIMEZONE-aligned calendar-day downsample (OpenTSDB 2.3's
    downsample ``timezone`` option — '1dc' aligned to a named zone,
    not UTC).

    Window key = the finer window's LOCAL calendar day in ``tz``,
    emitted as the epoch second of local midnight (an absolute
    instant, so tiers stay timezone-free downstream). Local days are
    NON-UNIFORM across DST — 23 h at spring-forward, 25 h at
    fall-back — which epoch-multiple flooring cannot express;
    from_utc_timestamp/date_trunc/to_utc_timestamp are all codegen'd
    JVM expressions. Cascading from a 1h tier is exact for
    whole-hour-offset zones (every hourly window falls entirely
    inside one local day, DST transitions included — they happen on
    the hour); zones with :30/:45 offsets would need the 1m tier.
    DST non-uniformity is pinned by tests/test_rollup.py on a fixture
    spanning both 2024 transitions."""
    local_day = F.date_trunc(
        "DAY", F.from_utc_timestamp(F.col("window_start"), tz)
    )
    w_start = (
        F.unix_timestamp(F.to_utc_timestamp(local_day, tz))
        .cast("long")
        .alias("w_start")
    )
    merged = finer.groupBy("series_id", w_start).agg(*merged_aggs())
    return _tier_select(merged, "w_start", "1dc-" + tz)


def fused_tier_rollup(
    sequences: DataFrame, interval: str, salts: int = 0
) -> DataFrame:
    """Derive + base-tier rollup fused in WIDE form — the job/bench
    scale path.

    Result is EXACTLY salted_rollup(derive_points(seqs), interval)
    (golden: tests/test_rollup.py::test_fused_rollup_matches_long_form)
    but the plan is 6x narrower where it matters: the aggregation
    consumes one row per SEQUENCE (all 6 token stats as parallel agg
    buffers) instead of one row per point, the group key is
    (source, epoch-long) instead of a per-point concat'd series_id
    string, and the 6x unpivot + series_id build run only on the
    |series x windows| aggregated rows. All aggregates are
    decomposable, so Catalyst's partial agg still collapses per-task
    before the (tiny) shuffle.

    ``salts`` > 0 spreads the hot source key (70% 'web') over a
    two-phase agg exactly like operators.skew.salted_rollup."""
    from .points import derive_wide

    return fused_rollup_wide(derive_wide(sequences), interval, salts)


def fused_rollup_wide(
    wide: DataFrame, interval: str, salts: int = 0
) -> DataFrame:
    """The agg+unpivot core of fused_tier_rollup over an already-wide
    frame (source, ts_sec, <TOKEN_STATS>) — split out so the driver
    correctness gate can feed it a DuckDB-reproducible wide source
    (__spark_entry__ rollup_fused)."""
    sec = resolve_interval_seconds(interval)
    win = (F.floor(F.col("ts_sec") / F.lit(sec).cast("long")) * sec).cast("long")

    def stat_aggs(merge: bool) -> list:
        # per stat: sum/min/max buffers (the count is per sequence,
        # shared by all stats), aggregated from the stat column or
        # merged from phase-1 buffers by the stored-aggregate rule
        return [
            STORED_RULE[a][merge](f"{a}_{s}" if merge else s).alias(f"{a}_{s}")
            for s in TOKEN_STATS
            for a in ("sum", "min", "max")
        ]

    if salts > 0:
        phase1 = (
            wide.withColumn("salt", F.pmod(F.xxhash64("ts_sec"), F.lit(salts)))
            .groupBy("source", win.alias("win"), "salt")
            .agg(
                *stat_aggs(False),
                F.count("*").alias("cnt"),
            )
        )
        agg = phase1.groupBy("source", "win").agg(
            *stat_aggs(True),
            F.sum("cnt").alias("cnt"),
        )
    else:
        agg = wide.groupBy("source", win.alias("win")).agg(
            *stat_aggs(False),
            F.count("*").alias("cnt"),
        )

    stack_args = []
    for s in TOKEN_STATS:
        stack_args += [
            F.lit(s),
            F.col(f"sum_{s}"),
            F.col(f"min_{s}"),
            F.col(f"max_{s}"),
        ]
    long = agg.select(
        "source",
        "win",
        "cnt",
        F.stack(F.lit(len(TOKEN_STATS)), *stack_args).alias(
            "stat", "sum", "min", "max"
        ),
    )
    return long.select(
        F.concat_ws(SERIES_SEP, F.col("source"), F.col("stat")).alias("series_id"),
        F.timestamp_seconds(F.col("win")).alias("window_start"),
        F.lit(interval).alias("interval"),
        F.col("sum").cast("long").alias("sum"),
        F.col("cnt").cast("long").alias("count"),
        F.col("min").cast("long").alias("min"),
        F.col("max").cast("long").alias("max"),
    )


def derived_avg(rollup: DataFrame) -> DataFrame:
    """A3: attach read-time avg. Exact: long/long -> double once, at
    the edge; never fed back into storage. count=0 (zero-filled
    windows) => null avg — ANSI-safe, and semantically "no data"."""
    return rollup.withColumn(
        "avg",
        F.when(
            F.col("count") > 0,
            F.col("sum").cast("double") / F.col("count").cast("double"),
        ),
    )


def preaggregate(rollup: DataFrame, group_expr) -> DataFrame:
    """A4: collapse the series dimension — aggregate across series per
    window. ``group_expr`` maps series_id -> coarser key (e.g. source
    prefix); sum/count re-add, min/max re-extremize."""
    return rollup.groupBy(
        group_expr.alias("group_key"), "window_start", "interval"
    ).agg(*merged_aggs())


# --------------------------------------------------- histogram tier (A14/A15)

def value_bucket(value) -> "F.Column":
    """Power-of-two (msb) histogram bucket, exact in every engine:

      0          -> bucket 0
      v > 0      -> bucket = bit-length of v (length(bin(v))), i.e.
                    bucket k covers [2^(k-1), 2^k - 1]
      v < 0      -> bucket -1 (single underflow bucket; avoids the
                    -Long.MIN overflow an abs()-based msb would hit
                    under ANSI mode)

    String-length-of-binary is used instead of floor(log2(v)) because
    it is integer-exact — no libm rounding at power-of-two boundaries —
    and both Spark (``bin``) and DuckDB (``bin``) produce the same
    minimal binary string for non-negative int64."""
    v = F.col(value) if isinstance(value, str) else value
    return (
        F.when(v == 0, F.lit(0))
        .when(v > 0, F.length(F.bin(v)))
        .otherwise(F.lit(-1))
        .cast("long")
    )


def histogram_rollup(points: DataFrame, interval: str) -> DataFrame:
    """A14: re-aggregable value-distribution tier — per (series,
    window, msb bucket) point counts.

    This is how tiered percentiles work at scale: exact per-window
    percentiles (A9) are NOT decomposable — p95(1h) cannot be derived
    from twelve p95(5m) values — but bucket counts are plain sums, so
    the histogram cascades 1m -> 1h -> 1d exactly like sum/count
    (histogram_cascade), and any quantile is answerable at read time
    from any tier with bounded relative error (one power of two; the
    OpenTSDB histogram / Prometheus native-histogram design). Output
    rows are |series x windows x <=64 buckets| — the bucket dimension
    is a small constant factor on the tier size."""
    sec = resolve_interval_seconds(interval)
    return (
        points.groupBy(
            "series_id",
            time_bucket("ts", sec).alias("window_start"),
            value_bucket("value").alias("bucket"),
        )
        .agg(F.count("*").alias("n"))
        .select(
            "series_id",
            "window_start",
            F.lit(interval).alias("interval"),
            "bucket",
            "n",
        )
    )


def histogram_cascade(hist: DataFrame, interval: str) -> DataFrame:
    """A14 cascade: coarser histogram tier from a finer one — counts
    re-add per bucket. cascade(direct_1m) == direct-at-coarser exactly
    (same decomposability argument as A2; golden + oracle-checked)."""
    sec = resolve_interval_seconds(interval)
    return (
        hist.groupBy(
            "series_id",
            time_bucket("window_start", sec).alias("window_start"),
            "bucket",
        )
        .agg(F.sum("n").alias("n"))
        .select(
            "series_id",
            "window_start",
            F.lit(interval).alias("interval"),
            "bucket",
            "n",
        )
    )


def distinct_sketch_rollup(
    points: DataFrame, interval: str, lg_k: int = 12
) -> DataFrame:
    """A16: re-aggregable distinct-count tier — one Datasketches HLL
    sketch per (series, window), built JVM-side (F.hll_sketch_agg).

    Same motivation as the histogram tier (A14): exact COUNT DISTINCT
    is not decomposable across tiers (distinct of an hour is not the
    sum of minute distincts), but HLL register state is a pure MAX per
    register — order-independent — so sketches union 1m -> 1h -> 1d
    losslessly (cascade == direct EXACTLY in register space, pinned by
    golden test) and any tier answers distinct queries at read time
    within HLL's ~1.6% (lg_k=12) error. The sketch is a <= 2^lg_k-byte
    binary column — a constant factor on tier row width, the same
    trade the Gorilla chunks make."""
    sec = resolve_interval_seconds(interval)
    return (
        points.groupBy(
            "series_id", time_bucket("ts", sec).alias("window_start")
        )
        .agg(F.hll_sketch_agg("value", lg_k).alias("sketch"))
        .select(
            "series_id",
            "window_start",
            F.lit(interval).alias("interval"),
            "sketch",
        )
    )


def distinct_sketch_cascade(sketches: DataFrame, interval: str) -> DataFrame:
    """A16 cascade: coarser distinct tier by unioning finer sketches
    (register-wise max — hll_union_agg)."""
    sec = resolve_interval_seconds(interval)
    return (
        sketches.groupBy(
            "series_id", time_bucket("window_start", sec).alias("window_start")
        )
        .agg(F.hll_union_agg("sketch").alias("sketch"))
        .select(
            "series_id",
            "window_start",
            F.lit(interval).alias("interval"),
            "sketch",
        )
    )


def distinct_from_sketch(sketches: DataFrame) -> DataFrame:
    """A16 read path: estimate = hll_sketch_estimate(sketch), a
    deterministic long. The binary sketch never leaves the tier."""
    return sketches.select(
        "series_id",
        "window_start",
        "interval",
        F.hll_sketch_estimate("sketch").cast("long").alias("distinct_est"),
    )


def percentile_from_histogram(hist: DataFrame, q_permille: int) -> DataFrame:
    """A15: read-time quantile estimate from a histogram tier.

    Per (series, window): the smallest bucket whose cumulative count
    reaches ceil(total * q/1000) — all integer arithmetic (DIV), so
    every engine agrees exactly. ``est_max`` = 2^bucket - 1 is the
    bucket's inclusive upper bound: true_quantile <= est_max < 2 *
    true_quantile (one-power-of-two error bound).

    Plan shape: the window functions run over the HISTOGRAM rows
    (<= 64 per (series, window) partition), never over raw points —
    at 100 TB the read path touches only tier output."""
    from pyspark.sql import Window

    w_cum = (
        Window.partitionBy("series_id", "window_start")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("series_id", "window_start")
    c = hist.select(
        "series_id",
        "window_start",
        "bucket",
        F.sum("n").over(w_cum).alias("cum"),
        F.sum("n").over(w_all).alias("total"),
    )
    thr = F.expr(f"(total * {int(q_permille)} + 999) DIV 1000")
    # est_max = 2^bucket - 1, computed entirely in int64 (no float pow):
    # bucket<0 -> -1 (negative-value bucket), bucket=0 -> 0, else
    # half-1+half where half = 1 << (bucket-1).  The split avoids the
    # 1<<63 overflow (bucket 63 -> 2^62-1 + 2^62 = Long.MAX), so the
    # expression is ANSI-safe for every reachable bucket.
    half = F.expr("shiftleft(CAST(1 AS BIGINT), bucket - 1)")
    est_max = (
        F.when(F.col("bucket") < 0, F.lit(-1).cast("long"))
        .when(F.col("bucket") == 0, F.lit(0).cast("long"))
        .otherwise(half - F.lit(1) + half)
    )
    return (
        c.where(F.col("cum") >= thr)
        .groupBy("series_id", "window_start")
        .agg(F.min("bucket").alias("bucket"), F.min("total").alias("total"))
        .select(
            "series_id",
            "window_start",
            "bucket",
            est_max.alias("est_max"),
            "total",
        )
    )
