"""The composed end-user read endpoint: an OpenTSDB-shaped
``/api/query`` executed as ONE declarative Spark plan.

Every piece exists (and is gate-verified) as a standalone operator —
tag filters (operators/tagquery.py), tumbling downsample
(operators/rollup.py), fill (operators/gapfill.py), counter-rate
rules (__spark_entry__ win_rate family) — but a real user ports
QUERIES, not operators, and composition bugs (fill-before-rate vs
rate-before-fill, groupBy tags extracted after the aggregation, rate
applied per raw series instead of per aggregated group) are exactly
what unit-green operators miss (r4 VERDICT task #1). This module is
the single composition point, following the PUBLIC OpenTSDB order of
operations ([OTSDB-API] User Guide -> Querying, "Order of
Operations"):

    1. filtering        (metric + time range + tag filters)
    2. grouping         (groupBy tag keys -> output dimensions)
    3. downsampling     (per SERIES, interval + aggregator)
    4. interpolation    (here: the downsample FILL policy over the
                         aligned query-range spine — OpenTSDB skips
                         classic interpolation when a downsample fill
                         is specified)
    5. aggregation      (across the series of each group, per bucket)
    6. rate conversion  (per aggregated GROUP series, LAST — the
                         documented, famously surprising placement)

Scale shape: the raw point stream is touched exactly once, by a
filter + narrow projection (groupBy tag values extracted from the
map BEFORE any shuffle, the tag map itself never leaves the scan
stage). Shuffle #1 is the per-series downsample — keyed by (series
identity, bucket), i.e. the already-aggregated cardinality. Every
later step (fill, cross-series aggregation, the rate window) runs on
downsampled rows: |series x buckets|, independent of raw point
count. Fill is one series-keyed pass over shuffle #1's output
(operators/gapfill.fill_gaps): each observed bucket emits itself and
the gap up to its series' next one, so there is no driver collect, no
dimension table, no join and nothing persisted.

Cross-engine exactness (the repo-wide oracle discipline): values stay
int64 end to end; `avg` (downsample or aggregator) and `rate` are
quantized to parts-per-million with FLOOR before returning, so the
DuckDB oracle reproduces them bit-for-bit.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, replace
from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..config import STORED_AGGS, resolve_interval_seconds
from ..operators.gapfill import _ppm_div, fill_gaps
from ..operators.rollup import STORED_RULE, stored_aggs
from ..operators.tagquery import (
    TagFilter,
    compile_tag_filter,
    explicit_tags_predicate,
    tag_value_col,
)

#: ppm quantization scale for avg / rate outputs (see module doc).
Q_SCALE = 1_000_000

#: the downsamplers answered from sum/count/min/max alone — so also
#: from a stored tier ([OTSDB-ROLLUP]: avg is never stored, it
#: re-derives from sum+count)
_DS_AGGS = (*STORED_AGGS, "avg")

#: OpenTSDB's order-dependent downsamplers ([OTSDB-AGG]: "first" /
#: "last" return the first/last data point of the window and are
#: "only useful for downsampling"). NOT decomposable — a
#: sum/count/min/max tier cannot answer them, so like the percentile
#: downsamplers they always take the raw path (tier routing refuses
#: via the pre_reason rule). The ordering key is exact int64
#: MICROSECONDS (Spark unix_micros == DuckDB epoch_us — no float
#: epoch, no second-truncation divergence), and two points CAN still
#: share a timestamp within one series (the tag map is coarser than
#: the raw event key), so the selection orders by the full
#: (ts_us, value) pair — a total order both engines agree on — rather
#: than ts alone, which would be tie-nondeterministic.
_DS_ORDER_AGGS = ("first", "last")
#: "none" is OpenTSDB's no-cross-series-aggregation mode: every input
#: series is returned as its own output series (the full sorted-k=v
#: series identity becomes an output column named ``series``).
#: "dev" is the population standard deviation across the group's
#: series per bucket ([OTSDB-AGG] dev), computed via the A13
#: integer-power-sums rule so both engines sqrt the identical exact
#: int64 radicand. mimmin/mimmax are OpenTSDB's non-interpolating
#: min/max — in this engine's bucketed model a missing series simply
#: has no row, so they coincide with min/max (the A18 rule). The
#: percentile aggregators (p500 = median, p950, p999 — the repo's
#: permille spelling of OpenTSDB's p50/p95/p99.9 family) are accepted
#: via _P_RE and computed by the A9 exact discrete-rank rule; the
#: ep<pct>r<3|7> estimated-percentile family via _EP_RE below. With
#: those, every aggregator on the documented OpenTSDB list
#: ([OTSDB-AGG]) is implemented.
_GROUP_AGGS = (
    "sum",
    "count",
    "min",
    "max",
    "avg",
    "zimsum",
    "mimmin",
    "mimmax",
    "none",
    "dev",
)
_FILLS = ("none", "zero", "null", "ffill", "linear")

#: OpenTSDB 2.4 percentile downsamplers — ``p<permille>`` (p500 =
#: median, p950, p999). Exact discrete selection here (value at rank
#: ceil(n * permille / 1000) of the sorted window), the A9 rule — all
#: integer arithmetic, so every engine agrees bit-for-bit.
_P_RE = re.compile(r"^p(\d{3})$")

#: OpenTSDB 2.4 estimated-percentile aggregators — ep<pct>r<3|7>
#: (ep50r3 .. ep999r7, [OTSDB-AGG]): cross-series percentiles under
#: the two Hyndman–Fan estimation rules OpenTSDB exposes (Commons
#: Math EstimationType R_3 / R_7). Percent spelling like the
#: p-family: two digits = whole percent (ep50 -> 500 permille),
#: three digits = the p999 convention (99.9% -> 999 permille). Both
#: rules are EXACT integer arithmetic here, so DuckDB reproduces
#: either bit-for-bit: R_3 selects an order statistic (H&F type 3 —
#: j = floor(n*q - 1/2), stay at x_j only when the fraction is
#: exactly 0 AND j is odd 1-indexed (ties-to-even over 0-based
#: positions, the numpy/R-verified behavior), clamp to [1, n]);
#: R_7 (the Excel/NumPy
#: linear rule — h = (n-1)*q + 1) interpolates between bracketing
#: order statistics with a ppm-quantized lerp, so ep*r7 OUTPUTS ARE
#: PPM-SCALED int64 (the avg/dev discipline) while ep*r3 and the
#: exact p* family return raw selected values.
_EP_RE = re.compile(r"^ep(\d{2,3})r([37])$")


def _ep_parse(agg: str) -> tuple[int, int] | None:
    """(permille, rule) of an ep-aggregator spelling, else None."""
    m = _EP_RE.match(agg)
    if m is None:
        return None
    digits = m.group(1)
    pm = int(digits) * (10 if len(digits) == 2 else 1)
    if not 1 <= pm <= 999:
        raise ValueError(f"estimated percentile {agg!r} out of (0, 1000)")
    return pm, int(m.group(2))


def _percentile_permille(agg: str) -> int | None:
    m = _P_RE.match(agg)
    if m is None:
        return None
    pm = int(m.group(1))
    if not 1 <= pm <= 999:
        raise ValueError(f"percentile downsampler {agg!r} out of (0, 1000)")
    return pm


@dataclass(frozen=True)
class Downsample:
    """``<interval>-<aggregator>-<fill>`` of an OpenTSDB downsample
    spec. ``fill`` extends the OpenTSDB FillPolicy set (none/nan/
    null/zero — nan maps onto null here, NaN falls out of aggregation
    the way null does) with ffill (this engine's gap-fill forward-
    fill) and linear (the bucket-level analogue of OpenTSDB's
    aggregation-time lerp interpolation, expressed as a fill)."""

    interval: str
    aggregator: str = "avg"
    fill: str = "none"


@dataclass(frozen=True)
class RateOptions:
    """OpenTSDB rate options. ``counter`` enables wrap correction via
    ``counter_max`` (negative delta -> delta + counter_max) and the
    ``reset_value`` guard (corrected delta above it -> rate 0);
    ``drop_resets`` instead EMITS NOTHING for negative-delta samples.
    Semantics identical to the gate-verified win_rate family."""

    counter: bool = False
    counter_max: int | None = None
    reset_value: int | None = None
    drop_resets: bool = False


#: OpenTSDB 2.4 ``rollupUsage`` policies. "nofallback"
#: (ROLLUP_NOFALLBACK): only the best-match rollup tier (the coarsest
#: supplied) may serve; if it can't, a loud ValueError — nobody
#: silently pays a scan they meant to avoid. "fallback"
#: (ROLLUP_FALLBACK): try the next-best supplied tiers,
#: coarsest-first; still refuse rather than touch raw. "fallback_raw"
#: (ROLLUP_FALLBACK_RAW): after the tiers, the raw point scan is an
#: explicit opt-in.
_ROLLUP_USAGE = ("nofallback", "fallback", "fallback_raw")


@dataclass(frozen=True)
class QuerySpec:
    """One /api/query sub-query: metric, [start, end) epoch seconds,
    tag filters (groupBy flags select output dimensions), explicit
    tag-set matching, mandatory downsample, cross-series aggregator,
    optional rate.

    ``time_shift``: OpenTSDB 2.3 ``timeShift`` — evaluate this
    sub-query over ``[start - time_shift, end - time_shift)`` and
    re-align the output buckets to the REQUEST timeline (w_start +
    time_shift), so a shifted variable joins bucket-for-bucket
    against an unshifted one (day-over-day / week-over-week
    comparisons through api_query_exp). Must be a non-negative
    multiple of the downsample interval or the shifted buckets would
    not land on the request's bucket grid.

    ``rollup_usage``: what to do when a supplied tier cannot serve
    the downsample (see _ROLLUP_USAGE).

    ``tsuids``: OpenTSDB's direct-series query mode — a sub-query
    names exact series instead of metric + tag filters ([OTSDB-API]
    /api/query ``tsuids``, mutually exclusive with ``metric``). The
    engine's TSUID analogue is the full series identity string
    ``<metric>|<sorted k=v tags>`` (OpenTSDB's hex TSUID is likewise
    metric UID + sorted tag UIDs). With tsuids set, ``metric`` must
    be "" and ``filters`` empty; the aggregator still applies ACROSS
    the listed series (use aggregator="none" to fetch them
    individually, as OpenTSDB clients do).
    """

    metric: str
    start: int
    end: int
    aggregator: str = "sum"
    filters: tuple[TagFilter, ...] = ()
    explicit_tags: bool = False
    downsample: Downsample | None = None
    rate: RateOptions | None = None
    time_shift: int = 0
    rollup_usage: str = "nofallback"
    tsuids: tuple[str, ...] = ()


#: column names a groupBy tagk may not shadow: endpoint outputs,
#: per-stage intermediates (raw + tier + histogram paths), and the
#: gexp/exp working columns. Legal OpenTSDB tag names like "value"
#: are rejected loudly at _validate rather than failing mid-plan.
_RESERVED_DIM_NAMES = frozenset(
    {
        "value", "w_start", "v", "series", "_series", "ts",
        "sum", "count", "min", "max", "bucket", "n", "interval",
        "permille", "est_max", "total", "query", "group_tags",
        "_rn", "_n", "_delta", "_dt", "_m", "_lo", "_hi", "_ng",
        "_ms", "_mc", "_num", "_den", "_ts", "_j", "_f", "_fr",
        "_vl", "_vh",
    }
)


def _is_0all(spec: QuerySpec) -> bool:
    return spec.downsample is not None and spec.downsample.interval == "0all"


def _ds_seconds(spec: QuerySpec) -> int:
    """Downsample interval in seconds. OpenTSDB's ``0all`` interval
    (one bucket spanning the whole query range, aligned at ``start``
    rather than the epoch — '0all-sum' etc.) resolves to the range
    length; its bucket expression is the constant ``start`` (see
    api_query), not the usual epoch-floor."""
    if _is_0all(spec):
        return spec.end - spec.start
    return resolve_interval_seconds(spec.downsample.interval)


#: Stored-series-identity contract (r6): a point/tier frame carrying
#: this column declares it equal to _series_key(tags_col) — the sorted
#: 'k=v,...' full-tag identity, i.e. the engine analogue of OpenTSDB
#: STORING the tsuid next to every row instead of re-deriving it at
#: read time. api_query/api_query_hist (and the tier builders) use it
#: when present. Why it matters: _series_key is an array_sort/transform
#: higher-order expression, and ONE such expression in the per-point
#: projection drops the whole stage out of efficient codegen evaluation
#: — measured at sf1.0, the 1M-row narrow stage went 2.9 s -> 0.6 s
#: with the precomputed column (guide §4.1: prefer built-ins end to
#: end; §2.3: the stored identity is also a narrower shuffle key than
#: the sorted entry array the tier builders grouped on).
STORED_SERIES_COL = "_stored_series"


def _series_and_pred(
    spec: QuerySpec,
    tags: Column,
    metric_col: str,
    frame: DataFrame | None = None,
    tags_col: str = "tags",
) -> tuple[Column, Column]:
    """Per-row series identity + row predicate for the two sub-query
    modes, shared by api_query and api_query_hist: metric+filters
    (series = sorted tags; metric a constant equality, tag filters one
    codegen'd map expression) vs tsuids (series = the full
    '<metric>|<sorted tags>' TSUID string; predicate = membership in
    the listed set). ``frame``: the frame the predicate will run
    against — its STORED_SERIES_COL / _tag_<k> columns (the stored-
    identity contracts) are consumed when present."""
    sk = _frame_series_base(frame) if frame is not None else None
    if sk is None:
        sk = _series_key(tags)
    if spec.tsuids:
        series_expr = F.concat_ws("|", F.col(metric_col), sk)
        return series_expr, series_expr.isin(*spec.tsuids)
    p = F.col(metric_col) == F.lit(spec.metric)
    for f in spec.filters:
        v = (
            tag_value_col(frame, tags_col, f.tagk)
            if frame is not None
            else None
        )
        p = p & compile_tag_filter(tags, f, value=v)
    if spec.explicit_tags and spec.filters:
        p = p & explicit_tags_predicate(tags, list(spec.filters))
    return sk, p


def _frame_series_base(frame: DataFrame) -> Column | None:
    """STORED_SERIES_COL as a Column when ``frame`` carries it."""
    return (
        F.col(STORED_SERIES_COL)
        if STORED_SERIES_COL in frame.columns
        else None
    )


def _bucket_expr(spec: QuerySpec, sec: int, ts_sec_expr: Column) -> Column:
    """Window-start expression. 0all: ONE bucket spanning the whole
    range, anchored at the query start (OpenTSDB's 0all alignment),
    not the epoch grid."""
    if _is_0all(spec):
        return F.lit(spec.start).cast("long")
    return F.floor(ts_sec_expr / F.lit(sec)).cast("long") * F.lit(sec)


def _choose_tier(
    spec: QuerySpec,
    sec: int,
    tiers,
    pre_reason: str | None = None,
):
    """Tier-list selection shared by api_query and api_query_hist:
    compute the alignment refusal reasons (0all needs [start, end)
    aligned to the BEST-MATCH tier — a finer-but-aligned fallback
    candidate is refused conservatively rather than special-cased;
    epoch-grid intervals need a bucket-aligned range), and apply the
    rollup_usage policy
    via select_rollup_tier (which raises loudly under nofallback).
    ``pre_reason`` carries a caller-specific refusal that takes
    precedence (api_query's non-decomposable downsample aggregator).
    Returns the chosen tier DataFrame, or None for the raw path."""
    if not tiers:
        return None
    spec_reason = pre_reason
    if spec_reason is None:
        if _is_0all(spec):
            best = max(resolve_interval_seconds(iv) for _, iv in tiers)
            if spec.start % best or spec.end % best:
                spec_reason = (
                    "0all tier routing needs [start, end) aligned to "
                    f"the best-match tier interval {best}s: "
                    f"[{spec.start}, {spec.end}) is not"
                )
        elif spec.start % sec or spec.end % sec:
            spec_reason = (
                "tier-routed queries need a bucket-aligned range: "
                f"[{spec.start}, {spec.end}) is not a multiple of {sec}s"
            )
    chosen = select_rollup_tier(
        [resolve_interval_seconds(iv) for _, iv in tiers],
        sec,
        spec.rollup_usage,
        spec_reason,
    )
    return tiers[chosen][0] if chosen is not None else None


def _validate(spec: QuerySpec) -> None:
    if spec.downsample is None:
        raise ValueError(
            "api_query requires a downsample spec: this is a windowed "
            "rollup engine — raw-timestamp alignment across series "
            "(OpenTSDB's interpolation path) is not supported"
        )
    if (
        spec.downsample.aggregator not in _DS_AGGS
        and spec.downsample.aggregator not in _DS_ORDER_AGGS
        and _percentile_permille(spec.downsample.aggregator) is None
    ):
        raise ValueError(
            f"unknown downsample aggregator {spec.downsample.aggregator!r}"
        )
    if spec.downsample.fill not in _FILLS:
        raise ValueError(f"unknown fill policy {spec.downsample.fill!r}")
    if spec.aggregator not in _GROUP_AGGS:
        pm = _P_RE.match(spec.aggregator)
        if (
            not pm or not (1 <= int(pm.group(1)) <= 999)
        ) and _ep_parse(spec.aggregator) is None:
            raise ValueError(f"unknown aggregator {spec.aggregator!r}")
    if not (spec.end > spec.start):
        raise ValueError("end must be > start")
    sec = _ds_seconds(spec)  # raises KeyError on unknown interval
    if sec <= 0:
        # parse_duration_seconds accepts "0m"/"0s" (\d+ matches 0);
        # refuse loudly here instead of crashing later with a
        # ZeroDivisionError in the shift-alignment check
        raise ValueError(
            f"downsample interval must be > 0s, got {sec}s "
            f"({spec.downsample.interval!r})"
        )
    if spec.time_shift < 0:
        raise ValueError("time_shift must be >= 0 (shift back in time)")
    if spec.time_shift % sec and not _is_0all(spec):
        # 0all is exempt: its single bucket sits at (start - shift)
        # and re-aligns to exactly start for ANY shift
        raise ValueError(
            f"time_shift {spec.time_shift}s must be a multiple of the "
            f"downsample interval {sec}s: shifted buckets must land on "
            "the request's bucket grid"
        )
    if spec.rollup_usage not in _ROLLUP_USAGE:
        raise ValueError(f"unknown rollup_usage {spec.rollup_usage!r}")
    reserved = _RESERVED_DIM_NAMES.intersection(
        f.tagk for f in spec.filters if f.group_by
    )
    if reserved:
        # a groupBy tagk becomes an output column next to the plan's
        # own columns; a collision (e.g. tagk "value") would raise
        # AMBIGUOUS_REFERENCE mid-plan or silently bind the wrong
        # column — reject at the spec boundary (the asof_join rule)
        raise ValueError(
            f"groupBy tag key(s) {sorted(reserved)} collide with "
            "engine output/internal column names"
        )
    if spec.tsuids:
        # OpenTSDB: tsuids and metric/filters are mutually exclusive
        # sub-query modes
        if spec.metric:
            raise ValueError(
                "tsuids and metric are mutually exclusive: the engine "
                "TSUID '<metric>|<sorted k=v>' carries the metric"
            )
        if spec.filters:
            raise ValueError("tsuids and tag filters are mutually exclusive")
        if spec.explicit_tags:
            raise ValueError(
                "explicit_tags is meaningless with tsuids: a TSUID "
                "already names the exact tag set"
            )
        if any(not t or "|" not in t for t in spec.tsuids):
            raise ValueError(
                "each tsuid must be '<metric>|<sorted k=v tags>'"
            )
    r = spec.rate
    if r is not None:
        if r.counter and r.drop_resets:
            raise ValueError("counter wrap and drop_resets are exclusive")
        if (r.counter_max is not None or r.reset_value is not None) and not r.counter:
            raise ValueError("counter_max/reset_value require counter=True")
        if r.counter and r.counter_max is None:
            raise ValueError("counter=True requires counter_max")


def _series_key(tags: Column) -> Column:
    """Deterministic full-tag-set series identity: sorted k=v joins.
    The downsample must key on the COMPLETE series (metric + every
    tag), not just the groupBy tags — two series that agree on the
    groupBy tags are still downsampled separately, then aggregated."""
    return F.array_join(
        F.transform(
            F.array_sort(F.map_entries(tags)),
            lambda e: F.concat_ws("=", e["key"], e["value"]),
        ),
        ",",
    )


def _ds_agg_expr(agg: str) -> Column:
    if agg in STORED_RULE:
        return STORED_RULE[agg][0]("value")
    # avg, ppm-quantized in pure int64 (sum*1e6 then integer floor-div)
    return F.expr(_ppm_div(f"sum(value) * {Q_SCALE}", "count(value)"))


def _group_agg_expr(agg: str) -> Column:
    if agg in ("sum", "zimsum"):
        # zimsum: sum treating missing series as absent, not
        # interpolated — with Spark's null-skipping SUM over the fill
        # output, exactly SUM
        return F.sum("v")
    if agg == "count":
        return F.count("v")
    if agg in ("min", "mimmin"):
        # mimmin == min here: a missing series contributes no row in
        # the bucketed model, exactly mim*'s skip-missing policy (A18)
        return F.min("v")
    if agg in ("max", "mimmax"):
        return F.max("v")
    if agg == "dev":
        # population std-dev across the group's series, the A13
        # exactness rule: the radicand n*Σv² − (Σv)² is EXACT int64
        # in both engines (domain: |v| < ~3e9 at n≤1000 series stays
        # inside int64 — downsampled sums at this data scale; the
        # standalone agg_dev carries the same bound), one
        # deterministic IEEE sqrt, ppm floor. count 0 → NULL, as avg.
        return F.expr(
            f"CASE WHEN count(v) = 0 THEN NULL ELSE CAST(FLOOR("
            f"sqrt(CAST(count(v)*sum(v*v) - sum(v)*sum(v) AS DOUBLE))"
            f" / CAST(count(v) AS DOUBLE) * {Q_SCALE}) AS BIGINT) END"
        )
    # a spine bucket where NO series of the group observed anything
    # (possible under the null/linear fill policies) has count 0 —
    # ANSI DIV would throw, OpenTSDB renders nothing: emit NULL
    return F.expr(
        f"CASE WHEN count(v) = 0 THEN NULL "
        f"ELSE {_ppm_div(f'sum(v) * {Q_SCALE}', 'count(v)')} END"
    )


def build_tagged_tier(
    points: DataFrame,
    interval: str,
    metric_col: str = "series_id",
    tags_col: str = "tags",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Materialize the TAGGED rollup tier api_query routes to: per
    (metric, full tag set) tumbling sum/count/min/max at ``interval``,
    the tags map preserved so the stored tier is queryable by the same
    compiled tag filters as raw points — the columnar analogue of
    OpenTSDB's per-interval rollup tables, which store the full series
    identity ([OTSDB-ROLLUP]). Spark cannot group by a map column, so
    the grouping key is the SORTED entry array (deterministic,
    groupable) and the map is rebuilt on the way out. In production
    this output persists through the snapshot store (sources/store),
    partitioned by a hot tagk exactly like tag_read_pruned.

    When ``points`` carries STORED_SERIES_COL, the grouping key is
    that stored string (cheap attribute, narrow shuffle key) instead
    of the per-row array_sort(map_entries(...)) HOF, the tags map
    rides along via first() (every row of a series carries the
    identical map — the stored identity IS the sorted tag set), and
    the output keeps the stored column so tier-routed reads stay on
    the codegen path end to end."""
    sec = resolve_interval_seconds(interval)
    ts_sec = F.unix_timestamp(F.col(ts_col))
    w_start = (F.floor(ts_sec / F.lit(sec)).cast("long") * F.lit(sec)).alias(
        "w_start"
    )
    aggs = stored_aggs()
    if STORED_SERIES_COL in points.columns:
        g = points.select(
            F.col(metric_col),
            F.col(STORED_SERIES_COL),
            F.col(tags_col),
            w_start,
            F.col(value_col).alias("value"),
        ).groupBy(metric_col, STORED_SERIES_COL, "w_start").agg(
            F.first(tags_col).alias("_tags"), *aggs
        )
        return g.select(
            metric_col,
            F.col("_tags").alias(tags_col),
            STORED_SERIES_COL,
            "w_start",
            *STORED_AGGS,
        )
    g = points.select(
        F.col(metric_col),
        F.array_sort(F.map_entries(F.col(tags_col))).alias("_ent"),
        w_start,
        F.col(value_col).alias("value"),
    ).groupBy(metric_col, "_ent", "w_start").agg(*aggs)
    return g.select(
        metric_col,
        F.map_from_entries("_ent").alias(tags_col),
        "w_start",
        *STORED_AGGS,
    )


def _tier_ds_agg_expr(agg: str) -> Column:
    """Stage-3 re-aggregation FROM TIER ROWS (each carrying the
    stored sum/count/min/max of one fine window): the factor-window
    rewrite every rollup read in this engine uses (plans/tier_router)."""
    if agg in STORED_RULE:
        return STORED_RULE[agg][1](agg)
    return F.expr(_ppm_div(f"sum(sum) * {Q_SCALE}", "sum(count)"))


def select_rollup_tier(
    tier_secs: list[int],
    sec: int,
    rollup_usage: str,
    spec_reason: str | None = None,
) -> int | None:
    """Pick which supplied rollup tier serves a downsample of ``sec``
    seconds under a rollupUsage policy — the OpenTSDB rollup-table
    selection rule, factored out so both endpoints, the stored-tier
    router (tier_router.route_tier, under ``fallback``) and tests
    share it. ``tier_secs``: interval seconds of each supplied tier (any
    order). ``spec_reason``: a tier-independent unservability reason
    (non-decomposable aggregator, unaligned range) — when set, no
    tier can serve regardless of interval.

    Returns the INDEX of the chosen tier (the coarsest whose interval
    divides the downsample — fewest rows per bucket wins), or None
    for the raw path (fallback_raw only). Raises ValueError when the
    policy forbids what's left: nofallback considers ONLY the
    best-match (coarsest) tier; fallback tries every supplied tier
    but never raw."""
    if rollup_usage not in _ROLLUP_USAGE:
        raise ValueError(f"unknown rollup_usage {rollup_usage!r}")
    order = sorted(range(len(tier_secs)), key=lambda i: -tier_secs[i])
    if spec_reason is None:
        pool = order[:1] if rollup_usage == "nofallback" else order
        for i in pool:
            if tier_secs[i] and sec % tier_secs[i] == 0:
                return i
        reason = (
            f"tier intervals {sorted(tier_secs, reverse=True)}s cannot "
            f"serve downsample {sec}s: interval is not a multiple"
            + (" of the best match" if rollup_usage == "nofallback" else "")
        )
    else:
        reason = spec_reason
    if rollup_usage == "fallback_raw":
        return None
    raise ValueError(f"{reason} (rollup_usage={rollup_usage})")


def api_query(
    points: DataFrame,
    spec: QuerySpec,
    metric_col: str = "series_id",
    tags_col: str = "tags",
    ts_col: str = "ts",
    value_col: str = "value",
    tiers: list[tuple[DataFrame, str]] | None = None,
) -> DataFrame:
    """Execute ``spec`` over a tagged point stream.

    ``points``: (metric_col string, ts_col timestamp, value_col long,
    tags_col map<string,string>).

    ``tiers``: optional MATERIALIZED rollup tiers, each a (frame,
    interval) pair — (metric_col, tags_col, w_start epoch long, sum,
    count, min, max) at that interval, e.g. the stored output of
    build_tagged_tier; the spec's rollup_usage picks one
    (select_rollup_tier). When the spec's downsample interval is a
    multiple of the tier's, its aggregator is decomposable, and the
    query range is bucket-aligned, stage 3 RE-AGGREGATES FROM THE TIER
    (the P5 factor-window route: a 2h query over a 1h tier touches 2
    rows per bucket, never 120 raw minutes) and the raw point stream
    is not read at all. Otherwise the raw path runs — with a loud
    ValueError if a tier was explicitly supplied but cannot serve the
    spec, so nobody silently pays a raw scan they meant to avoid.

    Returns one row per (groupBy tag values..., w_start) with a single
    int64 ``value``: the downsampled/aggregated value, or — when
    ``spec.rate`` is set — the ppm-quantized rate. Under aggregator
    'none' a ``series`` column (the full sorted-k=v identity, or the
    TSUID in tsuid mode) is added and every series passes through
    unaggregated. With rate, the
    first bucket of each group is dropped (no previous sample to
    difference, as in OpenTSDB), and under ``drop_resets`` so is any
    negative-delta sample.
    """
    _validate(spec)
    ds = spec.downsample
    sec = _ds_seconds(spec)

    if spec.time_shift:
        # timeShift ([OTSDB-API] 2.3): the WHOLE composition —
        # filter, spine, rate — runs on the shifted range, then the
        # output re-aligns to the request timeline. A constant added
        # after the final projection cannot perturb any stage, and
        # the shifted spec keeps every alignment property (the shift
        # is a validated multiple of the interval, so tier bucket
        # alignment and the fill spine translate exactly).
        shifted = replace(
            spec,
            start=spec.start - spec.time_shift,
            end=spec.end - spec.time_shift,
            time_shift=0,
        )
        out = api_query(
            points,
            shifted,
            metric_col=metric_col,
            tags_col=tags_col,
            ts_col=ts_col,
            value_col=value_col,
            tiers=tiers,
        )
        return out.withColumn(
            "w_start",
            (F.col("w_start") + F.lit(spec.time_shift)).cast("long"),
        )

    tags = F.col(tags_col)

    group_tags = _group_tag_keys(spec)

    # rollupUsage ([OTSDB-ROLLUP] 2.4): under the default nofallback a
    # silently-paid raw scan is exactly the 100 TB surprise the
    # refusal exists to prevent; fallback walks the supplied tiers
    # coarsest-first; fallback_raw makes the raw path an EXPLICIT
    # opt-in. The non-decomposable-aggregator reason takes precedence
    # over alignment reasons.
    tier = _choose_tier(
        spec,
        sec,
        tiers,
        pre_reason=(
            f"downsample aggregator {ds.aggregator!r} is not "
            "answerable from a sum/count/min/max tier"
            if ds.aggregator not in _DS_AGGS  # p*/first/last
            else None
        ),
    )

    if tier is not None:
        # --- 1+2 on tier rows: every tier window inside an aligned
        # range is FULLY inside, so plain w_start bounds are exact
        series_expr, row_pred = _series_and_pred(
            spec, tags, metric_col, tier, tags_col
        )
        pred = row_pred & (
            (F.col("w_start") >= F.lit(spec.start))
            & (F.col("w_start") < F.lit(spec.end))
        )
        narrow = tier.where(pred).select(
            *[
                tag_value_col(tier, tags_col, k).alias(k)
                for k in group_tags
            ],
            series_expr.alias("_series"),
            _bucket_expr(spec, sec, F.col("w_start")).alias("w_start"),
            *STORED_AGGS,
        )
        # --- 3. factor-window re-aggregation (sec/tsec rows per bucket)
        per_series = narrow.groupBy(*group_tags, "_series", "w_start").agg(
            _tier_ds_agg_expr(ds.aggregator).cast("long").alias("v")
        )
    else:
        ts_sec = F.unix_timestamp(F.col(ts_col))
        # --- 1. filtering: metric + range are plain column predicates
        # (pushdown-eligible); tag filters compile to one codegen'd map
        # expression (operators/tagquery.py)
        series_expr, row_pred = _series_and_pred(
            spec, tags, metric_col, points, tags_col
        )
        pred = row_pred & (
            (ts_sec >= F.lit(spec.start)) & (ts_sec < F.lit(spec.end))
        )

        # --- 2. grouping: extract groupBy tag values BEFORE any
        # shuffle; the map column dies at the scan. The raw timestamp
        # survives into the narrow frame only for the order-dependent
        # downsamplers (first/last) — every other aggregator is
        # order-free and the bucket id is all it needs.
        order_ds = ds.aggregator in _DS_ORDER_AGGS
        narrow = points.where(pred).select(
            *[
                tag_value_col(points, tags_col, k).alias(k)
                for k in group_tags
            ],
            series_expr.alias("_series"),
            _bucket_expr(spec, sec, ts_sec).alias("w_start"),
            F.col(value_col).alias("value"),
            *(
                # cast: unix_micros rejects TIMESTAMP_NTZ; the session
                # tz is pinned UTC, so NTZ -> LTZ is the same instant
                # DuckDB's epoch_us reads from a naive timestamp
                [
                    F.unix_micros(
                        F.col(ts_col).cast("timestamp_ltz")
                    ).alias("_ts")
                ]
                if order_ds
                else []
            ),
        )

        # --- 3. downsampling: per full series identity (shuffle #1 —
        # the only shuffle that sees per-point rows, and partial
        # aggregation collapses them map-side first)
        pm = _percentile_permille(ds.aggregator)
        if order_ds:
            # first/last ([OTSDB-AGG]): the value at the window's
            # earliest/latest point — min_by/max_by over the full
            # (ts, value) pair (see _DS_ORDER_AGGS for the tie rule).
            # One ordinary mergeable aggregate: partial aggregation
            # still collapses map-side, no window sort needed.
            fn = "min_by" if ds.aggregator == "first" else "max_by"
            per_series = narrow.groupBy(*group_tags, "_series", "w_start").agg(
                F.expr(f"{fn}(value, struct(_ts, value))")
                .cast("long")
                .alias("v")
            )
        elif pm is not None:
            # percentile downsampler: exact discrete selection — the
            # value at rank ceil(n*pm/1000) of the window's sorted
            # values (integer ceil: (n*pm + 999) DIV 1000). One
            # spillable WindowExec sort per (series, bucket); ranks
            # are unique so exactly one row survives the filter, no
            # re-aggregation needed. The value at a fixed rank is
            # well-defined under ties, so tie order can't change the
            # result. NOT decomposable — a tier cannot serve it; the
            # scale path for percentile reads is the histogram tier
            # (operators/rollup.histogram_rollup + A15), which trades
            # one-power-of-two error for decomposability.
            wp = Window.partitionBy(*group_tags, "_series", "w_start")
            ranked = narrow.select(
                *group_tags,
                "_series",
                "w_start",
                "value",
                F.row_number().over(wp.orderBy("value")).alias("_rn"),
                F.count("*").over(wp).alias("_n"),
            )
            at = F.expr(f"(_n * {pm} + 999) DIV 1000")
            per_series = ranked.where(F.col("_rn") == at).select(
                *group_tags,
                "_series",
                "w_start",
                F.col("value").cast("long").alias("v"),
            )
        else:
            per_series = narrow.groupBy(*group_tags, "_series", "w_start").agg(
                _ds_agg_expr(ds.aggregator).cast("long").alias("v")
            )

    return api_query_finish(per_series, spec)


def api_query_finish(per_series: DataFrame, spec: QuerySpec) -> DataFrame:
    """Stages 4-6 of the composition — fill, cross-series aggregate,
    rate — over an ALREADY-DOWNSAMPLED per-series frame
    (*group tags, _series, w_start, v). Public because this is the
    read-side half of the streaming split: a Structured Streaming
    ingestion (streaming/rollup_stream.streaming_api_query_downsample)
    materializes exactly this frame continuously, and reads finish it
    here — same code path as the batch endpoint, so stream-fed and
    batch answers cannot drift (parity pinned in
    tests/test_streaming.py)."""
    _validate(spec)
    if spec.time_shift:
        raise ValueError(
            "api_query_finish takes an unshifted spec: time_shift is "
            "resolved by api_query before the downsampled frame exists"
        )
    ds = spec.downsample
    sec = _ds_seconds(spec)
    group_tags = _group_tag_keys(spec)

    # --- 4. fill over the ALIGNED QUERY RANGE per observed series
    # (not per-series observed min/max — every series of a group must
    # share buckets or the cross-series aggregate silently skews):
    # |series| x |buckets| rows out of one series-keyed pass
    # (operators/gapfill.fill_gaps). "null" keeps nulls and "linear"
    # leaves them off a series' observed edges; both fall out of the
    # null-skipping aggregates below (OpenTSDB's null render policy,
    # and OpenTSDB emits nothing off the edges either).
    if ds.fill != "none":
        if _is_0all(spec):
            # single whole-range bucket anchored at start
            first_b = last_b = spec.start
        else:
            first_b = spec.start // sec * sec
            last_b = (spec.end - 1) // sec * sec
        per_series = fill_gaps(
            per_series, [*group_tags, "_series"], "w_start", ["v"], sec,
            ds.fill, lo=first_b, hi=last_b,
        )

    # --- 5. aggregation across the series of each group, per bucket.
    # aggregator "none" (OpenTSDB's no-aggregation mode) skips the
    # collapse: every series passes through as its own output series,
    # its full sorted-k=v identity exposed as the ``series`` column —
    # no shuffle is added (the frame is already per-series).
    pm = _P_RE.match(spec.aggregator)
    if spec.aggregator == "none":
        grouped = per_series.select(
            *group_tags,
            F.col("_series").alias("series"),
            "w_start",
            F.col("v").cast("long").alias("value"),
        )
        out_dims = [*group_tags, "series"]
    elif pm:
        # percentile aggregator across the group's series (the A9
        # exact discrete-rank rule): the value at rank
        # ceil(n * permille / 1000) of the bucket's sorted observed
        # values — integer ceil, no interpolation-float ambiguity.
        # Rank-based (row_number + filter), never collect_list: the
        # per-bucket sort is a spillable WindowExec bounded by the
        # group's series count. NULL fills are excluded (a missing
        # series contributes nothing, OpenTSDB's skip policy); a
        # bucket with zero observations vanishes rather than erroring.
        # The value AT a rank is well-defined under ties, so
        # nondeterministic tie order cannot change the result.
        permille = int(pm.group(1))
        obs = per_series.where(F.col("v").isNotNull())
        wr_ = Window.partitionBy(*group_tags, "w_start").orderBy("v")
        wn_ = Window.partitionBy(*group_tags, "w_start")
        grouped = (
            obs.select(
                *group_tags,
                "w_start",
                "v",
                F.row_number().over(wr_).alias("_rn"),
                F.count("v").over(wn_).alias("_n"),
            )
            .where(
                F.col("_rn")
                == F.expr(f"(_n * {permille} + 999) DIV 1000")
            )
            .select(
                *group_tags,
                "w_start",
                F.col("v").cast("long").alias("value"),
            )
        )
        out_dims = list(group_tags)
    elif _ep_parse(spec.aggregator) is not None:
        # estimated-percentile aggregators (ep<pct>r<3|7>, see _EP_RE)
        # — same spillable rank machinery as the exact p-family (one
        # WindowExec sort per bucket, NULL fills excluded, empty
        # buckets vanish), plus the per-rule selection arithmetic.
        # All index math is per-row integer expressions over (_rn, _n)
        # so both engines agree exactly.
        permille, rule = _ep_parse(spec.aggregator)
        obs = per_series.where(F.col("v").isNotNull())
        wre = Window.partitionBy(*group_tags, "w_start").orderBy("v")
        wne = Window.partitionBy(*group_tags, "w_start")
        ranked = obs.select(
            *group_tags,
            "w_start",
            "v",
            F.row_number().over(wre).alias("_rn"),
            F.count("v").over(wne).alias("_n"),
        )
        if rule == 7:
            # R-7: h = (n-1)*q + 1 in 1/1000 units -> h1000 =
            # (n-1)*pm + 1000, so j = h1000 DIV 1000 is in [1, n] and
            # a nonzero fraction implies j < n (h1000 <= n*1000).
            # value = ppm-floor lerp between x_j and x_{j+1}; the
            # fraction-0 case has no x_{j+1} row — coalesce adds 0.
            h = f"((_n - 1) * {permille} + 1000)"
            grouped = (
                ranked.withColumn("_j", F.expr(f"{h} DIV 1000"))
                .withColumn("_f", F.expr(f"pmod({h}, 1000)"))
                .where(
                    (F.col("_rn") == F.col("_j"))
                    | (F.col("_rn") == F.col("_j") + 1)
                )
                .groupBy(*group_tags, "w_start")
                .agg(
                    F.max(
                        F.when(F.col("_rn") == F.col("_j"), F.col("v"))
                    ).alias("_vl"),
                    F.max(
                        F.when(F.col("_rn") == F.col("_j") + 1, F.col("v"))
                    ).alias("_vh"),
                    F.first("_f").alias("_fr"),
                )
                .select(
                    *group_tags,
                    "w_start",
                    (
                        F.col("_vl") * F.lit(Q_SCALE)
                        + F.coalesce(
                            (F.col("_vh") - F.col("_vl"))
                            * F.col("_fr")
                            * F.lit(1000),
                            F.lit(0),
                        )
                    )
                    .cast("long")
                    .alias("value"),
                )
            )
        else:
            # R-3 (H&F type 3, the numpy closest_observation / R
            # type=3 behavior, verified against both): j =
            # floor(n*q - 1/2), take x_{j+1} unless the fraction is
            # exactly 0 AND j is ODD (1-indexed — H&F's "ties to even"
            # is stated over 0-based positions), then stay at x_j;
            # clamp to [1, n]. Selection only — raw value out, like
            # the exact p-family.
            h = f"(_n * {permille} - 500)"
            j = _ppm_div(h, "1000")
            grouped = (
                ranked.withColumn(
                    "_j",
                    F.expr(
                        f"greatest(1, least(_n, "
                        f"CASE WHEN pmod({h}, 1000) = 0 "
                        f"AND pmod({j}, 2) = 1 THEN {j} "
                        f"ELSE {j} + 1 END))"
                    ),
                )
                .where(F.col("_rn") == F.col("_j"))
                .select(
                    *group_tags,
                    "w_start",
                    F.col("v").cast("long").alias("value"),
                )
            )
        out_dims = list(group_tags)
    else:
        grouped = per_series.groupBy(*group_tags, "w_start").agg(
            _group_agg_expr(spec.aggregator).cast("long").alias("value")
        )
        out_dims = list(group_tags)
    if spec.rate is None:
        return grouped

    # --- 6. rate conversion, LAST, per output series (the aggregated
    # group series, or each passthrough series under aggregator none)
    r = spec.rate
    wr = Window.partitionBy(*out_dims).orderBy("w_start")
    delta = F.col("value") - F.lag("value").over(wr)
    dt = (F.col("w_start") - F.lag("w_start").over(wr)).cast("double")
    staged = grouped.select(
        *out_dims, "w_start", delta.alias("_delta"), dt.alias("_dt")
    )
    if r.drop_resets:
        # emits nothing for the first sample (NULL delta) or a reset
        rate = F.col("_delta").cast("double") / F.col("_dt")
        out = staged.where(F.col("_delta") >= 0)
    elif r.counter:
        corrected = F.when(
            F.col("_delta") < 0, F.col("_delta") + F.lit(r.counter_max)
        ).otherwise(F.col("_delta"))
        rate = corrected.cast("double") / F.col("_dt")
        if r.reset_value is not None:
            rate = F.when(corrected > F.lit(r.reset_value), F.lit(0.0)).otherwise(
                rate
            )
        out = staged.where(F.col("_delta").isNotNull())
    else:
        # plain rate: delta/dt, negatives included ([OTSDB-AGG] rate
        # without counter) — zero-fill upstream makes gap edges show
        # as genuine negative spikes, the documented composition
        rate = F.col("_delta").cast("double") / F.col("_dt")
        out = staged.where(F.col("_delta").isNotNull())
    return out.select(
        *out_dims,
        "w_start",
        F.floor(rate * F.lit(Q_SCALE)).cast("long").alias("value"),
    )


def _group_tag_keys(spec: QuerySpec) -> list[str]:
    """GroupBy tag keys in filter order, deduplicated: two filters on
    the same tagk (e.g. wildcard + not_literal_or, both groupBy) are
    one output dimension — without the dedup the narrow select would
    alias the column twice and every downstream groupBy would raise
    AMBIGUOUS_REFERENCE on a legal OpenTSDB query."""
    return list(dict.fromkeys(f.tagk for f in spec.filters if f.group_by))


def _out_dim_keys(spec: QuerySpec) -> list[str]:
    """Output dimension columns of api_query(spec): the groupBy tag
    keys, plus the passthrough ``series`` column under aggregator
    'none' (stage 5)."""
    dims = _group_tag_keys(spec)
    if spec.aggregator == "none":
        dims = [*dims, "series"]
    return dims


def api_query_multi(
    points: DataFrame,
    specs: dict[str, QuerySpec],
    metric_col: str = "series_id",
    tags_col: str = "tags",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """A full /api/query REQUEST: OpenTSDB accepts a LIST of
    sub-queries per call and returns every result set in one response
    ([OTSDB-API] /api/query `queries[]`). Sub-queries may group by
    different tag keys, so the union schema canonicalizes each row's
    group dimensions into one ``group_tags`` string (sorted k=v
    joins — the same canonical form as ``_series_key``), keyed by the
    caller's sub-query name.

    Output: (query string, group_tags string, w_start long, value
    long). Scale shape: each sub-query is its own independent
    api_query plan (they share nothing but the scan); the union is
    plan-level only — no shuffle is added on top of the sub-queries'
    own.
    """
    if not specs:
        raise ValueError("api_query_multi needs at least one sub-query")
    parts = []
    for name, spec in specs.items():
        out = api_query(
            points,
            spec,
            metric_col=metric_col,
            tags_col=tags_col,
            ts_col=ts_col,
            value_col=value_col,
        )
        gts = sorted(_group_tag_keys(spec))
        if spec.aggregator == "none":
            # passthrough mode: the series column IS the canonical
            # sorted-k=v identity (it contains every tag, groupBy
            # ones included), so it supersedes the group-tag string
            group_str = F.col("series")
        elif gts:
            group_str = F.concat_ws(
                ",", *[F.concat_ws("=", F.lit(k), F.col(k)) for k in gts]
            )
        else:
            group_str = F.lit("")
        parts.append(
            out.select(
                F.lit(name).alias("query"),
                group_str.alias("group_tags"),
                "w_start",
                F.col("value"),
            )
        )
    return reduce(DataFrame.unionAll, parts)


def api_query_delete(store, table: str, spec: QuerySpec, ts_col: str = "ts",
                     metric_col: str = "series_id",
                     tags_col: str = "tags") -> dict:
    """The /api/query ``delete`` flag ([OTSDB-API]: an HTTP DELETE of
    /api/query removes every data point MATCHING the query), composed
    over the store's surgical range-replace primitive: rows of
    ``table`` in [start, end) that match the spec's series selection
    (metric + tag filters + explicitTags, or tsuids) are dropped;
    non-matching rows inside the range and everything outside it
    survive. Works on any store with read + replace_range
    (ManifestStore or IcebergStore).

    Only the SELECTION fields apply: downsample / aggregator / rate /
    fill shape the read and are ignored here, exactly as OpenTSDB
    ignores them on delete. timeShift is refused — silently deleting
    a shifted range would be a surprise; resolve the shift
    client-side.

    Scale shape: replace_range's metadata-first pruning carries over —
    parquet files whose footer [min, max] is disjoint from
    [start, end) are never read or rewritten; only range-straddling
    files are scanned, and the keep filter (inside the range AND NOT
    matching) is one codegen'd predicate over those rows. One atomic
    manifest swap; the prior snapshot stays readable (time travel)
    until expired, so a mistaken delete is recoverable.
    """
    if spec.time_shift:
        raise ValueError(
            "delete does not accept timeShift: resolve the shift "
            "client-side and submit absolute [start, end)"
        )
    if not spec.metric and not spec.tsuids:
        raise ValueError(
            "delete needs a series selection (metric or tsuids): an "
            "empty metric would silently delete nothing"
        )
    if spec.end <= spec.start:
        raise ValueError(f"empty delete range [{spec.start}, {spec.end})")
    _, row_pred = _series_and_pred(spec, F.col(tags_col), metric_col)
    cur = store.read(table)
    # pushdown-friendly range form (r6): raw-column comparison against
    # a foldable timestamp literal reaches the parquet scan, so files/
    # row groups disjoint from [start, end) are skipped footer-first —
    # exact (floor equivalence, see store.epoch_bound_exprs)
    from ..sources.store import epoch_bound_exprs

    ts_sec, mk = epoch_bound_exprs(cur, ts_col)
    in_range = (ts_sec >= mk(spec.start)) & (ts_sec < mk(spec.end))
    # keep = in-range rows that do NOT match. The compiled tag filters
    # are null-safe (a missing tagk is FALSE, never NULL — the
    # tagquery rule), but coalesce guards the negation anyway: a NULL
    # predicate must mean "not matched -> keep", not "dropped".
    keep = cur.where(in_range & ~F.coalesce(row_pred, F.lit(False)))
    return store.replace_range(table, ts_col, spec.start, spec.end, keep)


@dataclass(frozen=True)
class ExprSpec:
    """One /api/query/exp request ([OTSDB-EXP], OpenTSDB 2.3): named
    sub-query variables plus an arithmetic expression over them,
    evaluated per (group-tag values, bucket).

    ``variables``: (name, QuerySpec) pairs; names must be plain
    identifiers and become join-aligned columns. Every sub-query must
    share the same groupBy tag keys, time range, and downsample
    interval — the alignment OpenTSDB gets from the request's single
    downsampler; anything else would silently join misaligned buckets.

    ``expr``: a SQL expression over the variable names producing the
    int64 output (keep the repo's exactness discipline: integer
    arithmetic, ``DIV`` + ppm scaling for ratios).

    ``join``: "intersection" (inner — only buckets every variable
    emitted) or "union" (full outer, each missing variable coalesced
    to ``fill_value``) — OpenTSDB's expression-join policies.
    """

    expr: str
    variables: tuple[tuple[str, QuerySpec], ...]
    join: str = "intersection"
    fill_value: int = 0


def api_query_exp(
    points: DataFrame,
    spec: ExprSpec,
    metric_col: str = "series_id",
    tags_col: str = "tags",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Execute an expression query: run each variable's sub-query
    (each a full api_query composition — filter/group/downsample/fill/
    aggregate/rate), equi-join the variable streams on (group tags,
    w_start), and evaluate ``spec.expr``.

    Scale shape: the join keys are the OUTPUT dimensions (|group
    values x buckets| rows per side — tier-sized, never point-sized),
    so the exp join costs one shuffle of already-aggregated data per
    variable. Returns (group tags..., w_start, value int64).
    """
    if len(spec.variables) < 2:
        raise ValueError("api_query_exp needs >= 2 variables")
    if spec.join not in ("intersection", "union"):
        raise ValueError(f"unknown join policy {spec.join!r}")
    names = [n for n, _ in spec.variables]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate variable names in {names}")
    first = spec.variables[0][1]
    group_tags = _group_tag_keys(first)
    reserved = {"w_start", "value", *group_tags}
    for n, q in spec.variables:
        if not n.isidentifier():
            raise ValueError(f"variable name {n!r} is not an identifier")
        if n in reserved:
            raise ValueError(f"variable name {n!r} collides with an output column")
        if q.aggregator == "none":
            raise ValueError(
                f"sub-query {n!r}: aggregator 'none' (per-series "
                "passthrough) cannot join into an expression — exp "
                "variables must be aggregated group series"
            )
        if _group_tag_keys(q) != group_tags:
            raise ValueError(
                "every exp sub-query must group by the same tag keys: "
                f"{n!r} groups by {_group_tag_keys(q)}, expected {group_tags}"
            )
        if (q.start, q.end) != (first.start, first.end):
            raise ValueError(f"sub-query {n!r} has a different time range")
        if q.downsample is None:
            raise ValueError(f"sub-query {n!r} has no downsample")
        # compare RESOLVED seconds, not interval spellings: "1h" and
        # "3600s" are the same grid and must not be refused. An
        # unresolvable spelling falls back to the string comparison —
        # api_query itself raises the KeyError for it later.
        try:
            same = _ds_seconds(q) == _ds_seconds(first)
        except KeyError:
            same = q.downsample.interval == first.downsample.interval
        if not same:
            raise ValueError(f"sub-query {n!r} has a different downsample interval")

    streams = [
        api_query(
            points,
            q,
            metric_col=metric_col,
            tags_col=tags_col,
            ts_col=ts_col,
            value_col=value_col,
        ).withColumnRenamed("value", n)
        for n, q in spec.variables
    ]
    how = "inner" if spec.join == "intersection" else "full"
    keys = [*group_tags, "w_start"]
    # list-of-names join: Spark emits ONE copy of each key column,
    # coalesced across sides under "full" — exactly the union policy
    joined = reduce(lambda a, b: a.join(b, keys, how), streams)
    if spec.join == "union":
        fill = F.lit(spec.fill_value).cast("long")
        joined = joined.select(
            *keys, *[F.coalesce(F.col(n), fill).alias(n) for n in names]
        )
    return joined.select(
        *group_tags, "w_start", F.expr(spec.expr).cast("long").alias("value")
    )


# ---------------------------------------------------------------------------
# /api/query/gexp — Graphite-style series functions (OpenTSDB 2.3)
# ---------------------------------------------------------------------------

#: gexp functions implemented, in the three families the endpoint
#: has: per-point transforms (scale, absolute), windowed transforms
#: (movingAverage — mean of the trailing k buckets per series), and
#: series selectors/combiners (highestMax, highestCurrent keep the k
#: "loudest" series; sumSeries/multiplySeries collapse every series
#: into one (sum / exact-int64 product per bucket);
#: diffSeries = first series minus the sum of the rest; divideSeries
#: = strictly-binary ppm ratio — series order is the group identity
#: string ascending so two engines agree which is "first")
#: ([OTSDB-API] /api/query/gexp).
_GEXP_FUNCS = (
    "scale",
    "absolute",
    "movingAverage",
    "highestMax",
    "highestCurrent",
    "sumSeries",
    "multiplySeries",
    "diffSeries",
    "divideSeries",
)


def gexp_apply(
    out: DataFrame,
    group_tags: list[str],
    funcs: tuple[tuple[str, int | None], ...],
) -> DataFrame:
    """Apply a nested gexp function chain to an api_query output
    (group tags..., w_start, value) — innermost first, mirroring how
    ``highestMax(scale(sum:metric{...}, 2), 3)`` nests.

    ``funcs``: (name, arg) pairs; arg is the scale factor, the
    selector's k, or movingAverage's window width — None for the
    argless functions (absolute, sumSeries).

    Scale shape of the selectors: the ranking input is the per-group
    aggregate of the query's OWN output (|groups| rows — the output
    dimension, never point-sized); winners come from a deterministic
    sort-limit (the TakeOrdered plan, ties broken by the group-tag
    string ascending so two engines agree) and rejoin as a BROADCAST
    semi-join — k rows against the output stream, no shuffle of the
    stream itself. movingAverage is one WindowExec over the output
    stream per series; sumSeries is one aggregation of output-sized
    data and DROPS the group dimension (subsequent selectors see a
    single ungrouped series).
    """
    group_tags = list(group_tags)
    for name, arg in funcs:
        gcols = [F.col(k) for k in group_tags]
        gstr = F.concat_ws(",", *gcols) if group_tags else F.lit("")
        if name == "scale":
            out = out.withColumn(
                "value", (F.col("value") * F.lit(int(arg))).cast("long")
            )
        elif name == "absolute":
            out = out.withColumn("value", F.abs("value").cast("long"))
        elif name == "movingAverage":
            k = int(arg)
            if k < 1:
                raise ValueError("movingAverage needs window >= 1")
            # trailing-k mean per series, ppm-quantized in the repo's
            # int64 discipline (same DIV idiom as the avg aggregator);
            # leading buckets average over however many exist so far,
            # as Graphite's movingAverage does
            wm = (
                Window.partitionBy(*group_tags)
                .orderBy("w_start")
                .rowsBetween(-(k - 1), 0)
            )
            out = (
                out.withColumn("_ms", F.sum("value").over(wm))
                .withColumn("_mc", F.count("value").over(wm))
                .withColumn(
                    "value",
                    # an all-null trailing window (possible under the
                    # null/linear fill policies) emits NULL, not an
                    # ANSI division error
                    F.expr(
                        f"CASE WHEN _mc = 0 THEN NULL "
                        f"ELSE {_ppm_div(f'_ms * {Q_SCALE}', '_mc')} END"
                    ).cast("long"),
                )
                .drop("_ms", "_mc")
            )
        elif name == "sumSeries":
            # collapse every series into one ([GRAPHITE] sumSeries):
            # one aggregation of output-sized data; the group
            # dimension is gone from here on
            out = out.groupBy("w_start").agg(
                F.sum("value").cast("long").alias("value")
            )
            group_tags = []
        elif name == "multiplySeries":
            # product of every series per bucket ([OTSDB-EXP] lists
            # multiplySeries; [GRAPHITE] semantics). Missing values
            # are skipped, the module's sumSeries/diffSeries policy;
            # a bucket where NO series observed anything emits NULL
            # (a fold over the empty set would claim 1). Exact int64
            # product — the caller owns the domain bound exactly like
            # dev's radicand; integer multiplication commutes, so the
            # collect order cannot change the result. One aggregation
            # of output-sized data (|series| values per bucket — the
            # gexp output dimension, never point-sized).
            out = out.groupBy("w_start").agg(
                F.expr(
                    "CASE WHEN count(value) = 0 THEN NULL ELSE "
                    "aggregate(collect_list(value), CAST(1 AS BIGINT), "
                    "(a, x) -> a * x) END"
                )
                .cast("long")
                .alias("value")
            )
            group_tags = []
        elif name in ("diffSeries", "divideSeries"):
            # combiner family over the query's own output: the series
            # ORDER is the group identity string ASCENDING (the
            # selector tie-break rule), so both engines agree which
            # series is first/the dividend. The roster is a 1-row
            # aggregate of output-sized data, broadcast back — no
            # shuffle of the stream, no driver collect.
            if not group_tags:
                raise ValueError(
                    f"{name} needs grouped series: this output is a "
                    "single ungrouped series"
                )
            # roster + stream both consume `out`: without a persist
            # the whole upstream composition (raw scan included) runs
            # twice: column pruning diverges the two branches, so
            # Catalyst cannot reuse one exchange for both.
            # |groups x buckets| rows: lazy, evictable, output-sized.
            out = out.persist()
            roster = out.agg(
                F.min(gstr).alias("_lo"),
                F.max(gstr).alias("_hi"),
                F.count_distinct(gstr).alias("_ng"),
            )
            joined = out.crossJoin(F.broadcast(roster))
            if name == "diffSeries":
                # first minus the sum of the rest ([GRAPHITE]
                # diffSeries); a series with no value at a bucket
                # (fill=none/null) contributes nothing, as in sum
                out = joined.groupBy("w_start").agg(
                    F.sum(
                        F.when(
                            gstr == F.col("_lo"), F.col("value")
                        ).otherwise(-F.col("value"))
                    )
                    .cast("long")
                    .alias("value")
                )
            else:
                # divideSeries is strictly binary ([GRAPHITE]): the
                # cardinality check rides the plan via raise_error —
                # evaluated per bucket, errors iff a bucket executes
                # with != 2 distinct series in the roster. ppm integer
                # ratio; missing/zero divisor bucket → NULL, not an
                # ANSI throw.
                out = (
                    joined.groupBy("w_start")
                    .agg(
                        F.max(
                            F.when(gstr == F.col("_lo"), F.col("value"))
                        ).alias("_num"),
                        F.max(
                            F.when(gstr == F.col("_hi"), F.col("value"))
                        ).alias("_den"),
                        F.first("_ng").alias("_ng"),
                    )
                    .select(
                        "w_start",
                        F.expr(
                            "CASE WHEN _ng <> 2 THEN CAST(raise_error("
                            "'divideSeries needs exactly 2 series, got '"
                            " || CAST(_ng AS STRING)) AS BIGINT) "
                            "WHEN _den IS NULL OR _den = 0 THEN NULL "
                            f"ELSE {_ppm_div(f'_num * {Q_SCALE}', '_den')} END"
                        )
                        .cast("long")
                        .alias("value"),
                    )
                )
            group_tags = []
        elif name in ("highestMax", "highestCurrent"):
            k = int(arg)
            if k < 1:
                raise ValueError(f"{name} needs k >= 1")
            if not group_tags:
                continue  # a single ungrouped series is trivially the top-1
            # ranking + semi-join both consume `out` — persist the
            # output-sized frame so the upstream composition (raw
            # scan included) runs once, as in the combiner branch
            out = out.persist()
            # rank over NON-NULL values only: under the null/linear
            # fill policies a range ending after the last observation
            # makes every group's final spine bucket NULL, and
            # max_by(value, w_start) would rank every group by that
            # NULL — "current" means the last OBSERVED value
            # (Graphite's highestCurrent rule). Groups with no
            # observed value at all drop out of the ranking.
            per_group = out.where(F.col("value").isNotNull()).groupBy(
                *group_tags
            )
            if name == "highestMax":
                ranked = per_group.agg(F.max("value").alias("_m"))
            else:
                # highestCurrent: the value at each group's LAST
                # non-null bucket — max_by is a single-pass agg
                ranked = per_group.agg(
                    F.expr("max_by(value, w_start)").alias("_m")
                )
            winners = (
                ranked.orderBy(F.desc("_m"), gstr.asc())
                .limit(k)
                .select(*group_tags)
            )
            out = out.join(F.broadcast(winners), group_tags, "left_semi")
        else:
            raise ValueError(
                f"unknown gexp function {name!r}; implemented: {_GEXP_FUNCS}"
            )
    return out


def api_query_gexp(
    points: DataFrame,
    spec: QuerySpec,
    funcs: tuple[tuple[str, int | None], ...],
    metric_col: str = "series_id",
    tags_col: str = "tags",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """/api/query/gexp: one sub-query through the full api_query
    composition, then a gexp function chain over its output series
    (see gexp_apply). Kept int64 end to end — scale is integer
    multiplication, the selectors only ever DROP rows."""
    if not funcs:
        raise ValueError("api_query_gexp needs at least one function")
    out = api_query(
        points,
        spec,
        metric_col=metric_col,
        tags_col=tags_col,
        ts_col=ts_col,
        value_col=value_col,
    )
    return gexp_apply(out, _out_dim_keys(spec), funcs)


# ---------------------------------------------------------------------------
# /api/query percentiles[] — histogram metrics (OpenTSDB 2.4)
# ---------------------------------------------------------------------------


def build_tagged_hist_tier(
    points: DataFrame,
    interval: str,
    metric_col: str = "series_id",
    tags_col: str = "tags",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Materialize the TAGGED histogram tier api_query_hist routes
    to: per (metric, full tag set, window, msb value bucket) point
    counts, tags preserved for tag-filter reads — build_tagged_tier's
    twin over the A14 value-distribution shape. Bucket counts are
    plain sums, so this tier cascades and factor-window re-aggregates
    exactly (the property exact per-window percentiles lack)."""
    from ..operators.rollup import value_bucket

    sec = resolve_interval_seconds(interval)
    ts_sec = F.unix_timestamp(F.col(ts_col))
    w_start = (F.floor(ts_sec / F.lit(sec)).cast("long") * F.lit(sec)).alias(
        "w_start"
    )
    if STORED_SERIES_COL in points.columns:
        # stored-identity grouping — see build_tagged_tier
        g = points.select(
            F.col(metric_col),
            F.col(STORED_SERIES_COL),
            F.col(tags_col),
            w_start,
            value_bucket(F.col(value_col)).alias("bucket"),
        ).groupBy(metric_col, STORED_SERIES_COL, "w_start", "bucket").agg(
            F.first(tags_col).alias("_tags"), F.count("*").alias("n")
        )
        return g.select(
            metric_col,
            F.col("_tags").alias(tags_col),
            STORED_SERIES_COL,
            "w_start",
            "bucket",
            "n",
        )
    g = points.select(
        F.col(metric_col),
        F.array_sort(F.map_entries(F.col(tags_col))).alias("_ent"),
        w_start,
        value_bucket(F.col(value_col)).alias("bucket"),
    ).groupBy(metric_col, "_ent", "w_start", "bucket").agg(
        F.count("*").alias("n")
    )
    return g.select(
        metric_col,
        F.map_from_entries("_ent").alias(tags_col),
        "w_start",
        "bucket",
        "n",
    )


def api_query_hist(
    points: DataFrame,
    spec: QuerySpec,
    percentiles: tuple[int, ...],
    metric_col: str = "series_id",
    tags_col: str = "tags",
    ts_col: str = "ts",
    value_col: str = "value",
    tiers: list[tuple[DataFrame, str]] | None = None,
) -> DataFrame:
    """/api/query with ``percentiles`` on a histogram metric
    ([OTSDB-API] 2.4): per (groupBy tag values, downsample bucket),
    estimate each requested permille from the GROUP-MERGED histogram.

    This is the whole point of histogram metrics: exact per-series
    percentiles cannot be aggregated across series (p95 of p95s is
    not p95), but bucket counts sum — so the cross-series "aggregate"
    IS the histogram merge, and the quantile estimate happens after,
    per group. Consequently there is no per-series stage at all: ONE
    shuffle goes straight from filtered points to the group histogram
    (|groups x buckets x <=64| rows), and the percentile windows run
    over <=64-row partitions of tier-sized data. ``spec.aggregator``,
    ``downsample.aggregator`` and ``fill`` are ignored (the histogram
    IS the aggregation; OpenTSDB renders no fill for histogram
    queries); ``rate`` is refused.

    ``tiers``: optional (build_tagged_hist_tier output, interval)
    pairs — factor-window count re-aggregation under the same
    servability rules and rollup_usage policy as api_query's tier
    route (percentile estimates from a re-aggregated histogram are
    IDENTICAL, not approximated twice: counts are exact).

    Output: (group tags..., w_start, permille int, bucket, est_max,
    total) — est_max = 2^bucket - 1, the one-power-of-two bound."""
    _validate(spec)
    if spec.rate is not None:
        raise ValueError("rate is not defined for histogram percentile queries")
    if not percentiles:
        raise ValueError("api_query_hist needs at least one permille")
    for q in percentiles:
        if not 1 <= int(q) <= 999:
            raise ValueError(f"permille {q!r} out of (0, 1000)")
    if spec.time_shift:
        shifted = replace(
            spec,
            start=spec.start - spec.time_shift,
            end=spec.end - spec.time_shift,
            time_shift=0,
        )
        out = api_query_hist(
            points,
            shifted,
            percentiles,
            metric_col=metric_col,
            tags_col=tags_col,
            ts_col=ts_col,
            value_col=value_col,
            tiers=tiers,
        )
        return out.withColumn(
            "w_start",
            (F.col("w_start") + F.lit(spec.time_shift)).cast("long"),
        )

    from ..operators.rollup import value_bucket

    ds = spec.downsample
    sec = _ds_seconds(spec)
    tags = F.col(tags_col)
    group_tags = _group_tag_keys(spec)

    # same two sub-query modes and tier selection as api_query (the
    # shared _series_and_pred/_choose_tier helpers; here the listed
    # tsuid series' HISTOGRAMS merge — exactly what histogram metrics
    # are for). The series identity itself is not an output dimension
    # on this endpoint, only the predicate is used (resolved per
    # branch so a stored identity column is honored on either frame).
    tier = _choose_tier(spec, sec, tiers)

    if tier is not None:
        _, row_pred = _series_and_pred(
            spec, tags, metric_col, tier, tags_col
        )
        pred = row_pred & (
            (F.col("w_start") >= F.lit(spec.start))
            & (F.col("w_start") < F.lit(spec.end))
        )
        hist = (
            tier.where(pred)
            .select(
                *[
                    tag_value_col(tier, tags_col, k).alias(k)
                    for k in group_tags
                ],
                _bucket_expr(spec, sec, F.col("w_start")).alias("w_start"),
                "bucket",
                "n",
            )
            .groupBy(*group_tags, "w_start", "bucket")
            .agg(F.sum("n").alias("n"))
        )
    else:
        ts_sec = F.unix_timestamp(F.col(ts_col))
        _, row_pred = _series_and_pred(
            spec, tags, metric_col, points, tags_col
        )
        pred = row_pred & (
            (ts_sec >= F.lit(spec.start)) & (ts_sec < F.lit(spec.end))
        )
        hist = (
            points.where(pred)
            .select(
                *[
                    tag_value_col(points, tags_col, k).alias(k)
                    for k in group_tags
                ],
                _bucket_expr(spec, sec, ts_sec).alias("w_start"),
                value_bucket(F.col(value_col)).alias("bucket"),
            )
            .groupBy(*group_tags, "w_start", "bucket")
            .agg(F.count("*").alias("n"))
        )

    w_cum = (
        Window.partitionBy(*group_tags, "w_start")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy(*group_tags, "w_start")
    c = hist.select(
        *group_tags,
        "w_start",
        "bucket",
        F.sum("n").over(w_cum).alias("_cum"),
        F.sum("n").over(w_all).alias("_total"),
    ).withColumn(
        "permille",
        F.explode(F.array(*[F.lit(int(q)).cast("int") for q in percentiles])),
    )
    # smallest bucket whose cumulative count reaches the integer-ceil
    # rank — the A15 rule, permille-parameterized
    thr = F.expr("(_total * permille + 999) DIV 1000")
    sel = (
        c.where(F.col("_cum") >= thr)
        .groupBy(*group_tags, "w_start", "permille")
        .agg(F.min("bucket").alias("bucket"), F.min("_total").alias("total"))
    )
    half = F.expr("shiftleft(CAST(1 AS BIGINT), bucket - 1)")
    est_max = (
        F.when(F.col("bucket") < 0, F.lit(-1).cast("long"))
        .when(F.col("bucket") == 0, F.lit(0).cast("long"))
        .otherwise(half - F.lit(1) + half)
    )
    return sel.select(
        *group_tags,
        "w_start",
        "permille",
        "bucket",
        est_max.alias("est_max"),
        "total",
    )


# ---------------------------------------------------------------------------
# JSON request parsing — the /api/query POST body ([OTSDB-API])
# ---------------------------------------------------------------------------

_DUR_RE = re.compile(r"^(\d+)(ms|s|m|h|d|w|n|y)$")
_DUR_SECONDS = {
    "s": 1,
    "m": 60,
    "h": 3600,
    "d": 86400,
    "w": 7 * 86400,
    # OpenTSDB's calendar-ish n (30d month) and y (365d) duration
    # units are fixed-length in relative timestamps
    "n": 30 * 86400,
    "y": 365 * 86400,
}


def parse_duration_seconds(s: str) -> int:
    """OpenTSDB duration literal -> whole seconds ('1h', '90m',
    '2d'; 'ms' refused — this is a seconds-resolution engine)."""
    m = _DUR_RE.match(s.strip())
    if m is None:
        raise ValueError(f"bad duration {s!r}")
    n, unit = int(m.group(1)), m.group(2)
    if unit == "ms":
        raise ValueError(f"millisecond duration {s!r}: sub-second "
                         "downsampling is not supported")
    return n * _DUR_SECONDS[unit]


def _parse_downsample(s: str) -> Downsample:
    """``<interval>-<aggregator>[-<fill>]`` downsample string. The
    interval is normalized to the engine's canonical '<N>s' form so
    any OpenTSDB duration literal works, not just table-named tiers.
    Fill 'nan' maps to 'null' (NaN falls out of the null-skipping
    aggregates exactly the way null does)."""
    parts = s.strip().split("-")
    if len(parts) not in (2, 3):
        raise ValueError(f"bad downsample {s!r} (want interval-agg[-fill])")
    fill = parts[2] if len(parts) == 3 else "none"
    if fill == "nan":
        fill = "null"
    if parts[0] == "0all":
        # OpenTSDB's whole-range downsample ('0all-sum'): one bucket
        # spanning [start, end), anchored at start — see _ds_seconds
        return Downsample("0all", parts[1], fill)
    sec = parse_duration_seconds(parts[0])
    return Downsample(f"{sec}s", parts[1], fill)


def parse_query_json(doc) -> list[tuple[QuerySpec, tuple[int, ...]]]:
    """Parse an /api/query POST body ([OTSDB-API] — the JSON a real
    OpenTSDB client sends) into engine specs: one (QuerySpec,
    percentile-permilles) pair per sub-query. Field mapping:

    - top-level ``start``/``end``: epoch seconds (ints). Relative
      OpenTSDB times ('1h-ago') are client sugar and refused here —
      resolving 'now' inside the engine would make plans
      irreproducible.
    - per sub-query: ``metric``, ``aggregator``, ``filters`` (type/
      tagk/filter/groupBy — the same four families the engine
      compiles), ``explicitTags``, ``downsample`` string,
      ``rate`` + ``rateOptions`` {counter, counterMax, resetValue,
      dropResets}, ``timeShift`` duration string (accepted as
      ``timeshift`` too), ``rollupUsage`` (ROLLUP_NOFALLBACK /
      ROLLUP_FALLBACK_RAW or the engine's short names), and 2.4
      ``percentiles`` — PERCENT floats (95.0) converted to the
      engine's integer permilles (950); fractional permilles refused
      rather than silently rounded.

    Returns specs only — executing (api_query / api_query_hist /
    api_query_multi) stays the caller's choice."""
    import json as _json

    if isinstance(doc, (str, bytes)):
        doc = _json.loads(doc)
    if not isinstance(doc, dict) or "queries" not in doc:
        raise ValueError("request body needs top-level 'queries'")
    for k in ("start", "end"):
        if not isinstance(doc.get(k), int):
            raise ValueError(
                f"{k!r} must be epoch seconds (relative '-ago' times are "
                "client-side sugar; resolve them before submitting)"
            )
    out = []
    for i, q in enumerate(doc["queries"]):
        tsuids = tuple(q.get("tsuids", ()))
        if "metric" not in q and not tsuids:
            raise ValueError(f"queries[{i}] has neither metric nor tsuids")
        if "metric" in q and tsuids:
            raise ValueError(
                f"queries[{i}]: metric and tsuids are mutually exclusive"
            )
        if "downsample" not in q:
            raise ValueError(
                f"queries[{i}] has no downsample: this is a windowed "
                "rollup engine (see QuerySpec)"
            )
        filters = tuple(
            TagFilter(
                f["type"],
                f["tagk"],
                f["filter"],
                group_by=bool(f.get("groupBy", False)),
            )
            for f in q.get("filters", ())
        )
        rate = None
        # rate applies ONLY when the boolean says so — many clients
        # always serialize a default rateOptions object, and OpenTSDB
        # ignores it unless rate is true
        if q.get("rate", False):
            ro = q.get("rateOptions", {}) or {}
            rate = RateOptions(
                counter=bool(ro.get("counter", False)),
                counter_max=ro.get("counterMax"),
                reset_value=ro.get("resetValue"),
                drop_resets=bool(ro.get("dropResets", False)),
            )
        agg = q.get("aggregator", "sum")
        # OpenTSDB spells its percentile aggregators in PERCENT
        # (p50, p75, p90, p95, p99, and p999 meaning 99.9) — translate
        # to the engine's 3-digit permille form (p500, ..., p999)
        agg = {
            "p50": "p500",
            "p75": "p750",
            "p90": "p900",
            "p95": "p950",
            "p99": "p990",
        }.get(agg, agg)
        shift = q.get("timeShift", q.get("timeshift"))
        usage = q.get("rollupUsage", "nofallback")
        usage = {
            "ROLLUP_NOFALLBACK": "nofallback",
            "ROLLUP_FALLBACK": "fallback",
            "ROLLUP_FALLBACK_RAW": "fallback_raw",
        }.get(usage, usage)
        permilles = []
        for p in q.get("percentiles", ()):
            pm = float(p) * 10  # percent -> permille
            if pm != int(pm):
                raise ValueError(
                    f"percentile {p!r}: finer than permille resolution"
                )
            permilles.append(int(pm))
        spec = QuerySpec(
            metric=q.get("metric", ""),
            start=doc["start"],
            end=doc["end"],
            aggregator=agg,
            filters=filters,
            explicit_tags=bool(q.get("explicitTags", False)),
            downsample=_parse_downsample(q["downsample"]),
            rate=rate,
            time_shift=parse_duration_seconds(shift) if shift else 0,
            rollup_usage=usage,
            tsuids=tsuids,
        )
        _validate(spec)
        if permilles and spec.rate is not None:
            raise ValueError(
                f"queries[{i}]: rate is not defined for histogram "
                "percentile queries"
            )
        out.append((spec, tuple(permilles)))
    return out


# ------------------------------------------------- GET query strings

_QS_FILTER_FN = re.compile(r"^([a-z_]+)\((.*)\)$")


def _split_depth0(s: str, sep: str) -> list[str]:
    """Split ``s`` on ``sep`` at depth 0 of {}/() nesting — OpenTSDB's
    m= sub-query strings carry ':' and ',' INSIDE rate options,
    filter functions, and regexp bodies, so a naive split corrupts
    them ([OTSDB-API] query string format)."""
    out: list[str] = []
    buf: list[str] = []
    depth = 0
    for ch in s:
        if ch in "{(":
            depth += 1
        elif ch in "})":
            depth -= 1
            if depth < 0:
                raise ValueError(f"unbalanced braces in {s!r}")
        if ch == sep and depth == 0:
            out.append("".join(buf))
            buf = []
        else:
            buf.append(ch)
    if depth != 0:
        raise ValueError(f"unbalanced braces in {s!r}")
    out.append("".join(buf))
    return out


def _take_brace_group(s: str, ctx: str) -> tuple[str, str]:
    """``s`` starts with '{': return (body, remainder) of the first
    balanced {...} group. Parens nest (regexp bodies may carry '}'
    only via escapes, which OpenTSDB's own splitter also rejects)."""
    depth = 0
    for i, ch in enumerate(s):
        if ch in "{(":
            depth += 1
        elif ch in "})":
            depth -= 1
            if depth == 0:
                if ch != "}":
                    raise ValueError(f"mismatched braces in {ctx!r}")
                return s[1:i], s[i + 1 :]
    raise ValueError(f"unbalanced braces in {ctx!r}")


def _qs_tag_filter(tagk: str, expr: str, group_by: bool) -> TagFilter:
    """One ``tagk=expr`` entry from an m= brace group -> TagFilter.

    Explicit filter functions pass through verbatim —
    ``host=literal_or(web01|web02)``, ``host=regexp(web\\d+)``,
    ``canary=not_key()`` — exactly the type names compile_tag_filter
    implements. The 2.0-era shorthands map per the public docs:
    ``*`` / any value containing ``*`` is the glob filter, anything
    else (including pipe lists) is literal_or."""
    m = _QS_FILTER_FN.match(expr)
    if m:
        return TagFilter(m.group(1), tagk, m.group(2), group_by=group_by)
    if "*" in expr:
        return TagFilter("wildcard", tagk, expr, group_by=group_by)
    return TagFilter("literal_or", tagk, expr, group_by=group_by)


def _qs_rate(seg: str) -> RateOptions:
    """``rate`` / ``rate{counter[,<counterMax>[,<resetValue>]]}``;
    the ``dropcounter`` spelling is OpenTSDB's dropResets form
    (negative-delta samples emit nothing — this engine models it as
    drop_resets WITHOUT wrap, since a dropped reset never wraps).
    Empty positions are legal (``rate{counter,,1000}``). Note the
    engine's explicit-or-refuse stance carries over: ``rate{counter}``
    with no counterMax is refused downstream by _validate rather than
    silently defaulting to Long.MAX_VALUE as OpenTSDB does."""
    if seg == "rate":
        return RateOptions()
    body = seg[len("rate") :]
    if not (body.startswith("{") and body.endswith("}")):
        raise ValueError(f"bad rate options {seg!r}")
    toks = [t.strip() for t in body[1:-1].split(",")]
    if len(toks) > 3:
        raise ValueError(f"bad rate options {seg!r} (max 3 fields)")
    kind = toks[0] if toks and toks[0] else ""
    if kind not in ("", "counter", "dropcounter"):
        raise ValueError(f"bad rate counter spelling {kind!r}")
    cmax = int(toks[1]) if len(toks) > 1 and toks[1] else None
    reset = int(toks[2]) if len(toks) > 2 and toks[2] else None
    return RateOptions(
        counter=kind == "counter",
        counter_max=cmax,
        reset_value=reset,
        drop_resets=kind == "dropcounter",
    )


def _qs_subquery(
    m: str, start: int, end: int, tsuid_mode: bool
) -> QuerySpec:
    """One ``m=`` (or ``tsuid=``) parameter value -> QuerySpec.

    Layout ([OTSDB-API] /api/query, HTTP query string format):
    ``<aggregator>:[<downsample>:][rate[{...}]:][explicit_tags:]
    <metric>[{<groupBy filters>}][{<non-groupBy filters>}]`` — the
    middle segments are detected by shape rather than position
    (OpenTSDB's own parser accepts rate and downsample in either
    order), so ``sum:rate:1h-avg:metric`` and ``sum:1h-avg:rate:
    metric`` both parse."""
    parts = _split_depth0(m.strip(), ":")
    if len(parts) < 2:
        raise ValueError(f"bad m= value {m!r} (want agg:...:metric)")
    agg = {
        "p50": "p500",
        "p75": "p750",
        "p90": "p900",
        "p95": "p950",
        "p99": "p990",
    }.get(parts[0], parts[0])
    rate = None
    downsample = None
    explicit = False
    for seg in parts[1:-1]:
        if seg == "explicit_tags":
            explicit = True
        elif seg == "rate" or seg.startswith("rate{"):
            if rate is not None:
                raise ValueError(f"duplicate rate segment in {m!r}")
            rate = _qs_rate(seg)
        else:
            if downsample is not None:
                raise ValueError(f"duplicate downsample segment in {m!r}")
            downsample = _parse_downsample(seg)
    if downsample is None:
        raise ValueError(
            f"m= value {m!r} has no downsample segment: this is a "
            "windowed rollup engine (see QuerySpec)"
        )
    last = parts[-1]
    if tsuid_mode:
        if "{" in last:
            raise ValueError(f"tsuid= takes no tag filters: {m!r}")
        tsuids = tuple(t for t in last.split(",") if t)
        # OpenTSDB's GET tsuid list is comma-separated, which is safe
        # for its hex TSUIDs; this engine's identity analogue
        # ('<metric>|<k=v,k=v>') uses commas as the TAG joiner, so a
        # multi-tag identity cannot ride the comma list — the split
        # leaves '|'-less fragments. Refuse loudly (the JSON body's
        # tsuids[] carries any identity) rather than match nothing.
        bad = [t for t in tsuids if "|" not in t]
        if bad:
            raise ValueError(
                f"tsuid fragment(s) {bad!r} have no '|': multi-tag "
                "series identities cannot be comma-listed in the GET "
                "form (commas join tags); use the JSON body's tsuids[]"
            )
        spec = QuerySpec(
            metric="",
            start=start,
            end=end,
            aggregator=agg,
            downsample=downsample,
            rate=rate,
            tsuids=tsuids,
        )
        _validate(spec)
        return spec
    brace = last.find("{")
    metric = last if brace < 0 else last[:brace]
    filters: list[TagFilter] = []
    groups: list[str] = []
    rest = "" if brace < 0 else last[brace:]
    while rest:
        if not rest.startswith("{"):
            raise ValueError(f"bad filter braces in {m!r}")
        body, rest = _take_brace_group(rest, m)
        groups.append(body)
    if len(groups) > 2:
        raise ValueError(f"at most two filter groups in {m!r}")
    for gi, grp in enumerate(groups):
        group_by = gi == 0  # first brace group = output dimensions
        for pair in _split_depth0(grp, ","):
            if not pair:
                continue
            if "=" not in pair:
                raise ValueError(f"bad tag filter {pair!r} in {m!r}")
            tagk, expr = pair.split("=", 1)
            filters.append(_qs_tag_filter(tagk.strip(), expr.strip(),
                                          group_by))
    if explicit and not filters:
        raise ValueError(f"explicit_tags with no filters in {m!r}")
    spec = QuerySpec(
        metric=metric,
        start=start,
        end=end,
        aggregator=agg,
        filters=tuple(filters),
        explicit_tags=explicit,
        downsample=downsample,
        rate=rate,
    )
    _validate(spec)
    return spec


def parse_query_string(qs) -> list[tuple[QuerySpec, tuple[int, ...]]]:
    """Parse the GET form of /api/query ([OTSDB-API] HTTP query
    string) — the spelling every CLI and dashboard client uses —
    into the same (QuerySpec, percentiles) pairs parse_query_json
    produces, on the same validation plumbing.

    Accepts a raw query string (leading '?' or a full path+query
    tolerated; percent-encoding and '+' decoded by stdlib parse_qsl)
    or a pre-parsed {param: value-or-list} dict. ``start``/``end``
    must be epoch seconds — relative '-ago' spellings are client
    sugar and refused (the parse_query_json rule: resolving 'now'
    engine-side makes plans irreproducible). ``m=`` repeats for
    multiple sub-queries; ``tsuid=`` carries the direct-series mode.
    The GET form has no percentiles[] field (that is POST-body-only
    in OpenTSDB 2.4), so the permille tuple is always ().

    Execution stays the caller's choice, exactly as with
    parse_query_json (api_query / api_query_multi)."""
    from urllib.parse import parse_qsl

    if isinstance(qs, (str, bytes)):
        if isinstance(qs, bytes):
            qs = qs.decode()
        qs = qs.split("?", 1)[-1].lstrip("?")
        pairs = parse_qsl(qs, keep_blank_values=True)
        params: dict[str, list[str]] = {}
        for k, v in pairs:
            params.setdefault(k, []).append(v)
    else:
        params = {
            k: (list(v) if isinstance(v, (list, tuple)) else [v])
            for k, v in qs.items()
        }
    for k in ("start", "end"):
        if k not in params or len(params[k]) != 1:
            raise ValueError(f"query string needs exactly one {k!r}")
        if not str(params[k][0]).lstrip("-").isdigit():
            raise ValueError(
                f"{k!r} must be epoch seconds (relative '-ago' times "
                "are client-side sugar; resolve them before submitting)"
            )
    start, end = int(params["start"][0]), int(params["end"][0])
    ms = params.get("m", [])
    tsuids = params.get("tsuid", [])
    if not ms and not tsuids:
        raise ValueError("query string has no m= or tsuid= sub-query")
    out: list[tuple[QuerySpec, tuple[int, ...]]] = []
    for m in ms:
        out.append((_qs_subquery(m, start, end, tsuid_mode=False), ()))
    for t in tsuids:
        out.append((_qs_subquery(t, start, end, tsuid_mode=True), ()))
    return out
