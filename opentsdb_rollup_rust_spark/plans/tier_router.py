"""§3.2 — the continuous-aggregate read path + tier router.

``read_rollup`` answers "give me series X between t0 and t1 at
resolution R, gap-filled" — the OpenTSDB query-time surface (derived
avg, fill policies) over the stored tiers.

The router picks the cheapest tier that can answer a requested
resolution: a query at 2h resolution reads the 1h tier (re-aggregated
2x) rather than 120x of the 1m tier — the "answer coarse queries from
coarse tiers" rewrite (cf. the Factor-Windows paper in PAPERS.md).
This is a Python-level planner above Catalyst: it changes which table
is scanned, then lets Catalyst push the time/series predicates into
that scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DEFAULT_TIERS, INTERVAL_SECONDS, TierSpec
from ..operators.gapfill import gap_fill
from ..operators.rollup import cascade_reagg, derived_avg
from ..sources.store import ManifestStore
from .api_query import select_rollup_tier


def route_tier(
    resolution_seconds: int, tiers: dict[str, TierSpec] | None = None
) -> str:
    """Coarsest stored tier whose interval divides the requested
    resolution (exact re-aggregation possible): the /api/query rule,
    ``select_rollup_tier`` under the ``fallback`` policy, so both read
    paths route the same way."""
    names = list(tiers or DEFAULT_TIERS)
    i = select_rollup_tier(
        [INTERVAL_SECONDS[n] for n in names], resolution_seconds, "fallback"
    )
    return names[i]


def rollup_read_pipeline(
    df: DataFrame,
    tier: str,
    resolution_seconds: int,
    t0=None,
    t1=None,
    series_predicate=None,
    fill: str = "none",
    with_avg: bool = True,
) -> DataFrame:
    """The read pipeline AFTER routing: predicate prune -> exact
    re-aggregation to the requested resolution -> fill -> derived avg.
    Store-independent so the router is testable/oracle-checkable
    against in-memory tiers; ``read_rollup`` applies it to the stored
    table."""
    # predicates FIRST so they push into the parquet scan
    if t0 is not None:
        df = df.where(F.col("window_start") >= F.lit(t0))
    if t1 is not None:
        df = df.where(F.col("window_start") < F.lit(t1))
    if series_predicate is not None:
        df = df.where(series_predicate)
    if resolution_seconds != INTERVAL_SECONDS[tier]:
        # exact re-aggregation to the requested resolution; the '<N>s'
        # name resolves through config.resolve_interval_seconds — no
        # global-table mutation at query time (the planner is pure)
        name = f"{resolution_seconds}s"
        df = cascade_reagg(df, name)
        interval_name = name
    else:
        interval_name = tier
    if fill != "none":
        df = gap_fill(df, interval_name, fill)
    if with_avg:
        df = derived_avg(df)
    return df


def realtime_read_pipeline(
    tier_df: DataFrame,
    raw_points: DataFrame,
    tier: str,
    resolution_seconds: int,
    watermark_epoch: int,
    t0=None,
    t1=None,
    series_predicate=None,
    fill: str = "none",
    with_avg: bool = True,
) -> DataFrame:
    """Real-time continuous-aggregate splice (the TimescaleDB
    real-time-caggs / OpenTSDB rollup+raw merge read): the
    materialized tier answers every fine window strictly BEFORE the
    materialization watermark; raw points at/after the watermark are
    rolled up on the fly at the same fine interval; the two halves
    union at fine granularity and then flow through the normal read
    pipeline (exact re-aggregation to the requested resolution ->
    fill -> derived avg).

    Splicing at the FINE tier's granularity (not the requested
    resolution) is what makes the result exact even when a coarse
    output window straddles the watermark — its cold half comes from
    the tier, its hot half from raw, and ``cascade_reagg`` recombines
    them because sum/count/min/max are decomposable.

    ``watermark_epoch`` must be a multiple of the fine tier's
    interval — the invariant every materializer maintains (a tier
    only ever contains COMPLETE windows). Both watermark predicates
    are literal comparisons, so they push into the respective scans
    (tier parquet footer pruning on window_start; raw event-time
    pruning on ts).
    """
    sec = INTERVAL_SECONDS[tier]
    if watermark_epoch % sec:
        raise ValueError(
            f"watermark {watermark_epoch} not aligned to tier {tier} ({sec}s)"
        )
    from ..operators.rollup import tumbling_rollup

    wm = F.timestamp_seconds(F.lit(watermark_epoch))
    cold = tier_df.where(F.col("window_start") < wm)
    hot = tumbling_rollup(raw_points.where(F.col("ts") >= wm), tier)
    fine = cold.unionByName(hot)
    return rollup_read_pipeline(
        fine,
        tier,
        resolution_seconds,
        t0=t0,
        t1=t1,
        series_predicate=series_predicate,
        fill=fill,
        with_avg=with_avg,
    )


def read_rollup(
    store: ManifestStore,
    resolution_seconds: int,
    t0=None,
    t1=None,
    series_predicate=None,
    fill: str = "none",
    with_avg: bool = True,
    tiers: dict[str, TierSpec] | None = None,
) -> DataFrame:
    """Query surface: route -> scan (pruned) -> re-agg -> fill -> avg."""
    tier = route_tier(resolution_seconds, tiers)
    df = store.read(f"rollup_{tier}").drop("bucket")
    return rollup_read_pipeline(
        df,
        tier,
        resolution_seconds,
        t0=t0,
        t1=t1,
        series_predicate=series_predicate,
        fill=fill,
        with_avg=with_avg,
    )
