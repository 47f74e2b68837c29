"""Fill-policy golden micro-fixture (FIXTURES.md §2 / OpenTSDB
downsampler fill policies): one series, windows {0,1,4,5}, gaps {2,3}."""

import datetime as dt
import math
from functools import reduce

import pandas as pd
import pytest
from hypothesis import example, given, settings, strategies as st
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from opentsdb_rollup_rust_spark.config import STORED_AGGS as STORED
from opentsdb_rollup_rust_spark.operators.gapfill import gap_fill
from opentsdb_rollup_rust_spark.operators.tagquery import TagFilter

BASE = dt.datetime(2024, 1, 1, 0, 0, 0)


@pytest.fixture(scope="module")
def sparse(spark):
    rows = [
        ("s", BASE + dt.timedelta(minutes=m), "1m", v, 1, v, v)
        for m, v in [(0, 10), (1, 11), (4, 14), (5, 15)]
    ]
    return spark.createDataFrame(
        rows, "series_id string, window_start timestamp, interval string, "
        "sum long, count long, min long, max long"
    )


def _by_minute(df):
    return {
        r.window_start.minute: (r.sum, r["count"], r["min"], r["max"])
        for r in df.collect()
    }


def test_none(sparse):
    assert gap_fill(sparse, "1m", "none").count() == 4


def test_zero(sparse):
    got = _by_minute(gap_fill(sparse, "1m", "zero"))
    assert sorted(got) == [0, 1, 2, 3, 4, 5]
    assert got[2] == (0, 0, 0, 0) and got[3] == (0, 0, 0, 0)
    assert got[1] == (11, 1, 11, 11)


def test_null(sparse):
    got = _by_minute(gap_fill(sparse, "1m", "null"))
    assert got[2] == (None, None, None, None)
    assert got[5] == (15, 1, 15, 15)


def test_nan(sparse):
    import math

    got = _by_minute(gap_fill(sparse, "1m", "nan"))
    s, c, lo, hi = got[2]
    assert math.isnan(s) and math.isnan(lo) and math.isnan(hi)
    assert c == 0  # count stays an exact long
    assert got[5] == (15.0, 1, 15.0, 15.0)  # observed values render as doubles


def test_ffill(sparse):
    got = _by_minute(gap_fill(sparse, "1m", "ffill"))
    assert got[2] == (11, 1, 11, 11)  # carried from window 1
    assert got[3] == (11, 1, 11, 11)
    assert got[4] == (14, 1, 14, 14)


def test_interp(sparse):
    # lerp across the {2,3} gap between (minute 1, 11) and (minute 4, 14):
    # slope 1/minute, exactly representable -> 12, 13; count stays the
    # synthetic-row 0 marker, observed rows untouched.
    got = _by_minute(gap_fill(sparse, "1m", "interp"))
    assert got[2] == (12, 0, 12, 12)
    assert got[3] == (13, 0, 13, 13)
    assert got[1] == (11, 1, 11, 11)
    assert got[4] == (14, 1, 14, 14)


def test_interp_floor_semantics(spark):
    # Non-divisible DECREASING gap: prev=10@0, next=3@3. Python floor
    # division is the contract (and what the DuckDB oracle computes):
    #   minute 1: 10 + (3-10)*1 // 3 = 10 + floor(-7/3)  = 7
    #   minute 2: 10 + (3-10)*2 // 3 = 10 + floor(-14/3) = 5
    # Truncating-toward-zero arithmetic would give 8 / 6 instead.
    rows = [
        ("s", BASE, "1m", 10, 1, 10, 10),
        ("s", BASE + dt.timedelta(minutes=3), "1m", 3, 1, 3, 3),
    ]
    df = spark.createDataFrame(
        rows,
        "series_id string, window_start timestamp, interval string, "
        "sum long, count long, min long, max long",
    )
    got = _by_minute(gap_fill(df, "1m", "interp"))
    assert got[1] == (7, 0, 7, 7)
    assert got[2] == (5, 0, 5, 5)


def test_interp_matches_python_reference(points_1h):
    # Golden: every synthetic window equals the pure-python integer lerp
    # of its bracketing observed windows, per series and value column.
    filled = {
        (r.series_id, r.window_start): r
        for r in gap_fill(points_1h, "1h", "interp").collect()
    }
    obs: dict[str, list] = {}
    for r in points_1h.collect():
        obs.setdefault(r.series_id, []).append(r)
    n_synth = 0
    for sid, rows in obs.items():
        rows.sort(key=lambda r: r.window_start)
        for a, b in zip(rows, rows[1:]):
            t0, t1 = a.window_start, b.window_start
            steps = int((t1 - t0).total_seconds()) // 3600
            for i in range(1, steps):
                t = t0 + dt.timedelta(hours=i)
                got = filled[(sid, t)]
                assert got["count"] == 0
                for c in ("sum", "min", "max"):
                    exact = a[c] + (b[c] - a[c]) * (i * 3600) // (steps * 3600)
                    assert got[c] == exact, (sid, t, c)
                n_synth += 1
    assert n_synth > 0  # the fixture must actually have gaps


def test_interp_property_random_sparse_series(spark):
    # Property: for ANY sparse series, interp fill equals the pure-python
    # integer lerp — one Spark round trip over many hypothesis-style
    # cases batched into a single DataFrame (per-example Spark jobs
    # would be prohibitively slow, and the semantics are per-series, so
    # batching loses no coverage).
    import random

    rng = random.Random(42)
    rows, expect = [], {}
    for sid in range(25):
        n = rng.randint(2, 12)
        minutes = sorted(rng.sample(range(40), n))
        vals = [rng.randint(-1000, 1000) for _ in minutes]
        s = f"s{sid}"
        for m, v in zip(minutes, vals):
            rows.append((s, BASE + dt.timedelta(minutes=m), "1m", v, 1, v, v))
        for (m0, v0), (m1, v1) in zip(
            zip(minutes, vals), zip(minutes[1:], vals[1:])
        ):
            for m in range(m0 + 1, m1):
                expect[(s, m)] = v0 + (v1 - v0) * (m - m0) * 60 // ((m1 - m0) * 60)
    df = spark.createDataFrame(
        rows,
        "series_id string, window_start timestamp, interval string, "
        "sum long, count long, min long, max long",
    )
    got = {
        (r.series_id, r.window_start.minute + 60 * r.window_start.hour): r.sum
        for r in gap_fill(df, "1m", "interp").collect()
        if r["count"] == 0
    }
    assert got == expect


def test_interp_plan_single_shuffle(points_1h):
    # The fill kernel's neighbours (lag, lead) share one
    # (series_id)-partitioned sort, so the whole fill costs exactly ONE
    # exchange — no spine, no join, no exchange per window frame. The
    # round-robin input makes that exchange needed: a one-partition
    # frame (this fixture's) is already clustered by any key.
    spread = points_1h.repartition(4)
    plan = gap_fill(spread, "1h", "interp")._jdf.queryExecution().executedPlan().toString()
    n_exchanges = plan.count("Exchange hashpartitioning(series_id")
    assert n_exchanges == 1, plan


def test_read_rollup_fill_scans_tier_once(spark, points_1h, tmp_path):
    # each observed row emits its own gap, so the fill needs no bounds
    # aggregate joined back to the rows: the tier is read by one scan
    from opentsdb_rollup_rust_spark.plans.tier_router import read_rollup
    from opentsdb_rollup_rust_spark.sources.store import ManifestStore

    store = ManifestStore(spark, str(tmp_path / "store"))
    store.append("rollup_1h", points_1h)
    for fill in ("zero", "ffill", "interp"):
        df = read_rollup(store, 3600, fill=fill)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("FileScan parquet") == 1, plan
        assert "Join" not in plan, plan
        assert df.count() == gap_fill(points_1h, "1h", fill).count()


def test_calendar_rollup_cascade_matches_direct(points):
    # A17: non-uniform ISO-week windows — cascade from the 1d tier must
    # equal a direct date_trunc('week') aggregation over raw points.
    from opentsdb_rollup_rust_spark.operators.rollup import (
        calendar_rollup,
        cascade_reagg,
        tumbling_rollup,
    )

    r1d = cascade_reagg(
        cascade_reagg(tumbling_rollup(points, "1m"), "1h"), "1d"
    )
    via_cascade = {
        (r.series_id, r.window_start): (r.sum, r["count"], r["min"], r["max"])
        for r in calendar_rollup(r1d, "week").collect()
    }
    direct = {
        (r.series_id, r.window_start): (r.sum, r["count"], r["min"], r["max"])
        for r in points.groupBy(
            "series_id", F.date_trunc("week", "ts").alias("window_start")
        )
        .agg(
            F.sum("value").alias("sum"),
            F.count("value").alias("count"),
            F.min("value").alias("min"),
            F.max("value").alias("max"),
        )
        .collect()
    }
    assert via_cascade == direct and len(direct) > 0


def test_calendar_rollup_rejects_unknown_unit(points_1h):
    from opentsdb_rollup_rust_spark.operators.rollup import calendar_rollup

    with pytest.raises(ValueError, match="calendar unit"):
        calendar_rollup(points_1h, "fortnight")


def test_fill_preserves_observed(points_1h):
    filled = gap_fill(points_1h, "1h", "zero")
    obs = points_1h.drop("interval")
    joined = filled.drop("interval").join(
        obs.withColumnRenamed("sum", "osum"), ["series_id", "window_start"], "inner"
    )
    assert joined.where(F.col("sum") != F.col("osum")).count() == 0


@pytest.fixture(scope="module")
def points_1h(points):
    from opentsdb_rollup_rust_spark.operators.rollup import tumbling_rollup

    return tumbling_rollup(points, "1h").cache()


def test_asof_join_golden(spark):
    """J8 golden: backward as-of with dim-applies-at-its-own-ts tie
    rule, null before the first dim, and facts preserved verbatim."""
    from opentsdb_rollup_rust_spark.operators.asof import asof_join
    from pyspark.sql import functions as F

    facts = spark.createDataFrame(
        [("a", 5, 50), ("a", 10, 100), ("a", 15, 150), ("b", 7, 70)],
        "series_id string, ts_e long, value long",
    )
    dims = spark.createDataFrame(
        [("a", 10, 1), ("a", 12, 2)],
        "series_id string, eff_ts long, cfg long",
    )
    got = {
        (r["series_id"], r["ts_e"]): r["cfg"]
        for r in asof_join(facts, dims, fact_ts="ts_e").collect()
    }
    assert got == {
        ("a", 5): None,   # before first dim
        ("a", 10): 1,     # dim at ts applies to the fact AT ts
        ("a", 15): 2,     # latest <= 15
        ("b", 7): None,   # series with no dims at all
    }
    # the whole point vs a range join: ONE shuffle (the per-series
    # window sort), no join node at all
    plan = (
        asof_join(facts, dims, fact_ts="ts_e")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange") == 1, plan
    assert "Join" not in plan, plan


def test_asof_join_null_dim_payload_applies(spark):
    """A dim row with an explicitly-NULL payload APPLIES from its
    timestamp (struct-wrap semantics, r4 ADVICE): facts after it see
    NULL, not the previous dim's value carried forward."""
    from opentsdb_rollup_rust_spark.operators.asof import asof_join

    facts = spark.createDataFrame(
        [("a", 5, 1), ("a", 15, 1), ("a", 25, 1)],
        "series_id string, ts_e long, value long",
    )
    dims = spark.createDataFrame(
        [("a", 4, 7), ("a", 10, None), ("a", 20, 9)],
        "series_id string, eff_ts long, cfg long",
    )
    got = {
        r["ts_e"]: r["cfg"]
        for r in asof_join(facts, dims, fact_ts="ts_e").collect()
    }
    assert got == {5: 7, 15: None, 25: 9}


def test_asof_join_rejects_colliding_fact_columns(spark):
    """facts carrying the payload name or an internal staging name is
    refused loudly (r4 ADVICE) — never silently overwritten."""
    import pytest as _pt

    from opentsdb_rollup_rust_spark.operators.asof import asof_join

    dims = spark.createDataFrame(
        [("a", 1, 1)], "series_id string, eff_ts long, cfg long"
    )
    for bad in ("cfg", "_t", "_is_dim", "_payload"):
        facts = spark.createDataFrame(
            [("a", 5, 1)], f"series_id string, ts_e long, `{bad}` long"
        )
        with _pt.raises(ValueError, match="collide"):
            asof_join(facts, dims, fact_ts="ts_e")


# --- differential: the fill kernel against a pandas recompute ---------

T0 = 1704067200  # aligned to every step used below
STEP = 60
POLICIES = ("zero", "null", "nan", "ffill", "interp")


def _lerp(v0, v1, i0, i1, i):
    return v0 + (v1 - v0) * (i - i0) * STEP // ((i1 - i0) * STEP)


def _expect_series(obs: dict, lo: int, hi: int, policy: str) -> dict:
    """{window index: value} of one filled series over [lo, hi]."""
    s = pd.Series(obs, dtype="float64").sort_index()
    idx = s.index.tolist()
    out = {}
    for i in range(lo, hi + 1):
        if i in obs:
            out[i] = obs[i]
        elif policy == "zero":
            out[i] = 0
        elif policy == "ffill":
            prev = s[s.index < i]
            out[i] = None if prev.empty else int(prev.iloc[-1])
        elif policy in ("linear", "interp"):
            before = [j for j in idx if j < i]
            after = [j for j in idx if j > i]
            out[i] = (
                _lerp(obs[before[-1]], obs[after[0]], before[-1], after[0], i)
                if before and after
                else None
            )
        else:
            out[i] = None
    return out


_series_st = st.dictionaries(
    st.tuples(st.sampled_from("ab"), st.sampled_from(["r0", "r1", "r2"])),
    st.dictionaries(st.integers(0, 11), st.integers(-1000, 1000), min_size=1, max_size=8),
    max_size=5,
)


@settings(max_examples=6, deadline=None)
@given(data=_series_st, lo=st.integers(-3, 0), hi=st.integers(11, 14), all0=st.booleans())
@example(data={}, lo=-2, hi=13, all0=False)  # no series observed anything
@example(data={("a", "r0"): {5: 7}}, lo=-2, hi=13, all0=False)  # one row
@example(data={("a", "r0"): {0: 1, 11: 2}, ("b", "r1"): {3: 4}}, lo=0, hi=11, all0=True)
def test_fill_kernel_differential(spark, data, lo, hi, all0):
    """Every gap_fill policy (each series between its own first and
    last window) and every /api/query fill (each series over the
    aligned query range, edges unobserved when the range is wider than
    the data; 0all is one bucket at start) equals a pandas recompute."""
    from opentsdb_rollup_rust_spark.plans.api_query import (
        Downsample,
        QuerySpec,
        api_query_finish,
    )

    if all0:  # one whole-range bucket: each series' one row at start
        data = {k: {lo: next(iter(obs.values()))} for k, obs in data.items()}
    rows = [(h, r, i, v) for (h, r), obs in data.items() for i, v in obs.items()]
    base = spark.createDataFrame(rows, "host string, rack string, i int, v long")
    ws = F.timestamp_seconds(F.lit(T0) + F.col("i") * STEP)

    # gap_fill: one frame per series, sum/min/max distinct per row
    rollup = base.select(
        F.concat_ws("|", "host", "rack").alias("series_id"),
        ws.alias("window_start"),
        F.lit("1m").alias("interval"),
        F.col("v").alias("sum"),
        (F.abs("v") % 7 + 1).cast("long").alias("count"),
        (F.col("v") - 3).alias("min"),
        (F.col("v") * 2).alias("max"),
    )
    # one job per example: every policy's output in one union (doubles
    # hold these values exactly, and nan's NaN)
    filled = reduce(
        DataFrame.unionByName,
        [
            gap_fill(rollup, "1m", pol).select(
                F.lit(pol).alias("pol"),
                "series_id",
                F.expr(f"(unix_timestamp(window_start) - {T0}) div {STEP}").alias("i"),
                *(F.col(c).cast("double").alias(c) for c in STORED),
            )
            for pol in POLICIES
        ],
    )
    got = {
        (r.pol, r.series_id, r.i): tuple(
            None if x is None else "nan" if math.isnan(x) else int(x)
            for x in (r[c] for c in STORED)
        )
        for r in filled.collect()
    }
    want = {}
    for (h, rk), obs in data.items():
        sid = f"{h}|{rk}"
        lo_s, hi_s = min(obs), max(obs)
        cols = {
            "sum": obs,
            "count": {i: abs(v) % 7 + 1 for i, v in obs.items()},
            "min": {i: v - 3 for i, v in obs.items()},
            "max": {i: v * 2 for i, v in obs.items()},
        }
        for pol in POLICIES:
            kern = {"nan": "null"}.get(pol, pol)
            exp = {c: _expect_series(o, lo_s, hi_s, kern) for c, o in cols.items()}
            for i in range(lo_s, hi_s + 1):
                vals = [exp[c][i] for c in STORED]
                if i not in obs and pol in ("nan", "interp"):
                    vals[1] = 0  # a filled window's count marker
                if pol == "nan":
                    vals = [("nan" if x is None else x) for x in vals]
                want[(pol, sid, i)] = tuple(vals)
    assert got == want

    # /api/query fill: aggregator "none" passes the filled per-series
    # frame through, so each filled bucket is observable
    start, end = T0 + lo * STEP, T0 + (hi + 1) * STEP
    per_series = base.select(
        "host",
        F.concat_ws("|", "host", "rack").alias("_series"),
        (F.lit(T0) + F.col("i") * STEP).cast("long").alias("w_start"),
        "v",
    )
    specs = {
        fill: QuerySpec(
            metric="m",
            start=start,
            end=end,
            aggregator="none",
            filters=(TagFilter("wildcard", "host", "*", group_by=True),),
            downsample=Downsample("0all" if all0 else "1m", "sum", fill=fill),
        )
        for fill in ("zero", "null", "ffill", "linear")
    }
    out = reduce(
        DataFrame.unionByName,
        [
            api_query_finish(per_series, spec).withColumn("fill", F.lit(fill))
            for fill, spec in specs.items()
        ],
    )
    got = {
        (r.fill, r.series, (r.w_start - T0) // STEP): r.value for r in out.collect()
    }
    want = {
        (fill, f"{h}|{rk}", i): v
        for fill in specs
        for (h, rk), obs in data.items()
        for i, v in _expect_series(obs, lo, lo if all0 else hi, fill).items()
    }
    assert got == want
