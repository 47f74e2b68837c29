"""Composition tests for plans/api_query.py — the corners unit-green
operators can't see: fill/rate stage ORDER, explicitTags interaction
with groupBy, counter rate options through the composed path, and
spec validation. Semantics authority: the public OpenTSDB HTTP API
docs' order of operations (filter -> group -> downsample -> fill ->
aggregate -> rate LAST)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from opentsdb_rollup_rust_spark.operators.tagquery import TagFilter
from opentsdb_rollup_rust_spark.plans.api_query import (
    Downsample,
    QuerySpec,
    RateOptions,
    api_query,
)


def _pts(spark, rows):
    """rows: (metric, epoch_sec, value, tags-dict)."""
    return spark.createDataFrame(
        [(m, t, v, tags) for m, t, v, tags in rows],
        "series_id string, ts_sec long, value long, tags map<string,string>",
    ).select(
        "series_id",
        F.timestamp_seconds("ts_sec").alias("ts"),
        "value",
        "tags",
    )


HOST_A = {"host": "a", "env": "prod"}
HOST_B = {"host": "b", "env": "prod"}


def test_zero_fill_happens_before_rate(spark):
    """THE composition corner (r4 VERDICT): with downsample fill=zero
    and a plain rate, an empty bucket becomes an explicit 0 and the
    rate shows a negative spike INTO the gap and a positive spike out
    of it. A rate-before-fill bug would instead difference across the
    gap (one small delta over 2*dt — and no rows at the gap bucket)."""
    rows = [
        ("m", 0, 10, HOST_A),
        ("m", 60, 16, HOST_A),
        # bucket 120 empty
        ("m", 180, 4, HOST_A),
    ]
    spec = QuerySpec(
        metric="m",
        start=0,
        end=240,
        aggregator="sum",
        filters=(TagFilter("literal_or", "host", "a", group_by=True),),
        downsample=Downsample("1m", "sum", fill="zero"),
        rate=RateOptions(),
    )
    got = {
        (r["host"], r["w_start"]): r["value"]
        for r in api_query(_pts(spark, rows), spec).collect()
    }
    # value stream after fill: 10, 16, 0, 4 -> rates (ppm/sec over 60s)
    assert got == {
        ("a", 60): (16 - 10) * 1_000_000 // 60,
        ("a", 120): -16 * 1_000_000 // 60,  # floor(-266666.66) = -266667
        ("a", 180): 4 * 1_000_000 // 60,
    }
    # sanity on the floor: negative rate floors AWAY from zero, the
    # same convention as the win_rate gate family
    assert got[("a", 120)] == -266_667


def test_fill_none_vs_zero_changes_group_aggregate(spark):
    """With two series in one group and one missing a bucket,
    fill=zero contributes an explicit 0 to the group MIN while
    fill=none lets the present series' value through — the
    cross-series aggregation boundary is where the fill choice becomes
    observable."""
    rows = [
        ("m", 0, 5, HOST_A),
        ("m", 0, 7, HOST_B),
        ("m", 60, 9, HOST_B),  # host a missing at 60
    ]
    base = dict(
        metric="m",
        start=0,
        end=120,
        aggregator="min",
        filters=(TagFilter("literal_or", "env", "prod"),),
    )
    none_spec = QuerySpec(**base, downsample=Downsample("1m", "sum", "none"))
    zero_spec = QuerySpec(**base, downsample=Downsample("1m", "sum", "zero"))
    got_none = {
        r["w_start"]: r["value"]
        for r in api_query(_pts(spark, rows), none_spec).collect()
    }
    got_zero = {
        r["w_start"]: r["value"]
        for r in api_query(_pts(spark, rows), zero_spec).collect()
    }
    assert got_none == {0: 5, 60: 9}
    assert got_zero == {0: 5, 60: 0}


def test_explicit_tags_excludes_extra_tagged_series(spark):
    """OpenTSDB 2.3 explicitTags through the composed path: a series
    matching every filter but carrying an EXTRA tag is excluded; the
    groupBy dimension columns still come out of the surviving set."""
    extra = {"host": "a", "env": "prod", "rack": "r9"}
    rows = [
        ("m", 0, 5, HOST_A),
        ("m", 0, 100, extra),  # would dominate the sum if included
    ]
    spec = QuerySpec(
        metric="m",
        start=0,
        end=60,
        aggregator="sum",
        filters=(
            TagFilter("literal_or", "host", "a", group_by=True),
            TagFilter("literal_or", "env", "prod"),
        ),
        explicit_tags=True,
        downsample=Downsample("1m", "sum", "none"),
    )
    out = api_query(_pts(spark, rows), spec).collect()
    assert [(r["host"], r["w_start"], r["value"]) for r in out] == [
        ("a", 0, 5)
    ]
    # without explicitTags both series fold into the host-a group
    loose = QuerySpec(
        **{**spec.__dict__, "explicit_tags": False}
    )
    assert api_query(_pts(spark, rows), loose).collect()[0]["value"] == 105


def test_counter_rate_options_through_composition(spark):
    """counterMax wrap + resetValue guard and dropResets, applied to
    the AGGREGATED group series (stage 6), matching the gate-verified
    win_rate_wrap / win_rate_drop rules."""
    # one series, counter stored mod 100: 90 -> 10 (wrap: true delta
    # 20) -> 95 (delta 85 > reset_value 50 -> rate 0)
    rows = [
        ("m", 0, 90, HOST_A),
        ("m", 60, 10, HOST_A),
        ("m", 120, 95, HOST_A),
    ]
    base = dict(
        metric="m",
        start=0,
        end=180,
        aggregator="sum",
        filters=(TagFilter("literal_or", "host", "a", group_by=True),),
        downsample=Downsample("1m", "max", "none"),
    )
    wrap = QuerySpec(
        **base, rate=RateOptions(counter=True, counter_max=100, reset_value=50)
    )
    got = {
        r["w_start"]: r["value"]
        for r in api_query(_pts(spark, rows), wrap).collect()
    }
    assert got == {
        60: (10 - 90 + 100) * 1_000_000 // 60,  # wrap-corrected 20/60s
        120: 0,  # corrected delta 85 > reset_value -> rate 0
    }
    drop = QuerySpec(**base, rate=RateOptions(drop_resets=True))
    got_d = {
        r["w_start"]: r["value"]
        for r in api_query(_pts(spark, rows), drop).collect()
    }
    # negative-delta sample at 60 emits NOTHING; 120 differences 10->95
    assert got_d == {120: 85 * 1_000_000 // 60}


def test_tier_route_equals_raw_direct(spark):
    """The P5 leg of the composition: a 2h query answered from a 1h
    tagged tier (build_tagged_tier + factor-window re-agg) must equal
    the raw-direct path EXACTLY, for every decomposable downsample
    aggregator, including through fill + cross-series aggregation +
    rate."""
    from opentsdb_rollup_rust_spark.plans.api_query import build_tagged_tier

    sf = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    pts = sf.select(
        F.col("event_type").alias("series_id"),
        "ts",
        F.floor(F.col("value") * 1000).cast("long").alias("value"),
        F.create_map(
            F.lit("host"),
            F.concat(F.lit("h"), F.pmod("user_id", F.lit(4)).cast("string")),
            F.lit("env"),
            F.lit("prod"),
        ).alias("tags"),
    )
    lo, hi = pts.agg(
        F.min(F.unix_timestamp("ts")), F.max(F.unix_timestamp("ts"))
    ).first()
    start, end = int(lo) // 7200 * 7200, (int(hi) // 7200 + 1) * 7200
    tier = build_tagged_tier(pts, "1h")
    for ds_agg in ("sum", "count", "min", "max", "avg"):
        spec = QuerySpec(
            metric="click",
            start=start,
            end=end,
            aggregator="sum",
            filters=(TagFilter("wildcard", "host", "*", group_by=True),),
            downsample=Downsample("7200s", ds_agg, fill="zero"),
            rate=RateOptions() if ds_agg == "sum" else None,
        )
        raw = {tuple(r) for r in api_query(pts, spec).collect()}
        routed = {
            tuple(r)
            for r in api_query(
                pts, spec, tiers=[(tier, "1h")]
            ).collect()
        }
        assert raw == routed, f"ds_agg={ds_agg}"
        assert raw, f"ds_agg={ds_agg}: empty result proves nothing"


def test_tier_route_refuses_unservable_specs(spark):
    """A supplied tier that cannot serve the spec fails LOUDLY — a
    silent raw fallback is how someone pays a 100 TB scan they
    believed was a 2-rows-per-bucket tier read."""
    from opentsdb_rollup_rust_spark.plans.api_query import build_tagged_tier

    pts = _pts(spark, [("m", 0, 1, HOST_A)])
    tier = build_tagged_tier(pts, "1h")
    base = dict(metric="m", aggregator="sum")
    # downsample not a multiple of the tier interval
    with pytest.raises(ValueError, match="multiple"):
        api_query(
            pts,
            QuerySpec(**base, start=0, end=7200, downsample=Downsample("1m")),
            tiers=[(tier, "1h")],
        )
    # unaligned query range
    with pytest.raises(ValueError, match="aligned"):
        api_query(
            pts,
            QuerySpec(
                **base, start=60, end=7260, downsample=Downsample("7200s")
            ),
            tiers=[(tier, "1h")],
        )


def test_spec_validation_refuses_bad_specs(spark):
    pts = _pts(spark, [("m", 0, 1, HOST_A)])
    ok = dict(metric="m", start=0, end=60)
    with pytest.raises(ValueError, match="downsample"):
        api_query(pts, QuerySpec(**ok))
    with pytest.raises(ValueError, match="aggregator"):
        api_query(
            pts,
            QuerySpec(**ok, aggregator="p99", downsample=Downsample("1m")),
        )
    with pytest.raises(ValueError, match="fill"):
        api_query(pts, QuerySpec(**ok, downsample=Downsample("1m", "sum", "lerp")))
    with pytest.raises(ValueError, match="counter"):
        api_query(
            pts,
            QuerySpec(
                **ok,
                downsample=Downsample("1m"),
                rate=RateOptions(counter=True),  # no counter_max
            ),
        )
    with pytest.raises(ValueError, match="exclusive"):
        api_query(
            pts,
            QuerySpec(
                **ok,
                downsample=Downsample("1m"),
                rate=RateOptions(
                    counter=True, counter_max=10, drop_resets=True
                ),
            ),
        )


def test_percentile_downsampler_exact_rank(spark):
    """p-downsamplers (OpenTSDB 2.4) select the value at integer rank
    ceil(n*permille/1000) of the sorted window — exact, tie-safe, no
    float interpolation. n=4 values [1,3,3,10]: p500 -> rank 2 = 3,
    p950 -> rank 4 = 10, p001 -> rank 1 = 1."""
    rows = [
        ("m", 0, 10, HOST_A),
        ("m", 10, 3, HOST_A),
        ("m", 20, 1, HOST_A),
        ("m", 30, 3, HOST_A),
    ]
    base = dict(
        metric="m",
        start=0,
        end=60,
        aggregator="max",
        filters=(TagFilter("literal_or", "host", "a", group_by=True),),
    )
    for agg, want in (("p500", 3), ("p950", 10), ("p001", 1)):
        spec = QuerySpec(**base, downsample=Downsample("1m", agg))
        [(host, w, v)] = api_query(_pts(spark, rows), spec).collect()
        assert (host, w, v) == ("a", 0, want), agg


def test_percentile_refuses_tier_route(spark):
    """Percentiles are NOT decomposable — a sum/count/min/max tier
    cannot serve them, and api_query must refuse loudly rather than
    silently mis-aggregate (the histogram tier A14/A15 is the stored
    percentile path)."""
    from opentsdb_rollup_rust_spark.plans.api_query import build_tagged_tier

    pts = _pts(spark, [("m", 0, 1, HOST_A)])
    tier = build_tagged_tier(pts, "1h")
    with pytest.raises(ValueError, match="not.*answerable|tier"):
        api_query(
            pts,
            QuerySpec(
                metric="m",
                start=0,
                end=7200,
                downsample=Downsample("7200s", "p950"),
            ),
            tiers=[(tier, "1h")],
        )


def _exp_rows():
    # metric "a": buckets 0 and 60; metric "b": bucket 0 only —
    # bucket 60 exists for a but not b, separating the join policies
    return [
        ("ma", 0, 10, HOST_A),
        ("ma", 60, 30, HOST_A),
        ("mb", 0, 5, HOST_A),
    ]


def _exp_sub(metric):
    return QuerySpec(
        metric=metric,
        start=0,
        end=120,
        aggregator="sum",
        filters=(TagFilter("literal_or", "host", "a", group_by=True),),
        downsample=Downsample("1m", "sum", fill="none"),
    )


def test_exp_intersection_vs_union(spark):
    """/api/query/exp join policies: intersection emits only buckets
    every variable produced; union keeps all buckets and coalesces the
    missing variable to fill_value."""
    from opentsdb_rollup_rust_spark.plans.api_query import (
        ExprSpec,
        api_query_exp,
    )

    pts = _pts(spark, _exp_rows())
    variables = (("a", _exp_sub("ma")), ("b", _exp_sub("mb")))
    inter = api_query_exp(
        pts, ExprSpec(expr="a + b", variables=variables)
    ).collect()
    assert {(r["host"], r["w_start"], r["value"]) for r in inter} == {
        ("a", 0, 15)
    }
    uni = api_query_exp(
        pts,
        ExprSpec(expr="a + b", variables=variables, join="union", fill_value=1),
    ).collect()
    assert {(r["host"], r["w_start"], r["value"]) for r in uni} == {
        ("a", 0, 15),
        ("a", 60, 31),  # b missing -> fill_value 1
    }


def test_exp_validation_refuses_misaligned_subqueries(spark):
    """Misaligned variables would silently join wrong buckets — every
    mismatch must raise instead."""
    from opentsdb_rollup_rust_spark.plans.api_query import (
        ExprSpec,
        api_query_exp,
    )

    pts = _pts(spark, _exp_rows())
    a = _exp_sub("ma")
    with pytest.raises(ValueError, match=">= 2"):
        api_query_exp(pts, ExprSpec(expr="a", variables=(("a", a),)))
    with pytest.raises(ValueError, match="duplicate"):
        api_query_exp(pts, ExprSpec(expr="a", variables=(("a", a), ("a", a))))
    with pytest.raises(ValueError, match="identifier"):
        api_query_exp(
            pts, ExprSpec(expr="1", variables=(("a", a), ("b-2", a)))
        )
    with pytest.raises(ValueError, match="collides"):
        api_query_exp(
            pts, ExprSpec(expr="1", variables=(("a", a), ("w_start", a)))
        )
    ungrouped = QuerySpec(
        metric="mb",
        start=0,
        end=120,
        aggregator="sum",
        filters=(TagFilter("literal_or", "host", "a"),),
        downsample=Downsample("1m", "sum"),
    )
    with pytest.raises(ValueError, match="same tag keys"):
        api_query_exp(
            pts, ExprSpec(expr="a + b", variables=(("a", a), ("b", ungrouped)))
        )
    shifted = QuerySpec(
        metric="mb",
        start=60,
        end=120,
        aggregator="sum",
        filters=(TagFilter("literal_or", "host", "a", group_by=True),),
        downsample=Downsample("1m", "sum"),
    )
    with pytest.raises(ValueError, match="time range"):
        api_query_exp(
            pts, ExprSpec(expr="a + b", variables=(("a", a), ("b", shifted)))
        )
    coarser = QuerySpec(
        metric="mb",
        start=0,
        end=120,
        aggregator="sum",
        filters=(TagFilter("literal_or", "host", "a", group_by=True),),
        downsample=Downsample("2m", "sum"),
    )
    with pytest.raises(ValueError, match="interval"):
        api_query_exp(
            pts, ExprSpec(expr="a + b", variables=(("a", a), ("b", coarser)))
        )
    with pytest.raises(ValueError, match="join policy"):
        api_query_exp(
            pts,
            ExprSpec(
                expr="a + b",
                variables=(("a", a), ("b", _exp_sub("mb"))),
                join="outer",
            ),
        )


def test_multi_envelope_canonicalizes_group_tags(spark):
    """api_query_multi unions heterogeneous sub-queries under one
    schema: group dimensions collapse to the sorted k=v string, and a
    groupBy-less sub-query gets the empty string."""
    from opentsdb_rollup_rust_spark.plans.api_query import api_query_multi

    rows = [
        ("m", 0, 10, {"host": "a", "env": "prod"}),
        ("m", 0, 20, {"host": "b", "env": "dev"}),
    ]
    specs = {
        "by_both": QuerySpec(
            metric="m",
            start=0,
            end=60,
            aggregator="sum",
            filters=(
                # declared host-then-env; the envelope must still sort
                # keys canonically (env before host)
                TagFilter("iwildcard", "host", "*", group_by=True),
                TagFilter("literal_or", "env", "prod|dev", group_by=True),
            ),
            downsample=Downsample("1m", "sum"),
        ),
        "global": QuerySpec(
            metric="m",
            start=0,
            end=60,
            aggregator="sum",
            downsample=Downsample("1m", "sum"),
        ),
    }
    got = {
        (r["query"], r["group_tags"], r["w_start"], r["value"])
        for r in api_query_multi(_pts(spark, rows), specs).collect()
    }
    assert got == {
        ("by_both", "env=prod,host=a", 0, 10),
        ("by_both", "env=dev,host=b", 0, 20),
        ("global", "", 0, 30),
    }


def test_time_shift_realigns_to_request_timeline(spark):
    """timeShift evaluates over [start-shift, end-shift) and re-aligns
    +shift: a query over [60, 120) with shift=60 must return the
    [0, 60) data stamped at w_start=60 — and data actually inside the
    request range must NOT appear (the shift moves the window, it
    does not widen it)."""
    from opentsdb_rollup_rust_spark.plans.api_query import api_query

    pts = _pts(
        spark,
        [("m", 10, 7, HOST_A), ("m", 20, 4, HOST_A), ("m", 70, 100, HOST_A)],
    )
    spec = QuerySpec(
        metric="m",
        start=60,
        end=120,
        aggregator="sum",
        downsample=Downsample("1m", "sum"),
        time_shift=60,
    )
    rows = api_query(pts, spec).collect()
    assert [(r.w_start, r.value) for r in rows] == [(60, 11)]


def test_time_shift_validation(spark):
    from opentsdb_rollup_rust_spark.plans.api_query import api_query

    pts = _pts(spark, [("m", 0, 1, HOST_A)])
    base = dict(metric="m", start=60, end=120, downsample=Downsample("1m"))
    with pytest.raises(ValueError, match="multiple"):
        api_query(pts, QuerySpec(**base, time_shift=90))
    with pytest.raises(ValueError, match=">= 0"):
        api_query(pts, QuerySpec(**base, time_shift=-60))
    with pytest.raises(ValueError, match="rollup_usage"):
        api_query(pts, QuerySpec(**base, rollup_usage="ROLLUP_RAW"))


def test_rollup_usage_fallback_runs_raw(spark):
    """rollupUsage=fallback_raw: an unservable tier (90 s downsample
    over a 1h tier) silently — but by explicit opt-in — takes the raw
    path and must equal the same spec with no tier at all; the default
    nofallback policy refuses the identical call."""
    from opentsdb_rollup_rust_spark.plans.api_query import (
        api_query,
        build_tagged_tier,
    )

    pts = _pts(
        spark,
        [("m", 0, 3, HOST_A), ("m", 95, 5, HOST_A), ("m", 100, 2, HOST_B)],
    )
    tier = build_tagged_tier(pts, "1h")
    spec = QuerySpec(
        metric="m",
        start=0,
        end=180,
        aggregator="sum",
        downsample=Downsample("90s", "sum"),
    )
    with pytest.raises(ValueError, match="rollup_usage=nofallback"):
        api_query(pts, spec, tiers=[(tier, "1h")])
    from dataclasses import replace

    fb = replace(spec, rollup_usage="fallback_raw")
    got = api_query(pts, fb, tiers=[(tier, "1h")]).collect()
    want = api_query(pts, fb).collect()
    assert sorted((r.w_start, r.value) for r in got) == sorted(
        (r.w_start, r.value) for r in want
    ) == [(0, 3), (90, 7)]


def _gexp_rows():
    # three hosts: a peaks at 90 but ends at 1; b flat 50; c ends
    # highest (60) with peak 60 — highestMax and highestCurrent pick
    # DIFFERENT winners, pinning which statistic each selector ranks
    return [
        ("m", 0, 90, {"host": "a"}),
        ("m", 60, 1, {"host": "a"}),
        ("m", 0, 50, {"host": "b"}),
        ("m", 60, 50, {"host": "b"}),
        ("m", 0, 10, {"host": "c"}),
        ("m", 60, 60, {"host": "c"}),
    ]


def _gexp_spec():
    return QuerySpec(
        metric="m",
        start=0,
        end=120,
        aggregator="sum",
        filters=(TagFilter("iwildcard", "host", "*", group_by=True),),
        downsample=Downsample("1m", "sum"),
    )


def test_gexp_selectors_rank_different_statistics(spark):
    from opentsdb_rollup_rust_spark.plans.api_query import api_query_gexp

    pts = _pts(spark, _gexp_rows())
    top_max = api_query_gexp(pts, _gexp_spec(), (("highestMax", 2),))
    assert sorted({r.host for r in top_max.collect()}) == ["a", "c"]
    top_cur = api_query_gexp(pts, _gexp_spec(), (("highestCurrent", 2),))
    assert sorted({r.host for r in top_cur.collect()}) == ["b", "c"]


def test_gexp_transform_chain_applies_innermost_first(spark):
    """highestMax(absolute(scale(q, -1)), 1): scale by -1 flips the
    series, absolute flips them back — so the selector must still pick
    host a (peak 90), proving the chain applies in order on the
    already-aggregated output."""
    from opentsdb_rollup_rust_spark.plans.api_query import api_query_gexp

    pts = _pts(spark, _gexp_rows())
    out = api_query_gexp(
        pts,
        _gexp_spec(),
        (("scale", -1), ("absolute", None), ("highestMax", 1)),
    )
    rows = out.collect()
    assert {r.host for r in rows} == {"a"}
    assert sorted((r.w_start, r.value) for r in rows) == [(0, 90), (60, 1)]


def test_gexp_validation(spark):
    from opentsdb_rollup_rust_spark.plans.api_query import api_query_gexp

    pts = _pts(spark, _gexp_rows())
    with pytest.raises(ValueError, match="at least one"):
        api_query_gexp(pts, _gexp_spec(), ())
    with pytest.raises(ValueError, match="unknown gexp"):
        api_query_gexp(pts, _gexp_spec(), (("derivative", 3),))
    with pytest.raises(ValueError, match="k >= 1"):
        api_query_gexp(pts, _gexp_spec(), (("highestMax", 0),))
    with pytest.raises(ValueError, match="window >= 1"):
        api_query_gexp(pts, _gexp_spec(), (("movingAverage", 0),))


def test_linear_fill_lerps_only_between_observations(spark):
    """fill=linear: a gap bucket lerps between its bracketing observed
    buckets of the SAME series (integer floor lerp); spine buckets
    before a series' first observation stay empty — they must not
    show up as zeros in the cross-series sum."""
    from opentsdb_rollup_rust_spark.plans.api_query import api_query

    # series a: observed at buckets 0 (v=10) and 180 (v=40) -> lerp
    # fills 60 with 20, 120 with 30; series b first appears at 120,
    # so b contributes nothing to buckets 0-60 (NOT zero).
    pts = _pts(
        spark,
        [
            ("m", 0, 10, HOST_A),
            ("m", 185, 40, HOST_A),
            ("m", 125, 7, HOST_B),
            ("m", 190, 9, HOST_B),
        ],
    )
    spec = QuerySpec(
        metric="m",
        start=0,
        end=240,
        aggregator="sum",
        downsample=Downsample("1m", "sum", fill="linear"),
    )
    rows = {r.w_start: r.value for r in api_query(pts, spec).collect()}
    assert rows == {0: 10, 60: 20, 120: 30 + 7, 180: 40 + 9}


def test_hist_percentiles_group_merge(spark):
    """Histogram percentile queries merge bucket counts ACROSS series
    before estimating: host a has two series (rack r0/r1) whose
    per-series p950 buckets differ from the merged one — the output
    must reflect the merge. Hand-computed: values 1,1,1,1 (bucket 1)
    and 8 (bucket 4) in one 1m window -> total 5, p950 rank
    ceil(5*950/1000)=5 -> bucket 4, est_max 15; p500 rank 3 ->
    bucket 1, est_max 1."""
    from opentsdb_rollup_rust_spark.plans.api_query import api_query_hist

    a0 = {"host": "a", "rack": "r0"}
    a1 = {"host": "a", "rack": "r1"}
    pts = _pts(
        spark,
        [
            ("m", 1, 1, a0),
            ("m", 2, 1, a0),
            ("m", 3, 1, a1),
            ("m", 4, 1, a1),
            ("m", 5, 8, a1),
        ],
    )
    spec = QuerySpec(
        metric="m",
        start=0,
        end=60,
        filters=(TagFilter("iwildcard", "host", "*", group_by=True),),
        downsample=Downsample("1m", "sum"),
    )
    out = api_query_hist(pts, spec, (500, 950))
    rows = {r.permille: (r.bucket, r.est_max, r.total) for r in out.collect()}
    assert rows == {500: (1, 1, 5), 950: (4, 15, 5)}


def test_hist_tier_route_equals_raw(spark):
    """A 30m histogram tier serving a 1h percentile query is EXACT —
    counts re-aggregate losslessly, the estimate happens once after
    the merge — so tier-routed output == raw output, row for row."""
    from opentsdb_rollup_rust_spark.plans.api_query import (
        api_query_hist,
        build_tagged_hist_tier,
    )

    rows = [
        ("m", t * 97 % 7200, (t * 13) % 300, HOST_A if t % 3 else HOST_B)
        for t in range(200)
    ]
    pts = _pts(spark, rows)
    tier = build_tagged_hist_tier(pts, "1800s")
    spec = QuerySpec(
        metric="m",
        start=0,
        end=7200,
        filters=(TagFilter("iwildcard", "host", "*", group_by=True),),
        downsample=Downsample("1h", "sum"),
    )
    raw = api_query_hist(pts, spec, (500, 990)).collect()
    routed = api_query_hist(
        pts, spec, (500, 990), tiers=[(tier, "1800s")]
    ).collect()
    key = lambda r: (r.host, r.w_start, r.permille)
    assert sorted(map(tuple, routed), key=str) == sorted(
        map(tuple, raw), key=str
    )
    # unservable (45m not a multiple of 30m... it is; use 50m) ->
    # nofallback refuses, fallback_raw matches raw
    from dataclasses import replace

    bad = replace(spec, downsample=Downsample("3000s", "sum"))
    with pytest.raises(ValueError, match="multiple"):
        api_query_hist(pts, bad, (500,), tiers=[(tier, "1800s")])
    fb = replace(bad, rollup_usage="fallback_raw")
    got = api_query_hist(
        pts, fb, (500,), tiers=[(tier, "1800s")]
    ).collect()
    want = api_query_hist(pts, fb, (500,)).collect()
    assert sorted(map(tuple, got), key=str) == sorted(map(tuple, want), key=str)


def test_hist_validation(spark):
    from opentsdb_rollup_rust_spark.plans.api_query import api_query_hist

    pts = _pts(spark, [("m", 0, 1, HOST_A)])
    spec = QuerySpec(
        metric="m", start=0, end=60, downsample=Downsample("1m", "sum")
    )
    with pytest.raises(ValueError, match="at least one"):
        api_query_hist(pts, spec, ())
    with pytest.raises(ValueError, match="out of"):
        api_query_hist(pts, spec, (1000,))
    from dataclasses import replace

    with pytest.raises(ValueError, match="rate"):
        api_query_hist(pts, replace(spec, rate=RateOptions()), (500,))


def test_parse_query_json_field_mapping():
    from opentsdb_rollup_rust_spark.plans.api_query import parse_query_json

    body = {
        "start": 0,
        "end": 7200,
        "queries": [
            {
                "metric": "m",
                "aggregator": "max",
                "downsample": "90m-avg-nan",
                "rate": True,
                "rateOptions": {"counter": True, "counterMax": 65535,
                                "resetValue": 100},
                "timeshift": "3h",
                "explicitTags": True,
                "rollupUsage": "ROLLUP_FALLBACK_RAW",
                "filters": [
                    {"type": "wildcard", "tagk": "host", "filter": "w*",
                     "groupBy": True}
                ],
            },
            {"metric": "h", "downsample": "1h-sum",
             "percentiles": [50.0, 99.9]},
        ],
    }
    (s1, p1), (s2, p2) = parse_query_json(body)
    assert (s1.aggregator, s1.explicit_tags, s1.rollup_usage) == (
        "max", True, "fallback_raw")
    assert s1.downsample.interval == "5400s"
    assert s1.downsample.aggregator == "avg"
    assert s1.downsample.fill == "null"  # nan -> null
    assert s1.time_shift == 10800
    assert (s1.rate.counter, s1.rate.counter_max, s1.rate.reset_value) == (
        True, 65535, 100)
    assert s1.filters[0].group_by and p1 == ()
    assert p2 == (500, 999) and s2.rate is None


def test_parse_query_json_refusals():
    import pytest as _pytest

    from opentsdb_rollup_rust_spark.plans.api_query import (
        parse_duration_seconds,
        parse_query_json,
    )

    with _pytest.raises(ValueError, match="epoch seconds"):
        parse_query_json({"start": "1h-ago", "end": 0, "queries": []})
    base = {"start": 0, "end": 60}
    with _pytest.raises(ValueError, match="neither metric nor tsuids"):
        parse_query_json({**base, "queries": [{"downsample": "1m-sum"}]})
    with _pytest.raises(ValueError, match="no downsample"):
        parse_query_json({**base, "queries": [{"metric": "m"}]})
    with _pytest.raises(ValueError, match="permille"):
        parse_query_json({**base, "queries": [
            {"metric": "m", "downsample": "1m-sum", "percentiles": [99.95]}]})
    with _pytest.raises(ValueError, match="rate is not defined"):
        parse_query_json({**base, "queries": [
            {"metric": "m", "downsample": "1m-sum", "rate": True,
             "percentiles": [95.0]}]})
    with _pytest.raises(ValueError, match="millisecond"):
        parse_duration_seconds("500ms")
    with _pytest.raises(ValueError, match="bad duration"):
        parse_duration_seconds("1 hour")
    assert parse_duration_seconds("2w") == 14 * 86400


def test_multi_tier_selection_policies(spark):
    """OpenTSDB rollup-table selection: with 1h + 2h tiers supplied, a
    4h query routes to the COARSEST divisor (2h — fewest rows per
    bucket); a 3h query's best match (2h) doesn't divide, so
    nofallback refuses, fallback walks down to the 1h tier, and both
    routes equal the raw answer."""
    from dataclasses import replace

    from opentsdb_rollup_rust_spark.plans.api_query import (
        api_query,
        build_tagged_tier,
        select_rollup_tier,
    )

    # selection rule unit-pinned (index into the supplied list)
    assert select_rollup_tier([3600, 7200], 14400, "nofallback") == 1
    assert select_rollup_tier([3600, 7200], 10800, "fallback") == 0
    assert select_rollup_tier([3600, 7200], 10800, "fallback_raw") == 0
    assert select_rollup_tier([7200], 10800, "fallback_raw") is None
    with pytest.raises(ValueError, match="best match"):
        select_rollup_tier([3600, 7200], 10800, "nofallback")
    with pytest.raises(ValueError, match="not a multiple"):
        select_rollup_tier([7200, 9000], 10800, "fallback")

    rows = [
        ("m", t * 131 % 14400, (t * 17) % 500, HOST_A if t % 3 else HOST_B)
        for t in range(300)
    ]
    pts = _pts(spark, rows)
    tiers = [
        (build_tagged_tier(pts, "1h"), "1h"),
        (build_tagged_tier(pts, "7200s"), "7200s"),
    ]
    spec = QuerySpec(
        metric="m",
        start=0,
        end=14400,
        aggregator="sum",
        filters=(TagFilter("iwildcard", "host", "*", group_by=True),),
        downsample=Downsample("14400s", "sum"),
    )
    want = {tuple(r) for r in api_query(pts, spec).collect()}
    got = {tuple(r) for r in api_query(pts, spec, tiers=tiers).collect()}
    assert got == want
    # 3h: best match 2h can't serve — nofallback refuses, fallback
    # lands on the 1h tier and still equals raw
    spec3 = replace(spec, downsample=Downsample("10800s", "sum"), end=21600)
    with pytest.raises(ValueError, match="best match"):
        api_query(pts, spec3, tiers=tiers)
    got3 = {
        tuple(r)
        for r in api_query(
            pts, replace(spec3, rollup_usage="fallback"), tiers=tiers
        ).collect()
    }
    want3 = {tuple(r) for r in api_query(pts, spec3).collect()}
    assert got3 == want3


def test_aggregator_none_passes_series_through(spark):
    """aggregator='none' (OpenTSDB's no-aggregation mode): every input
    series becomes its own output series, identified by the canonical
    sorted-k=v ``series`` column; nothing is collapsed."""
    rows = [
        ("m", 0, 5, HOST_A),
        ("m", 0, 7, HOST_B),
        ("m", 60, 9, HOST_B),
    ]
    spec = QuerySpec(
        metric="m",
        start=0,
        end=120,
        aggregator="none",
        filters=(TagFilter("literal_or", "env", "prod"),),
        downsample=Downsample("1m", "sum", "none"),
    )
    out = api_query(_pts(spark, rows), spec)
    assert out.columns == ["series", "w_start", "value"]
    got = {(r.series, r.w_start): r.value for r in out.collect()}
    assert got == {
        ("env=prod,host=a", 0): 5,
        ("env=prod,host=b", 0): 7,
        ("env=prod,host=b", 60): 9,
    }


def test_aggregator_none_rate_runs_per_series(spark):
    """rate under aggregator none differences each passthrough series
    independently — two series with opposite slopes must not bleed
    into each other's deltas."""
    rows = [
        ("m", 0, 10, HOST_A),
        ("m", 60, 70, HOST_A),
        ("m", 0, 100, HOST_B),
        ("m", 60, 40, HOST_B),
    ]
    spec = QuerySpec(
        metric="m",
        start=0,
        end=120,
        aggregator="none",
        filters=(TagFilter("literal_or", "env", "prod"),),
        downsample=Downsample("1m", "sum", "none"),
        rate=RateOptions(),
    )
    got = {
        (r.series, r.w_start): r.value
        for r in api_query(_pts(spark, rows), spec).collect()
    }
    assert got == {
        ("env=prod,host=a", 60): 1_000_000,
        ("env=prod,host=b", 60): -1_000_000,
    }


def test_tsuid_mode_selects_exact_series(spark):
    """tsuid sub-queries name exact series ('<metric>|<sorted k=v>');
    the aggregator still applies ACROSS the listed series, and
    aggregator none fetches them individually — series of the same
    tags under a DIFFERENT metric are distinct tsuids."""
    from dataclasses import replace

    rows = [
        ("m", 0, 5, HOST_A),
        ("m", 0, 7, HOST_B),  # not listed -> excluded
        ("n", 0, 100, HOST_A),  # same tags, other metric
    ]
    spec = QuerySpec(
        metric="",
        start=0,
        end=60,
        aggregator="sum",
        downsample=Downsample("1m", "sum"),
        tsuids=("m|env=prod,host=a", "n|env=prod,host=a"),
    )
    out = api_query(_pts(spark, rows), spec).collect()
    assert [(r.w_start, r.value) for r in out] == [(0, 105)]
    got = {
        (r.series, r.w_start): r.value
        for r in api_query(
            _pts(spark, rows), replace(spec, aggregator="none")
        ).collect()
    }
    assert got == {
        ("m|env=prod,host=a", 0): 5,
        ("n|env=prod,host=a", 0): 100,
    }


def test_tsuid_validation(spark):
    pts = _pts(spark, [("m", 0, 1, HOST_A)])
    ds = Downsample("1m", "sum")
    with pytest.raises(ValueError, match="mutually exclusive"):
        api_query(
            pts,
            QuerySpec(
                metric="m", start=0, end=60, downsample=ds, tsuids=("m|host=a",)
            ),
        )
    with pytest.raises(ValueError, match="mutually exclusive"):
        api_query(
            pts,
            QuerySpec(
                metric="",
                start=0,
                end=60,
                downsample=ds,
                filters=(TagFilter("literal_or", "host", "a"),),
                tsuids=("m|host=a",),
            ),
        )
    with pytest.raises(ValueError, match="explicit_tags"):
        api_query(
            pts,
            QuerySpec(
                metric="",
                start=0,
                end=60,
                downsample=ds,
                explicit_tags=True,
                tsuids=("m|host=a",),
            ),
        )
    with pytest.raises(ValueError, match="sorted k=v"):
        api_query(
            pts,
            QuerySpec(
                metric="", start=0, end=60, downsample=ds, tsuids=("no-pipe",)
            ),
        )


def test_0all_whole_range_bucket(spark):
    """interval '0all' is one bucket spanning [start, end), anchored
    at START (not the epoch grid) — the OpenTSDB whole-range
    downsample ('0all-sum')."""
    from dataclasses import replace

    rows = [
        ("m", 5, 1, HOST_A),
        ("m", 100, 2, HOST_A),
        ("m", 250, 4, HOST_A),
    ]
    spec = QuerySpec(
        metric="m",
        start=0,
        end=300,
        aggregator="sum",
        filters=(TagFilter("literal_or", "host", "a", group_by=True),),
        downsample=Downsample("0all", "sum"),
    )
    out = api_query(_pts(spark, rows), spec).collect()
    assert [(r.host, r.w_start, r.value) for r in out] == [("a", 0, 7)]
    # a non-epoch-aligned start anchors the bucket at start and
    # excludes points before it
    out2 = api_query(_pts(spark, rows), replace(spec, start=90)).collect()
    assert [(r.w_start, r.value) for r in out2] == [(90, 6)]
    # ppm avg over the single bucket
    out3 = api_query(
        _pts(spark, rows),
        replace(spec, downsample=Downsample("0all", "avg")),
    ).collect()
    assert [(r.w_start, r.value) for r in out3] == [(0, 7 * 1_000_000 // 3)]
    # fill spine degenerates to the single bucket (no crash, no extra
    # rows): any observed series has its only bucket observed, so
    # zero-fill is a structural no-op under 0all
    out4 = api_query(
        _pts(spark, rows),
        replace(spec, downsample=Downsample("0all", "sum", "zero")),
    ).collect()
    assert [(r.w_start, r.value) for r in out4] == [(0, 7)]
    # any time_shift is grid-safe for 0all (single bucket re-anchors)
    out5 = api_query(
        _pts(spark, rows), replace(spec, start=100, end=400, time_shift=100)
    ).collect()
    assert [(r.w_start, r.value) for r in out5] == [(100, 7)]


def test_0all_tier_route(spark):
    """A 0all range aligned to the tier's windows is served by
    factor-window re-aggregation (== raw); an unaligned range refuses
    under nofallback and runs raw under fallback_raw."""
    from dataclasses import replace

    from opentsdb_rollup_rust_spark.plans.api_query import build_tagged_tier

    rows = [
        ("m", t * 179 % 7200, (t * 13) % 400, HOST_A if t % 2 else HOST_B)
        for t in range(200)
    ]
    pts = _pts(spark, rows)
    tier = build_tagged_tier(pts, "1h")
    spec = QuerySpec(
        metric="m",
        start=0,
        end=7200,
        aggregator="sum",
        filters=(TagFilter("iwildcard", "host", "*", group_by=True),),
        downsample=Downsample("0all", "sum"),
    )
    want = {tuple(r) for r in api_query(pts, spec).collect()}
    got = {
        tuple(r)
        for r in api_query(pts, spec, tiers=[(tier, "1h")]).collect()
    }
    assert got == want and got
    unaligned = replace(spec, start=1800, end=7200)
    with pytest.raises(ValueError, match="0all tier routing"):
        api_query(pts, unaligned, tiers=[(tier, "1h")])
    raw = {tuple(r) for r in api_query(pts, unaligned).collect()}
    fb = {
        tuple(r)
        for r in api_query(
            pts,
            replace(unaligned, rollup_usage="fallback_raw"),
            tiers=[(tier, "1h")],
        ).collect()
    }
    assert fb == raw


def test_gexp_moving_average_and_sum_series(spark):
    """movingAverage(k) is the ppm-quantized trailing-k mean per
    output series (leading buckets average what exists, as Graphite
    does); sumSeries collapses every series into one — a subsequent
    selector sees a single ungrouped series and no-ops."""
    from opentsdb_rollup_rust_spark.plans.api_query import api_query_gexp

    pts = _pts(spark, _gexp_rows())
    out = api_query_gexp(pts, _gexp_spec(), (("movingAverage", 2),))
    got = {(r.host, r.w_start): r.value for r in out.collect()}
    assert got[("a", 0)] == 90 * 1_000_000
    assert got[("a", 60)] == (90 + 1) * 1_000_000 // 2
    assert got[("c", 60)] == (10 + 60) * 1_000_000 // 2
    out2 = api_query_gexp(pts, _gexp_spec(), (("sumSeries", None),))
    assert out2.columns == ["w_start", "value"]
    assert {(r.w_start, r.value) for r in out2.collect()} == {
        (0, 150),
        (60, 111),
    }
    out3 = api_query_gexp(
        pts, _gexp_spec(), (("sumSeries", None), ("highestMax", 1))
    )
    assert {(r.w_start, r.value) for r in out3.collect()} == {
        (0, 150),
        (60, 111),
    }


def test_parse_query_json_tsuids_and_0all():
    """The POST-body forms of the two new modes: a tsuids sub-query
    (no metric) and a '0all-<agg>' downsample string."""
    from opentsdb_rollup_rust_spark.plans.api_query import parse_query_json

    [(spec, pm)] = parse_query_json(
        {
            "start": 0,
            "end": 300,
            "queries": [
                {
                    "tsuids": ["m|env=prod,host=a"],
                    "aggregator": "none",
                    "downsample": "0all-sum",
                }
            ],
        }
    )
    assert spec.tsuids == ("m|env=prod,host=a",)
    assert spec.metric == ""
    assert spec.aggregator == "none"
    assert spec.downsample == Downsample("0all", "sum", "none")
    assert pm == ()
    with pytest.raises(ValueError, match="mutually exclusive"):
        parse_query_json(
            {
                "start": 0,
                "end": 300,
                "queries": [
                    {
                        "metric": "m",
                        "tsuids": ["m|host=a"],
                        "downsample": "1m-sum",
                    }
                ],
            }
        )
    with pytest.raises(ValueError, match="neither metric nor tsuids"):
        parse_query_json(
            {"start": 0, "end": 300, "queries": [{"downsample": "1m-sum"}]}
        )


def test_gexp_diff_series_first_minus_rest(spark):
    """diffSeries = the FIRST series (group identity string ascending,
    the selector tie-break rule) minus the sum of the rest; the group
    dimension is gone afterwards. With hosts a/b/c: a - (b + c)."""
    from opentsdb_rollup_rust_spark.plans.api_query import api_query_gexp

    pts = _pts(spark, _gexp_rows())
    out = api_query_gexp(pts, _gexp_spec(), (("diffSeries", None),))
    assert out.columns == ["w_start", "value"]
    assert {(r.w_start, r.value) for r in out.collect()} == {
        (0, 90 - (50 + 10)),
        (60, 1 - (50 + 60)),
    }


def test_gexp_divide_series_binary_ppm_ratio(spark):
    """divideSeries is strictly binary: dividend = first series
    (identity ascending), ppm integer ratio, NULL where the divisor
    bucket is missing or zero, and a runtime error — not a silent
    wrong answer — when the sub-query yields != 2 series."""
    from opentsdb_rollup_rust_spark.plans.api_query import api_query_gexp

    rows = [
        ("m", 0, 90, {"host": "a"}),
        ("m", 60, 7, {"host": "a"}),
        ("m", 120, 5, {"host": "a"}),
        ("m", 0, 50, {"host": "b"}),
        ("m", 120, 0, {"host": "b"}),  # zero divisor bucket
        # b missing at 60 entirely (fill=none -> NULL ratio)
    ]
    spec = QuerySpec(
        metric="m",
        start=0,
        end=180,
        aggregator="sum",
        filters=(TagFilter("literal_or", "host", "a|b", group_by=True),),
        downsample=Downsample("1m", "sum"),
    )
    out = api_query_gexp(_pts(spark, rows), spec, (("divideSeries", None),))
    got = {r.w_start: r.value for r in out.collect()}
    assert got == {
        0: 90 * 1_000_000 // 50,
        60: None,  # divisor bucket missing
        120: None,  # divisor zero
    }
    # three series through divideSeries -> the raise_error branch
    three = api_query_gexp(
        _pts(spark, _gexp_rows()), _gexp_spec(), (("divideSeries", None),)
    )
    with pytest.raises(Exception, match="exactly 2 series"):
        three.collect()
    # ungrouped output refuses the combiner family loudly
    nog = QuerySpec(
        metric="m",
        start=0,
        end=180,
        aggregator="sum",
        filters=(TagFilter("literal_or", "host", "a|b"),),
        downsample=Downsample("1m", "sum"),
    )
    with pytest.raises(ValueError, match="needs grouped series"):
        api_query_gexp(_pts(spark, rows), nog, (("diffSeries", None),))


def test_group_dev_aggregator_exact_power_sums(spark):
    """aggregator 'dev' — population std-dev across the group's
    series per bucket via the A13 integer-power-sums rule: the
    radicand n*Σv² − (Σv)² is exact int64, one IEEE sqrt, ppm floor.
    Pinned against the same expression evaluated in Python floats."""
    import math

    rows = [
        ("m", 0, 10, {"host": "a", "env": "prod"}),
        ("m", 0, 20, {"host": "b", "env": "prod"}),
        ("m", 0, 40, {"host": "c", "env": "prod"}),
        ("m", 60, 5, {"host": "a", "env": "prod"}),  # singleton bucket
    ]
    spec = QuerySpec(
        metric="m",
        start=0,
        end=120,
        aggregator="dev",
        filters=(TagFilter("literal_or", "env", "prod", group_by=True),),
        downsample=Downsample("1m", "sum"),
    )
    got = {
        r.w_start: r.value
        for r in api_query(_pts(spark, rows), spec).collect()
    }
    # n=3, sx=70, sxx=2100 -> radicand 3*2100-4900 = 1400
    assert got[0] == math.floor(math.sqrt(1400.0) / 3.0 * 1_000_000)
    # a single-series bucket has dev 0 (radicand 1*25-25 = 0)
    assert got[60] == 0


def test_percentile_and_mim_group_aggregators(spark):
    """Cross-series percentile aggregators (p<permille>, the A9 exact
    discrete-rank rule: value at rank ceil(n*pm/1000) of the bucket's
    sorted observed values) and the mimmin/mimmax aliases — in the
    bucketed model a missing series has no row, so mim* == min/max."""
    rows = [
        ("m", 0, 10, {"host": "a", "env": "prod"}),
        ("m", 0, 20, {"host": "b", "env": "prod"}),
        ("m", 0, 30, {"host": "c", "env": "prod"}),
        ("m", 0, 40, {"host": "d", "env": "prod"}),
        ("m", 60, 5, {"host": "a", "env": "prod"}),  # lone observation
    ]

    def run(agg):
        spec = QuerySpec(
            metric="m",
            start=0,
            end=120,
            aggregator=agg,
            filters=(TagFilter("literal_or", "env", "prod", group_by=True),),
            downsample=Downsample("1m", "sum"),
        )
        return {
            (r.env, r.w_start): r.value
            for r in api_query(_pts(spark, rows), spec).collect()
        }

    # ranks over n=4: p500 -> ceil(2.0)=2 -> 20; p999 -> ceil(3.996)=4
    assert run("p500") == {("prod", 0): 20, ("prod", 60): 5}
    assert run("p999") == {("prod", 0): 40, ("prod", 60): 5}
    assert run("mimmin") == {("prod", 0): 10, ("prod", 60): 5}
    assert run("mimmax") == {("prod", 0): 40, ("prod", 60): 5}
    with pytest.raises(ValueError, match="unknown aggregator"):
        run("p1234")


def test_parse_query_json_percent_aggregator_names():
    """OpenTSDB spells percentile aggregators in percent (p95, p999
    = 99.9); the parser translates to the engine's permille form."""
    from opentsdb_rollup_rust_spark.plans.api_query import parse_query_json

    def agg_of(name):
        [(spec, _)] = parse_query_json(
            {
                "start": 0,
                "end": 300,
                "queries": [
                    {
                        "metric": "m",
                        "aggregator": name,
                        "downsample": "1m-sum",
                    }
                ],
            }
        )
        return spec.aggregator

    assert agg_of("p50") == "p500"
    assert agg_of("p99") == "p990"
    assert agg_of("p999") == "p999"  # already permille-exact
    assert agg_of("mimmax") == "mimmax"
    with pytest.raises(ValueError, match="unknown aggregator"):
        agg_of("p12345")


def test_single_scan_persists_pinned_in_plan(spark):
    """The raw point frame is scanned once. With fill on, the fill is
    one series-keyed pass over the downsampled frame (one scan, nothing
    persisted); a gexp selector/combiner must read its persisted
    output rather than recomputing the composition — column pruning
    diverges its branches, so without the persist the raw scan runs
    twice (verified during development; this pins it)."""
    from opentsdb_rollup_rust_spark.plans.api_query import api_query_gexp

    rows = [
        ("m", 0, 10, HOST_A),
        ("m", 60, 16, HOST_A),
        ("m", 0, 50, HOST_B),
    ]
    spec = QuerySpec(
        metric="m",
        start=0,
        end=120,
        aggregator="sum",
        filters=(TagFilter("iwildcard", "host", "*", group_by=True),),
        downsample=Downsample("1m", "sum", fill="zero"),
    )
    filled = api_query(_pts(spark, rows), spec)
    filled.write.format("noop").mode("overwrite").save()
    plan = filled._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan ExistingRDD") == 1, plan
    assert "InMemoryTableScan" not in plan, plan

    sel = api_query_gexp(_pts(spark, rows), spec, (("highestMax", 1),))
    sel.write.format("noop").mode("overwrite").save()
    plan = sel._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan  # ranking + semi-join share it


def test_fill_leaves_no_cache_entry(spark, tmp_path):
    """A fill persists nothing: after /api/query requests under zero,
    ffill and linear fill and a filled read_rollup, the session's
    cache is as empty as before them (a leaked entry would also be
    matched, and read, by every later query with the same plan)."""
    from opentsdb_rollup_rust_spark.operators.rollup import tumbling_rollup
    from opentsdb_rollup_rust_spark.plans.tier_router import read_rollup
    from opentsdb_rollup_rust_spark.sources.store import ManifestStore

    pts = _pts(
        spark,
        [("m", 0, 10, HOST_A), ("m", 180, 16, HOST_A), ("m", 60, 50, HOST_B)],
    )
    spark.catalog.clearCache()  # cached fixtures and earlier gexp requests
    for fill in ("zero", "ffill", "linear"):
        spec = QuerySpec(
            metric="m",
            start=0,
            end=240,
            aggregator="sum",
            filters=(TagFilter("iwildcard", "host", "*", group_by=True),),
            downsample=Downsample("1m", "sum", fill=fill),
        )
        api_query(pts, spec).collect()
    store = ManifestStore(spark, str(tmp_path / "store"))
    store.append("rollup_1m", tumbling_rollup(pts, "1m"))
    # the metric's windows 0, 1 and 3, with window 2 filled
    assert read_rollup(store, 60, fill="zero").count() == 4
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_hist_tsuid_and_0all_modes(spark):
    """The histogram endpoint supports both session-5 sub-query modes:
    a tsuid list selects exact series whose HISTOGRAMS merge, and the
    0all downsample collapses the whole range into one start-anchored
    bucket. Hand-computed over three series: the tsuid pair
    contributes values 1,1,8 (rank ceil(3*0.95)=3 -> bucket 4) while
    the excluded series' 100s would have pushed the percentile up —
    the exclusion is observable."""
    from opentsdb_rollup_rust_spark.plans.api_query import api_query_hist

    a0 = {"host": "a", "rack": "r0"}
    a1 = {"host": "a", "rack": "r1"}
    b0 = {"host": "b", "rack": "r0"}
    pts = _pts(
        spark,
        [
            ("m", 30, 1, a0),
            ("m", 90, 1, a0),
            ("m", 100, 8, a1),
            ("m", 40, 100, b0),  # excluded by the tsuid list
            ("m", 95, 100, b0),
        ],
    )
    spec = QuerySpec(
        metric="",
        start=30,
        end=130,
        downsample=Downsample("0all", "sum"),
        tsuids=("m|host=a,rack=r0", "m|host=a,rack=r1"),
    )
    out = api_query_hist(pts, spec, (950,)).collect()
    assert len(out) == 1
    r = out[0]
    # one whole-range bucket anchored at start=30; merged counts 3
    assert r.w_start == 30 and r.total == 3
    assert r.bucket == 4 and r.est_max == 15  # value 8 -> msb bucket 4


def test_review_fixes_session6(spark):
    """Regression pins for the session-6 review findings."""
    from opentsdb_rollup_rust_spark.plans.api_query import (
        api_query_gexp,
        parse_query_json,
    )

    # 1. "rate": false with a default rateOptions object present must
    # NOT enable rate (many clients always serialize rateOptions)
    [(spec, _)] = parse_query_json(
        {
            "start": 0,
            "end": 300,
            "queries": [
                {
                    "metric": "m",
                    "downsample": "1m-sum",
                    "rate": False,
                    "rateOptions": {"counter": False},
                }
            ],
        }
    )
    assert spec.rate is None

    # 2. ppm quantization FLOORS negative quotients (DuckDB // parity):
    # avg of a single series summing to -5 over 3 points in one bucket
    rows = [
        ("m", 0, -1, HOST_A),
        ("m", 1, -1, HOST_A),
        ("m", 2, -3, HOST_A),
    ]
    spec = QuerySpec(
        metric="m",
        start=0,
        end=60,
        aggregator="sum",
        filters=(TagFilter("literal_or", "host", "a", group_by=True),),
        downsample=Downsample("1m", "avg"),
    )
    [r] = api_query(_pts(spark, rows), spec).collect()
    assert r.value == -1_666_667  # floor(-5e6/3), not DIV's -1_666_666

    # 3. two filters on one tagk, both groupBy: one output column,
    # no AMBIGUOUS_REFERENCE
    spec = QuerySpec(
        metric="m",
        start=0,
        end=60,
        aggregator="sum",
        filters=(
            TagFilter("iwildcard", "host", "*", group_by=True),
            TagFilter("not_literal_or", "host", "zzz", group_by=True),
        ),
        downsample=Downsample("1m", "sum"),
    )
    out = api_query(_pts(spark, rows), spec)
    assert out.columns == ["host", "w_start", "value"]
    assert out.count() == 1

    # 4. zero-length interval refused loudly, not ZeroDivisionError
    with pytest.raises(ValueError, match="must be > 0s"):
        api_query(
            _pts(spark, rows),
            QuerySpec(
                metric="m",
                start=0,
                end=60,
                aggregator="sum",
                downsample=Downsample("0s", "sum"),
            ),
        )

    # 5. a groupBy tagk shadowing an engine column is rejected at the
    # spec boundary
    with pytest.raises(ValueError, match="collide with"):
        api_query(
            _pts(spark, rows),
            QuerySpec(
                metric="m",
                start=0,
                end=60,
                aggregator="sum",
                filters=(TagFilter("iwildcard", "value", "*", group_by=True),),
                downsample=Downsample("1m", "sum"),
            ),
        )

    # 6. highestCurrent ranks by the last OBSERVED value: under
    # fill=null with a range ending past the data, the trailing spine
    # buckets are NULL for everyone — the loudest series must still win
    rows6 = [
        ("m", 0, 1, HOST_A),
        ("m", 60, 2, HOST_A),
        ("m", 0, 90, HOST_B),  # b's last observed value is largest
        ("m", 60, 99, HOST_B),
    ]
    spec6 = QuerySpec(
        metric="m",
        start=0,
        end=300,  # three trailing empty buckets -> NULL under fill=null
        aggregator="sum",
        filters=(TagFilter("iwildcard", "host", "*", group_by=True),),
        downsample=Downsample("1m", "sum", fill="null"),
    )
    top = api_query_gexp(_pts(spark, rows6), spec6, (("highestCurrent", 1),))
    assert {r.host for r in top.collect()} == {"b"}


def test_first_last_downsamplers_order_and_ties(spark):
    """first/last ([OTSDB-AGG]: the order-dependent, downsample-only
    aggregators) select the value at the window's earliest/latest
    point, ordered by the exact (microseconds, value) pair: a
    timestamp tie breaks by value (min for first, max for last), the
    documented total order the DuckDB oracle mirrors."""
    rows = [
        ("m", 0, 7, HOST_A),
        ("m", 0, 3, HOST_A),  # tied earliest point -> first picks 3
        ("m", 10, 2, HOST_A),
        ("m", 50, 9, HOST_A),
        ("m", 50, 4, HOST_A),  # tied latest point -> last picks 9
        ("m", 70, 5, HOST_A),  # second bucket: single point
    ]
    base = dict(
        metric="m",
        start=0,
        end=120,
        aggregator="sum",
        filters=(TagFilter("literal_or", "host", "a", group_by=True),),
    )
    for agg, want in (
        ("first", {0: 3, 60: 5}),
        ("last", {0: 9, 60: 5}),
    ):
        spec = QuerySpec(**base, downsample=Downsample("1m", agg))
        got = {
            r["w_start"]: r["value"]
            for r in api_query(_pts(spark, rows), spec).collect()
        }
        assert got == want, agg
    # 0all composes: ONE bucket anchored at the query start
    spec = QuerySpec(**base, downsample=Downsample("0all", "last"))
    [(host, w, v)] = api_query(_pts(spark, rows), spec).collect()
    assert (host, w, v) == ("a", 0, 5)


def test_first_last_refuse_tier_route(spark):
    """first/last are order-dependent — a sum/count/min/max tier
    cannot answer them, so tier routing must refuse loudly under the
    default nofallback policy (the percentile-downsampler rule)."""
    from opentsdb_rollup_rust_spark.plans.api_query import build_tagged_tier

    pts = _pts(spark, [("m", 0, 1, HOST_A)])
    tier = build_tagged_tier(pts, "1h")
    for agg in ("first", "last"):
        with pytest.raises(ValueError, match="not.*answerable|tier"):
            api_query(
                pts,
                QuerySpec(
                    metric="m",
                    start=0,
                    end=7200,
                    downsample=Downsample("7200s", agg),
                ),
                tiers=[(tier, "1h")],
            ).collect()


def test_gexp_multiply_series_product_and_null_bucket(spark):
    """multiplySeries collapses the group's series to their exact
    int64 product per bucket, skipping missing values (the sumSeries
    policy); a bucket where NO series observed anything emits NULL —
    a naive fold over the empty set would claim the identity 1."""
    from opentsdb_rollup_rust_spark.plans.api_query import api_query_gexp

    rows = [
        ("m", 0, 3, HOST_A),
        ("m", 0, 4, HOST_B),
        ("m", 60, 5, HOST_A),  # b missing at 60 -> product is just 5
        # bucket 120 empty for everyone -> NULL under fill=null
        ("m", 180, 2, HOST_A),
        ("m", 180, 6, HOST_B),
    ]
    spec = QuerySpec(
        metric="m",
        start=0,
        end=240,
        aggregator="sum",
        filters=(TagFilter("iwildcard", "host", "*", group_by=True),),
        downsample=Downsample("1m", "sum", fill="null"),
    )
    got = {
        r["w_start"]: r["value"]
        for r in api_query_gexp(
            _pts(spark, rows), spec, (("multiplySeries", None),)
        ).collect()
    }
    assert got == {0: 12, 60: 5, 120: None, 180: 12}


def test_api_query_delete_scopes_by_series_and_range(spark, tmp_path):
    """The delete flag must kill EXACTLY the matching rows inside
    [start, end): matching-but-outside-range and in-range-but-not-
    matching rows survive; the pre-delete snapshot stays readable
    (time travel makes a mistaken delete recoverable); a repeated
    delete is a no-op on the data."""
    from opentsdb_rollup_rust_spark.plans.api_query import api_query_delete
    from opentsdb_rollup_rust_spark.sources.store import ManifestStore

    rows = [
        ("m", 50, 1, HOST_A),   # matching, before range -> survives
        ("m", 100, 2, HOST_A),  # matching, in range -> DIES
        ("m", 150, 3, HOST_B),  # in range, wrong host -> survives
        ("n", 160, 4, HOST_A),  # in range, wrong metric -> survives
        ("m", 200, 5, HOST_A),  # matching, at end (exclusive) -> survives
    ]
    store = ManifestStore(spark, str(tmp_path))
    store.append("pts", _pts(spark, rows))
    spec = QuerySpec(
        metric="m",
        start=100,
        end=200,
        filters=(TagFilter("literal_or", "host", "a"),),
    )
    pre = store.current_snapshot("pts")
    api_query_delete(store, "pts", spec)
    surv = sorted(r["value"] for r in store.read("pts").collect())
    assert surv == [1, 3, 4, 5]
    # prior snapshot still holds every row (recoverability)
    assert store.read("pts", snapshot_id=pre).count() == 5
    # idempotent on the data
    api_query_delete(store, "pts", spec)
    assert sorted(r["value"] for r in store.read("pts").collect()) == surv


def test_api_query_delete_refusals(spark, tmp_path):
    """delete refuses timeShift (silently deleting a shifted range)
    and an empty series selection (metric='' matches nothing and
    would no-op silently)."""
    from opentsdb_rollup_rust_spark.plans.api_query import api_query_delete
    from opentsdb_rollup_rust_spark.sources.store import ManifestStore

    store = ManifestStore(spark, str(tmp_path))
    store.append("pts", _pts(spark, [("m", 0, 1, HOST_A)]))
    with pytest.raises(ValueError, match="timeShift"):
        api_query_delete(
            store,
            "pts",
            QuerySpec(metric="m", start=0, end=60, time_shift=60),
        )
    with pytest.raises(ValueError, match="series selection"):
        api_query_delete(
            store, "pts", QuerySpec(metric="", start=0, end=60)
        )
    with pytest.raises(ValueError, match="empty delete range"):
        api_query_delete(
            store, "pts", QuerySpec(metric="m", start=60, end=60)
        )


def test_estimated_percentile_aggregators_r3_r7(spark):
    """ep<pct>r<3|7> (OpenTSDB 2.4 estimated percentiles, the
    Commons Math R_3/R_7 rules): R_7 lerps between bracketing order
    statistics (ppm-scaled output, exact int64 lerp); R_3 selects an
    order statistic with the ties-to-even index rule — both verified
    against numpy's linear / closest_observation in development; the
    literal cases here pin the arithmetic. n=4 values [1,3,5,10]:
    ep50r7 -> h=2.5 -> 3 + 0.5*(5-3) = 4.0 (4_000_000 ppm);
    ep50r3 -> j=floor(2-0.5)=1 odd, frac 0.5>0 -> x_2 = 3;
    n=5 adds 20: ep50r3 -> h=2.0 frac 0, j=2 even -> x_3 = 5."""
    rows4 = [
        ("m", 0, 1, {"host": "h0", "env": "prod"}),
        ("m", 0, 3, {"host": "h1", "env": "prod"}),
        ("m", 0, 5, {"host": "h2", "env": "prod"}),
        ("m", 0, 10, {"host": "h3", "env": "prod"}),
    ]
    base = dict(
        metric="m",
        start=0,
        end=60,
        filters=(TagFilter("literal_or", "env", "prod"),),
        downsample=Downsample("1m", "sum"),
    )
    for agg, want in (("ep50r7", 4_000_000), ("ep50r3", 3)):
        spec = QuerySpec(**base, aggregator=agg)
        [(w, v)] = api_query(_pts(spark, rows4), spec).collect()
        assert (w, v) == (0, want), agg
    rows5 = rows4 + [("m", 0, 20, {"host": "h4", "env": "prod"})]
    for agg, want in (
        ("ep50r3", 5),  # frac 0, j=2 even -> round UP to x_3
        ("ep95r7", 18_000_000),  # h=4.8: 10 + 0.8*(20-10) = 18.0
    ):
        spec = QuerySpec(**base, aggregator=agg)
        [(w, v)] = api_query(_pts(spark, rows5), spec).collect()
        assert (w, v) == (0, want), agg
    # unknown estimation rule / junk percent refuse loudly
    for bad in ("ep50r5", "ep0r3", "epxxr7"):
        with pytest.raises(ValueError, match="unknown aggregator|out of"):
            api_query(
                _pts(spark, rows4), QuerySpec(**base, aggregator=bad)
            ).collect()


def test_parse_query_json_session7_spellings():
    """The session-7 surface through the literal JSON body: ep*
    aggregators pass through verbatim (OpenTSDB spells them exactly
    as the engine does), and first/last ride the downsample string."""
    from opentsdb_rollup_rust_spark.plans.api_query import parse_query_json

    [(s0, _), (s1, _)] = parse_query_json(
        {
            "start": 0,
            "end": 7200,
            "queries": [
                {
                    "metric": "m",
                    "aggregator": "ep95r7",
                    "downsample": "1h-first",
                },
                {
                    "metric": "m",
                    "aggregator": "ep50r3",
                    "downsample": "2h-last-none",
                },
            ],
        }
    )
    assert s0.aggregator == "ep95r7"
    assert s0.downsample.aggregator == "first"
    assert s1.aggregator == "ep50r3"
    assert (s1.downsample.interval, s1.downsample.aggregator) == (
        "7200s",
        "last",
    )
    with pytest.raises(ValueError, match="unknown aggregator"):
        parse_query_json(
            {
                "start": 0,
                "end": 60,
                "queries": [
                    {
                        "metric": "m",
                        "aggregator": "ep95r9",  # no such rule
                        "downsample": "1m-sum",
                    }
                ],
            }
        )


def test_parse_query_string_field_mapping():
    """GET /api/query spelling -> QuerySpec: segment detection by
    shape (rate and downsample in either order), explicit filter
    functions vs 2.0 shorthands, FIRST brace group = groupBy,
    percent-encoding, and the percent->permille aggregator map."""
    from opentsdb_rollup_rust_spark.plans.api_query import (
        parse_query_string,
    )

    qs = (
        "start=0&end=7200"
        "&m=p95:90m-avg-nan:rate%7Bcounter,65535,100%7D:explicit_tags:"
        "m1%7Bhost=web*,dc=literal_or(east%7Cwest)%7D"
        "%7Benv=not_iliteral_or(DEV),canary=not_key()%7D"
        "&m=max:rate:1h-sum:m2"
    )
    (s1, p1), (s2, p2) = parse_query_string(qs)
    assert p1 == () and p2 == ()
    assert s1.aggregator == "p950"  # percent spelling translated
    assert s1.downsample == Downsample("5400s", "avg", "null")
    assert (s1.rate.counter, s1.rate.counter_max, s1.rate.reset_value,
            s1.rate.drop_resets) == (True, 65535, 100, False)
    assert s1.explicit_tags and s1.metric == "m1"
    by_key = {(f.tagk, f.type): f for f in s1.filters}
    assert by_key[("host", "wildcard")].group_by
    assert by_key[("dc", "literal_or")].filter == "east|west"
    assert by_key[("dc", "literal_or")].group_by
    f_env = by_key[("env", "not_iliteral_or")]
    assert f_env.filter == "DEV" and not f_env.group_by
    assert by_key[("canary", "not_key")].filter == ""
    # m2: rate BEFORE downsample parses identically; plain rate
    assert s2.downsample == Downsample("3600s", "sum", "none")
    assert s2.rate == RateOptions() and s2.filters == ()


def test_parse_query_string_tsuid_and_dropcounter():
    from opentsdb_rollup_rust_spark.plans.api_query import (
        parse_query_string,
    )

    out = parse_query_string(
        {"start": "0", "end": "3600",
         "tsuid": "none:1h-sum:m|host=a,m|host=b",
         "m": "sum:1h-sum:rate{dropcounter}:m3"}
    )
    (s_m, _), (s_t, _) = out  # m= specs first, then tsuid=
    assert s_t.tsuids == ("m|host=a", "m|host=b")
    assert s_t.metric == "" and s_t.aggregator == "none"
    assert (s_m.rate.drop_resets, s_m.rate.counter) == (True, False)


def test_parse_query_string_refusals():
    from opentsdb_rollup_rust_spark.plans.api_query import (
        parse_query_string,
    )

    def bad(qs, pat):
        with pytest.raises(ValueError, match=pat):
            parse_query_string(qs)

    bad("start=1h-ago&end=0&m=sum:1m-sum:m", "epoch seconds")
    bad("start=0&end=60", "no m= or tsuid=")
    bad("start=0&end=60&m=sum:m", "no downsample")
    bad("start=0&end=60&m=sum:1m-sum:1h-avg:m", "duplicate downsample")
    bad("start=0&end=60&m=sum:rate:rate:1m-sum:m", "duplicate rate")
    bad("start=0&end=60&m=sum:1m-sum:rate{nope}:m", "counter spelling")
    bad("start=0&end=60&m=sum:1m-sum:m{host=a", "unbalanced")
    bad("start=0&end=60&m=sum:1m-sum:m{a=1}{b=2}{c=3}", "two filter")
    bad("start=0&end=60&m=sum:1m-sum:explicit_tags:m", "explicit_tags")
    # the engine's explicit-or-refuse counterMax rule carries over
    bad("start=0&end=60&m=sum:1m-sum:rate{counter}:m", "counter_max")
    bad("start=0&end=60&tsuid=sum:1m-sum:m%7Bhost=a%7D",
        "no tag filters")
    # a multi-tag identity can't ride the comma list: the comma is
    # the identity's own tag joiner — loud refusal, not a no-match
    bad("start=0&end=60&tsuid=sum:1m-sum:m|a=1,b=2", "tsuids")


def test_parse_query_string_nested_separators():
    """':' and ',' INSIDE filter functions must survive the split —
    a regexp body with both, and a pipe list, stay intact."""
    from opentsdb_rollup_rust_spark.plans.api_query import (
        parse_query_string,
    )

    ((s, _),) = parse_query_string(
        "start=0&end=60&m=sum:1m-sum:m{host=regexp(web[0-9]{1,2}:x)}"
    )
    assert s.filters[0].type == "regexp"
    assert s.filters[0].filter == "web[0-9]{1,2}:x"


def test_run_query_cli(spark, tmp_path, capsys):
    """jobs/run_query.py — the read-side spark-submit surface: a GET
    string over a parquet points table prints exactly api_query's
    rows; --out writes parquet distributed; malformed invocations
    refuse loudly."""
    import json as _json

    import jobs.run_query as rq
    from opentsdb_rollup_rust_spark.plans.api_query import (
        parse_query_string,
    )

    rows = [
        ("m", 0, 10, HOST_A),
        ("m", 3600, 30, HOST_A),
        ("m", 0, 5, HOST_B),
        ("m", 7200, 7, HOST_B),
    ]
    pts = _pts(spark, rows)
    path = str(tmp_path / "pts")
    pts.write.parquet(path)
    qs = "start=0&end=10800&m=sum:1h-sum-zero:m{host=*}"

    ((spec, _),) = parse_query_string(qs)
    want = sorted(
        (r["host"], r["w_start"], r["value"])
        for r in api_query(pts, spec).collect()
    )
    assert want  # the fixture actually produces rows

    assert rq.main(["--points", path, "--qs", qs, "--limit", "100"]) == 0
    got = sorted(
        (d["host"], d["w_start"], d["value"])
        for d in map(
            _json.loads, capsys.readouterr().out.strip().splitlines()
        )
    )
    assert got == want

    outp = str(tmp_path / "res")
    assert rq.main(["--points", path, "--qs", qs, "--out", outp]) == 0
    back = sorted(
        (r["host"], r["w_start"], r["value"])
        for r in spark.read.parquet(outp).collect()
    )
    assert back == want

    with pytest.raises(ValueError, match="exactly one of"):
        rq.main(["--points", path])
    with pytest.raises(ValueError, match="single-sub-query"):
        rq.main(
            ["--points", path, "--tier", f"{path}:1h",
             "--qs", "start=0&end=60&m=sum:1m-sum:a&m=sum:1m-sum:b"]
        )
