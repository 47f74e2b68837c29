"""A1-A5 golden semantics (SURVEY.md §5.2 item 1) + DuckDB oracle."""

import duckdb
import pytest
from pyspark.sql import functions as F

from opentsdb_rollup_rust_spark.operators.points import derive_points
from opentsdb_rollup_rust_spark.operators.rollup import (
    cascade_reagg,
    derived_avg,
    preaggregate,
    tumbling_rollup,
)
from opentsdb_rollup_rust_spark.operators.skew import salted_rollup, topk_hot_series

from .conftest import assert_df_equal


def test_cascade_equals_direct(points):
    """The re-aggregability theorem: 1m->1h->1d == direct per tier."""
    r1m = tumbling_rollup(points, "1m")
    r1h = cascade_reagg(r1m, "1h")
    r1d = cascade_reagg(r1h, "1d")
    assert_df_equal(r1h, tumbling_rollup(points, "1h"))
    assert_df_equal(r1d, tumbling_rollup(points, "1d"))


def test_salted_equals_unsalted(points):
    assert_df_equal(salted_rollup(points, "1h", salts=8), tumbling_rollup(points, "1h"))


def test_avg_derived_not_stored(points):
    r = tumbling_rollup(points, "1h")
    assert "avg" not in r.columns  # never materialized
    row = derived_avg(r).where(F.col("count") > 0).first()
    assert abs(row["avg"] - row["sum"] / row["count"]) < 1e-12


def test_rollup_against_duckdb(points):
    """Independent engine, same input: bit-exact (integer values)."""
    pdf = points.toPandas()
    con = duckdb.connect()
    con.register("pts", pdf)
    want = con.sql(
        """
        SELECT series_id,
               to_timestamp(CAST(FLOOR(epoch(ts)/3600)*3600 AS BIGINT)) AT TIME ZONE 'UTC' AS window_start,
               sum(value)::BIGINT AS s, count(*)::BIGINT AS c,
               min(value) AS mn, max(value) AS mx
        FROM pts GROUP BY 1, 2 ORDER BY 1, 2
        """
    ).fetchall()
    got = [
        (r.series_id, r.window_start, r.sum, r["count"], r["min"], r["max"])
        for r in tumbling_rollup(points, "1h")
        .orderBy("series_id", "window_start")
        .collect()
    ]
    want = [(a, b.replace(tzinfo=None), c, d, e, f) for a, b, c, d, e, f in want]
    assert got == want


def test_preaggregate_collapses_series(points):
    r1h = tumbling_rollup(points, "1h")
    pre = preaggregate(r1h, F.substring_index("series_id", ":", 1))
    total = pre.agg(F.sum("count")).first()[0]
    assert total == points.count()


def test_calendar_month_equals_direct_from_raw(spark):
    """A17 month tier ('1nc'): the 1d tier merged per calendar month
    equals a direct sum/count/min/max of the raw points per month,
    over months of 31, 29 (leap February) and 31 days."""
    import calendar
    import datetime as dt

    from opentsdb_rollup_rust_spark.operators.rollup import calendar_rollup

    t0 = calendar.timegm((2024, 1, 20, 0, 0, 0))
    t1 = calendar.timegm((2024, 3, 10, 0, 0, 0))
    rows = [
        (f"s{i % 2}", t, (t // 3600) % 97 - 40)
        for i, t in enumerate(range(t0, t1, 5 * 3600 + 17))
    ]
    want = {}
    for sid, t, v in rows:
        d = dt.datetime.fromtimestamp(t, dt.timezone.utc)
        key = (sid, calendar.timegm((d.year, d.month, 1, 0, 0, 0)))
        s_, c, mn, mx = want.get(key, (0, 0, v, v))
        want[key] = (s_ + v, c + 1, min(mn, v), max(mx, v))
    assert {k[1] for k in want} == {
        calendar.timegm((2024, m, 1, 0, 0, 0)) for m in (1, 2, 3)
    }

    pts = spark.createDataFrame(rows, "series_id string, t long, value long").select(
        "series_id", F.timestamp_seconds("t").alias("ts"), "value"
    )
    got = {
        (r["series_id"], r["ws"]): (r["sum"], r["count"], r["min"], r["max"])
        for r in calendar_rollup(tumbling_rollup(pts, "1d"), "month")
        .where(F.col("interval") == "1nc")
        .select("*", F.unix_timestamp("window_start").alias("ws"))
        .collect()
    }
    assert got == want


def test_fused_rollup_matches_long_form(spark, sequences):
    """Golden: the job/bench scale path (wide-form fused derive+agg,
    salted and unsalted) is bit-identical to the long-form
    tumbling_rollup(derive_points(...)) reference."""
    from opentsdb_rollup_rust_spark.operators.points import derive_points
    from opentsdb_rollup_rust_spark.operators.rollup import (
        fused_tier_rollup,
        tumbling_rollup,
    )

    want = tumbling_rollup(derive_points(sequences), "1m")
    for salts in (0, 8):
        got = fused_tier_rollup(sequences, "1m", salts=salts)
        assert got.exceptAll(want).count() == 0, salts
        assert want.exceptAll(got).count() == 0, salts


@pytest.fixture(params=[True, False], ids=["ansi_on", "ansi_off"])
def ansi(spark, request):
    """Run the test under both spark.sql.ansi.enabled values."""
    key = "spark.sql.ansi.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, str(request.param).lower())
    yield request.param
    spark.conf.set(key, old)


def _token_rows(spark, rows):
    return spark.createDataFrame(
        [(f"d{i}", t, len(t), src) for i, (src, t) in enumerate(rows)],
        "doc_id string, tokens array<int>, n_tok int, source string",
    )


#: (source, tokens, exact sum): three rows whose int32 running sum
#: overflows, plus one in-contract row
OUT_OF_CONTRACT = [
    ("hi", [2**31 - 1, 1], 2**31),
    ("lo", [-(2**31), -1], -(2**31) - 1),
    ("rep", [2**30] * 3, 3 * 2**30),
    ("ok", [5, -2, 9], 12),
]


def test_out_of_contract_token_sums_exact(spark, ansi):
    """token_array_stats, derive_points and fused_tier_rollup sum rows
    whose int32 fold would overflow exactly in both ANSI modes."""
    from opentsdb_rollup_rust_spark.config import SERIES_SEP
    from opentsdb_rollup_rust_spark.functions.arrays import token_array_stats
    from opentsdb_rollup_rust_spark.operators.rollup import fused_tier_rollup

    seqs = _token_rows(spark, [(src, t) for src, t, _ in OUT_OF_CONTRACT])
    want = {src: s for src, _, s in OUT_OF_CONTRACT}

    stats = token_array_stats("tokens")
    got = seqs.select("source", stats["tok_sum"].alias("s")).collect()
    assert {r.source: r.s for r in got} == want

    pts = derive_points(seqs).where(F.col("series_id").endswith(":tok_sum"))
    assert {r.series_id: r.value for r in pts.collect()} == {
        f"{src}{SERIES_SEP}tok_sum": s for src, s in want.items()
    }

    for salts in (0, 4):
        roll = fused_tier_rollup(seqs, "1m", salts=salts).where(
            F.col("series_id").endswith(":tok_sum")
        )
        assert {
            r.series_id: (r["sum"], r["min"], r["max"]) for r in roll.collect()
        } == {f"{src}{SERIES_SEP}tok_sum": (s, s, s) for src, s in want.items()}


def test_empty_token_array_fails_loudly(spark, ansi):
    """An empty token array has no min/max/first/last: every derive
    entry point must raise on it in both ANSI modes instead of
    emitting null stats."""
    from opentsdb_rollup_rust_spark.config import TOKEN_STATS
    from opentsdb_rollup_rust_spark.functions.arrays import token_array_stats
    from opentsdb_rollup_rust_spark.operators.rollup import fused_tier_rollup

    seqs = _token_rows(spark, [("web", [3, 4]), ("web", [])])
    stats = token_array_stats("tokens")
    for df in (
        seqs.select(*[stats[s] for s in TOKEN_STATS]),
        derive_points(seqs),
        fused_tier_rollup(seqs, "1d"),
    ):
        with pytest.raises(Exception, match="empty token array"):
            df.collect()


def test_topk_hot_series(points):
    top = topk_hot_series(points, k=3).collect()
    assert len(top) == 3 and top[0].rank == 1
    assert all(s.series_id.startswith("web:") for s in top)


def test_histogram_cascade_equals_direct(points):
    """A14 re-aggregability: bucket counts cascade 1m->1h->1d exactly
    (the property exact percentiles lack, and the reason tiered
    quantiles store histograms)."""
    from opentsdb_rollup_rust_spark.operators.rollup import (
        histogram_cascade,
        histogram_rollup,
    )

    h1m = histogram_rollup(points, "1m")
    h1h = histogram_cascade(h1m, "1h")
    h1d = histogram_cascade(h1h, "1d")
    assert_df_equal(h1h, histogram_rollup(points, "1h"))
    assert_df_equal(h1d, histogram_rollup(points, "1d"))


def test_value_bucket_bounds(spark):
    """bucket k covers exactly [2^(k-1), 2^k - 1]; 0 -> 0; <0 -> -1."""
    from opentsdb_rollup_rust_spark.operators.rollup import value_bucket

    df = spark.createDataFrame(
        [(0,), (1,), (2,), (3,), (4,), (7,), (8,), (1023,), (1024,), (-5,)],
        "v long",
    ).select("v", value_bucket("v").alias("b"))
    got = {r["v"]: r["b"] for r in df.collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 2, 4: 3, 7: 3, 8: 4,
                   1023: 10, 1024: 11, -5: -1}


def test_percentile_from_histogram_error_bound(points):
    """A15: for every (series, window), est_max >= true p95 and
    est_max < 2 * max(true p95, 1) — the one-power-of-two bound."""
    from opentsdb_rollup_rust_spark.operators.rollup import (
        histogram_rollup,
        percentile_from_histogram,
    )

    h = histogram_rollup(points, "1h")
    est = percentile_from_histogram(h, 950)
    # exact p95 as the rank-ceil(0.95 n) order statistic
    pdf = points.toPandas()
    import math

    truth = {}
    for (sid, w), grp in pdf.assign(
        w=(pdf["ts"].astype("int64") // 10**9 // 3600) * 3600
    ).groupby(["series_id", "w"]):
        vs = sorted(grp["value"])
        truth[(sid, w)] = vs[math.ceil(0.95 * len(vs)) - 1]
    import pyspark.sql.functions as F

    for r in est.select(
        "series_id",
        F.unix_timestamp("window_start").alias("w"),
        "est_max",
    ).collect():
        p95 = truth[(r["series_id"], r["w"])]
        assert r["est_max"] >= p95
        assert r["est_max"] < 2 * max(p95, 1)


def test_percentile_est_max_integer_edges(spark):
    """A15 est_max is pure int64 (no float pow): bucket 63 yields
    2^63-1 without overflow (the old pow(2.0, 63) cast would THROW
    under ANSI), bucket 0 -> 0, negative bucket -> -1."""
    import datetime

    from opentsdb_rollup_rust_spark.operators.rollup import (
        percentile_from_histogram,
    )

    w = datetime.datetime(2024, 1, 1)
    rows = [
        ("a", w, 63, 10),  # values >= 2^62: est_max = Long.MAX
        ("b", w, 0, 10),
        ("c", w, -1, 10),
        ("d", w, 10, 10),
    ]
    h = spark.createDataFrame(
        rows, "series_id string, window_start timestamp, bucket int, n long"
    )
    got = {
        r["series_id"]: r["est_max"]
        for r in percentile_from_histogram(h, 950).collect()
    }
    assert got == {"a": (1 << 63) - 1, "b": 0, "c": -1, "d": 1023}


def test_distinct_sketch_cascade_equals_direct(points):
    """A16: HLL register state is order-independent max, so
    union-cascaded sketches estimate EXACTLY what a direct coarse
    sketch estimates, and the estimate tracks exact distinct within
    HLL error (lg_k=12 -> ~1.6%; generous 5% gate)."""
    from pyspark.sql import functions as F

    from opentsdb_rollup_rust_spark.operators.rollup import (
        distinct_from_sketch,
        distinct_sketch_cascade,
        distinct_sketch_rollup,
    )

    s1m = distinct_sketch_rollup(points, "1m")
    s1h = distinct_sketch_cascade(s1m, "1h")
    est_cascade = distinct_from_sketch(s1h)
    est_direct = distinct_from_sketch(distinct_sketch_rollup(points, "1h"))
    assert_df_equal(est_cascade, est_direct)

    exact = points.groupBy(
        "series_id",
        F.timestamp_seconds(
            (F.unix_timestamp("ts") / 3600).cast("long") * 3600
        ).alias("window_start"),
    ).agg(F.countDistinct("value").alias("exact"))
    joined = est_cascade.join(exact, ["series_id", "window_start"]).collect()
    assert joined
    for r in joined:
        assert abs(r["distinct_est"] - r["exact"]) <= max(0.05 * r["exact"], 2)


def test_calendar_rollup_tz_dst_day_lengths(spark):
    """A17b: local days are NON-uniform across DST — the 2024
    America/New_York spring-forward day has 23 hourly windows, the
    fall-back day 25, and the day boundary sits at local (not UTC)
    midnight on both sides of each transition."""
    import datetime as dt

    from pyspark.sql import functions as F

    from opentsdb_rollup_rust_spark.operators.rollup import calendar_rollup_tz

    hours = []
    for start, days in [(dt.datetime(2024, 3, 8), 5), (dt.datetime(2024, 11, 1), 5)]:
        base = int(start.replace(tzinfo=dt.timezone.utc).timestamp())
        hours += [base + 3600 * i for i in range(24 * days)]
    tier = spark.createDataFrame(
        [("m", h) for h in hours], "series_id string, sec long"
    ).select(
        "series_id",
        F.timestamp_seconds("sec").alias("window_start"),
        F.lit(1).cast("long").alias("sum"),
        F.lit(1).cast("long").alias("count"),
        F.lit(1).cast("long").alias("min"),
        F.lit(1).cast("long").alias("max"),
    )
    out = {
        r["w_start"]: r["count"]
        for r in calendar_rollup_tz(tier, "America/New_York").collect()
    }

    def nymid(y, m, d, utc_h):
        return int(
            dt.datetime(y, m, d, utc_h, tzinfo=dt.timezone.utc).timestamp()
        )

    # EST midnight = 05:00 UTC; EDT midnight = 04:00 UTC
    assert out[nymid(2024, 3, 9, 5)] == 24     # full EST day
    assert out[nymid(2024, 3, 10, 5)] == 23    # spring-forward day
    assert out[nymid(2024, 3, 11, 4)] == 24    # full EDT day (new offset)
    assert out[nymid(2024, 11, 2, 4)] == 24    # full EDT day
    assert out[nymid(2024, 11, 3, 4)] == 25    # fall-back day
    assert out[nymid(2024, 11, 4, 5)] == 24    # full EST day (new offset)
    # conservation: every hourly window lands in exactly one local day
    assert sum(out.values()) == len(hours)
