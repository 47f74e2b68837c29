"""M4 — snapshot store, resumable job, lineage, retention, router.

Key golden test (BASELINE.md "resumability"): kill mid-job, re-run,
assert 0 duplicate windows and lineage records the skip.
"""

import pytest
from pyspark.sql import functions as F

from opentsdb_rollup_rust_spark.config import DEFAULT_TIERS
from opentsdb_rollup_rust_spark.operators.points import derive_points, event_time
from opentsdb_rollup_rust_spark.operators.rollup import tumbling_rollup
from opentsdb_rollup_rust_spark.plans.job import (
    apply_retention,
    committed_buckets,
    run_cascade,
    run_rollup_job,
)
from opentsdb_rollup_rust_spark.plans.tier_router import read_rollup, route_tier
from opentsdb_rollup_rust_spark.sources.store import (
    LINEAGE_SCHEMA,
    METRICS_SCHEMA,
    ManifestStore,
)
from opentsdb_rollup_rust_spark.sources.synth import synth_sequences

from .conftest import assert_df_equal


@pytest.fixture()
def store(spark, tmp_path):
    s = ManifestStore(spark, str(tmp_path / "store"))
    s.append("sequences", synth_sequences(spark, 500))
    return s


def test_store_snapshot_isolation(spark, store):
    snap1 = store.current_snapshot("sequences")
    store.append("sequences", synth_sequences(spark, 100))
    assert store.read("sequences", snap1).count() == 500
    assert store.read("sequences").count() == 600


def test_full_cascade_matches_direct(spark, store):
    results = run_cascade(spark, store, n_buckets=4, encode=False)
    assert [r.tier for r in results] == ["1m", "1h", "1d"]
    pts = derive_points(store.read("sequences"))
    for tier in ("1m", "1h", "1d"):
        stored = store.read(f"rollup_{tier}").drop("bucket")
        direct = tumbling_rollup(pts, tier)
        assert stored.exceptAll(direct).count() == 0
        assert direct.exceptAll(stored).count() == 0


def _assert_chunks_match(store, tier):
    """chunks_<tier> decoded and pivoted back equal the stored tier."""
    from opentsdb_rollup_rust_spark.codec.gorilla import decode_chunks

    dec = (
        decode_chunks(store.read(f"chunks_{tier}"))
        .groupBy("series_id", "window_start")
        .pivot("agg", ["sum", "count", "min", "max"])
        .agg(F.first("value"))
    )
    cols = ("series_id", "window_start", "sum", "count", "min", "max")
    assert_df_equal(dec.select(*cols), store.read(f"rollup_{tier}").select(*cols))


def _late_batch(spark, n, doc_offset, t0, t1):
    """Sequences whose event time falls in [t0, t1): late data for a
    known range."""
    ev = F.unix_timestamp(event_time("doc_id"))
    return synth_sequences(spark, n, doc_offset=doc_offset).where((ev >= t0) & (ev < t1))


def _window_bounds(store, tier):
    return store.read(f"rollup_{tier}").agg(
        F.min(F.unix_timestamp("window_start")), F.max(F.unix_timestamp("window_start"))
    ).first()


def test_kill_and_resume_no_duplicates(spark, store, monkeypatch):
    """Crash between the rollup splice and the chunk splice; then
    re-run. The crash is real: the store raises on the chunks_1m splice
    (the one call a chunk commit makes), so the crashed run's lineage
    rows were never written either; the re-run writes them under the
    crashed run's run_id. Then the same crash on a second source
    snapshot: the re-run encodes only the range the rollup splice
    recorded."""
    replace_range = store.replace_range

    def crash_on_chunks(table, *a, **kw):
        if table == "chunks_1m":
            raise RuntimeError("crash before the chunk commit")
        return replace_range(table, *a, **kw)

    monkeypatch.setattr(store, "replace_range", crash_on_chunks)
    with pytest.raises(RuntimeError, match="crash before the chunk commit"):
        run_rollup_job(spark, store, "1m", n_buckets=4, encode=True,
                       run_id="crashed-run")
    monkeypatch.undo()
    snap = store.current_snapshot("sequences")
    assert committed_buckets(store, "rollup_1m", snap) == {0, 1, 2, 3}
    assert not store.exists("chunks_1m")

    r2 = run_rollup_job(spark, store, "1m", n_buckets=4, encode=True)
    assert r2.buckets_skipped == [0, 1, 2, 3]  # resume skipped all data work
    assert r2.rows_out == 0
    assert store.exists("chunks_1m")  # ...but the missing chunks were encoded
    # ...and the lost lineage was written: one row per bucket, under the
    # run that committed the buckets
    lineage = [
        (r.bucket, r.run_id, r.rows_out)
        for r in store.read("lineage")
        .where((F.col("tier") == "1m") & (F.col("src_snapshot") == snap))
        .collect()
    ]
    assert sorted(b for b, _, _ in lineage) == [0, 1, 2, 3]
    assert {run for _, run, _ in lineage} == {"crashed-run"}
    assert sum(n for _, _, n in lineage) == store.read("rollup_1m").count()

    # 0 duplicate windows
    stored = store.read("rollup_1m")
    dup = (
        stored.groupBy("series_id", "window_start")
        .agg(F.count("*").alias("n"))
        .where("n > 1")
        .count()
    )
    assert dup == 0
    # and the data exactly matches a direct computation
    direct = tumbling_rollup(derive_points(store.read("sequences")), "1m")
    assert stored.drop("bucket").exceptAll(direct).count() == 0

    # chunks decode back to the stored tier
    from opentsdb_rollup_rust_spark.codec.gorilla import decode_chunks

    decoded_n = decode_chunks(store.read("chunks_1m")).count()
    assert decoded_n == stored.count() * 4  # 4 aggs per window

    # a second source snapshot: late data for two days, the same crash
    lo, _ = _window_bounds(store, "1m")
    day = 86400
    t0 = lo // day * day + 10 * day
    store.append("sequences", _late_batch(spark, 1500, 500, t0, t0 + 2 * day))
    monkeypatch.setattr(store, "replace_range", crash_on_chunks)
    with pytest.raises(RuntimeError, match="crash before the chunk commit"):
        run_rollup_job(spark, store, "1m", n_buckets=4, run_id="crashed-run-2")
    monkeypatch.undo()
    snap2 = store.current_snapshot("sequences")
    rng = next(s["range"] for s in store.snapshot_summaries("rollup_1m")
               if s.get("src_snapshot") == snap2)
    assert t0 <= rng[0] < rng[1] <= t0 + 2 * day  # the late batch's windows

    calls = []

    def record(table, *a, **kw):
        calls.append((table, *a[:3]))
        return replace_range(table, *a, **kw)

    monkeypatch.setattr(store, "replace_range", record)
    r3 = run_rollup_job(spark, store, "1m", n_buckets=4)
    monkeypatch.undo()
    assert r3.rows_out == 0 and r3.bytes_per_point > 0
    chunk_s = DEFAULT_TIERS["1m"].chunk_seconds
    c0, c1 = rng[0] // chunk_s * chunk_s, -(-rng[1] // chunk_s) * chunk_s
    assert calls == [("chunks_1m", "chunk_start", c0, c1)]  # only the recorded range
    direct = tumbling_rollup(derive_points(store.read("sequences")), "1m")
    stored = store.read("rollup_1m").drop("bucket")
    assert_df_equal(stored, direct)
    _assert_chunks_match(store, "1m")


def test_new_snapshot_triggers_reprocess(spark, store):
    """A new source snapshot splices the windows it changed into every
    tier: after a second batch each tier equals a direct rollup of all
    sequences (no double count), and the chunks follow."""
    run_cascade(spark, store, n_buckets=4, encode=True)
    store.append("sequences", synth_sequences(spark, 100, doc_offset=500))
    results = run_cascade(spark, store, n_buckets=4, encode=True)
    assert all(r.buckets_skipped == [] and r.rows_out > 0 for r in results)
    pts = derive_points(store.read("sequences"))
    for tier in ("1m", "1h", "1d"):
        stored = store.read(f"rollup_{tier}").drop("bucket")
        assert_df_equal(stored, tumbling_rollup(pts, tier))
        _assert_chunks_match(store, tier)


def test_rerun_at_other_n_buckets_writes_nothing(spark, store):
    """Resume keys on the source snapshot alone: a re-run at n_buckets=8
    after a run at 4 on the same snapshot commits nothing."""
    run_rollup_job(spark, store, "1m", n_buckets=4)
    tables = ("rollup_1m", "chunks_1m")
    snaps = {t: store.current_snapshot(t) for t in tables}
    rows = store.read("rollup_1m").count()
    r = run_rollup_job(spark, store, "1m", n_buckets=8)
    assert (r.rows_out, r.buckets_done, r.bytes_per_point) == (0, [], 0.0)
    assert {t: store.current_snapshot(t) for t in tables} == snaps
    assert store.read("rollup_1m").count() == rows


def test_finer_retention_does_not_shrink_coarser_tiers(spark, store):
    """A 1m retention and then a new source snapshot: the cascade
    recomputes 1h and 1d only inside the late batch's range (equal to a
    direct rollup there); their rows outside it are unchanged, though
    the 1m rows under them are gone."""
    run_cascade(spark, store, n_buckets=4, encode=False)
    lo, _ = _window_bounds(store, "1d")
    day = 86400
    before = {t: store.read(f"rollup_{t}").drop("bucket") for t in ("1h", "1d")}
    before = {t: spark.createDataFrame(df.collect(), df.schema) for t, df in before.items()}
    assert apply_retention(spark, store, "1m", now_epoch=lo + 31 * day) > 0
    t0, t1 = lo + 26 * day, lo + 28 * day  # inside what 1m keeps
    store.append("sequences", _late_batch(spark, 1500, 500, t0, t1))
    run_cascade(spark, store, n_buckets=4, encode=False)
    ws = F.unix_timestamp("window_start")
    inside = (ws >= t0) & (ws < t1)
    pts = derive_points(store.read("sequences"))
    for tier in ("1h", "1d"):
        stored = store.read(f"rollup_{tier}").drop("bucket")
        assert_df_equal(stored.where(~inside), before[tier].where(~inside))
        assert_df_equal(stored.where(inside), tumbling_rollup(pts, tier).where(inside))


def test_lineage_and_metrics_rows(spark, store):
    r = run_rollup_job(spark, store, "1m", n_buckets=4, encode=False)
    lin = store.read("lineage")
    assert lin.where(F.col("run_id") == r.run_id).count() == 4
    met = store.read("metrics")
    row = met.where(F.col("run_id") == r.run_id).first()
    assert row.points_per_sec > 0
    assert committed_buckets(store, "rollup_1m", r.src_snapshot) == {0, 1, 2, 3}
    # typed exactly as the declared report schemas, one file per append
    assert lin.dtypes == spark.createDataFrame([], LINEAGE_SCHEMA).dtypes
    assert met.dtypes == spark.createDataFrame([], METRICS_SCHEMA).dtypes
    for table in ("lineage", "metrics"):
        m = store._load_manifest(table)
        snap = next(s for s in m["snapshots"] if s["id"] == m["current"])
        assert len(snap["new_paths"]) == 1, table


def test_job_stats_ride_the_chunk_write(spark, store, monkeypatch):
    """bytes_per_point comes from the chunk append itself: on a fresh
    store it equals compression_stats over the written chunks, and the
    job never reads a chunk table back."""
    from opentsdb_rollup_rust_spark.codec.gorilla import compression_stats

    tables = []
    read = store.read
    monkeypatch.setattr(
        store, "read", lambda table, *a, **kw: tables.append(table) or read(table, *a, **kw)
    )
    r = run_rollup_job(spark, store, "1m", n_buckets=4)
    assert not [t for t in tables if t.startswith("chunks_")], tables
    want = (
        compression_stats(read("chunks_1m"))
        .agg((F.sum("enc_bytes") / F.sum("points")).alias("bpp"))
        .first()
        .bpp
    )
    assert r.bytes_per_point == want > 0
    # a re-run finds every bucket encoded: it encodes nothing
    assert run_rollup_job(spark, store, "1m", n_buckets=4).bytes_per_point == 0.0
    assert not [t for t in tables if t.startswith("chunks_")], tables


def test_retention_drops_old_windows(spark, store):
    run_rollup_job(spark, store, "1m", n_buckets=2, encode=False)
    hi = store.read("rollup_1m").agg(
        F.max(F.unix_timestamp("window_start"))
    ).first()[0]
    total = store.read("rollup_1m").count()
    kept = apply_retention(spark, store, "1m", now_epoch=hi + 3 * 86400)
    # 30-day horizon, 7-day retention anchored 3 days past the end
    assert 0 < kept < total
    assert store.read("rollup_1m").count() == kept


def test_retention_prunes_files_without_rewrite(spark, tmp_path):
    """Footer-stat pruning: daily appends (the production commit
    pattern) age out as whole files — dropped from the snapshot with
    no read/rewrite; files entirely inside retention are carried over
    byte-identically; only a cutoff-straddling file is rewritten."""
    import os

    s = ManifestStore(spark, str(tmp_path / "rstore"))
    day = 86400

    def mk(day_idx, n=10, span=1):
        rows = [
            ("s1", float(day_idx * day + i * (span * day) // n))
            for i in range(n)
        ]
        return (
            spark.createDataFrame(rows, "series_id string, epoch double")
            .select(
                "series_id",
                F.timestamp_seconds(F.col("epoch")).alias("window_start"),
            )
            .coalesce(1)
        )

    s.append("t", mk(0))  # day 0 — fully expired
    s.append("t", mk(1))  # day 1 — fully expired
    s.append("t", mk(2, span=2))  # days 2-3 — straddles the cutoff
    s.append("t", mk(4))  # day 4 — fully retained
    files_before = s._snapshot_paths(s._load_manifest("t"), s.current_snapshot("t"))
    mtimes = {f: os.path.getmtime(f) for f in files_before}

    cutoff = 3 * day
    res = s.prune_older_than("t", "window_start", cutoff)

    assert len(res["dropped"]) == 2  # day-0 and day-1 files, never read
    assert len(res["rewritten"]) == 1  # only the day-2-3 straddler
    assert len(res["kept"]) == 1  # day-4 file untouched
    # kept file is the SAME path with the SAME mtime (no rewrite)
    kept = res["kept"][0]
    assert os.path.getmtime(kept) == mtimes[kept]
    # dropped files left the snapshot but remain on disk (older
    # snapshots still reference them, Iceberg-style)
    for f in res["dropped"]:
        assert os.path.exists(f)
    rows = s.read("t").select(F.unix_timestamp("window_start").alias("e"))
    lo, hi, n = rows.agg(F.min("e"), F.max("e"), F.count("*")).first()
    assert lo >= cutoff
    assert n == 10 + 5  # day-4 append + surviving half of the straddler


def test_router_picks_coarsest_divisible(spark, store):
    assert route_tier(60) == "1m"
    assert route_tier(7200) == "1h"
    assert route_tier(300) == "1m"
    assert route_tier(2 * 86400) == "1d"
    with pytest.raises(ValueError):
        route_tier(90)


def test_read_rollup_reaggregates(spark, store):
    run_cascade(spark, store, n_buckets=2, encode=False)
    two_h = read_rollup(store, 7200, fill="zero")
    direct = tumbling_rollup(derive_points(store.read("sequences")), "1h")
    # sum of counts preserved through routing+reagg+fill
    assert (
        two_h.agg(F.sum("count")).first()[0]
        == direct.agg(F.sum("count")).first()[0]
    )
    assert "avg" in two_h.columns


def test_realtime_splice_equals_direct(spark, points):
    """P5b: tier<watermark ∪ on-the-fly raw>=watermark re-aggregated
    to 2h equals the direct single-source read, for watermarks at the
    range edges (all-cold / all-hot) and at an ODD 1h boundary (a 2h
    window straddles the splice — its halves must recombine exactly)."""
    from opentsdb_rollup_rust_spark.operators.rollup import cascade_reagg
    from opentsdb_rollup_rust_spark.plans.tier_router import (
        realtime_read_pipeline,
        rollup_read_pipeline,
    )
    from tests.conftest import assert_df_equal

    pts = points
    tier_full = cascade_reagg(tumbling_rollup(pts, "1m"), "1h")
    direct = rollup_read_pipeline(
        tier_full, "1h", 7200, fill="zero", with_avg=True
    )
    lo, hi = pts.agg(
        F.min(F.unix_timestamp("ts")), F.max(F.unix_timestamp("ts"))
    ).first()
    mid_odd = ((lo + hi) // 2) // 7200 * 7200 + 3600
    all_cold = (hi // 3600 + 1) * 3600
    all_hot = lo // 3600 * 3600
    for wm in (mid_odd, all_cold, all_hot):
        tier = tier_full.where(
            F.col("window_start") < F.timestamp_seconds(F.lit(wm))
        )
        spliced = realtime_read_pipeline(
            tier, pts, "1h", 7200, wm, fill="zero", with_avg=True
        )
        assert_df_equal(spliced, direct)


def test_realtime_splice_rejects_unaligned_watermark(spark, points):
    from opentsdb_rollup_rust_spark.plans.tier_router import (
        realtime_read_pipeline,
    )

    with pytest.raises(ValueError):
        realtime_read_pipeline(points, points, "1h", 7200, 1800)
