"""Table-maintenance operations: small-file compaction and surgical
range replacement / tier backfill (the operational surface a 100 TB
deployment runs nightly). Content-equality and snapshot-isolation
checks — these ops must never change what a query sees except where
the backfill intends to.
"""

import glob
import os

import pytest
from pyspark.sql import functions as F

from opentsdb_rollup_rust_spark.plans.job import backfill_tier, run_cascade
from opentsdb_rollup_rust_spark.sources.store import ManifestStore
from opentsdb_rollup_rust_spark.sources.synth import synth_sequences

from .conftest import assert_df_equal


@pytest.fixture()
def store(spark, tmp_path):
    return ManifestStore(spark, str(tmp_path / "store"))


def _files(store, table):
    m = store._load_manifest(table)
    return store._snapshot_paths(m, m["current"])


def test_compact_merges_small_files_preserving_content(spark, store):
    # 6 incremental appends, each split over 4 part files -> 24 tiny
    # files, the classic small-file accumulation of a long-running job
    for i in range(6):
        store.append(
            "t", synth_sequences(spark, 200, doc_offset=i * 200).repartition(4)
        )
    before = store.read("t")
    before_rows = before.collect()
    n_before = len(_files(store, "t"))
    assert n_before >= 24
    snap_before = store.current_snapshot("t")

    stats = store.compact("t", target_file_bytes=512 * 1024 * 1024)
    assert stats["files_in"] == n_before
    n_after = len(_files(store, "t"))
    assert n_after == stats["files_out"] < n_before

    # content identical
    after = store.read("t")
    assert sorted(map(repr, after.collect())) == sorted(map(repr, before_rows))
    # time travel to the pre-compaction snapshot still works
    assert store.read("t", snap_before).count() == len(before_rows)
    # commit summary recorded
    assert any(
        "compaction" in s for s in store.snapshot_summaries("t")
        if isinstance(s, dict)
    ) or any(
        "files_in" in str(s) for s in store._load_manifest("t")["snapshots"]
    )


def test_compact_noop_on_single_file(spark, store):
    store.append("t1", synth_sequences(spark, 100).coalesce(1))
    snap = store.current_snapshot("t1")
    stats = store.compact("t1")
    assert store.current_snapshot("t1") == snap  # no new snapshot
    assert stats["files_out"] == stats["files_in"]


def test_replace_range_touches_only_straddling_files(spark, store):
    # three appends with disjoint hour ranges -> disjoint footer stats
    rows = []
    for h in range(3):
        df = spark.createDataFrame(
            [(f"s{i}", h * 3600 + i * 60, i) for i in range(60)],
            "series_id string, epoch long, v long",
        ).select(
            "series_id",
            F.timestamp_seconds(F.col("epoch")).alias("window_start"),
            "v",
        )
        store.append("r", df.coalesce(1))
        rows += [(f"s{i}", h * 3600 + i * 60, i) for i in range(60)]

    # replace hour 1 with halved values
    new = spark.createDataFrame(
        [(f"s{i}", 3600 + i * 60, i // 2) for i in range(60)],
        "series_id string, epoch long, v long",
    ).select(
        "series_id",
        F.timestamp_seconds(F.col("epoch")).alias("window_start"),
        "v",
    )
    before = _files(store, "r")
    stats = store.replace_range("r", "window_start", 3600, 7200, new)
    # hours 0 and 2 live in files disjoint from the range: kept as-is
    assert stats["files_kept"] >= 2
    # the hour-1 file lies wholly inside [3600, 7200): dropped unread
    assert stats["files_dropped"] == 1
    assert stats["files_rewritten"] == 0
    after = _files(store, "r")
    gone = set(before) - set(after)
    assert len(gone) == 1
    # it left the current snapshot but stays on disk for time travel
    assert all(os.path.exists(f) for f in gone)
    got = {
        (r["series_id"], r["window_start"].timestamp(), r["v"])
        for r in store.read("r").collect()
    }
    expect = {
        (s, float(e), (v // 2 if 3600 <= e < 7200 else v))
        for s, e, v in rows
    }
    assert got == expect


def test_snapshot_delta_is_what_the_commit_wrote(spark, store):
    """read_snapshot_delta of a splice returns the rows it wrote (the
    straddler's rows outside the range and the inserted ones), never a
    kept file's; a prune that only drops files wrote nothing."""

    def hour(h, v):
        return spark.createDataFrame(
            [(f"s{i}", h * 3600 + i * 60, v) for i in range(60)],
            "series_id string, epoch long, v long",
        ).select(
            "series_id",
            F.timestamp_seconds(F.col("epoch")).alias("window_start"),
            "v",
        )

    for h in range(3):
        store.append("d", hour(h, h).coalesce(1))
    ws = F.unix_timestamp("window_start")
    # the hour-1 file straddles [3600, 5400); hours 0 and 2 are kept
    res = store.replace_range(
        "d", "window_start", 3600, 5400, hour(1, 9).where(ws < 5400)
    )
    assert (res["files_kept"], res["files_rewritten"]) == (2, 1)
    delta = store.read_snapshot_delta("d", res["snapshot"])
    assert delta.count() == 60
    assert_df_equal(delta, store.read("d").where((ws >= 3600) & (ws < 7200)))

    res = store.prune_older_than("d", "window_start", 3600)
    assert (len(res["dropped"]), res["rewritten"]) == (1, [])
    assert store.read_snapshot_delta("d", res["snapshot"]).count() == 0


def test_backfill_restores_corrupted_tier_exactly(spark, store):
    store.append("sequences", synth_sequences(spark, 500))
    run_cascade(spark, store, n_buckets=4, encode=False)
    clean = {t: store.read(f"rollup_{t}").collect() for t in ("1m", "1h")}

    # window range covering the middle of the data
    bounds = (
        store.read("rollup_1h")
        .agg(
            F.min(F.unix_timestamp("window_start")).alias("lo"),
            F.max(F.unix_timestamp("window_start")).alias("hi"),
        )
        .collect()[0]
    )
    t0 = int(bounds["lo"]) + 3600
    t1 = int(bounds["hi"]) - 3600
    assert t1 > t0

    # corrupt both tiers inside [t0, t1): zero every aggregate
    for tier in ("1m", "1h"):
        cur = store.read(f"rollup_{tier}")
        ws = F.unix_timestamp("window_start")
        bad = (
            cur.where((ws >= t0) & (ws < t1))
            .withColumn("sum", F.lit(0).cast("long"))
            .withColumn("count", F.lit(0).cast("long"))
        )
        store.replace_range(f"rollup_{tier}", "window_start", t0, t1, bad)
        assert store.read(f"rollup_{tier}").where(
            (ws >= t0) & (ws < t1) & (F.col("count") != 0)
        ).count() == 0  # corruption took

    # backfill base tier from sequences, then the hour tier from it
    backfill_tier(spark, store, "1m", t0, t1, n_buckets=4)
    backfill_tier(spark, store, "1h", t0, t1, n_buckets=4)

    for tier in ("1m", "1h"):
        got = store.read(f"rollup_{tier}").drop("bucket")
        want = spark.createDataFrame(clean[tier]).drop("bucket")
        assert_df_equal(got, want)

    # idempotent: a second backfill changes nothing
    backfill_tier(spark, store, "1m", t0, t1, n_buckets=4)
    got2 = store.read("rollup_1m").drop("bucket")
    assert_df_equal(got2, spark.createDataFrame(clean["1m"]).drop("bucket"))


def test_backfill_late_data_updates_rollup_and_chunks(spark, store):
    """The real backfill scenario: late source data arrives, a window
    range is recomputed — and the Gorilla chunk table must follow the
    rollup table, else codec read paths serve pre-backfill values."""
    from opentsdb_rollup_rust_spark.codec.gorilla import decode_chunks
    from opentsdb_rollup_rust_spark.operators.points import derive_points
    from opentsdb_rollup_rust_spark.operators.rollup import tumbling_rollup
    from opentsdb_rollup_rust_spark.plans.job import run_rollup_job

    store.append("sequences", synth_sequences(spark, 400))
    run_rollup_job(spark, store, "1m", n_buckets=4, encode=True)
    assert store.exists("chunks_1m")

    # late data lands in the source
    store.append("sequences", synth_sequences(spark, 200, doc_offset=400))

    bounds = (
        store.read("rollup_1m")
        .agg(
            F.min(F.unix_timestamp("window_start")).alias("lo"),
            F.max(F.unix_timestamp("window_start")).alias("hi"),
        )
        .collect()[0]
    )
    t0 = int(bounds["lo"]) + 6 * 3600
    t1 = int(bounds["hi"]) - 6 * 3600
    assert t1 > t0
    backfill_tier(spark, store, "1m", t0, t1, n_buckets=4)

    # rollup content: inside [t0,t1) reflects ALL 600 sequences,
    # outside still the original 400
    full = tumbling_rollup(derive_points(store.read("sequences")), "1m")
    ws = F.unix_timestamp("window_start")
    got_in = store.read("rollup_1m").drop("bucket").where((ws >= t0) & (ws < t1))
    want_in = full.where((ws >= t0) & (ws < t1))
    assert_df_equal(got_in, want_in)

    # chunk table followed: decoding every chunk reproduces exactly the
    # current rollup table (the whole point of the chunk re-encode)
    dec = (
        decode_chunks(store.read("chunks_1m"))
        .groupBy("series_id", "window_start")
        .pivot("agg", ["sum", "count", "min", "max"])
        .agg(F.first("value"))
    )
    roll = store.read("rollup_1m").select(
        "series_id", "window_start", "sum", "count", "min", "max"
    )
    assert_df_equal(
        dec.select("series_id", "window_start", "sum", "count", "min", "max"),
        roll,
    )


def test_expire_snapshots_reclaims_disk(spark, store):
    """Expiry deletes exactly the files no retained snapshot
    references — and only after the shrunken manifest is committed, so
    a crash can strand garbage but never break a live snapshot."""
    for i in range(4):
        store.append(
            "g", synth_sequences(spark, 150, doc_offset=i * 150).repartition(2)
        )
    store.compact("g", target_file_bytes=512 * 1024 * 1024)
    rows_before = sorted(map(repr, store.read("g").collect()))
    old_snap = store.current_snapshot("g") - 1
    n_files_before = len(glob.glob(os.path.join(store.root, "g", "*", "*.parquet")))

    stats = store.expire_snapshots("g", keep_last=1)
    assert stats["expired"] == 4  # 4 appends + compact = 5 snaps, keep 1
    assert stats["deleted_files"] > 0
    n_files_after = len(glob.glob(os.path.join(store.root, "g", "*", "*.parquet")))
    assert n_files_after < n_files_before

    # the current snapshot is fully intact
    assert sorted(map(repr, store.read("g").collect())) == rows_before
    # time travel to expired snapshots is gone (by design)
    with pytest.raises(KeyError):
        store.read("g", old_snap)
    assert len(store._load_manifest("g")["snapshots"]) == 1


def test_expire_keep_last_protects_shared_files(spark, store):
    """Appends share earlier snap directories; keeping 2 snapshots
    must protect every file the second-newest still references."""
    for i in range(3):
        store.append("h", synth_sequences(spark, 100, doc_offset=i * 100))
    snap2 = store.current_snapshot("h") - 1
    store.expire_snapshots("h", keep_last=2)
    # both retained snapshots still read correctly
    assert store.read("h").count() == 300
    assert store.read("h", snap2).count() == 200


def test_concurrent_append_during_maintenance_is_not_lost(spark, store):
    """A stream append that lands while a compaction/replace is
    computing must never be dropped: the maintenance commit validates
    its base snapshot under the writer lock and raises
    ConcurrentCommitError instead of clobbering (Iceberg optimistic-
    commit semantics). Simulated by injecting an append between the
    maintenance op's data write and its commit."""
    from opentsdb_rollup_rust_spark.sources.store import ConcurrentCommitError

    for i in range(3):
        store.append("c", synth_sequences(spark, 100, doc_offset=i * 100))

    orig_write = store._write_data
    hook = {"fired": False}

    def write_then_sneak(table, df, snap_id):
        paths = orig_write(table, df, snap_id)
        if not hook["fired"] and table == "c":
            hook["fired"] = True  # guard before the recursive append
            store.append("c", synth_sequences(spark, 50, doc_offset=900))
        return paths

    store._write_data = write_then_sneak
    try:
        with pytest.raises(ConcurrentCommitError):
            store.compact("c", target_file_bytes=512 * 1024 * 1024)
    finally:
        store._write_data = orig_write

    # nothing was lost: the sneaked append's rows are all present and
    # the table still reads consistently
    assert store.read("c").count() == 350
    # retry succeeds against the new current
    stats = store.compact("c", target_file_bytes=512 * 1024 * 1024)
    assert stats["files_out"] >= 1
    assert store.read("c").count() == 350


@pytest.mark.parametrize(
    "op", ["compact", "replace_range", "prune_older_than"]
)
def test_replace_range_conflict_detected(spark, store, op):
    """Every maintenance op validates its base snapshot at commit: an
    append landing between its data write and its commit raises
    ConcurrentCommitError, and the appended rows survive."""
    from opentsdb_rollup_rust_spark.sources.store import ConcurrentCommitError

    df = spark.createDataFrame(
        [(float(e), e) for e in (100, 200, 300)], "e double, v long"
    ).select(F.timestamp_seconds(F.col("e")).alias("window_start"), "v")
    # two single-file appends: compact has two small files to merge,
    # and each file straddles both ranges below
    store.append("rr", df.coalesce(1))
    store.append("rr", df.withColumn("v", F.col("v") + 100).coalesce(1))

    orig_write = store._write_data
    hook = {"fired": False}

    def write_then_sneak(table, d, snap_id):
        paths = orig_write(table, d, snap_id)
        if not hook["fired"] and table == "rr":
            hook["fired"] = True
            store.append("rr", df.withColumn("v", F.col("v") + 1000))
        return paths

    new = spark.createDataFrame([(200.0, 7)], "e double, v long").select(
        F.timestamp_seconds(F.col("e")).alias("window_start"), "v"
    )
    run = {
        "compact": lambda: store.compact(
            "rr", target_file_bytes=512 * 1024 * 1024),
        "replace_range": lambda: store.replace_range(
            "rr", "window_start", 150, 250, new),
        "prune_older_than": lambda: store.prune_older_than(
            "rr", "window_start", 250),
    }[op]
    store._write_data = write_then_sneak
    try:
        with pytest.raises(ConcurrentCommitError):
            run()
    finally:
        store._write_data = orig_write
    assert hook["fired"]
    # the concurrent append survived intact
    assert store.read("rr").count() == 9


def test_resume_markers_survive_expiry(spark, store):
    """THE expiry correctness contract: after expire_snapshots
    reclaims data files, the job's exactly-once resume markers
    (committed buckets per source snapshot) must still be visible —
    otherwise an unchanged-source re-run double-appends the tier."""
    from opentsdb_rollup_rust_spark.plans.job import run_rollup_job

    store.append("sequences", synth_sequences(spark, 300))
    r1 = run_rollup_job(spark, store, "1m", n_buckets=4, encode=True)
    assert r1.buckets_done == [0, 1, 2, 3]
    rows = store.read("rollup_1m").count()

    # compact then expire everything but the newest snapshot on both
    # tables — the compaction snapshot carries no resume markers itself
    store.compact("rollup_1m", sort_within=("series_id", "window_start"))
    for t in ("rollup_1m", "chunks_1m"):
        store.expire_snapshots(t, keep_last=1, orphan_grace_seconds=1e9)

    r2 = run_rollup_job(spark, store, "1m", n_buckets=4, encode=True)
    assert r2.buckets_skipped == [0, 1, 2, 3]
    assert r2.rows_out == 0
    assert store.read("rollup_1m").count() == rows  # no duplicates


def test_orphan_collection_is_age_guarded(spark, store):
    """Unreferenced snap dirs (conflict losers / crash strands) are
    reclaimed only once older than the grace period — a young dir
    could be an in-flight writer."""
    store.append("o", synth_sequences(spark, 100).coalesce(1))
    # fabricate an orphan: a snap dir no snapshot references
    orphan = os.path.join(store.root, "o", "snap-99-deadbeef")
    synth_sequences(spark, 10).coalesce(1).write.parquet(orphan)

    # young orphan survives (default 1h grace)
    store.expire_snapshots("o", keep_last=1)
    assert os.path.isdir(orphan)

    # aged orphan is collected
    old = 1_000_000_000
    os.utime(orphan, (old, old))
    stats = store.expire_snapshots("o", keep_last=1)
    assert stats["orphans_removed"] > 0
    assert not os.path.exists(orphan)
    assert store.read("o").count() == 100  # live data untouched


def test_cli_compact_and_expire_cover_report_tables(spark, tmp_path, monkeypatch):
    """jobs/run_rollup.py --compact --expire-keep 1 also folds the report
    tables: after three job runs each of lineage and metrics lists one
    data file, keeps one snapshot, and reads back the same rows."""
    import jobs.run_rollup as rr

    monkeypatch.setattr(rr, "get_spark", lambda **kw: spark)
    monkeypatch.setattr(type(spark), "stop", lambda self: None)
    root = str(tmp_path / "cli")
    base = ["--root", root, "--buckets", "2", "--no-encode"]
    for _ in range(3):
        assert rr.main(base + ["--synthesize", "100"]) == 0
    store = ManifestStore(spark, root)
    report = ("lineage", "metrics")
    before = {t: sorted(map(tuple, store.read(t).collect())) for t in report}
    assert all(len(_files(store, t)) > 1 for t in report)

    # no new sequences: the job appends nothing, then maintenance runs
    assert rr.main(base + ["--compact", "--expire-keep", "1"]) == 0
    for t in report:
        assert len(_files(store, t)) == 1, t
        assert len(store._load_manifest(t)["snapshots"]) == 1, t
        assert sorted(map(tuple, store.read(t).collect())) == before[t], t


def test_cli_compact_covers_sequences_and_changes_no_tier(spark, tmp_path, monkeypatch):
    """jobs/run_rollup.py --compact folds `sequences` too, and the next
    run changes no tier: the job's changed range skips compaction
    commits, so compacting the source is not new data."""
    import jobs.run_rollup as rr
    from opentsdb_rollup_rust_spark.operators.points import derive_points
    from opentsdb_rollup_rust_spark.operators.rollup import tumbling_rollup

    monkeypatch.setattr(rr, "get_spark", lambda **kw: spark)
    monkeypatch.setattr(type(spark), "stop", lambda self: None)
    root = str(tmp_path / "cli")
    base = ["--root", root, "--buckets", "2"]
    assert rr.main(base + ["--synthesize", "200"]) == 0
    store = ManifestStore(spark, root)
    store.append("sequences", synth_sequences(spark, 100, doc_offset=200))
    assert len(_files(store, "sequences")) > 1
    assert rr.main(base + ["--compact"]) == 0
    assert len(_files(store, "sequences")) == 1
    tables = [f"{k}_{t}" for t in ("1m", "1h", "1d") for k in ("rollup", "chunks")]
    snaps = {t: store.current_snapshot(t) for t in tables}

    assert rr.main(base) == 0
    assert {t: store.current_snapshot(t) for t in tables} == snaps
    assert_df_equal(store.read("rollup_1m").drop("bucket"),
                    tumbling_rollup(derive_points(store.read("sequences")), "1m"))
