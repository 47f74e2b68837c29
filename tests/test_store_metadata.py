"""The manifest as table metadata: ManifestStore records each table's
schema and each data file's rows, bytes and timestamp bounds at
commit, and reads, classification, compaction and retention use them
instead of starting Spark jobs or opening footers. A snapshot is its
list of data files, each with an entry.
"""

from __future__ import annotations

import os
import shutil
from contextlib import contextmanager
from pathlib import Path

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from opentsdb_rollup_rust_spark.plans.job import (
    apply_retention,
    backfill_tier,
    run_cascade,
)
from opentsdb_rollup_rust_spark.sources.store import ManifestStore
from opentsdb_rollup_rust_spark.sources.synth import synth_sequences

from .conftest import assert_df_equal

DAY = 86400
TABLES = [
    "sequences", "lineage", "metrics",
    *(f"{kind}_{t}" for kind in ("rollup", "chunks") for t in ("1m", "1h", "1d")),
]


@pytest.fixture(scope="module")
def cascade_root(spark, tmp_path_factory):
    """A small cascade store (every tier, chunks, lineage, metrics),
    built once; tests that change it work on a copy. Four buckets hash
    to fewer than four partitions, and a write whose partition 0 is
    empty adds a 0-row file (no row groups, so no stats): each rollup
    table holds one."""
    root = str(tmp_path_factory.mktemp("cascade") / "store")
    store = ManifestStore(spark, root)
    store.append("sequences", synth_sequences(spark, 500))
    run_cascade(spark, store, n_buckets=4)
    return root


def _copy_store(spark, src: str, dst: str) -> ManifestStore:
    """A copy of the store at ``src`` whose manifests point at its own
    files."""
    shutil.copytree(src, dst)
    for mp in Path(dst).glob("*/_manifest.json"):
        mp.write_text(mp.read_text().replace(src, dst))
    return ManifestStore(spark, dst)


def _current_files(store: ManifestStore, table: str) -> list[str]:
    m = store._load_manifest(table)
    return store._snapshot_paths(m, m["current"])


def _window_bounds(store: ManifestStore, table: str = "rollup_1m") -> tuple[int, int]:
    return store.read(table).agg(
        F.min(F.unix_timestamp("window_start")),
        F.max(F.unix_timestamp("window_start")),
    ).first()


@contextmanager
def _job_group(spark, gid: str):
    """Jobs started inside the block, by id."""
    sc = spark.sparkContext
    sc.setJobGroup(gid, gid)
    jobs: list[int] = []
    try:
        yield jobs
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        # the status store is fed by the listener bus: drain it first
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs.extend(sc.statusTracker().getJobIdsForGroup(gid))


def test_store_reads_start_no_spark_job(spark, cascade_root, tmp_path):
    store = _copy_store(spark, cascade_root, str(tmp_path / "store"))
    lo, hi = _window_bounds(store)
    # every table stays under Spark's 32-path parallel-listing threshold,
    # past which the file listing itself runs as a job
    for t in TABLES:
        assert len(_current_files(store, t)) < 32, t
    with _job_group(spark, "store-reads") as jobs:
        for t in TABLES:
            store.read(t)
            store.read_snapshot_delta(t, store.current_snapshot(t))
        # retention that rewrites nothing: a no-op, then a full age-out
        noop = apply_retention(spark, store, "1m", now_epoch=lo + DAY)
        gone = apply_retention(spark, store, "1h", now_epoch=hi + 400 * DAY)
    assert jobs == []
    assert noop == store.read("rollup_1m").count() > 0
    assert gone == 0
    with pytest.raises(KeyError):
        store.read("rollup_1h")  # every file aged out: the table is empty


def test_retention_returns_the_recorded_row_count(spark, cascade_root, tmp_path):
    store = _copy_store(spark, cascade_root, str(tmp_path / "store"))
    lo, hi = _window_bounds(store)
    # a cutoff inside the horizon straddles every file: rows rewritten
    now = hi + 3 * DAY
    kept = apply_retention(spark, store, "1m", now_epoch=now)
    assert 0 < kept == store.read("rollup_1m").count()
    # the same cutoff again drops and rewrites nothing
    snap = store.current_snapshot("rollup_1m")
    assert apply_retention(spark, store, "1m", now_epoch=now) == kept
    assert store.current_snapshot("rollup_1m") == snap
    # every window aged out
    assert apply_retention(spark, store, "1m", now_epoch=hi + 400 * DAY) == 0


def test_recorded_schema_guards_every_commit(spark, tmp_path):
    store = ManifestStore(spark, str(tmp_path / "store"))
    store.append("t", spark.createDataFrame([(1, "a")], "k long, v string"))
    mpath = store._manifest_path("t")
    manifest = Path(mpath).read_text()
    listing = sorted(os.walk(os.path.dirname(mpath)))

    with pytest.raises(ValueError, match="schema"):
        store.append("t", spark.createDataFrame([(2, 3)], "k long, v long"))
    with pytest.raises(ValueError, match="schema"):
        store.append("t", spark.createDataFrame([(2, "b")], "k long, w string"))
    assert Path(mpath).read_text() == manifest
    assert sorted(os.walk(os.path.dirname(mpath))) == listing

    # nullability and field order are not part of the guard
    strict = StructType([StructField("k", LongType(), False),
                         StructField("v", StringType(), False)])
    store.append("t", spark.createDataFrame([(2, "b")], strict))
    store.append("t", spark.createDataFrame([("c", 3)], "v string, k long"))
    assert sorted(tuple(r) for r in store.read("t").collect()) == [
        (1, "a"), (2, "b"), (3, "c")
    ]


def test_read_schema_equals_parquet_inference(spark, cascade_root, tmp_path):
    store = _copy_store(spark, cascade_root, str(tmp_path / "store"))
    # the /api/query store shape: a map<string,string> tag column
    pts = spark.createDataFrame(
        [("s1", 100.0, 1.5, {"host": "web1", "dc": "a"}),
         ("s2", 200.0, 2.5, {"host": "web2"})],
        "series_id string, e double, value double, tags map<string,string>",
    ).select("series_id", F.timestamp_seconds("e").alias("ts"), "value", "tags")
    store.append("api_pts", pts)
    for t in [*TABLES, "api_pts"]:
        inferred = spark.read.parquet(*_current_files(store, t)).schema
        assert store.read(t).schema == inferred, t
    assert dict(store.read("api_pts").dtypes)["tags"] == "map<string,string>"


def test_zero_row_file_is_never_read_kept_or_rewritten(
    spark, cascade_root, tmp_path
):
    """A 0-row file holds nothing: a splice leaves it out of the new
    snapshot unread and counts it nowhere, and a prune that would
    otherwise change nothing commits nothing."""
    store = _copy_store(spark, cascade_root, str(tmp_path / "store"))
    t = "rollup_1m"
    # the cascade only appended to the table: every entry is current
    entries = store._load_manifest(t)["files"]
    empty = sorted(f for f, e in entries.items() if e["rows"] == 0)
    full = sorted(f for f, e in entries.items() if e["rows"] > 0)
    assert empty, "the 4-bucket write left no 0-row file"
    lo, _hi = _window_bounds(store, t)
    snap = store.current_snapshot(t)

    with _job_group(spark, "zero-row-prune") as jobs:
        res = store.prune_older_than(t, "window_start", lo)
    assert jobs == []
    assert res["snapshot"] == snap == store.current_snapshot(t)
    assert res["dropped"] == res["rewritten"] == []
    assert sorted(res["kept"]) == full

    before = store.read(t)
    ws = F.unix_timestamp("window_start")
    t0, t1 = lo + 5 * DAY, lo + 8 * DAY
    res = store.replace_range(
        t, "window_start", t0, t1, before.where((ws >= t0) & (ws < t1))
    )
    counted = [res[k] for k in ("files_kept", "files_dropped", "files_rewritten")]
    assert sum(counted) == len(full) and counted[2] > 0
    assert not set(empty) & set(_current_files(store, t))
    assert_df_equal(store.read(t), before)


def _assert_one_manifest_format(store: ManifestStore) -> None:
    """Every snapshot of every table lists parquet data files with
    entries, and the entries are exactly the files some retained
    snapshot lists."""
    for t in sorted(os.listdir(store.root)):
        m = store._load_manifest(t)
        listed: set[str] = set()
        for s in m["snapshots"]:
            for f in s["paths"]:
                assert f.endswith(".parquet") and os.path.isfile(f), (t, f)
            assert set(s["new_paths"]) <= set(s["paths"]), (t, s["id"])
            listed.update(s["paths"])
        assert set(m["files"]) == listed, t


def test_every_snapshot_lists_data_files_with_entries(spark, cascade_root, tmp_path):
    store = _copy_store(spark, cascade_root, str(tmp_path / "store"))
    _assert_one_manifest_format(store)
    lo, hi = _window_bounds(store)
    backfill_tier(spark, store, "1m", lo + 5 * DAY, lo + 8 * DAY, n_buckets=4)
    _assert_one_manifest_format(store)
    for tier in ("1m", "1h"):
        apply_retention(spark, store, tier, now_epoch=hi + 2 * DAY)
    _assert_one_manifest_format(store)
    rows = {t: store.read(t).count() for t in TABLES}
    for tier in ("1m", "1h", "1d"):
        store.compact(f"rollup_{tier}", sort_within=("series_id", "window_start"))
    _assert_one_manifest_format(store)
    for t in TABLES:
        store.expire_snapshots(t, keep_last=2, orphan_grace_seconds=0)
    _assert_one_manifest_format(store)
    assert {t: store.read(t).count() for t in TABLES} == rows
    # the sweep left exactly the snapshot directories that hold a
    # listed file
    for t in TABLES:
        m = store._load_manifest(t)
        tdir = os.path.join(store.root, t)
        on_disk = {e.path for e in os.scandir(tdir) if e.is_dir()}
        assert on_disk == {os.path.dirname(f) for f in m["files"]}, t
