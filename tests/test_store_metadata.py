"""The manifest as table metadata: ManifestStore records each table's
schema and each data file's rows, bytes and timestamp bounds at
commit, and reads, classification, compaction and retention use them
instead of starting Spark jobs or opening footers. Manifests written
before these keys existed must read, classify and count the same.
"""

from __future__ import annotations

import json
import math
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
    built once; tests that change it work on a copy. One bucket, so
    each rollup append is one non-empty file: a write whose partition 0
    is empty adds a 0-row file without stats, which every prune
    classifies as straddling and rewrites."""
    root = str(tmp_path_factory.mktemp("cascade") / "store")
    store = ManifestStore(spark, root)
    store.append("sequences", synth_sequences(spark, 500))
    run_cascade(spark, store, n_buckets=1)
    return root


def _copy_store(spark, src: str, dst: str, strip: bool = False) -> ManifestStore:
    """A copy of the store at ``src`` whose manifests point at its own
    files; ``strip`` removes the recorded schema and file entries, as in
    a manifest written before they existed."""
    shutil.copytree(src, dst)
    for mp in Path(dst).glob("*/_manifest.json"):
        m = json.loads(mp.read_text().replace(src, dst))
        if strip:
            m.pop("schema", None)
            m.pop("files", None)
        mp.write_text(json.dumps(m))
    return ManifestStore(spark, dst)


def _current_files(store: ManifestStore, table: str) -> list[str]:
    m = store._load_manifest(table)
    return store.expand_files(store._snapshot_paths(m, m["current"]))


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
        assert len(store._snapshot_paths(store._load_manifest(t),
                                         store.current_snapshot(t))) < 32, t
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


def test_pre_change_manifests_read_classify_and_count_the_same(
    spark, cascade_root, tmp_path
):
    """A store built through backfill, retention and compaction, copied
    twice: once as written, once with every manifest stripped of its
    schema and file entries. The stripped copy falls back to schema
    inference and the footers and must agree on everything."""
    built = _copy_store(spark, cascade_root, str(tmp_path / "built"))
    lo, hi = _window_bounds(built)
    backfill_tier(spark, built, "1m", lo + 5 * DAY, lo + 8 * DAY, n_buckets=1)
    apply_retention(spark, built, "1m", now_epoch=hi + 2 * DAY)
    built.compact("rollup_1m", sort_within=("series_id", "window_start"))

    new = _copy_store(spark, built.root, str(tmp_path / "new"))
    old = _copy_store(spark, built.root, str(tmp_path / "old"), strip=True)
    assert "schema" not in old._load_manifest("rollup_1m")
    assert "files" in new._load_manifest("rollup_1m")

    for t in TABLES:
        a, b = new.read(t), old.read(t)
        assert a.schema == b.schema, t
        assert_df_equal(a, b)

    def rel(store, files):
        return sorted(os.path.relpath(f, store.root) for f in files)

    ranges = [
        (-math.inf, hi - 3 * DAY),
        (lo, lo + DAY),
        (lo + 6 * DAY, lo + 9 * DAY),
        (hi - DAY, hi + 1),
        (hi + DAY, hi + 2 * DAY),
    ]
    for t, col in (("rollup_1m", "window_start"), ("rollup_1h", "window_start"),
                   ("chunks_1m", "chunk_start"), ("lineage", "committed_at")):
        for t0, t1 in ranges:
            got = [
                [rel(s, part) for part in s._classify(
                    s._load_manifest(t), _current_files(s, t), col, t0, t1)]
                for s in (new, old)
            ]
            assert got[0] == got[1], (t, t0, t1)

    # 1m: a straddling prune; 1h: a no-op; 1d keeps everything (-1)
    for tier in ("1m", "1h", "1d"):
        kept = apply_retention(spark, new, tier, now_epoch=hi + 4 * DAY)
        assert apply_retention(spark, old, tier, now_epoch=hi + 4 * DAY) == kept
        assert kept == (-1 if tier == "1d" else new.read(f"rollup_{tier}").count())
