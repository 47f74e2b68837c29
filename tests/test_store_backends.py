"""Store surface contract, parameterized over backends: the manifest
store always runs; the real Iceberg backend runs when the runtime jar
is on the classpath (never in this sandbox — the test documents and
exercises the deploy-time swap path).

`make_store` must hand back a backend exposing the identical surface,
so the job layer never branches on backend type.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from opentsdb_rollup_rust_spark.sources.store import (
    IcebergStore,
    ManifestStore,
    iceberg_available,
    make_store,
)

SURFACE = (
    "append",
    "read",
    "read_snapshot_delta",
    "current_snapshot",
    "snapshot_summaries",
    "exists",
    "prune_older_than",
    "compact",
    "replace_range",
    "expire_snapshots",
)


@pytest.fixture(params=["manifest", "iceberg"])
def store(request, spark, tmp_path):
    if request.param == "iceberg":
        if not iceberg_available(spark):
            pytest.skip("Iceberg runtime jar not on classpath")
        return IcebergStore(spark, root=str(tmp_path / "warehouse"))
    return ManifestStore(spark, str(tmp_path / "store"))


def test_factory_picks_backend_by_jar(spark, tmp_path):
    s = make_store(spark, str(tmp_path / "auto"))
    expected = IcebergStore if iceberg_available(spark) else ManifestStore
    assert isinstance(s, expected)


def test_surfaces_identical():
    for name in SURFACE:
        assert callable(getattr(ManifestStore, name))
        assert callable(getattr(IcebergStore, name))


def test_append_read_snapshot_pin(spark, store):
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    snap1 = store.append("t", df1, summary={"src_snapshot": 7, "buckets": [0, 1]})
    assert store.exists("t")
    assert store.current_snapshot("t") == snap1
    df2 = spark.createDataFrame([(3, "c")], "k long, v string")
    snap2 = store.append("t", df2)
    assert store.read("t").count() == 3
    assert store.read("t", snap1).count() == 2  # pinned read is immutable
    assert store.read_snapshot_delta("t", snap2).count() == 1  # incremental

    # commit summary round-trips atomically with the data (resume truth)
    summaries = {s["id"]: s for s in store.snapshot_summaries("t")}
    assert summaries[snap1].get("src_snapshot") == 7
    assert summaries[snap1].get("buckets") == [0, 1]


def test_empty_read_needs_schema(spark, store):
    with pytest.raises(KeyError):
        store.read("missing")
    empty = store.read("missing", schema="k long, v string")
    assert empty.count() == 0


def test_prune_older_than_semantics(spark, store):
    rows = [(float(e),) for e in (100, 200, 300, 400)]
    df = spark.createDataFrame(rows, "e double").select(
        F.timestamp_seconds(F.col("e")).alias("window_start")
    )
    store.append("r", df)
    res = store.prune_older_than("r", "window_start", 250)
    assert res["rows"] == 2
    kept = [
        r.e
        for r in store.read("r")
        .select(F.unix_timestamp("window_start").alias("e"))
        .collect()
    ]
    assert sorted(kept) == [300, 400]


def test_compact_and_replace_range_surface(spark, store):
    """Backend-parameterized smoke for the maintenance ops (deep
    invariants live in tests/test_maintenance.py): content survives
    compaction; replace_range swaps exactly the targeted window."""
    df = spark.createDataFrame(
        [(float(e), e) for e in (100, 200, 300, 400)], "e double, v long"
    ).select(F.timestamp_seconds(F.col("e")).alias("window_start"), "v")
    store.append("m", df.repartition(4))
    store.append("m", df.withColumn("v", F.col("v") + 1000).repartition(4))
    before = sorted(r.v for r in store.read("m").collect())
    store.compact("m", target_file_bytes=512 * 1024 * 1024)
    assert sorted(r.v for r in store.read("m").collect()) == before

    new = spark.createDataFrame([(200.0, 7)], "e double, v long").select(
        F.timestamp_seconds(F.col("e")).alias("window_start"), "v"
    )
    store.replace_range("m", "window_start", 150, 350, new)
    got = sorted(r.v for r in store.read("m").collect())
    assert got == [7, 100, 400, 1100, 1400]


def test_replace_range_into_missing_table_is_its_first_commit(spark, store):
    """A splice into a table with no snapshot writes what an append
    would (same rows, same schema) and records its summary."""
    df = spark.createDataFrame(
        [(float(e), e) for e in (100, 200, 300)], "e double, v long"
    ).select(F.timestamp_seconds(F.col("e")).alias("window_start"), "v")
    store.append("a", df)
    whole = [-math.inf, math.inf]
    res = store.replace_range("r", "window_start", *whole, df,
                              summary={"src_snapshot": 3, "range": whole})
    assert store.current_snapshot("r") == res["snapshot"]
    assert store.read("r").schema == store.read("a").schema
    assert sorted(store.read("r").collect()) == sorted(store.read("a").collect())
    summary = {s["id"]: s for s in store.snapshot_summaries("r")}[res["snapshot"]]
    assert summary["src_snapshot"] == 3 and summary["range"] == whole


def test_iceberg_create_leaves_observation_to_the_write(spark, monkeypatch):
    """IcebergStore.append creates a missing table before the real
    append. The create must not execute the appended frame's plan: that
    would complete an Observation on the frame (the job's chunk stats)
    with empty metrics. Catalog writes are faked with a noop sink that
    executes whatever plan it is handed."""
    from pyspark.sql import Observation

    class Writer:
        def __init__(self, df):
            self.df = df

        def option(self, *_):
            return self

        def create(self):
            self.df.write.format("noop").mode("overwrite").save()

        append = create

    monkeypatch.setattr(type(spark.range(1)), "writeTo", lambda df, _q: Writer(df))
    store = IcebergStore.__new__(IcebergStore)
    store.spark, store.catalog, store.namespace = spark, "cat", "ns"
    monkeypatch.setattr(store, "exists", lambda _t: False)
    monkeypatch.setattr(store, "current_snapshot", lambda _t: 1)
    obs = Observation("iceberg_create")
    store.append("t", spark.range(10).observe(obs, F.sum("id").alias("s")))
    assert obs.get == {"s": 45}
