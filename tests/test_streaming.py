"""ST1-ST4 streaming surface tests. Golden rule: a completed stream
(Trigger.AvailableNow over a static file source) must equal the batch
operator on the same input — the streaming/batch parity that makes the
surface trustworthy."""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from opentsdb_rollup_rust_spark.operators.rollup import tumbling_rollup
from opentsdb_rollup_rust_spark.streaming.rollup_stream import (
    read_points_stream,
    run_to_memory_table,
    stateful_forward_fill,
    streaming_session_rollup,
    streaming_sliding_rollup,
    streaming_tumbling_rollup,
)

from .conftest import assert_df_equal


@pytest.fixture(scope="module")
def points_dir(points, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("pts")) + "/points.parquet"
    points.write.mode("overwrite").parquet(d)
    return d


def _memname() -> str:
    return "t" + uuid.uuid4().hex[:10]


def test_streaming_tumbling_equals_batch(spark, points, points_dir):
    stream = read_points_stream(spark, points_dir)
    name = _memname()
    run_to_memory_table(streaming_tumbling_rollup(stream, "1h"), name)
    got = spark.table(name)
    want = tumbling_rollup(points, "1h")
    assert_df_equal(got, want)


def test_streaming_histogram_equals_batch(spark, points, points_dir):
    """ST7 == A14: a completed histogram stream equals the batch
    histogram_rollup exactly (bucket counts are decomposable sums, so
    the streaming state folds late data identically)."""
    from opentsdb_rollup_rust_spark.operators.rollup import histogram_rollup
    from opentsdb_rollup_rust_spark.streaming.rollup_stream import (
        streaming_histogram_rollup,
    )

    stream = read_points_stream(spark, points_dir)
    name = _memname()
    run_to_memory_table(streaming_histogram_rollup(stream, "1h"), name)
    assert_df_equal(spark.table(name), histogram_rollup(points, "1h"))


def test_streaming_sliding_multiplicity(spark, points, points_dir):
    stream = read_points_stream(spark, points_dir)
    name = _memname()
    run_to_memory_table(
        streaming_sliding_rollup(stream, "2 hours", "1 hour"), name
    )
    got = spark.table(name)
    # every point lands in exactly length/slide = 2 windows
    n_points = points.count()
    assert got.agg(F.sum("count")).collect()[0][0] == 2 * n_points


def test_streaming_session_windows(spark, points_dir, points):
    stream = read_points_stream(spark, points_dir)
    name = _memname()
    run_to_memory_table(streaming_session_rollup(stream, gap="1 hour"), name)
    got = spark.table(name)
    rows = got.collect()
    assert len(rows) >= 1
    # sessions never overlap per series and bounds are ordered
    for r in rows:
        assert r["session_start"] < r["session_end"]
    # total point mass is conserved
    assert got.agg(F.sum("count")).collect()[0][0] == points.count()


def test_stateful_forward_fill(spark, tmp_path):
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = [
        ("s1", base, 10),
        ("s1", base + dt.timedelta(hours=3), 40),  # gap of 2 windows
        ("s2", base + dt.timedelta(hours=1), 7),
    ]
    df = spark.createDataFrame(
        rows, "series_id string, window_start timestamp, sum long"
    )
    d = str(tmp_path / "roll.parquet")
    df.write.parquet(d)
    stream = (
        spark.readStream.schema("series_id string, window_start timestamp, sum long")
        .parquet(d)
    )
    name = _memname()
    run_to_memory_table(stateful_forward_fill(stream, "1h"), name, "append")
    got = {
        (r["series_id"], r["window_start"]): (r["sum"], r["filled"])
        for r in spark.table(name).collect()
    }
    e = int(base.replace(tzinfo=dt.timezone.utc).timestamp())
    assert got[("s1", e)] == (10, 0)
    assert got[("s1", e + 3600)] == (10, 1)  # carried
    assert got[("s1", e + 7200)] == (10, 1)  # carried
    assert got[("s1", e + 10800)] == (40, 0)
    assert got[("s2", e + 3600)] == (7, 0)
    assert len(got) == 5


def test_stream_to_store_exactly_once(spark, points, points_dir, tmp_path):
    """ST5: append-mode stream -> snapshot store. Finalized windows
    land exactly once; a crash-replayed micro-batch is detected via
    the batch-id marker in the snapshot summary and skipped; restart
    with the same checkpoint appends nothing new for drained input."""
    from opentsdb_rollup_rust_spark.sources.store import ManifestStore
    from opentsdb_rollup_rust_spark.streaming.rollup_stream import (
        stream_rollup_to_store,
    )

    store = ManifestStore(spark, str(tmp_path / "sstore"))
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = read_points_stream(spark, points_dir)
        stream_rollup_to_store(
            streaming_tumbling_rollup(stream, "1h", watermark="0 seconds"),
            store,
            "rollup_stream_1h",
            ckpt,
        )

    run()
    got = store.read("rollup_stream_1h")
    # append mode emits only windows the final watermark (= max event
    # time) has passed: window_end <= max(ts)
    max_ts = points.agg(F.max(F.unix_timestamp("ts"))).first()[0]
    want = tumbling_rollup(points, "1h").where(
        F.unix_timestamp("window_start") + 3600 <= max_ts
    )
    assert_df_equal(got, want)

    n1 = got.count()
    snaps1 = len(store.snapshot_summaries("rollup_stream_1h"))

    # restart on the same (fully drained) checkpoint: nothing new
    run()
    assert store.read("rollup_stream_1h").count() == n1

    # crash-replay simulation: the sink's guard must refuse a batch id
    # that is already recorded in a snapshot summary
    from opentsdb_rollup_rust_spark.streaming.rollup_stream import (
        commit_stream_batch,
    )

    done = {
        s.get("stream_batch_id")
        for s in store.snapshot_summaries("rollup_stream_1h")
        if s.get("stream_batch_id") is not None
    }
    replay_id = next(iter(done))
    before = store.current_snapshot("rollup_stream_1h")
    df = store.read("rollup_stream_1h").limit(5)
    assert commit_stream_batch(store, "rollup_stream_1h", df, replay_id) is False
    assert store.current_snapshot("rollup_stream_1h") == before
    assert store.read("rollup_stream_1h").count() == n1
    # ...and accept a genuinely new one
    assert commit_stream_batch(store, "rollup_stream_1h", df, 10_000) is True
    assert store.read("rollup_stream_1h").count() == n1 + 5
    assert len(store.snapshot_summaries("rollup_stream_1h")) == snaps1 + 1


def test_stream_checkpoint_regeneration_not_mistaken_for_replay(spark, tmp_path):
    """A deleted/recreated checkpoint restarts Structured Streaming's
    batch ids at 0; the sink guard scopes its replay high-water mark to
    the checkpoint GENERATION (stream_id sidecar), so the new
    generation's batch 0 commits instead of being silently skipped
    against the old generation's mark — the data-loss mode the
    unscoped guard had."""
    from opentsdb_rollup_rust_spark.sources.store import ManifestStore
    from opentsdb_rollup_rust_spark.streaming.rollup_stream import (
        _checkpoint_stream_id,
        commit_stream_batch,
        latest_stream_batch,
    )

    store = ManifestStore(spark, str(tmp_path / "sstore2"))
    df = spark.range(3).selectExpr("id", "id * 2 AS v")
    ckpt = tmp_path / "ckpt2"

    gen1 = _checkpoint_stream_id(str(ckpt))
    # same directory, stable identity
    assert _checkpoint_stream_id(str(ckpt)) == gen1
    for b in (0, 1, 2):
        assert commit_stream_batch(store, "t", df, b, stream_id=gen1) is True
    # replay within the generation is refused
    assert commit_stream_batch(store, "t", df, 1, stream_id=gen1) is False

    # checkpoint deleted + recreated -> new identity, batch ids restart
    import shutil

    shutil.rmtree(ckpt)
    gen2 = _checkpoint_stream_id(str(ckpt))
    assert gen2 != gen1
    assert latest_stream_batch(store, "t", gen2) == -1
    n_before = store.read("t").count()
    assert commit_stream_batch(store, "t", df, 0, stream_id=gen2) is True
    assert store.read("t").count() == n_before + 3
    # the unscoped (legacy) mark still spans every commit
    assert latest_stream_batch(store, "t") == 2


def test_legacy_checkpoint_detected_for_seed(tmp_path):
    """r3 ADVICE: a checkpoint that already holds Structured Streaming
    state (offsets/commits) but no identity sidecar is a PRE-SCOPING
    generation — its earlier store commits carry no stream_id, so the
    sink must seed its replay mark from the unscoped high-water mark
    instead of -1 (else a crash-replayed committed batch re-commits).
    _checkpoint_identity flags exactly that case."""
    from opentsdb_rollup_rust_spark.streaming.rollup_stream import (
        _checkpoint_identity,
    )

    # fresh checkpoint: minted sidecar, NOT legacy
    fresh = tmp_path / "ckpt_fresh"
    sid, legacy = _checkpoint_identity(str(fresh))
    assert not legacy
    # pre-existing streaming state without a sidecar: legacy once
    old = tmp_path / "ckpt_old"
    (old / "offsets").mkdir(parents=True)
    (old / "commits").mkdir()
    sid2, legacy2 = _checkpoint_identity(str(old))
    assert legacy2
    # identity persists; the legacy flag fires only on first mint
    sid3, legacy3 = _checkpoint_identity(str(old))
    assert sid3 == sid2 and not legacy3


def test_legacy_seed_capped_by_own_checkpoint_commits(tmp_path):
    """r4 ADVICE: the legacy-upgrade seed must not adopt a FOREIGN
    stream's unscoped high-water mark wholesale — it is capped at the
    checkpoint's own commits/ mark + 1 (the one possible in-flight
    batch), so a shared table can't make an upgraded stream skip its
    own next micro-batches as replays."""
    from opentsdb_rollup_rust_spark.streaming.rollup_stream import (
        _checkpoint_max_committed,
        _seed_replay_mark,
    )

    class FakeStore:
        def __init__(self, summaries):
            self._s = summaries

        def snapshot_summaries(self, table):
            return self._s

    ckpt = tmp_path / "ckpt"
    commits = ckpt / "commits"
    commits.mkdir(parents=True)
    for b in (0, 1, 2):
        (commits / str(b)).write_text("{}")
    (commits / "3.tmp.99").write_text("")  # in-flight junk: ignored
    assert _checkpoint_max_committed(str(ckpt)) == 2

    # our 3 legacy commits (no stream_id) + a foreign stream at 7
    store = FakeStore(
        [{"stream_batch_id": b} for b in (0, 1, 2)]
        + [{"stream_batch_id": 7, "stream_id": "other"}]
    )
    # scoped mark is -1 (our commits are unscoped); unscoped mark is 7;
    # cap = own 2 + 1 -> seed 3: batch 3 (the only possible in-flight
    # replay) is skipped, batch 4+ still commits
    assert _seed_replay_mark(store, "t", "me", str(ckpt), True) == 3
    # non-legacy path ignores the cap machinery entirely
    assert _seed_replay_mark(store, "t", "me", str(ckpt), False) == -1
    # store truncated below our own mark: unscoped mark wins (no cap up)
    store2 = FakeStore([{"stream_batch_id": 1}])
    assert _seed_replay_mark(store2, "t", "me", str(ckpt), True) == 1


def test_streaming_dedup_across_batches(spark, points, points_dir, tmp_path):
    """ST8: the input is delivered TWICE in separate files, forced into
    separate micro-batches (maxFilesPerTrigger=1) — dedup state must
    carry across batches so the completed stream equals the batch
    rollup over per-key-unique points."""
    from opentsdb_rollup_rust_spark.streaming.rollup_stream import (
        streaming_dedup_rollup,
    )
    from opentsdb_rollup_rust_spark.operators.rollup import tumbling_rollup

    dup_dir = str(tmp_path / "dup_points")
    points.write.mode("overwrite").parquet(dup_dir)
    points.write.mode("append").parquet(dup_dir)
    stream = read_points_stream(spark, dup_dir, max_files_per_trigger=1)
    name = _memname()
    run_to_memory_table(streaming_dedup_rollup(stream, "1h"), name)
    want = tumbling_rollup(points.dropDuplicates(["series_id", "ts"]), "1h")
    assert_df_equal(spark.table(name), want)


def test_streaming_tag_filter_equals_batch(spark, tmp_path_factory):
    """ST9 == P6: a completed tagged stream under the compiled filter
    + groupBy split equals the batch tag_filter_rollup exactly."""
    from pyspark.sql import types as T

    from opentsdb_rollup_rust_spark.operators.tagquery import (
        TagFilter,
        tag_filter_rollup,
    )
    from opentsdb_rollup_rust_spark.streaming.rollup_stream import (
        streaming_tag_filter_rollup,
    )

    tagged = spark.range(0, 5_000, 1, 4).select(
        F.timestamp_seconds(F.lit(1704067200) + F.col("id") * 7).alias("ts"),
        (F.col("id") % 101).alias("value"),
        F.create_map(
            F.lit("host"),
            F.concat(F.lit("h"), (F.col("id") % 5).cast("string")),
            F.lit("dc"),
            F.when(F.col("id") % 2 == 0, F.lit("east")).otherwise(
                F.lit("west")
            ),
        ).alias("tags"),
    )
    d = str(tmp_path_factory.mktemp("tagpts")) + "/tagged.parquet"
    tagged.write.mode("overwrite").parquet(d)
    filters = [
        TagFilter("wildcard", "host", "h*", group_by=True),
        TagFilter("literal_or", "dc", "east"),
    ]
    stream = (
        spark.readStream.schema(spark.read.parquet(d).schema).parquet(d)
    )
    name = _memname()
    run_to_memory_table(
        streaming_tag_filter_rollup(stream, filters, "1h"), name
    )
    got = spark.table(name)
    want = tag_filter_rollup(spark.read.parquet(d), filters, 3600)
    assert_df_equal(got, want.select(*got.columns))


def test_streaming_api_query_downsample_finishes_to_batch_answer(
    spark, tmp_path_factory
):
    """ST10 == P12: the streaming ingestion half of the composed
    /api/query (filter -> groupBy split -> per-SERIES downsample as
    one watermarked agg) materializes the per-series frame; finishing
    it through the SAME api_query_finish the batch endpoint uses
    (zero fill -> cross-series sum -> plain rate) must equal the
    whole batch api_query on the same input — the stream/batch split
    point leaks nothing."""
    from opentsdb_rollup_rust_spark.operators.tagquery import TagFilter
    from opentsdb_rollup_rust_spark.plans.api_query import (
        Downsample,
        QuerySpec,
        RateOptions,
        api_query,
        api_query_finish,
    )
    from opentsdb_rollup_rust_spark.streaming.rollup_stream import (
        streaming_api_query_downsample,
    )

    tagged = spark.range(0, 5_000, 1, 4).select(
        F.when(F.col("id") % 3 == 0, F.lit("click"))
        .otherwise(F.lit("view"))
        .alias("series_id"),
        F.timestamp_seconds(F.lit(1704067200) + F.col("id") * 11).alias("ts"),
        (F.col("id") % 101).cast("long").alias("value"),
        F.create_map(
            F.lit("host"),
            F.concat(F.lit("h"), (F.col("id") % 5).cast("string")),
            F.lit("dc"),
            F.when(F.col("id") % 2 == 0, F.lit("east")).otherwise(
                F.lit("west")
            ),
            # varies WITHIN (host, dc): several full-series per group,
            # so the per-SERIES downsample is observably finer than
            # the per-group one
            F.lit("rack"),
            F.when(F.col("id") % 7 < 3, F.lit("r0")).otherwise(F.lit("r1")),
        ).alias("tags"),
    )
    d = str(tmp_path_factory.mktemp("apipts")) + "/tagged.parquet"
    tagged.write.mode("overwrite").parquet(d)
    batch = spark.read.parquet(d)
    spec = QuerySpec(
        metric="click",
        start=1704067200,
        end=1704067200 + 5_000 * 11,
        aggregator="sum",
        filters=(
            TagFilter("wildcard", "host", "h*", group_by=True),
            TagFilter("literal_or", "dc", "east"),
        ),
        downsample=Downsample("1h", "avg", fill="zero"),
        rate=RateOptions(),
    )
    stream = spark.readStream.schema(batch.schema).parquet(d)
    name = _memname()
    run_to_memory_table(streaming_api_query_downsample(stream, spec), name)
    # localCheckpoint stands in for the store read a deployment does
    frame = spark.table(name).localCheckpoint()
    got = api_query_finish(frame, spec)
    want = api_query(batch, spec)
    assert_df_equal(got, want.select(*got.columns))
    # the streamed frame really is per-SERIES: more series than groups
    assert (
        spark.table(name).select("_series").distinct().count()
        > spark.table(name).select("host").distinct().count()
    )


def test_streaming_api_query_downsample_refuses_read_side_specs(spark):
    from opentsdb_rollup_rust_spark.plans.api_query import (
        Downsample,
        QuerySpec,
    )
    from opentsdb_rollup_rust_spark.streaming.rollup_stream import (
        streaming_api_query_downsample,
    )

    pts = spark.createDataFrame(
        [], "series_id string, ts timestamp, value long, tags map<string,string>"
    )
    base = dict(metric="m", start=0, end=7200)
    with pytest.raises(ValueError, match="not streamable"):
        streaming_api_query_downsample(
            pts, QuerySpec(**base, downsample=Downsample("1h", "p950"))
        )
    with pytest.raises(ValueError, match="read-side"):
        streaming_api_query_downsample(
            pts,
            QuerySpec(**base, downsample=Downsample("1h"), time_shift=3600),
        )


def test_streaming_first_last_downsample_equals_batch(
    spark, tmp_path_factory
):
    """first/last stream exactly like sum/min/max (min_by/max_by
    merge keeps the extreme (µs, value) key across micro-batches), on
    the SAME total order as the batch path — the streamed per-series
    frame must equal batch api_query run in aggregator="none"
    passthrough mode, which exposes exactly that frame."""
    from opentsdb_rollup_rust_spark.operators.tagquery import TagFilter
    from opentsdb_rollup_rust_spark.plans.api_query import (
        Downsample,
        QuerySpec,
        api_query,
    )
    from opentsdb_rollup_rust_spark.streaming.rollup_stream import (
        streaming_api_query_downsample,
    )

    tagged = spark.range(0, 2_000, 1, 4).select(
        F.lit("click").alias("series_id"),
        F.timestamp_seconds(
            # 37 s stride + sub-second µs component: the ordering key
            # must be microseconds, not truncated seconds
            F.lit(1704067200)
            + F.col("id") * 37
            + (F.col("id") % 7) / F.lit(10.0)
        ).alias("ts"),
        (F.col("id") % 101).cast("long").alias("value"),
        F.create_map(
            F.lit("host"),
            F.concat(F.lit("h"), (F.col("id") % 3).cast("string")),
        ).alias("tags"),
    )
    d = str(tmp_path_factory.mktemp("flpts")) + "/tagged.parquet"
    tagged.write.mode("overwrite").parquet(d)
    batch = spark.read.parquet(d)
    for agg in ("first", "last"):
        spec = QuerySpec(
            metric="click",
            start=1704067200,
            end=1704067200 + 2_000 * 37 + 1,
            aggregator="none",
            filters=(TagFilter("wildcard", "host", "h*"),),
            downsample=Downsample("1h", agg),
        )
        stream = spark.readStream.schema(batch.schema).parquet(d)
        name = _memname()
        run_to_memory_table(
            streaming_api_query_downsample(stream, spec), name
        )
        got = spark.table(name).select(
            F.col("_series").alias("series"), "w_start", F.col("v")
        )
        want = api_query(batch, spec).select(
            "series", "w_start", F.col("value").alias("v")
        )
        assert_df_equal(got, want), agg
