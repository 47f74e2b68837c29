"""ST1-ST4 — streaming rollups (SURVEY.md §2.9).

Batch is the engine's primary mode (the reference is a batch rollup
generator; late data is handled by re-running window ranges and
overwriting tier partitions). The streaming surface mirrors the same
semantics for continuous ingestion:

- ST1 tumbling rollup: identical agg set to operators.rollup.A1
  (sum/count/min/max, avg never stored); watermark bounds state so
  late points within the watermark still fold into their window —
  mirroring OpenTSDB's late-write-overwrites-rollup behavior
  [docs.opentsdb.net "Rollup And Pre-Aggregates"].
- ST2 sliding window, ST3 session window: same agg set, different
  window assigners.
- ST4 stateful forward-fill: a custom operator Spark lacks —
  per-series state (last emitted window + last value) via
  applyInPandasWithState; emits zero/carried rows for missing windows
  between consecutive observed windows of a series.

Scale notes: streaming state is partitioned by series_id (the same
key the batch engine buckets on); watermark eviction bounds state to
|active series| x |open windows|. The shuffle per micro-batch is the
same partial+final hash agg Catalyst uses in batch.
"""

from __future__ import annotations

import json
import os
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..config import INTERVAL_SECONDS, STORED_AGGS
from ..operators.rollup import stored_aggs

POINT_SCHEMA = StructType(
    [
        StructField("series_id", StringType(), False),
        StructField("ts", TimestampType(), False),
        StructField("value", LongType(), False),
    ]
)


def read_points_stream(spark, path: str, max_files_per_trigger: int | None = None):
    """File-based point stream (the sandbox stand-in for Kafka/Kinesis;
    on a cluster swap `format('kafka')` — the downstream plan is
    identical). Explicit schema: streaming sources never infer."""
    reader = spark.readStream.schema(POINT_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def _agg_select(grouped, interval: str):
    return grouped.agg(*stored_aggs()).select(
        "series_id",
        F.col("window.start").alias("window_start"),
        F.lit(interval).alias("interval"),
        *STORED_AGGS,
    )


def streaming_tumbling_rollup(
    points: DataFrame, interval: str, watermark: str = "10 minutes"
) -> DataFrame:
    """ST1: same semantics as operators.rollup.tumbling_rollup (A1).
    F.window tumbling windows are epoch-aligned like the batch
    time_bucket, so a completed stream equals the batch rollup exactly
    (golden test in tests/test_streaming.py)."""
    sec = INTERVAL_SECONDS[interval]
    return _agg_select(
        points.withWatermark("ts", watermark).groupBy(
            "series_id", F.window("ts", f"{sec} seconds")
        ),
        interval,
    )


def streaming_tag_filter_rollup(
    points: DataFrame,
    filters,
    interval: str,
    watermark: str = "10 minutes",
) -> DataFrame:
    """ST9 (r4): P6's tag-filter query over a stream. The compiled
    predicate and the narrow groupBy-tag extraction are stateless
    projections, so they compose with the watermarked windowed agg
    unchanged — streaming state is one (sum,count,min,max) tuple per
    (tag values, window), exactly like ST1, and a completed stream
    equals the batch tag_filter_rollup (parity pinned in
    tests/test_streaming.py)."""
    from ..operators.tagquery import compile_tag_filter

    tags = F.col("tags")
    pred = None
    for f in filters:
        c = compile_tag_filter(tags, f)
        pred = c if pred is None else (pred & c)
    # order-preserving dedup: two filters on one tagk (both
    # groupBy) are one output dimension (plans/api_query
    # _group_tag_keys rule)
    group_tags = list(dict.fromkeys(f.tagk for f in filters if f.group_by))
    sec = INTERVAL_SECONDS[interval]
    narrow = (points.where(pred) if pred is not None else points).select(
        *[F.element_at(tags, F.lit(k)).alias(k) for k in group_tags],
        "ts",
        "value",
    )
    return (
        narrow.withWatermark("ts", watermark)
        .groupBy(*group_tags, F.window("ts", f"{sec} seconds"))
        .agg(*stored_aggs())
        .select(
            *group_tags,
            F.unix_timestamp(F.col("window.start"))
            .cast("long")
            .alias("w_start"),
            *STORED_AGGS,
        )
    )


def streaming_api_query_downsample(
    points: DataFrame,
    spec,
    watermark: str = "10 minutes",
) -> DataFrame:
    """ST10 (r5): the INGESTION half of a continuously-served
    /api/query — stages 1-3 of the composed endpoint
    (plans/api_query: filter -> groupBy-tag extraction -> per-SERIES
    downsample) as one watermarked streaming aggregation, emitting
    exactly the per-series frame (*group tags, _series, w_start, v)
    that plans.api_query.api_query_finish consumes. The read-side
    stages (fill, cross-series aggregate, rate) are NOT
    streamable as a second aggregation in the same query (Spark
    forbids chained streaming aggs, and the fill needs the
    completed bucket set anyway), and they don't need to be: reads
    finish the materialized frame through the SAME api_query_finish
    code path as the batch endpoint, so the split point is the one
    Spark's execution model dictates AND stream-fed answers cannot
    drift from batch ones (parity test in tests/test_streaming.py).

    Streaming state: one (sum,count)/(min)/(max) per (series, window)
    — the downsampled cardinality, dropped at the watermark. The
    percentile downsamplers keep raw values per window and are
    refused (their streaming answer is the histogram tier, ST7);
    time_shift is a read-side transform and is refused likewise."""
    from ..plans.api_query import (
        _percentile_permille,
        _series_key,
        _validate,
        Q_SCALE,
    )
    from ..config import resolve_interval_seconds
    from ..operators.gapfill import _ppm_div
    from ..operators.tagquery import compile_tag_filter

    _validate(spec)
    ds = spec.downsample
    if _percentile_permille(ds.aggregator) is not None:
        raise ValueError(
            "percentile downsamplers are not streamable (unbounded "
            "per-window state); stream the histogram tier instead"
        )
    if spec.time_shift:
        raise ValueError(
            "time_shift is a read-side transform: shift the finishing "
            "query, not the ingestion"
        )
    if spec.tsuids:
        raise ValueError(
            "tsuid sub-queries are a read-side selection: ingest with "
            "metric + filters and select tsuids at finish time"
        )
    if ds.interval == "0all":
        raise ValueError(
            "0all (whole-range bucket) is undefined over an unbounded "
            "stream: its bucket is the query's [start, end) itself"
        )
    sec = resolve_interval_seconds(ds.interval)
    tags = F.col("tags")
    ts_sec = F.unix_timestamp(F.col("ts"))
    pred = F.col("series_id") == F.lit(spec.metric)
    for f in spec.filters:
        pred = pred & compile_tag_filter(tags, f)
    if spec.explicit_tags and spec.filters:
        from ..operators.tagquery import explicit_tags_predicate

        pred = pred & explicit_tags_predicate(tags, list(spec.filters))
    pred = pred & (ts_sec >= F.lit(spec.start)) & (ts_sec < F.lit(spec.end))
    group_tags = list(
        dict.fromkeys(f.tagk for f in spec.filters if f.group_by)
    )  # dedup, the _group_tag_keys rule
    narrow = points.where(pred).select(
        *[F.element_at(tags, F.lit(k)).alias(k) for k in group_tags],
        _series_key(tags).alias("_series"),
        "ts",
        "value",
    )
    # first/last are mergeable too (min_by/max_by merge keeps the
    # extreme key), so they stream exactly like sum/min/max — on the
    # SAME total order the batch path uses, exact int64 microseconds
    # + value (see plans/api_query._DS_ORDER_AGGS), so stream-fed
    # answers cannot drift from batch ones (parity test pins this).
    order_aggs = []
    if ds.aggregator in ("first", "last"):
        fn = "min_by" if ds.aggregator == "first" else "max_by"
        order_aggs.append(
            F.expr(
                f"{fn}(value, struct("
                "unix_micros(CAST(ts AS TIMESTAMP_LTZ)), value))"
            ).alias("_ord")
        )
    agged = (
        narrow.withWatermark("ts", watermark)
        .groupBy(*group_tags, "_series", F.window("ts", f"{sec} seconds"))
        .agg(*stored_aggs(prefix="_"), *order_aggs)
    )
    v = {
        **{a: F.col("_" + a) for a in STORED_AGGS},
        # ppm-quantized int64 avg — the batch _ds_agg_expr rule
        # (floor via pmod, so negative sums match batch exactly)
        "avg": F.expr(_ppm_div(f"_sum * {Q_SCALE}", "_count")),
        **({ds.aggregator: F.col("_ord")} if order_aggs else {}),
    }[ds.aggregator]
    return agged.select(
        *group_tags,
        "_series",
        F.unix_timestamp(F.col("window.start")).cast("long").alias("w_start"),
        v.cast("long").alias("v"),
    )


def streaming_histogram_rollup(
    points: DataFrame, interval: str, watermark: str = "10 minutes"
) -> DataFrame:
    """ST7 (r3): A14's histogram tier over a stream — per (series,
    tumbling window, msb value bucket) counts, watermarked like ST1.
    Counts are plain sums, so the streaming state per group is one
    long, late data folds in up to the watermark, and the finalized
    windows union into the batch-built histogram tiers losslessly
    (stream==batch parity pinned in tests/test_streaming.py)."""
    from ..operators.rollup import value_bucket

    sec = INTERVAL_SECONDS[interval]
    return (
        points.withWatermark("ts", watermark)
        .groupBy(
            "series_id",
            F.window("ts", f"{sec} seconds"),
            value_bucket("value").alias("bucket"),
        )
        .agg(F.count("*").alias("n"))
        .select(
            "series_id",
            F.col("window.start").alias("window_start"),
            F.lit(interval).alias("interval"),
            "bucket",
            "n",
        )
    )


def streaming_dedup_rollup(
    points: DataFrame,
    interval: str,
    watermark: str = "10 minutes",
    keys: tuple[str, ...] = ("series_id", "ts"),
) -> DataFrame:
    """ST8: exactly-once EVENT dedup upstream of the rollup. Kafka
    replays and at-least-once producers deliver duplicate points; a
    plain dropDuplicates would keep every key ever seen (unbounded
    state), so this uses dropDuplicatesWithinWatermark — a key's
    dedup state is dropped once the watermark passes it, bounding
    state to the late-data horizon while still collapsing every
    duplicate that can legally arrive. Dedup state survives across
    micro-batches (pinned by the maxFilesPerTrigger=1 parity test)."""
    deduped = points.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )
    sec = INTERVAL_SECONDS[interval]
    return _agg_select(
        deduped.groupBy("series_id", F.window("ts", f"{sec} seconds")),
        interval,
    )


def streaming_sliding_rollup(
    points: DataFrame,
    length: str = "10 minutes",
    slide: str = "1 minute",
    watermark: str = "10 minutes",
) -> DataFrame:
    """ST2: sliding windows — each point lands in length/slide windows."""
    return _agg_select(
        points.withWatermark("ts", watermark).groupBy(
            "series_id", F.window("ts", length, slide)
        ),
        f"slide[{length}/{slide}]",
    )


def streaming_session_rollup(
    points: DataFrame, gap: str = "5 minutes", watermark: str = "10 minutes"
) -> DataFrame:
    """ST3: session windows — a session closes after `gap` of series
    silence. Returns session bounds + the stored agg set."""
    return (
        points.withWatermark("ts", watermark)
        .groupBy("series_id", F.session_window("ts", gap))
        .agg(*stored_aggs())
        .select(
            "series_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            *STORED_AGGS,
        )
    )


FFILL_OUTPUT_SCHEMA = StructType(
    [
        StructField("series_id", StringType(), False),
        StructField("window_start", LongType(), False),  # epoch seconds
        StructField("sum", LongType(), True),
        StructField("filled", LongType(), False),  # 1 if gap-filled
    ]
)

FFILL_STATE_SCHEMA = StructType(
    [
        StructField("last_window", LongType(), True),
        StructField("last_sum", LongType(), True),
    ]
)


def _ffill_batch(series_id, batch: pd.DataFrame, last_w, last_s, sec: int):
    """ST4's forward-fill core: fold one sorted batch of
    (window_start, sum) rows into (rows, new_state). Pinned by the ST4
    golden test."""
    rows = []
    for _, r in batch.sort_values("window_start").iterrows():
        w = int(r["window_start"].timestamp())
        s = int(r["sum"])
        if last_w is not None:
            g = last_w + sec
            while g < w:
                rows.append((series_id, g, last_s, 1))
                g += sec
        rows.append((series_id, w, s, 0))
        last_w, last_s = w, s
    return rows, last_w, last_s


def stateful_forward_fill(rollup_rows: DataFrame, interval: str) -> DataFrame:
    """ST4: custom stateful operator — per-series forward-fill between
    consecutive observed windows of a (possibly multi-batch) rollup
    stream. State per series: (last emitted window, last sum).

    Input: streaming rows (series_id, window_start timestamp, sum).
    Output: observed rows (filled=0) plus carried rows (filled=1) for
    every missing interval between the previous and current window.

    applyInPandasWithState = Arrow-batched per-group stateful compute;
    state is scoped to the series key, the same partitioning axis the
    batch engine buckets on, so state shuffles once per micro-batch.
    At scale, the RocksDB state-store provider
    (spark.sql.streaming.stateStore.providerClass) backs this state
    like any other streaming state.
    """
    sec = INTERVAL_SECONDS[interval]

    def fill(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        (series_id,) = key
        if state.exists:
            last_w, last_s = state.get
        else:
            last_w, last_s = None, None
        batch = pd.concat(list(pdfs), ignore_index=True)
        rows, last_w, last_s = _ffill_batch(series_id, batch, last_w, last_s, sec)
        state.update((last_w, last_s))
        yield pd.DataFrame(
            rows, columns=["series_id", "window_start", "sum", "filled"]
        )

    return rollup_rows.groupBy("series_id").applyInPandasWithState(
        fill,
        FFILL_OUTPUT_SCHEMA,
        FFILL_STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )


def latest_stream_batch(store, table: str, stream_id: str | None = None) -> int:
    """Highest stream batch id recorded in the table's snapshot
    summaries, -1 if none.

    ``stream_id`` scopes the high-water mark to one checkpoint
    identity: Structured Streaming batch ids restart at 0 whenever a
    checkpoint directory is deleted/recreated, so comparing a fresh
    checkpoint's ids against another checkpoint's mark would silently
    skip every new micro-batch as a "replay" (data loss). With
    ``stream_id=None`` the mark spans all commits (legacy behavior for
    callers managing a single checkpoint's lifetime themselves)."""
    ids = [
        s["stream_batch_id"]
        for s in store.snapshot_summaries(table)
        if s.get("stream_batch_id") is not None
        and (stream_id is None or s.get("stream_id") == stream_id)
    ]
    return max(ids) if ids else -1


def commit_stream_batch(
    store,
    table: str,
    df: DataFrame,
    batch_id: int,
    max_seen: int | None = None,
    stream_id: str | None = None,
) -> bool:
    """The sink's exactly-once guard: append ``df`` with the stream
    batch id recorded atomically in the snapshot summary, UNLESS the
    id is already committed (crash between sink write and checkpoint
    commit -> Structured Streaming replays the batch). Micro-batch ids
    are monotonically increasing per checkpoint, so 'already committed'
    is batch_id <= the highest recorded id FOR THIS CHECKPOINT IDENTITY
    (``stream_id`` — see latest_stream_batch for why replay detection
    must not cross checkpoint generations); callers on a hot loop pass
    ``max_seen`` (cached once per query start) to keep the check O(1)
    per batch instead of re-reading all summaries. Returns True if the
    batch was committed, False if skipped."""
    if max_seen is None:
        max_seen = latest_stream_batch(store, table, stream_id)
    if batch_id <= max_seen:
        return False
    summary = {"stream_batch_id": batch_id}
    if stream_id is not None:
        summary["stream_id"] = stream_id
    store.append(table, df, summary=summary)
    return True


def _checkpoint_identity(checkpoint: str) -> tuple[str, bool]:
    """Stable identity for one checkpoint-directory GENERATION: a uuid
    minted on first use and persisted as a sidecar file inside the
    checkpoint dir. Deleting/recreating the checkpoint (which resets
    Structured Streaming's batch ids to 0) also deletes the sidecar,
    so the new generation gets a fresh identity and its batches are
    never mistaken for replays of the old one.

    Returns ``(stream_id, legacy)``. ``legacy`` is True exactly when
    the sidecar was minted just now inside a checkpoint that ALREADY
    holds Structured Streaming state (offsets/commits written before
    identity scoping existed): that generation's prior store commits
    carry no stream_id, so callers must seed their replay high-water
    mark from the UNSCOPED mark or a crash-replayed already-committed
    micro-batch would be re-committed (duplicate rows)."""
    import uuid

    os.makedirs(checkpoint, exist_ok=True)
    sidecar = os.path.join(checkpoint, "stream_identity.json")
    if os.path.exists(sidecar):
        with open(sidecar) as f:
            return json.load(f)["stream_id"], False
    legacy = any(
        os.path.isdir(os.path.join(checkpoint, d))
        for d in ("offsets", "commits")
    )
    sid = uuid.uuid4().hex
    tmp = f"{sidecar}.tmp.{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump({"stream_id": sid}, f)
    os.replace(tmp, sidecar)
    return sid, legacy


def _checkpoint_stream_id(checkpoint: str) -> str:
    """Back-compat shim over _checkpoint_identity (id only)."""
    return _checkpoint_identity(checkpoint)[0]


def _seed_replay_mark(
    store, table: str, stream_id: str, checkpoint: str, legacy: bool
) -> int:
    """Initial replay high-water mark for a (re)starting stream.

    Normally the mark scoped to this checkpoint's identity. For a
    LEGACY checkpoint (pre-scoping: its earlier commits carry no
    stream_id, so the scoped mark is -1 even though batches were
    committed) the unscoped table mark keeps exactly-once across the
    upgrade — but that mark spans EVERY stream that ever wrote the
    table, so it is capped at this checkpoint's own authority: its
    commits/ high-water mark + 1 (at most ONE batch — the in-flight
    one a crash replays — can have reached the sink ahead of its
    checkpoint commit). Without the cap, a foreign stream's higher
    mark silently drops this stream's next micro-batches as "replays"
    (r4 ADVICE). Residual legacy ambiguity: if the foreign stream also
    has unscoped commits, only the single in-flight batch can still be
    misattributed — not the stream's whole future."""
    seed = latest_stream_batch(store, table, stream_id)
    if legacy:
        own_cap = _checkpoint_max_committed(checkpoint) + 1
        seed = max(seed, min(latest_stream_batch(store, table, None), own_cap))
    return seed


def _checkpoint_max_committed(checkpoint: str) -> int:
    """Highest batch id in the checkpoint's own commits/ directory
    (-1 if none) — the checkpoint's authoritative record of what IT
    has completed, independent of what other streams wrote to the
    same table."""
    d = os.path.join(checkpoint, "commits")
    mx = -1
    if os.path.isdir(d):
        for name in os.listdir(d):
            if name.isdigit():
                mx = max(mx, int(name))
    return mx


def stream_rollup_to_store(
    stream_rollup: DataFrame,
    store,
    table: str,
    checkpoint: str,
):
    """ST5: continuous tier maintenance — append-mode streaming rollup
    into the snapshot store, exactly-once per micro-batch.

    In append mode the tumbling rollup emits only windows FINALIZED by
    the watermark, so every appended row is immutable — the streaming
    twin of the batch tier write. Exactly-once: the store commit
    records the stream batch id atomically with the data (snapshot
    summary), and a batch replayed after a crash between the sink
    write and the checkpoint commit is detected there and skipped —
    the same data-table-is-the-resume-truth design as the batch job
    (plans/job.py).

    Runs with Trigger.AvailableNow: each invocation drains currently
    available input and stops — restartable tier maintenance rather
    than an always-on query (also exactly what tests need)."""

    # append mode is hardcoded: the exactly-once argument above relies
    # on every emitted row being a FINALIZED window that never re-emits;
    # update/complete modes would re-emit changed windows under fresh
    # batch ids and accumulate conflicting rows in the store.
    # The highest committed batch id is read ONCE at query start and
    # advanced in-memory — only a restart's first batch can be a
    # replay, so per-batch summary scans (O(batches^2) over a stream's
    # lifetime) buy nothing. The mark is scoped to this checkpoint
    # GENERATION's identity: a recreated checkpoint restarts batch ids
    # at 0, and comparing those against an older generation's mark
    # would silently drop every new batch as a "replay".
    stream_id, legacy = _checkpoint_identity(checkpoint)
    seed = _seed_replay_mark(store, table, stream_id, checkpoint, legacy)
    state = {"max": seed}

    def write_batch(df: DataFrame, batch_id: int) -> None:
        if commit_stream_batch(
            store, table, df, batch_id, state["max"], stream_id
        ):
            state["max"] = batch_id

    q = (
        stream_rollup.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def run_to_memory_table(stream_df: DataFrame, name: str, output_mode: str = "complete"):
    """Drive a streaming query to completion over currently-available
    input (Trigger.AvailableNow) into an in-memory table — the test /
    verification harness for the streaming surface."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q
