"""§3.1 — the flagship tier-rollup job: resumable, lineage-tracked,
explicitly partitioned (the engine's batch entry point).

Pipeline per tier (BASELINE.json:6,14):

  resume check (committed buckets from snapshot summaries, J4)
    -> snapshot-pinned source scan (S6)
    -> fused wide derive+agg (A11 = S3+A1+A5: per-sequence token stats
       -> salted groupBy(source, window) over 6 stat buffers -> unpivot
       to tier rows; base tier) or finer tier scan (cascade, A2)
    -> bucket = pmod(xxhash64(series_id), B) (F2)
    -> drop already-committed buckets
    -> repartition(B, bucket) + sortWithinPartitions(series_id,
       window_start) (O1 — monotone timestamps for the codec and for
       parquet delta encoding)
       [scan through layout: _tier_rows, shared with backfill_tier]
    -> append rollup tier; the commit records (src_snapshot, buckets)
       in the snapshot summary ATOMICALLY with the data — resume truth
       lives in the data table itself, so a crash anywhere leaves
       either nothing or a fully-committed bucket set (exactly-once).
    -> Gorilla chunk encode (C1) reads back ONLY the files this commit
       added (no recompute), appends chunks with its own summary
       (chunks resume independently if the job dies between the two).
       The compression stats ride that append as a two-sum
       DataFrame.observe (enc_bytes, n): the run never re-reads the
       chunk table, so the stats cover the chunks THIS run encoded.
    -> per-bucket stats: one grouped read of the rollup delta's
       bucket/count columns.
    -> lineage + metrics rows appended last (reporting; resume does
       not depend on them), built through Arrow into a local relation
       (no Python workers) and written as one file per append.

Scale notes: the salted agg's phase-1 partial aggregation collapses
each task to ~|series x salts x windows| rows before any exchange; the
wide rows (tokens arrays) never cross a shuffle — point derivation is
a narrow map fused into the scan. At 10^12 sequences the knobs are
n_buckets and salts (hot-series fan-out); both change only shuffle
layout, never results (tested). n_buckets sets how many hash buckets
the series fall into (the unit of resume, lineage and per-bucket
stats) and the partition count of the final repartition. It does not
set how many tasks or files carry the data: Spark hashes the bucket
id again to pick a partition, small ids collide, and some partitions
stay empty (a 25k-sequence append at n_buckets=8 put buckets 1, 3
and 7 in one partition and left three partitions empty).
"""

from __future__ import annotations

import time
import uuid
from dataclasses import dataclass

import pyarrow as pa
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..codec.gorilla import encode_chunks
from ..config import DEFAULT_TIERS, TierSpec
from ..functions.hashing import series_hash_bucket
from ..operators.points import event_time
from ..operators.rollup import cascade_reagg, fused_tier_rollup
from ..sources.store import METRICS_SCHEMA, ManifestStore

@dataclass
class JobResult:
    """One tier run. ``bytes_per_point`` is Gorilla encoded bytes per
    point over the chunks THIS run encoded (0.0 when it encoded none,
    e.g. every bucket was already chunked or encode was off)."""

    run_id: str
    tier: str
    src_snapshot: int
    buckets_done: list[int]
    buckets_skipped: list[int]
    rows_out: int
    points_in: int
    wall_ms: int
    bytes_per_point: float


def committed_buckets(store: ManifestStore, table: str, src_snapshot: int) -> set[int]:
    """Buckets already committed for this source snapshot — read from
    the table's own snapshot summaries (atomic with the data)."""
    done: set[int] = set()
    for s in store.snapshot_summaries(table):
        if s.get("src_snapshot") == src_snapshot:
            done.update(s.get("buckets", []))
    return done


def _source_table(spec: TierSpec) -> str:
    """The table a tier is derived from: sequences for the base tier,
    the finer rollup tier otherwise (cascade, A2)."""
    return "sequences" if spec.source is None else f"rollup_{spec.source}"


def _tier_rows(
    store: ManifestStore,
    tier: str,
    spec: TierSpec,
    n_buckets: int,
    salts: int,
    snapshot: int | None = None,
    window: tuple[int, int] | None = None,
    skip: set[int] | frozenset[int] = frozenset(),
) -> DataFrame:
    """The tier rows to write, bucketed and laid out (F2, O1) — the one
    place that picks a tier's source and its file layout, for
    run_rollup_job and backfill_tier.

    Source: the fused wide derive+agg of ``sequences`` for the base
    tier (one row per sequence, 6 stat buffers, instead of one per
    point; identical to salted_rollup(derive_points(...)) by golden
    test), cascade re-agg of the finer tier otherwise, read at
    ``snapshot`` (default: current). ``skip``: already-committed
    buckets, dropped before the layout.

    ``window = (t0, t1)`` keeps only windows starting in [t0, t1) and
    reads only the source rows that feed them, [wlo, ev_hi): wlo = the
    first window start >= t0, ev_hi = the end of the last window
    starting before t1 (handles unaligned t0/t1). The base tier
    pre-filters sequences on the deterministic event time (a cheap JVM
    expression over doc_id, evaluated before the token-array folds of
    the derive see a row); cascade tiers filter the finer tier on the
    RAW window_start column so the predicate pushes to parquet footers."""
    src = store.read(_source_table(spec), snapshot)
    if window is not None:
        t0, t1 = window
        sec = spec.interval_seconds
        wlo = -(-t0 // sec) * sec
        ev_hi = -(-t1 // sec) * sec
        if spec.source is None:
            ev = F.unix_timestamp(event_time("doc_id"))
            src = src.where((ev >= F.lit(wlo)) & (ev < F.lit(ev_hi)))
        else:
            ws = F.col("window_start")
            src = src.where((ws >= F.timestamp_seconds(F.lit(wlo)))
                            & (ws < F.timestamp_seconds(F.lit(ev_hi))))
    if spec.source is None:
        rolled = fused_tier_rollup(src, tier, salts=salts)
    else:
        rolled = cascade_reagg(src.drop("bucket"), tier)
    if window is not None:
        ws = F.unix_timestamp("window_start")
        rolled = rolled.where((ws >= F.lit(t0)) & (ws < F.lit(t1)))
    rolled = rolled.withColumn("bucket", series_hash_bucket("series_id", n_buckets))
    if skip:
        rolled = rolled.where(~F.col("bucket").isin(sorted(skip)))
    todo = len(set(range(n_buckets)) - set(skip))
    return rolled.repartition(todo, "bucket").sortWithinPartitions(
        "series_id", "window_start"
    )


def _bucket_counts(rollup: DataFrame) -> dict[int, tuple[int, int]]:
    """bucket -> (rows_out, points_in) of rollup rows: one grouped read
    of the bucket/count columns."""
    return {
        r["bucket"]: (r["rows_out"], int(r["points_in"] or 0))
        for r in rollup.groupBy("bucket")
        .agg(F.count("*").alias("rows_out"), F.sum("count").alias("points_in"))
        .collect()
    }


def _append_lineage(
    spark: SparkSession,
    store: ManifestStore,
    run_id: str,
    tier: str,
    src_snapshot: int,
    per_bucket: dict[int, tuple[int, int]],
) -> None:
    """One lineage row per bucket, built through Arrow into a local
    relation (no Python workers) and written as one file."""
    buckets = sorted(per_bucket)
    k = len(buckets)
    lineage = pa.table({
        "run_id": [run_id] * k,
        "tier": [tier] * k,
        "bucket": buckets,
        "src_snapshot": [src_snapshot] * k,
        "rows_in": [per_bucket[b][1] for b in buckets],
        "rows_out": [per_bucket[b][0] for b in buckets],
    })
    ldf = spark.createDataFrame(
        lineage,
        "run_id string, tier string, bucket int, src_snapshot long, "
        "rows_in long, rows_out long",
    ).withColumn("committed_at", F.current_timestamp())
    store.append("lineage", ldf.coalesce(1))


def _recover_lineage(
    spark: SparkSession,
    store: ManifestStore,
    tier: str,
    src_snapshot: int,
) -> None:
    """Lineage rows for the buckets of ``src_snapshot`` that were
    committed to the rollup table but have none: a run that died after
    its rollup commit and before its lineage append. Counts come from
    the committing snapshot's delta and the run_id from its summary. A
    snapshot that expiry has already retired is skipped: its files,
    and so its counts, are gone."""
    rollup_table = f"rollup_{tier}"
    have: set[int] = set()
    if store.exists("lineage"):
        have = {
            r["bucket"]
            for r in store.read("lineage")
            .where((F.col("tier") == tier) & (F.col("src_snapshot") == src_snapshot))
            .select("bucket").distinct().collect()
        }
    for s in store.snapshot_summaries(rollup_table):
        missing = set(s.get("buckets", [])) - have
        if s.get("src_snapshot") != src_snapshot or not missing:
            continue
        try:
            delta = store.read_snapshot_delta(rollup_table, s["id"])
        except KeyError:
            continue
        counts = _bucket_counts(delta.where(F.col("bucket").isin(sorted(missing))))
        if counts:
            _append_lineage(spark, store, s.get("run_id", ""), tier,
                            src_snapshot, counts)
            have |= set(counts)


def run_rollup_job(
    spark: SparkSession,
    store: ManifestStore,
    tier: str,
    n_buckets: int = 8,
    salts: int = 8,
    run_id: str | None = None,
    encode: bool = True,
    tiers: dict[str, TierSpec] | None = None,
) -> JobResult:
    """Run one tier to completion (idempotent under re-runs).

    A run that finds every bucket of its source snapshot already
    committed writes no rollup rows; it only finishes what a crashed
    run left: the missing chunks, and the lineage rows of committed
    buckets that have none (``_recover_lineage``, under the crashed
    run's run_id). Their metrics rows stay missing, because the crashed
    run's wall time was never recorded."""
    tiers = tiers or DEFAULT_TIERS
    spec = tiers[tier]
    run_id = run_id or uuid.uuid4().hex[:12]
    rollup_table = f"rollup_{tier}"
    chunks_table = f"chunks_{tier}"
    t0 = time.monotonic()

    # --- snapshot-pinned source (S6)
    src_table = _source_table(spec)
    src_snapshot = store.current_snapshot(src_table)
    if src_snapshot is None:
        if spec.source is None:
            raise RuntimeError("sequences table is empty")
        raise RuntimeError(f"{src_table} is empty — run tier {spec.source} first")

    # --- resume (J4): drop buckets already committed for this snapshot
    done = committed_buckets(store, rollup_table, src_snapshot)
    todo = [b for b in range(n_buckets) if b not in done]

    rows_out = points_in = 0
    rollup_snap = None
    if todo:
        rollup_snap = store.append(
            rollup_table,
            _tier_rows(store, tier, spec, n_buckets, salts, snapshot=src_snapshot,
                       skip=done),
            summary={"src_snapshot": src_snapshot, "buckets": todo,
                     "run_id": run_id},
        )

    # --- chunks: encode from what the data table says is committed but
    # the chunks table hasn't encoded yet (crash-safe second commit)
    bytes_per_point = 0.0
    if encode and store.exists(rollup_table):
        chunk_done = committed_buckets(store, chunks_table, src_snapshot)
        chunk_todo = sorted(committed_buckets(store, rollup_table, src_snapshot)
                            - chunk_done)
        if chunk_todo:
            base = (
                store.read_snapshot_delta(rollup_table, rollup_snap)
                if rollup_snap is not None
                else store.read(rollup_table)
            )
            base = base.where(F.col("bucket").isin(chunk_todo))
            # the compression stats ride the chunk write: two sums
            # collected by the append's own action, no re-read
            chunk_stats = Observation()
            chunks = encode_chunks(base.drop("bucket"), tier, spec.chunk_points)
            store.append(
                chunks_table,
                chunks.observe(chunk_stats, F.sum("enc_bytes").alias("enc_bytes"),
                               F.sum("n").alias("points")),
                summary={"src_snapshot": src_snapshot, "buckets": chunk_todo,
                         "run_id": run_id},
            )
            stats = chunk_stats.get
            if stats["points"]:
                bytes_per_point = stats["enc_bytes"] / stats["points"]

    # --- per-bucket stats from the WRITTEN files (no recompute)
    per_bucket: dict[int, tuple[int, int]] = {}
    if rollup_snap is not None:
        per_bucket = _bucket_counts(store.read_snapshot_delta(rollup_table, rollup_snap))
        rows_out = sum(v[0] for v in per_bucket.values())
        points_in = sum(v[1] for v in per_bucket.values())

    wall_ms = int((time.monotonic() - t0) * 1000)

    # --- lineage + metrics (reporting; resume does not depend on them).
    # Rows go through Arrow into a local relation (no Python workers),
    # one data file per append.
    if rollup_snap is None:
        _recover_lineage(spark, store, tier, src_snapshot)
    if per_bucket:
        buckets = sorted(per_bucket)
        k = len(buckets)
        _append_lineage(spark, store, run_id, tier, src_snapshot, per_bucket)
        pps = points_in / max(wall_ms / 1000.0, 1e-9)
        metrics = pa.table({
            "run_id": [run_id] * k,
            "tier": [tier] * k,
            "bucket": buckets,
            "points_per_sec": [pps] * k,
            "bytes_per_point": [bytes_per_point] * k,
            "wall_ms": [wall_ms] * k,
        })
        store.append(
            "metrics", spark.createDataFrame(metrics, METRICS_SCHEMA).coalesce(1)
        )

    return JobResult(
        run_id=run_id,
        tier=tier,
        src_snapshot=src_snapshot,
        buckets_done=sorted(per_bucket),
        buckets_skipped=sorted(done),
        rows_out=rows_out,
        points_in=points_in,
        wall_ms=wall_ms,
        bytes_per_point=bytes_per_point,
    )


def run_cascade(
    spark: SparkSession,
    store: ManifestStore,
    tiers: dict[str, TierSpec] | None = None,
    **kwargs,
) -> list[JobResult]:
    """Run every tier in dependency order (1m -> 1h -> 1d)."""
    tiers = tiers or DEFAULT_TIERS
    order: list[str] = []
    remaining = dict(tiers)
    while remaining:
        for name, spec in list(remaining.items()):
            if spec.source is None or spec.source in order:
                order.append(name)
                del remaining[name]
    return [run_rollup_job(spark, store, t, tiers=tiers, **kwargs) for t in order]


def backfill_tier(
    spark: SparkSession,
    store: ManifestStore,
    tier: str,
    t0_epoch: int,
    t1_epoch: int,
    n_buckets: int = 8,
    salts: int = 8,
    tiers: dict[str, TierSpec] | None = None,
) -> dict:
    """Recompute one tier's rollups for [t0, t1) from its source and
    surgically splice them into the tier table — the operational fix
    for late/corrected source data without reprocessing history.

    The recompute is run_rollup_job's plan (_tier_rows: fused wide
    derive+agg from the sequences for the base tier; cascade re-agg
    from the finer tier otherwise) over the current snapshot, reading
    ONLY the source rows of the range. The splice is
    store.replace_range (overwrite-by-filter / footer classification —
    never a full-table rewrite).

    If the tier has a Gorilla chunk table, the chunks whose extent
    intersects [t0, t1) are re-encoded from the post-splice rollup and
    range-replaced too — otherwise the chunk read path
    (codec.pruned_read) would keep serving the pre-backfill values.

    Idempotent: re-running produces an identical table (tested in
    tests/test_maintenance.py)."""
    tiers = tiers or DEFAULT_TIERS
    spec = tiers[tier]
    rolled = _tier_rows(store, tier, spec, n_buckets, salts,
                        window=(t0_epoch, t1_epoch))
    res = store.replace_range(
        f"rollup_{tier}", "window_start", t0_epoch, t1_epoch, rolled
    )

    chunks_table = f"chunks_{tier}"
    if store.exists(chunks_table):
        chunk_sec = spec.chunk_seconds
        c0 = (t0_epoch // chunk_sec) * chunk_sec
        c1 = -(-t1_epoch // chunk_sec) * chunk_sec
        repaired = store.read(f"rollup_{tier}").where(
            (F.col("window_start") >= F.timestamp_seconds(F.lit(c0)))
            & (F.col("window_start") < F.timestamp_seconds(F.lit(c1)))
        )
        new_chunks = encode_chunks(repaired.drop("bucket"), tier, spec.chunk_points)
        res["chunks"] = store.replace_range(
            chunks_table, "chunk_start", c0, c1, new_chunks
        )
    return res


def apply_retention(
    spark: SparkSession,
    store: ManifestStore,
    tier: str,
    now_epoch: int,
    tiers: dict[str, TierSpec] | None = None,
) -> int:
    """P3 — drop windows older than the tier's retention via the
    store's footer-stat pruning: whole files entirely past retention
    are dropped from the snapshot WITHOUT a read or rewrite (the
    Iceberg partition-drop analogue); only cutoff-straddling files are
    rewritten. Returns rows kept (the prune result's ``rows``: the
    manifest store sums its recorded row counts, so no Spark job
    counts them), -1 = no-op."""
    spec = (tiers or DEFAULT_TIERS)[tier]
    table = f"rollup_{tier}"
    if spec.retention_seconds is None or not store.exists(table):
        return -1
    cutoff = now_epoch - spec.retention_seconds
    return store.prune_older_than(table, "window_start", cutoff)["rows"]
