"""§3.1 — the flagship tier-rollup job: resumable, lineage-tracked,
explicitly partitioned (the engine's batch entry point).

Pipeline per tier (BASELINE.json:6,14):

  resume check (J4): nothing to compute if a rollup commit records the
    source snapshot S
    -> changed range since prev, the source snapshot the tier last
       consumed: the hull of event_time(doc_id) over the deltas of the
       sequences commits in (prev, S], compactions skipped (base tier),
       or of the ``range`` summaries of the finer tier's commits in
       (prev, S] (cascade; retention and compaction record none); the
       whole table without prev or with an expired delta; aligned
       outward to the tier's window
    -> snapshot-pinned source scan of that range (S6)
    -> fused wide derive+agg (A11 = S3+A1+A5: per-sequence token stats
       -> salted groupBy(source, window) over 6 stat buffers -> unpivot
       to tier rows; base tier) or finer tier scan (cascade, A2)
    -> bucket = pmod(xxhash64(series_id), B) (F2)
    -> repartition(B, bucket) + sortWithinPartitions(series_id,
       window_start) (O1 — monotone timestamps for the codec and for
       parquet delta encoding)  [scan through layout: _tier_rows]
    -> rollup step: one range splice into rollup_<tier> whose commit
       records (range, src_snapshot, run_id) ATOMICALLY with the data
       (exactly-once; a re-run on S writes nothing, whatever n_buckets)
    -> chunk step: Gorilla (C1) re-encodes the chunk-aligned range from
       the post-splice rollup into one splice of chunks_<tier> with its
       own summary; the compression stats ride it as a two-sum
       DataFrame.observe  [both steps are backfill_tier's too]
    -> per-bucket stats: one grouped read of the splice's delta inside
       the range (the straddlers' carried rows are not its work)
    -> lineage + metrics rows appended last (reporting; resume does
       not depend on them), built through Arrow into a local relation
       (no Python workers) and written as one file per append.

Scale notes: the salted agg's phase-1 partial aggregation collapses
each task to ~|series x salts x windows| rows before any exchange; the
wide rows (tokens arrays) never cross a shuffle — point derivation is
a narrow map fused into the scan. At 10^12 sequences the knobs are
n_buckets and salts (hot-series fan-out); both change only shuffle
layout, never results (tested). n_buckets sets how many hash buckets
the series fall into (the unit of lineage and per-bucket stats) and
the partition count of the final repartition. It does not set how
many tasks or files carry the data: Spark hashes the bucket id again
to pick a partition, small ids collide, and some partitions stay
empty (a 25k-sequence append at n_buckets=8 put buckets 1, 3
and 7 in one partition and left three partitions empty).
"""

from __future__ import annotations

import math
import time
import uuid
from dataclasses import dataclass
from functools import reduce

import pyarrow as pa
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..codec.gorilla import encode_chunks
from ..config import DEFAULT_TIERS, TierSpec
from ..functions.hashing import series_hash_bucket
from ..operators.points import event_time
from ..operators.rollup import cascade_reagg, fused_tier_rollup
from ..sources.store import METRICS_SCHEMA, ManifestStore

#: the range of a tier with no change to go on: every window
WHOLE = (-math.inf, math.inf)


@dataclass
class JobResult:
    """One tier run. ``bytes_per_point`` is Gorilla encoded bytes per
    point over the chunks THIS run encoded (0.0 when it encoded none,
    e.g. the chunks were already spliced or encode was off)."""

    run_id: str
    tier: str
    src_snapshot: int
    buckets_done: list[int]
    buckets_skipped: list[int]
    rows_out: int
    points_in: int
    wall_ms: int
    bytes_per_point: float


def _job_splices(store: ManifestStore, table: str) -> list[dict]:
    """``table``'s job splices (those recording a source snapshot), oldest first."""
    return [s for s in store.snapshot_summaries(table) if "src_snapshot" in s]


def _job_commit(store: ManifestStore, table: str, src_snapshot: int) -> dict | None:
    """The summary of the job splice into ``table`` that consumed
    ``src_snapshot``, or None."""
    return next((s for s in _job_splices(store, table)
                 if s["src_snapshot"] == src_snapshot), None)


def committed_buckets(store: ManifestStore, table: str, src_snapshot: int) -> set[int]:
    """Buckets the job splice that consumed ``src_snapshot`` wrote."""
    return set((_job_commit(store, table, src_snapshot) or {}).get("buckets", []))


def _source_table(spec: TierSpec) -> str:
    """The table a tier is derived from: sequences for the base tier,
    the finer rollup tier otherwise (cascade, A2)."""
    return "sequences" if spec.source is None else f"rollup_{spec.source}"


def _align(rng, sec: int) -> tuple:
    """[t0, t1) widened to whole multiples of ``sec``; WHOLE stays."""
    t0, t1 = rng
    return WHOLE if tuple(rng) == WHOLE else (t0 // sec * sec, -(-t1 // sec) * sec)


def _in_range(df: DataFrame, col: str, rng) -> DataFrame:
    """``df``'s rows with ``col`` in [t0, t1), on the RAW timestamp
    column so the predicate pushes to parquet footers; WHOLE keeps all."""
    if tuple(rng) == WHOLE:
        return df
    c, (t0, t1) = F.col(col), rng
    return df.where((c >= F.timestamp_seconds(F.lit(t0)))
                    & (c < F.timestamp_seconds(F.lit(t1))))


def _changed_range(store: ManifestStore, tier: str, spec: TierSpec, src_snapshot: int):
    """The windows of ``tier`` whose source changed since its last job
    splice, as the module docstring gives them; None when none did.
    ``sequences`` only grows (compaction aside), so its deltas hold
    every change."""
    src_table, done = _source_table(spec), _job_splices(store, f"rollup_{tier}")
    commits = store.snapshot_summaries(src_table)
    ids = [s["id"] for s in commits]
    if not done or done[-1]["src_snapshot"] not in ids:
        return WHOLE
    new = commits[ids.index(done[-1]["src_snapshot"]) + 1:ids.index(src_snapshot) + 1]
    if spec.source is None:
        try:
            deltas = [store.read_snapshot_delta(src_table, s["id"])
                      for s in new if "compaction" not in s]
        except KeyError:
            return WHOLE
        ev = F.unix_timestamp(event_time("doc_id"))
        lo, hi = (reduce(DataFrame.unionByName, deltas).agg(F.min(ev), F.max(ev)).first()
                  if deltas else (None, None))
        hull = None if lo is None else (lo, hi + 1)
    else:
        ranges = [s["range"] for s in new if "range" in s]
        hull = (min(r[0] for r in ranges), max(r[1] for r in ranges)) if ranges else None
    return hull and _align(hull, spec.interval_seconds)


def _tier_rows(store: ManifestStore, tier: str, spec: TierSpec, n_buckets: int,
               salts: int, window, snapshot: int | None = None) -> DataFrame:
    """The tier rows of the windows starting in ``window`` = [t0, t1),
    bucketed and laid out (F2, O1) — the one place that picks a tier's
    source and its file layout.

    Source: the fused wide derive+agg of ``sequences`` for the base
    tier (one row per sequence, 6 stat buffers, instead of one per
    point; identical to salted_rollup(derive_points(...)) by golden
    test), cascade re-agg of the finer tier otherwise, read at
    ``snapshot`` (default: current).

    Unless ``window`` is WHOLE, only the source rows that feed the
    windows are read, [wlo, ev_hi): wlo = the first window start >= t0,
    ev_hi = the end of the last window starting before t1 (handles
    unaligned t0/t1). The base tier pre-filters sequences on the
    deterministic event time (a cheap JVM expression over doc_id,
    evaluated before the token-array folds of the derive see a row);
    cascade tiers filter the finer tier on the RAW window_start column
    so the predicate pushes to parquet footers."""
    src = store.read(_source_table(spec), snapshot)
    whole = tuple(window) == WHOLE
    if not whole:
        t0, t1 = window
        sec = spec.interval_seconds
        wlo, ev_hi = -(-t0 // sec) * sec, -(-t1 // sec) * sec
        if spec.source is None:
            ev = F.unix_timestamp(event_time("doc_id"))
            src = src.where((ev >= F.lit(wlo)) & (ev < F.lit(ev_hi)))
        else:
            src = _in_range(src, "window_start", (wlo, ev_hi))
    if spec.source is None:
        rolled = fused_tier_rollup(src, tier, salts=salts)
    else:
        rolled = cascade_reagg(src.drop("bucket"), tier)
    if not whole:
        ws = F.unix_timestamp("window_start")
        rolled = rolled.where((ws >= F.lit(t0)) & (ws < F.lit(t1)))
    rolled = rolled.withColumn("bucket", series_hash_bucket("series_id", n_buckets))
    return rolled.repartition(n_buckets, "bucket").sortWithinPartitions(
        "series_id", "window_start"
    )


def _splice_rollup(store, tier, spec, n_buckets, salts, rng, snapshot=None,
                   summary=None) -> dict:
    """The rollup step: the windows of ``rng`` recomputed from the tier's
    source (at ``snapshot``) and spliced into rollup_<tier>; the commit
    records ``range`` and ``summary``."""
    rows = _tier_rows(store, tier, spec, n_buckets, salts, rng, snapshot)
    return store.replace_range(f"rollup_{tier}", "window_start", *rng, rows,
                               summary={"range": list(rng), **(summary or {})})


def _splice_chunks(store, tier, spec, rng, summary=None) -> tuple[dict, float]:
    """The chunk step: the chunks whose extent intersects ``rng``
    re-encoded from the current rollup_<tier> and spliced into
    chunks_<tier>. Returns the splice result and the encoded bytes per
    point (0.0 for none): two sums that ride the write as an Observation."""
    crng = _align(rng, spec.chunk_seconds)
    rollup = _in_range(store.read(f"rollup_{tier}"), "window_start", crng)
    stats = Observation()
    chunks = encode_chunks(rollup.drop("bucket"), tier, spec.chunk_points).observe(
        stats, F.sum("enc_bytes").alias("enc_bytes"), F.sum("n").alias("points"))
    res = store.replace_range(f"chunks_{tier}", "chunk_start", *crng, chunks,
                              summary=summary)
    got = stats.get
    return res, got["enc_bytes"] / got["points"] if got["points"] else 0.0


def _bucket_counts(store: ManifestStore, tier: str, commit: dict) -> dict[int, tuple[int, int]]:
    """bucket -> (rows_out, points_in) of a job splice: one grouped read
    of its delta's bucket/count columns inside its range."""
    delta = store.read_snapshot_delta(f"rollup_{tier}", commit["id"])
    return {
        r["bucket"]: (r["rows_out"], int(r["points_in"] or 0))
        for r in _in_range(delta, "window_start", commit["range"]).groupBy("bucket")
        .agg(F.count("*").alias("rows_out"), F.sum("count").alias("points_in"))
        .collect()
    }


def _append_lineage(spark: SparkSession, store: ManifestStore, run_id: str, tier: str,
                    src_snapshot: int, per_bucket: dict[int, tuple[int, int]]) -> None:
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


def _recover_lineage(spark: SparkSession, store: ManifestStore, tier: str, commit: dict) -> None:
    """The lineage rows of a job splice that has none (one append holds
    all of a run's rows): its run died before its lineage append. Counts
    come from the splice's delta, the run_id from its summary; a splice
    that expiry has retired is skipped (its counts are gone)."""
    if store.exists("lineage") and not store.read("lineage").where(
        (F.col("tier") == tier) & (F.col("src_snapshot") == commit["src_snapshot"])
    ).isEmpty():
        return
    try:
        counts = _bucket_counts(store, tier, commit)
    except KeyError:
        return
    if counts:
        _append_lineage(spark, store, commit["run_id"], tier,
                        commit["src_snapshot"], counts)


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
    """Run one tier to completion (idempotent under re-runs):
    backfill_tier's rollup and chunk steps over the windows whose source
    changed since the tier's last run (``_changed_range``).

    Resume keys on the source snapshot alone. A run that finds a rollup
    commit recording it computes no rollup rows, whatever its n_buckets;
    it only finishes what a crashed run left: the chunks of that
    commit's recorded range (unless a chunk commit records the snapshot
    too) and its lineage rows (``_recover_lineage``, under the crashed
    run's run_id). Its metrics rows stay missing: the crashed run's wall
    time was never recorded."""
    tiers = tiers or DEFAULT_TIERS
    spec = tiers[tier]
    run_id = run_id or uuid.uuid4().hex[:12]
    rollup_table = f"rollup_{tier}"
    t0 = time.monotonic()

    # --- snapshot-pinned source (S6)
    src_table = _source_table(spec)
    src_snapshot = store.current_snapshot(src_table)
    if src_snapshot is None:
        if spec.source is None:
            raise RuntimeError("sequences table is empty")
        raise RuntimeError(f"{src_table} is empty — run tier {spec.source} first")

    # --- resume (J4): the splice that already consumed this snapshot
    done = commit = _job_commit(store, rollup_table, src_snapshot)
    if done is None:
        rng = _changed_range(store, tier, spec, src_snapshot)
        if rng is not None:
            _splice_rollup(store, tier, spec, n_buckets, salts, rng, src_snapshot,
                           {"src_snapshot": src_snapshot, "run_id": run_id,
                            "buckets": list(range(n_buckets))})
            commit = _job_commit(store, rollup_table, src_snapshot)

    # --- chunks: the recorded range of that splice, unless a chunk
    # commit already consumed the snapshot (crash-safe second commit)
    bytes_per_point = 0.0
    if (encode and commit is not None
            and _job_commit(store, f"chunks_{tier}", src_snapshot) is None):
        _, bytes_per_point = _splice_chunks(
            store, tier, spec, commit["range"],
            {"src_snapshot": src_snapshot, "run_id": run_id})

    # --- per-bucket stats from the WRITTEN files (no recompute)
    per_bucket = _bucket_counts(store, tier, commit) if commit is not done else {}
    rows_out, points_in = (sum(v[i] for v in per_bucket.values()) for i in (0, 1))
    wall_ms = int((time.monotonic() - t0) * 1000)

    # --- lineage + metrics (reporting; resume does not depend on them).
    # Rows go through Arrow into a local relation (no Python workers),
    # one data file per append.
    if done is not None:
        _recover_lineage(spark, store, tier, done)
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
        buckets_skipped=sorted(done["buckets"]) if done else [],
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
    """Recompute one tier's rollups for [t0, t1) from its current
    source and splice them into the tier table — the operational fix
    for late/corrected source data without reprocessing history.

    The same two steps as run_rollup_job, over an explicit range: the
    rollup step (_tier_rows reads ONLY the source rows of the range;
    store.replace_range splices by footer classification, never a
    full-table rewrite; the commit records ``range``, so the next job
    run of a coarser tier picks the change up), then, if the tier has a
    Gorilla chunk table, the chunk step over the chunks whose extent
    intersects [t0, t1) — otherwise the chunk read path
    (codec.pruned_read) would keep serving the pre-backfill values.

    Idempotent: re-running produces an identical table (tested in
    tests/test_maintenance.py)."""
    spec = (tiers or DEFAULT_TIERS)[tier]
    res = _splice_rollup(store, tier, spec, n_buckets, salts, (t0_epoch, t1_epoch))
    if store.exists(f"chunks_{tier}"):
        res["chunks"] = _splice_chunks(store, tier, spec, (t0_epoch, t1_epoch))[0]
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
