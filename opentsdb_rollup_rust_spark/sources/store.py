"""S1/S4/S5/S6/S7 — storage with snapshot semantics.

The engine targets Iceberg tables (BASELINE.json:15). When the Iceberg
runtime jar is on the classpath we use it directly (`writeTo(...).
append()`, `option('snapshot-id', ...)`). This sandbox has no Iceberg
jar (SURVEY.md Appendix A), so the same API is implemented over
Parquet + an explicit JSON manifest that reproduces the snapshot
model of the Iceberg spec (iceberg.apache.org/spec): a table is a
list of immutable snapshots, each owning an explicit file list; the
current snapshot pointer is advanced by an ATOMIC manifest swap
(os.replace), which is the commit point. Readers pin a snapshot id
and see an immutable file set — exactly the resume semantics the
job needs (BASELINE.json:6 "resumable from Iceberg-snapshot
checkpoints").

Every write is one file-level rewrite of a snapshot, as in Iceberg:
`ManifestStore` has one commit path (`_commit`) under append and
the maintenance ops, and one classifier (`_classify`)
under one range splice (`_splice_range`). Every tier write
(`replace_range`, from the job and from a backfill) is a splice that
inserts new rows; retention (`prune_older_than`) is a splice with an
open lower bound and nothing to insert.

The manifest (`<root>/<table>/_manifest.json`) is also the table's
metadata, as an Iceberg manifest is ([ICEBERG-SPEC]). A snapshot is
its list of data files: its ``paths`` name parquet files, never
directories, and each listed file has an entry in ``files``.

- ``schema``: the table schema as the parquet reader would infer it
  (every field nullable), recorded at the first commit. Every read
  passes it to ``spark.read.schema``, so no read starts the one-task
  schema-inference job, and a commit whose frame differs from it in a
  field name or type raises ValueError before writing a file.
- ``files``: one entry per data file that some snapshot lists, keyed
  by path: ``rows``, ``bytes`` and ``bounds`` (the [min, max] epoch
  seconds of every top-level timestamp column), read once from the
  new files' parquet footers at commit. ``_classify`` takes its
  bounds from here, ``compact`` its sizes and ``prune_older_than`` the
  row count it reports. No reader opens a footer or walks a directory.

Cluster note: on a real deployment `ManifestStore` is swapped for an
Iceberg catalog with zero changes to callers — the surface is
append / replace_range / read(snapshot_id) / current_snapshot and the
maintenance ops.
"""

from __future__ import annotations

import fcntl
import glob
import json
import math
import os
import time
import uuid
from collections.abc import Callable
from contextlib import contextmanager
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DataType,
    MapType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

LINEAGE_SCHEMA = (
    "run_id string, tier string, bucket int, src_snapshot long, "
    "rows_in long, rows_out long, committed_at timestamp"
)
METRICS_SCHEMA = (
    "run_id string, tier string, bucket int, points_per_sec double, "
    "bytes_per_point double, wall_ms long"
)


class ConcurrentCommitError(RuntimeError):
    """A maintenance operation (compact / replace_range / prune)
    computed its new snapshot against a base that another writer
    advanced before the commit — committing would silently drop the
    concurrent writer's files. Retry the operation against the new
    current snapshot (the same contract as Iceberg's optimistic
    commit conflicts)."""


class ManifestStore:
    """Snapshot-pinned parquet tables under a root directory.

    Three shared pieces carry every write: ``_classify`` (one bounds
    rule: kept / dropped unread / straddling), ``_splice_range``
    (replace_range and prune_older_than) and ``_commit`` (data written
    outside the lock, the manifest swapped under it).

    Manifest format (a new manifest starts with every key):
    ``current`` (the current snapshot id), ``snapshots`` (each with
    ``id``, ``paths``: the data files it lists, ``new_paths``: the
    files its commit wrote, ``ts`` and ``summary``),
    ``retired_summaries`` (kept through expiry), ``schema`` (the
    table's nullable schema, JSON; None until the first commit) and
    ``files`` (path -> ``rows``, ``bytes``, ``bounds``, for exactly the
    files some snapshot lists). Reads, ``_classify``, ``compact``,
    ``prune_older_than``'s row count and expiry use these and start no
    Spark job for them.

    Concurrency model (mirrors Iceberg's optimistic commits): every
    manifest mutation happens under a per-table writer flock, so two
    appends never lose one another (the streaming sink and the batch
    job can share a table). Long-running maintenance ops (compact,
    replace_range, prune) do their expensive read+rewrite WITHOUT the
    lock, then validate at commit time that the base snapshot they
    computed against is still current — raising ConcurrentCommitError
    for the caller to retry instead of clobbering a concurrent commit.
    (The real IcebergStore gets both behaviors natively from the
    catalog's atomic swap + validation.)"""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    # ------------------------------------------------------------ manifest

    def _manifest_path(self, table: str) -> str:
        return os.path.join(self.root, table, "_manifest.json")

    @contextmanager
    def _write_lock(self, table: str):
        """Per-table advisory writer lock (flock): serializes
        manifest read-modify-write cycles across processes on one
        host. Readers never take it — snapshots are immutable."""
        os.makedirs(os.path.join(self.root, table), exist_ok=True)
        lock_path = os.path.join(self.root, table, "_lock")
        fd = os.open(lock_path, os.O_CREAT | os.O_RDWR)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX)
            yield
        finally:
            fcntl.flock(fd, fcntl.LOCK_UN)
            os.close(fd)

    def _load_manifest(self, table: str) -> dict:
        p = self._manifest_path(table)
        if not os.path.exists(p):
            return {"current": None, "snapshots": [], "retired_summaries": [],
                    "schema": None, "files": {}}
        with open(p) as f:
            return json.load(f)

    def _commit_manifest(self, table: str, manifest: dict) -> None:
        """The atomic commit point (os.replace is atomic on POSIX)."""
        p = self._manifest_path(table)
        tmp = p + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, p)

    def _write_data(self, table: str, df: DataFrame, snap_id: int) -> list[str]:
        """Write ``df`` into a new snapshot directory; returns its data
        files."""
        # unique suffix: two writers computing against the same base
        # (e.g. a stream append racing a compaction) must never write
        # into the same directory — the loser's files become orphans
        # the commit validation rejects, not corruption
        out = os.path.join(
            self.root, table, f"snap-{snap_id}-{uuid.uuid4().hex[:8]}"
        )
        df.write.mode("overwrite").parquet(out)
        return sorted(glob.glob(os.path.join(out, "*.parquet")))

    def _new_snap_id(self, manifest: dict) -> int:
        return (manifest["current"] or 0) + 1

    def _commit(
        self,
        table: str,
        df: DataFrame | None,
        keep: list[str] | None = None,
        base: int | None = None,
        summary: dict | None = None,
    ) -> int:
        """The one commit path. ``df``'s files are written through
        _write_data OUTSIDE the lock (the directory name is
        collision-free, so a streaming micro-batch never waits behind a
        long batch write); only the manifest swap holds the writer
        lock. The new snapshot lists ``keep`` plus the written files,
        and records the written files as its ``new_paths``.

        - ``keep=None`` appends: the files merge onto whatever snapshot
          is current at swap time.
        - ``base`` (maintenance ops; 0 = no snapshot yet) must still be
          current at swap time, else ConcurrentCommitError: the written
          files become orphans, never corruption.
        - ``summary`` is recorded atomically with the data (the
          Iceberg snapshot-summary analogue); None records {}.

        ``df``'s schema must match the recorded one in field names and
        types (ValueError before anything is written); the first commit
        records it. Each written file's entry (rows, bytes, timestamp
        bounds) is read from its footer before the swap and recorded
        with it."""
        m = self._load_manifest(table)
        written: list[str] = []
        entries: dict[str, dict] = {}
        schema = None
        if df is not None:
            schema = _nullable(df.schema)
            _check_schema(table, m["schema"], schema)
            written = self._write_data(table, df, self._new_snap_id(m))
            ts_cols = [
                f.name for f in schema.fields
                if isinstance(f.dataType, (TimestampType, TimestampNTZType))
            ]
            entries = {f: _footer_entry(f, ts_cols) for f in written}
        with self._write_lock(table):
            m = self._load_manifest(table)
            if base is not None and (m["current"] or 0) != base:
                raise ConcurrentCommitError(
                    f"{table}: snapshot advanced {base} -> {m['current']} "
                    "during maintenance; recompute against the new current"
                )
            if schema is not None:
                _check_schema(table, m["schema"], schema)
                m["schema"] = m["schema"] or schema.jsonValue()
            m["files"].update(entries)
            if keep is None:
                keep = self._snapshot_paths(m, m["current"])
            snap = {
                "id": self._new_snap_id(m), "paths": keep + written,
                "new_paths": written, "ts": time.time(),
                "summary": summary or {},
            }
            m["snapshots"].append(snap)
            m["current"] = snap["id"]
            self._commit_manifest(table, m)
            return snap["id"]

    # ------------------------------------------------------------- surface

    def current_snapshot(self, table: str) -> int | None:
        return self._load_manifest(table)["current"]

    def append(self, table: str, df: DataFrame, summary: dict | None = None) -> int:
        """New snapshot = previous file set + newly written files.

        ``summary`` is arbitrary commit metadata recorded atomically
        with the data (the Iceberg snapshot-summary analogue); the
        streaming sink marks its batch ids with it, and the job's
        splices (``replace_range``) their source snapshot, so marker
        and data are one manifest swap.
        """
        return self._commit(table, df, summary=summary)

    def snapshot_summaries(self, table: str) -> list[dict]:
        """All commit summaries, oldest first — including expired
        snapshots' (retired_summaries): resume markers must outlive the
        data-file GC."""
        m = self._load_manifest(table)
        return [
            {"id": s["id"], **s["summary"]}
            for s in m["retired_summaries"] + m["snapshots"]
        ]

    def read_snapshot_delta(self, table: str, snap_id: int) -> DataFrame:
        """Only the files WRITTEN by ``snap_id`` (incremental read): an
        append's new files, or a splice's rewritten and inserted rows,
        never the files it kept."""
        m = self._load_manifest(table)
        for s in m["snapshots"]:
            if s["id"] == snap_id:
                return self._reader(m).parquet(*s["new_paths"])
        raise KeyError(f"snapshot {snap_id} not found")

    def _snapshot_paths(self, manifest: dict, snap_id: int | None) -> list[str]:
        if snap_id is None:
            return []
        for s in manifest["snapshots"]:
            if s["id"] == snap_id:
                return list(s["paths"])
        raise KeyError(f"snapshot {snap_id} not found")

    def read(
        self, table: str, snapshot_id: int | None = None, schema: str | None = None
    ) -> DataFrame:
        """Read pinned to ``snapshot_id`` (default: current). Empty
        tables need ``schema`` to produce a typed empty frame."""
        m = self._load_manifest(table)
        snap = m["current"] if snapshot_id is None else snapshot_id
        paths = self._snapshot_paths(m, snap)
        if not paths:
            if schema is None:
                raise KeyError(f"table {table} is empty and no schema given")
            return self.spark.createDataFrame([], schema)
        return self._reader(m).parquet(*paths)

    def _reader(self, m: dict):
        """``spark.read`` with the recorded schema, so the read starts
        no schema-inference job."""
        return self.spark.read.schema(StructType.fromJson(m["schema"]))

    def exists(self, table: str) -> bool:
        return self._load_manifest(table)["current"] is not None

    # ----------------------------------------------------------- retention

    @staticmethod
    def _classify(
        m: dict, files: list[str], ts_col: str, t0: float, t1: float
    ) -> tuple[list[str], list[str], list[str]]:
        """Sort data files against [t0, t1) by the min/max of
        ``ts_col`` that manifest ``m`` recorded from their parquet
        footers, without reading any rows:

        - kept: disjoint from the range, carried over untouched;
        - dropped: wholly inside it, leave the snapshot unread;
        - straddling: read back with the range filtered out. A file
          without recorded bounds for ``ts_col`` (no stats, or not a
          timestamp column) could hold anything, so it straddles.

        A 0-row file (Spark writes one when partition 0 of a write is
        empty) holds nothing and is in no list: a committing splice
        leaves it out unread, and alone it never makes one commit.

        The bounds agree with the row filter (epoch_bound_exprs): for
        an integer bound s, floor(t) < s <=> t < s."""
        kept: list[str] = []
        dropped: list[str] = []
        straddling: list[str] = []
        for f in files:
            e = m["files"][f]
            if e["rows"] == 0:
                continue
            lo, hi = e["bounds"].get(ts_col, (None, None))
            if lo is None:
                straddling.append(f)
            elif hi < t0 or lo >= t1:
                kept.append(f)
            elif lo >= t0 and hi < t1:
                dropped.append(f)
            else:
                straddling.append(f)
        return kept, dropped, straddling

    def _splice_range(
        self,
        table: str,
        ts_col: str,
        t0: float,
        t1: float,
        df_new: DataFrame | None,
        summary: Callable[[list[str], list[str], list[str]], dict],
    ) -> tuple[int | None, list[str], list[str], list[str]]:
        """The one range rewrite: the current snapshot's rows with
        ``ts_col`` in [t0, t1) are replaced by ``df_new``'s rows
        (``-inf`` / ``inf``: an open bound). Kept files carry over,
        dropped files leave the snapshot unread, and the straddlers'
        rows outside the range are unioned with ``df_new`` and written
        as one new snapshot, validated against the base it was computed
        from (none: the table's first commit). ``df_new=None`` inserts
        nothing; then a range that neither drops nor straddles a file
        commits nothing.
        ``summary(kept, dropped, straddling)`` gives the commit summary.
        Returns (snapshot, kept, dropped, straddling)."""
        m = self._load_manifest(table)
        base = m["current"]
        files = self._snapshot_paths(m, base)
        kept, dropped, straddling = self._classify(m, files, ts_col, t0, t1)
        if df_new is None and not dropped and not straddling:
            return base, kept, dropped, straddling
        out = df_new
        if straddling:
            sdf = self._reader(m).parquet(*straddling)
            ts, mk = epoch_bound_exprs(sdf, ts_col)
            outside = ts >= mk(t1) if t1 < math.inf else F.lit(False)
            if t0 > -math.inf:
                outside = (ts < mk(t0)) | outside
            sdf = sdf.where(outside)
            out = sdf if out is None else sdf.unionByName(out)
        snap = self._commit(
            table, out, keep=kept, base=base or 0,
            summary=summary(kept, dropped, straddling),
        )
        return snap, kept, dropped, straddling

    def expire_snapshots(
        self,
        table: str,
        keep_last: int = 1,
        orphan_grace_seconds: float = 3600.0,
    ) -> dict:
        """Iceberg ``expire_snapshots`` + ``remove_orphan_files``
        analogue — the GC half of the snapshot model: compaction /
        retention / replace_range leave superseded files on disk so
        older snapshots stay readable; expiry drops all but the newest
        ``keep_last`` snapshots from the manifest and DELETES

          1. every data file referenced only by expired snapshots, and
          2. ORPHANS — data files under the table dir referenced by NO
             snapshot at all (conflict-loser writes, crashes between a
             commit and its deletes) — but only when older than
             ``orphan_grace_seconds``: an in-flight writer's
             half-written directory is not referenced yet either, and
             the age guard is what keeps the sweep from destroying it
             (Iceberg's remove_orphan_files has the same guard).

        Expired snapshots' ids and SUMMARIES are retained in the
        manifest (``retired_summaries``): the job's resume reads the
        source snapshot each tier consumed, and the source's commits
        after it, from snapshot_summaries() — a lost one would redo
        whole tiers or hide a change. Irreversible for the data files
        by design."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        with self._write_lock(table):
            m = self._load_manifest(table)
            if m["current"] is None:
                return {"expired": 0, "deleted_files": 0}
            keep = m["snapshots"][-keep_last:]
            expired = m["snapshots"][:-keep_last]
            protected = {f for s in keep for f in s["paths"]}
            doomed = {f for s in expired for f in s["paths"]} - protected
            if expired:
                # commit the shrunken manifest FIRST (still under the
                # writer lock): a crash mid-delete leaves unreferenced
                # files (orphans, collected by the next expiry's age
                # sweep), never a live snapshot with missing files
                m["retired_summaries"] += [
                    {"id": s["id"], "summary": s["summary"]} for s in expired
                ]
                m["snapshots"] = keep
                m["files"] = {f: m["files"][f] for f in sorted(protected)}
                self._commit_manifest(table, m)
        # Deletions happen OUTSIDE the writer lock, so a concurrent
        # expire (or a crash-retry overlapping a prior half-finished
        # sweep) can race on the same files: deletion must be
        # idempotent — missing file/dir means the other GC got there
        # first, which is success, not failure.
        for f in doomed:
            Path(f).unlink(missing_ok=True)
        # orphan collection: age-guarded sweep of the snap directories
        # that hold no file a retained snapshot lists
        cutoff = time.time() - orphan_grace_seconds
        n_orphans = 0
        live_dirs = {os.path.dirname(f) for f in protected}
        tdir = os.path.join(self.root, table)
        for entry in sorted(os.listdir(tdir)):
            d = os.path.join(tdir, entry)
            if not os.path.isdir(d) or d in live_dirs:
                continue
            try:
                if os.path.getmtime(d) > cutoff:
                    continue  # possibly an in-flight write — too young
            except OSError:
                continue  # vanished under a concurrent sweep
            for root, _dirs, files in os.walk(d, topdown=False):
                for f in files:
                    n_orphans += f.endswith(".parquet")
                    Path(root, f).unlink(missing_ok=True)
                try:
                    os.rmdir(root)
                except OSError:
                    pass  # concurrent sweep removed it / not yet empty
        return {
            "expired": len(expired),
            "deleted_files": len(doomed),
            "orphans_removed": n_orphans,
        }

    def compact(
        self,
        table: str,
        target_file_bytes: int = 128 * 1024 * 1024,
        sort_within: tuple[str, ...] | None = None,
    ) -> dict:
        """Small-file compaction (the Iceberg ``rewrite_data_files``
        analogue). Every incremental append writes its own files, so a
        long-running tier job accumulates thousands of under-sized
        files — the classic operational killer at 100 TB (open/seek
        cost per file dominates the scan). Files under half the target
        size are read back, bin-packed to ~target-size outputs
        (repartition to ceil(bytes/target)), and committed as a new
        snapshot; full-size files carry over untouched. Old snapshots
        keep referencing the old files (time travel preserved, as with
        prune_older_than).

        ``sort_within`` re-sorts each output file (rollup tables pass
        ('series_id', 'window_start') to keep the O1 series-major
        monotone layout parquet delta encoding and the codec rely on —
        a bare round-robin repartition would interleave series).
        Returns {files_in, files_out, bytes, snapshot} — a no-op
        (<=1 small file) commits nothing."""
        m = self._load_manifest(table)
        if m["current"] is None:
            return {"snapshot": None, "files_in": 0, "files_out": 0, "bytes": 0}
        files = self._snapshot_paths(m, m["current"])
        size = {f: m["files"][f]["bytes"] for f in files}
        small = [f for f in files if size[f] < target_file_bytes // 2]
        keep = [f for f in files if size[f] >= target_file_bytes // 2]
        total = sum(size[f] for f in small)
        if len(small) <= 1:
            return {
                "snapshot": m["current"],
                "files_in": len(small),
                "files_out": len(small),
                "bytes": total,
            }
        n_out = max(1, -(-total // target_file_bytes))
        packed = self._reader(m).parquet(*small).repartition(n_out)
        if sort_within:
            packed = packed.sortWithinPartitions(*sort_within)
        stats = {
            "files_in": len(small), "files_out": int(n_out), "bytes": int(total)
        }
        snap = self._commit(
            table, packed, keep=keep, base=m["current"],
            summary={"compaction": stats},
        )
        return {"snapshot": snap, **stats}

    def replace_range(
        self,
        table: str,
        ts_col: str,
        t0_epoch: int,
        t1_epoch: float,
        df_new: DataFrame,
        summary: dict | None = None,
    ) -> dict:
        """Surgical time-range replacement (the Iceberg
        overwrite-by-filter analogue) — the tier write: rows with
        ``ts_col`` in [t0, t1) (open at +-inf) are replaced by
        ``df_new``'s rows. Metadata-first (``_classify``): files whose
        recorded footer [min, max] is DISJOINT from the range carry over
        without being read (``files_kept``), files wholly inside it
        leave the snapshot unread (``files_dropped``), and only
        range-straddling files are scanned and rewritten with the range
        filtered out (``files_rewritten``); df_new's rows are written
        alongside. One atomic manifest swap, recording ``summary``."""

        def commit_summary(kept, dropped, straddling):
            return {**(summary or {}), "replace_range": {
                "ts_col": ts_col, "t0": t0_epoch, "t1": t1_epoch,
                "files_kept": len(kept), "files_rewritten": len(straddling),
                "files_dropped": len(dropped),
            }}

        snap, kept, dropped, straddling = self._splice_range(
            table, ts_col, t0_epoch, t1_epoch, df_new, commit_summary
        )
        return {
            "snapshot": snap,
            "files_kept": len(kept),
            "files_rewritten": len(straddling),
            "files_dropped": len(dropped),
        }

    def prune_older_than(self, table: str, ts_col: str, cutoff_epoch: int) -> dict:
        """Retention as a metadata-first operation (the Iceberg
        partition-drop analogue): the range splice over
        [-inf, cutoff) with nothing to insert. Files entirely older
        than the cutoff leave the new snapshot without being read or
        rewritten, files entirely newer carry over untouched, and only
        straddling files are scanned and rewritten with the filter
        applied. Nothing to drop or rewrite commits nothing.

        Dropped files stay on disk because older snapshots still
        reference them (Iceberg keeps them until expire_snapshots);
        the new current snapshot simply stops listing them.

        ``rows`` is the current snapshot's row count after the prune,
        summed from the manifest's file entries (no Spark job)."""

        def summary(kept, dropped, straddling):
            return {
                "retention_cutoff": cutoff_epoch,
                "files_dropped": len(dropped),
                "files_rewritten": len(straddling),
            }

        snap, kept, dropped, straddling = self._splice_range(
            table, ts_col, -math.inf, cutoff_epoch, None, summary
        )
        m = self._load_manifest(table)
        return {"snapshot": snap, "dropped": dropped, "kept": kept,
                "rewritten": straddling,
                "rows": sum(m["files"][f]["rows"]
                            for f in self._snapshot_paths(m, m["current"]))}


def epoch_bound_exprs(df: "DataFrame", ts_col: str):
    """(lhs, mk_lit) pieces for epoch-seconds range predicates on
    ``ts_col``, pushdown-friendly where possible (r6, guide §6.2).

    For a TimestampType column the comparison stays on the RAW column
    against a foldable timestamp literal, so parquet footer/row-group
    pruning applies at the scan; wrapping the column in
    unix_timestamp() (the old form) blocks pushdown entirely. Exact
    equivalence: unix_timestamp floors to whole seconds, and for any t
    and integer bound s, floor(t) >= s <=> t >= s and
    floor(t) < s <=> t < s — identical rows kept. Non-timestamp
    columns (string ts etc.) keep the unix_timestamp parse."""
    if dict(df.dtypes).get(ts_col) == "timestamp":
        return F.col(ts_col), lambda s: F.timestamp_seconds(F.lit(s))
    return F.unix_timestamp(F.col(ts_col)), lambda s: F.lit(s)


def _nullable(schema: StructType) -> StructType:
    """``schema`` as the parquet reader infers it back: every field,
    element and map value nullable (Spark's ``asNullable``)."""

    def go(t: DataType) -> DataType:
        if isinstance(t, StructType):
            return StructType([
                StructField(f.name, go(f.dataType), True, f.metadata)
                for f in t.fields
            ])
        if isinstance(t, ArrayType):
            return ArrayType(go(t.elementType), True)
        if isinstance(t, MapType):
            return MapType(go(t.keyType), go(t.valueType), True)
        return t

    return go(schema)


def _check_schema(table: str, recorded: dict | None, schema: StructType) -> None:
    """ValueError when ``schema`` differs from the recorded table
    schema in a field name or type (order and nullability ignored):
    files of two schemas would read back with whichever one the reader
    took. A new table (no recorded schema) accepts any."""
    if recorded is None:
        return

    def shape(s: StructType) -> dict[str, str]:
        return {f.name: f.dataType.simpleString() for f in s.fields}

    old = shape(StructType.fromJson(recorded))
    if shape(schema) != old:
        raise ValueError(
            f"{table}: frame schema {shape(schema)} does not match the "
            f"table's recorded schema {old}"
        )


def _footer_entry(path: str, ts_cols: list[str]) -> dict:
    """A data file's manifest entry from its parquet footer: ``rows``,
    ``bytes`` and ``bounds`` ([min, max] of each of ``ts_cols``). The
    one place that opens a footer, once per file the commit wrote."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    return {
        "rows": md.num_rows,
        "bytes": os.path.getsize(path),
        "bounds": {c: list(_footer_min_max(md, c)) for c in ts_cols},
    }


def _footer_min_max(md, col_name: str) -> tuple[float | None, float | None]:
    """(min, max) of a column across a file's row groups, in epoch
    seconds, from the footer statistics in ``md`` (a pyarrow
    FileMetaData) only. (None, None) when stats are unavailable —
    callers must treat that as 'could contain anything' and rewrite."""
    names = md.schema.names
    if col_name not in names:
        return None, None
    ci = names.index(col_name)
    lo = hi = None
    for rg in range(md.num_row_groups):
        st = md.row_group(rg).column(ci).statistics
        if st is None or not st.has_min_max:
            return None, None
        mn, mx = _stat_epoch(st.min), _stat_epoch(st.max)
        lo = mn if lo is None else min(lo, mn)
        hi = mx if hi is None else max(hi, mx)
    return lo, hi


def _stat_epoch(v) -> float:
    from datetime import datetime, timezone

    if isinstance(v, datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=timezone.utc)
        return v.timestamp()
    return float(v)


# ------------------------------------------------------------ real Iceberg


def iceberg_available(spark: SparkSession) -> bool:
    """True when the Iceberg Spark runtime jar is on the classpath."""
    try:
        spark._jvm.java.lang.Class.forName(  # type: ignore[union-attr]
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


def make_store(
    spark: SparkSession,
    root: str,
    catalog: str = "rollup_cat",
    namespace: str = "rollup",
):
    """Backend factory: a real Iceberg catalog when the runtime jar is
    present (cluster deployments), the manifest store otherwise (this
    sandbox ships no Iceberg jar — SURVEY.md Appendix A). Both expose
    the identical surface, so callers (plans/job.py, jobs/run_rollup.py)
    never branch."""
    if iceberg_available(spark):
        return IcebergStore(spark, catalog=catalog, namespace=namespace, root=root)
    return ManifestStore(spark, root)


class IcebergStore:
    """ManifestStore's surface over a real Iceberg catalog.

    Mapping of the snapshot model:
      append()            -> df.writeTo(t).append() with
                             snapshot-property.* write options carrying
                             the commit summary (resume markers commit
                             ATOMICALLY with the data, same as the
                             manifest swap)
      current_snapshot()  -> latest snapshot_id from the t.snapshots
                             metadata table (ids are random longs, not
                             sequential — resume only needs equality)
      read(snapshot_id)   -> spark.read.option('snapshot-id', ...)
      read_snapshot_delta -> incremental append scan
                             (start-snapshot-id = parent, end = snap)
      prune_older_than    -> DELETE WHERE ts < cutoff: Iceberg drops
                             whole data files by column stats and
                             rewrites only straddlers — the same
                             file-granularity behavior ManifestStore
                             implements by hand over parquet footers
      replace_range       -> writeTo(t).overwrite(cond), the
                             overwrite-by-filter the splice mirrors

    Requires a configured catalog, e.g.::

        spark.sql.catalog.rollup_cat = org.apache.iceberg.spark.SparkCatalog
        spark.sql.catalog.rollup_cat.type = hadoop
        spark.sql.catalog.rollup_cat.warehouse = <root>

    Untestable in this sandbox (no jar) — exercised by
    tests/test_store_backends.py, which skips when the probe fails.
    """

    def __init__(
        self,
        spark: SparkSession,
        catalog: str = "rollup_cat",
        namespace: str = "rollup",
        root: str | None = None,
    ):
        self.spark = spark
        self.catalog = catalog
        self.namespace = namespace
        if root and not spark.conf.get(f"spark.sql.catalog.{catalog}", None):
            spark.conf.set(
                f"spark.sql.catalog.{catalog}",
                "org.apache.iceberg.spark.SparkCatalog",
            )
            spark.conf.set(f"spark.sql.catalog.{catalog}.type", "hadoop")
            spark.conf.set(f"spark.sql.catalog.{catalog}.warehouse", root)
        spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {catalog}.{namespace}")

    def _qual(self, table: str) -> str:
        return f"{self.catalog}.{self.namespace}.{table}"

    # ------------------------------------------------------------- surface

    def exists(self, table: str) -> bool:
        return self.spark.catalog.tableExists(self._qual(table))

    def current_snapshot(self, table: str) -> int | None:
        if not self.exists(table):
            return None
        # the main branch ref IS the current snapshot — exact even when
        # two commits land in the same committed_at millisecond (the
        # create+append pair in append() does exactly that), where an
        # ORDER BY committed_at could return the wrong id
        row = self.spark.sql(
            f"SELECT snapshot_id FROM {self._qual(table)}.refs "
            "WHERE name = 'main'"
        ).first()
        if row is not None:
            return int(row.snapshot_id)
        row = self.spark.sql(
            f"SELECT snapshot_id FROM {self._qual(table)}.snapshots "
            "ORDER BY committed_at DESC LIMIT 1"
        ).first()
        return int(row.snapshot_id) if row else None

    def _writer(self, table: str, df: DataFrame, summary: dict | None):
        """``df.writeTo`` the table (created if missing), ``summary`` as
        snapshot properties."""
        q = self._qual(table)
        if not self.exists(table):
            # create from the schema alone: running df's own plan here
            # would also complete any Observation attached to df (with
            # empty metrics) before the real write below
            self.spark.createDataFrame([], df.schema).writeTo(q).create()
        w = df.writeTo(q)
        for k, v in (summary or {}).items():
            w = w.option(f"snapshot-property.{k}", json.dumps(v))
        return w

    def append(self, table: str, df: DataFrame, summary: dict | None = None) -> int:
        self._writer(table, df, summary).append()
        snap = self.current_snapshot(table)
        assert snap is not None
        return snap

    def snapshot_summaries(self, table: str) -> list[dict]:
        if not self.exists(table):
            return []
        out = []
        for r in self.spark.sql(
            f"SELECT snapshot_id, summary FROM {self._qual(table)}.snapshots "
            "ORDER BY committed_at"
        ).collect():
            d: dict = {"id": int(r.snapshot_id)}
            for k, v in (r.summary or {}).items():
                try:
                    d[k] = json.loads(v)
                except (ValueError, TypeError):
                    d[k] = v
            out.append(d)
        return out

    def read(
        self, table: str, snapshot_id: int | None = None, schema: str | None = None
    ) -> DataFrame:
        if not self.exists(table):
            if schema is None:
                raise KeyError(f"table {table} is empty and no schema given")
            return self.spark.createDataFrame([], schema)
        r = self.spark.read
        if snapshot_id is not None:
            r = r.option("snapshot-id", str(snapshot_id))
        return r.table(self._qual(table))

    def read_snapshot_delta(self, table: str, snap_id: int) -> DataFrame:
        row = self.spark.sql(
            f"SELECT parent_id FROM {self._qual(table)}.snapshots "
            f"WHERE snapshot_id = {snap_id}"
        ).first()
        if row is None:
            raise KeyError(f"snapshot {snap_id} not found")
        r = self.spark.read.format("iceberg").option("end-snapshot-id", str(snap_id))
        if row.parent_id is not None:
            r = r.option("start-snapshot-id", str(int(row.parent_id)))
            return r.load(self._qual(table))
        return self.spark.read.option("snapshot-id", str(snap_id)).table(
            self._qual(table)
        )

    def prune_older_than(self, table: str, ts_col: str, cutoff_epoch: int) -> dict:
        from datetime import datetime, timezone

        # compare the RAW column against a timestamp literal: wrapping
        # the column in unix_timestamp() would make the predicate
        # non-evaluable against Iceberg's file column stats, degrading
        # the metadata-only file drop into a full copy-on-write rewrite
        cutoff = datetime.fromtimestamp(cutoff_epoch, tz=timezone.utc).strftime(
            "%Y-%m-%d %H:%M:%S"
        )
        self.spark.sql(
            f"DELETE FROM {self._qual(table)} "
            f"WHERE {ts_col} < TIMESTAMP '{cutoff}'"
        )
        return {
            "snapshot": self.current_snapshot(table),
            "dropped": [],  # Iceberg handles file classification itself
            "kept": [],
            "rewritten": [],
            # the DELETE reports no count: the table is counted
            "rows": self.read(table).count(),
        }

    def expire_snapshots(
        self,
        table: str,
        keep_last: int = 1,
        orphan_grace_seconds: float = 3600.0,
    ) -> dict:
        """Snapshot GC via Iceberg's stored procedures (same result
        shape as ManifestStore.expire_snapshots; the snapshot count is
        measured as before-minus-after since the procedure reports
        files). Iceberg retains snapshot summary metadata through
        expiry on its own, so resume markers survive here natively.
        Orphan collection runs as Iceberg's separate
        remove_orphan_files procedure. DIVERGENCE from ManifestStore:
        Iceberg's RemoveOrphanFilesProcedure rejects intervals under
        24 hours (IllegalArgumentException, bypassable only via
        spark.testing or the Action API), so the cutoff here is
        clamped to max(orphan_grace_seconds, 86400) — the manifest
        backend honors the raw parameter, this backend never sweeps
        files younger than a day."""
        from datetime import datetime, timedelta, timezone

        before = len(self.snapshot_summaries(table))
        now_dt = datetime.now(tz=timezone.utc)
        now = now_dt.strftime("%Y-%m-%d %H:%M:%S")
        row = self.spark.sql(
            f"CALL {self.catalog}.system.expire_snapshots("
            f"table => '{self.namespace}.{table}', "
            f"older_than => TIMESTAMP '{now}', "
            f"retain_last => {int(keep_last)})"
        ).collect()[0]
        after = len(self.snapshot_summaries(table))
        orphan_cutoff = (
            now_dt - timedelta(seconds=max(orphan_grace_seconds, 86400.0))
        ).strftime("%Y-%m-%d %H:%M:%S")
        orow = self.spark.sql(
            f"CALL {self.catalog}.system.remove_orphan_files("
            f"table => '{self.namespace}.{table}', "
            f"older_than => TIMESTAMP '{orphan_cutoff}')"
        ).collect()
        return {
            "expired": max(0, before - after),
            "deleted_files": int(row["deleted_data_files_count"]),
            "orphans_removed": len(orow),
        }

    def compact(
        self,
        table: str,
        target_file_bytes: int = 128 * 1024 * 1024,
        sort_within: tuple[str, ...] | None = None,
    ) -> dict:
        """Small-file compaction via Iceberg's stored procedure —
        bin-packs under-sized data files to the target size, same
        semantics as ManifestStore.compact. ``sort_within`` selects
        the 'sort' rewrite strategy so output files keep the
        series-major layout."""
        strategy = ""
        if sort_within:
            order = ", ".join(sort_within)
            strategy = f"strategy => 'sort', sort_order => '{order}', "
        row = self.spark.sql(
            f"CALL {self.catalog}.system.rewrite_data_files("
            f"table => '{self.namespace}.{table}', {strategy}"
            f"options => map('target-file-size-bytes', "
            f"'{int(target_file_bytes)}'))"
        ).collect()[0]
        return {
            "snapshot": self.current_snapshot(table),
            "files_in": int(row["rewritten_data_files_count"]),
            "files_out": int(row["added_data_files_count"]),
            "bytes": int(row["rewritten_bytes_count"]),
        }

    def replace_range(
        self,
        table: str,
        ts_col: str,
        t0_epoch: int,
        t1_epoch: float,
        df_new: DataFrame,
        summary: dict | None = None,
    ) -> dict:
        """Range replacement via Iceberg overwrite-by-filter
        (`writeTo(...).overwrite(cond)`): Iceberg classifies data files
        against the predicate with its column stats — disjoint files
        carry over untouched, straddlers rewrite — exactly the
        footer-based behavior ManifestStore.replace_range hand-rolls.
        Creates a missing table and records ``summary`` as append does."""
        ts, cond = F.col(ts_col), F.lit(True)
        if t0_epoch > -math.inf:
            cond = ts >= F.timestamp_seconds(F.lit(t0_epoch))
        if t1_epoch < math.inf:
            cond = cond & (ts < F.timestamp_seconds(F.lit(t1_epoch)))
        self._writer(table, df_new, summary).overwrite(cond)
        return {
            "snapshot": self.current_snapshot(table),
            "files_kept": -1,  # Iceberg classifies internally
            "files_rewritten": -1,
        }
