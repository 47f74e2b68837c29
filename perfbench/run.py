#!/usr/bin/env python3
"""End-to-end benchmark of the rollup engine's production job, its
read side and its late-data maintenance, at local[nproc].

    python3 perfbench/run.py --workload <query_mix|maintenance> \\
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The last line of stdout is one JSON
object {"correct", "attempted", "failed", "metrics"}: the end-to-end
metrics with --trace 0, the per-layer metrics with --trace 1 (see
perfbench/README.md for what each measures and why). Everything the
run writes goes under .perfbench_work/ (removed at exit) and the span
dump under .perfbench_out/.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import random
import shutil
import signal
import sys
import time
from contextlib import contextmanager
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

from stats import Ledger, inclusive, median, self_time, tail_percentile  # noqa: E402
from tracing import RssSampler, Tracer, descendants  # noqa: E402

#: fixed JVM heap, pre-touched at start: sized for a 15 GB box that
#: other jobs share (get_spark's 24g default would not fit)
HEAP = "4g"
#: input sequences per workload; each sequence is 6 points
SEQUENCES = {"query_mix": 25_000, "maintenance": 25_000}
#: query_mix sends this many requests per second of --seconds; one
#: request takes ~0.5 s here, so the loop lasts about --seconds
REQUESTS_PER_SECOND = 2
#: late batch: candidate doc_ids drawn after the base range, as a share
#: of the base; ~1/10 of them fall in the 3-day late range
LATE_CANDIDATES = 0.2
#: maintenance times one warm night per this many seconds of --seconds;
#: a warm night takes about this long here
NIGHT_SECONDS = 8
BASE = 1704067200  # config.EPOCH_BASE_SECONDS
DAY = 86400
TIERS = ("1m", "1h", "1d")

E2E = {
    "setup_s": "s", "peak_rss_mb": "MB", "points_per_s": "1/s",
    "bytes_per_point": "B/point", "store_bytes_per_point": "B/point",
    "window_s": "s",
}


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


# -------------------------------------------------------------- session


def start_session(work: Path, cores: int):
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [os.getcwd(), os.environ.get("PYTHONPATH", "")]).rstrip(os.pathsep)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ.pop("SPARK_DRIVER_JAVA_OPTS", None)
    for d in ("spark-local", "tmp"):
        (work / d).mkdir(parents=True, exist_ok=True)
    from opentsdb_rollup_rust_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": HEAP,
            "spark.driver.extraJavaOptions": (
                f"-XX:+UseG1GC -Xms{HEAP} -XX:+AlwaysPreTouch "
                f"-Djava.io.tmpdir={work / 'tmp'}"),
            "spark.local.dir": str(work / "spark-local"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it launched, then wait for every
    process of the tree (the Python worker daemon exits with the JVM)."""
    from pyspark import SparkContext

    kids = descendants(os.getpid())
    gateway = SparkContext._gateway
    try:
        spark.stop()
    except Exception as e:  # an interrupted gateway must not keep the JVM alive
        log(f"spark.stop failed: {e!r}")
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while kids and time.monotonic() < deadline:
        kids = {p for p in kids if Path(f"/proc/{p}").exists()}
        time.sleep(0.1)
    for p in kids:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def quiesce(spark) -> None:
    """Collect garbage on both sides before a timed window."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def jvm_gc_ms(spark) -> int:
    """Total collection time of every JVM garbage collector so far."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(beans.get(i).getCollectionTime() for i in range(beans.size()))


# ----------------------------------------------------------------- store


def data_files(root: Path) -> dict[str, int]:
    return {str(p): p.stat().st_size for p in root.rglob("*.parquet")}


def store_bytes(root: Path, prefixes=("rollup_", "chunks_")) -> int:
    return sum(p.stat().st_size for p in root.rglob("*.parquet")
               if p.relative_to(root).parts[0].startswith(prefixes))


class Run:
    """One benchmark run: its session, store, ledger, tracer and the
    measurements that become metrics."""

    def __init__(self, args, work: Path):
        self.args = args
        self.work = work
        self.cores = len(os.sched_getaffinity(0))
        self.rng = random.Random(args.seed)
        self.offset = (args.seed % 100_000) * 10_000_000
        self.n_seq = SEQUENCES[args.workload]
        self.ledger = Ledger()
        self.m: dict[str, float] = {}
        self.setup_s = 0.0
        self.window_s = 0.0
        self.window_ops: list = []
        #: data files the store wrote: by the job, and by maintenance
        self.written: dict[str, int] = {}
        self.maint_written: dict[str, int] = {}
        self.backfills: list[dict] = []
        #: timed maintenance nights (maint.write_mb is per night)
        self.maint_nights = 1
        #: (kind, seconds) of the read probe in traced maintenance runs
        self.read_probe: list[tuple[str, float]] = []
        #: JVM GC time inside the job and the timed window
        self.gc_ms = 0

    # ---- set-up shared by both workloads

    def open(self) -> None:
        from opentsdb_rollup_rust_spark.sources.store import ManifestStore
        from opentsdb_rollup_rust_spark.sources.synth import synth_sequences

        t = time.monotonic()
        self.spark = start_session(self.work, self.cores)
        self.setup_s += time.monotonic() - t
        self.tracer = Tracer(self.spark, bool(self.args.trace))
        self.store_root = self.work / "store"
        self.store = ManifestStore(self.spark, str(self.store_root))
        # benchmark-side input generation: not part of setup_s
        self.store.append("sequences", synth_sequences(
            self.spark, self.n_seq, partitions=self.cores, doc_offset=self.offset))
        self.input_files = set(data_files(self.store_root))
        self._wrap()

    def _wrap(self) -> None:
        from opentsdb_rollup_rust_spark.plans import job

        tr = self.tracer
        tr.wrap(job, "run_rollup_job", lambda spark, store, tier, **kw: f"job.tier_{tier}")

        def append_name(table, *a, **kw):
            kind = ("rollup" if table.startswith("rollup_") else
                    "chunks" if table.startswith("chunks_") else
                    "report" if table in ("lineage", "metrics") else table)
            return f"store.append_{kind}"

        st = self.store
        tr.wrap(st, "append", append_name)
        tr.wrap(st, "read", "store.read")
        tr.wrap(st, "read_snapshot_delta", "store.read")
        tr.wrap(st, "replace_range", "store.replace_range")
        tr.wrap(st, "prune_older_than", "store.prune")
        tr.wrap(st, "compact", "store.compact")
        tr.wrap(st, "expire_snapshots", "store.expire")

    def build(self) -> None:
        """The production job over the input: timed as points_per_s and
        counted in setup_s (it builds the store the workload uses)."""
        from opentsdb_rollup_rust_spark.plans.job import run_cascade

        quiesce(self.spark)
        gc0 = jvm_gc_ms(self.spark)
        with self.tracer.span("job.cascade"):
            op = self.ledger.run("run_cascade", "job", run_cascade, self.spark, self.store)
        self.gc_ms += jvm_gc_ms(self.spark) - gc0
        self.setup_s += op.seconds
        self.job_op = op
        self.m["points_per_s"] = 6 * self.n_seq / op.seconds
        self.written.update({p: n for p, n in data_files(self.store_root).items()
                             if p not in self.input_files})
        self.m["store_bytes_per_point"] = store_bytes(self.store_root) / (6 * self.n_seq)
        # the job's own compression stat: enc_bytes / points over chunks_1m
        self.m["bytes_per_point"] = next(
            j.bytes_per_point for j in op.result if j.tier == "1m")

    @contextmanager
    def window(self):
        """The timed window: garbage collected before, process-tree
        memory sampled during."""
        quiesce(self.spark)
        gc0 = jvm_gc_ms(self.spark)
        with RssSampler() as rss:
            t = time.monotonic()
            yield
            self.window_s = time.monotonic() - t
        self.peak_kb = rss.peak_kb
        self.gc_ms += jvm_gc_ms(self.spark) - gc0

    def timed(self, name: str, kind: str, fn, *a, **kw):
        with self.tracer.span(name):
            op = self.ledger.run(name, kind, fn, *a, **kw)
        self.window_ops.append(op)
        return op

    def close(self) -> None:
        stop_session(self.spark)


# ----------------------------------------------------------- maintenance


def run_maintenance(r: Run) -> None:
    """The nightly sequence of jobs/run_rollup.py's maintenance flags
    over a store the production job built in set-up: one untimed
    warm-up night, then the timed nights. Each night appends its own
    late batch for a seeded 3-day range inside the week the 1m tier
    keeps, so every night does the same work and every repair is still
    in the store for the gate."""
    from opentsdb_rollup_rust_spark.operators.points import event_time
    from opentsdb_rollup_rust_spark.plans.job import apply_retention, backfill_tier
    from opentsdb_rollup_rust_spark.sources.synth import synth_sequences
    from pyspark.sql import functions as F

    spark, store = r.spark, r.store
    now = BASE + 31 * DAY  # horizon end + 1 day: the 1m tier keeps days 24-30
    n_timed = max(1, round(r.args.seconds / NIGHT_SECONDS))
    candidates = int(r.n_seq * LATE_CANDIDATES)
    ev = F.unix_timestamp(event_time("doc_id"))
    nights = []
    for k in range(1 + n_timed):
        d0 = r.rng.randrange(24, 28)
        t0, t1 = BASE + d0 * DAY, BASE + (d0 + 3) * DAY
        # benchmark-side input generation: this night's block of doc_ids
        # after the base range, kept where the event time is in [t0, t1)
        path = str(r.work / f"late-{k}")
        synth_sequences(spark, candidates, doc_offset=r.offset + r.n_seq + k * candidates).where(
            (ev >= t0) & (ev < t1)).write.parquet(path)
        nights.append((path, t0, t1))
    r.build()

    def untimed(name, kind, fn):
        with r.tracer.span(f"warmup.{name}"):
            return r.ledger.run(name, kind, fn)

    def night(path: str, t0: int, t1: int, timed: bool) -> None:
        record = r.timed if timed else untimed
        steps = [("late_append", lambda: store.append("sequences", spark.read.parquet(path)))]
        steps += [(f"backfill_{tr}", lambda tr=tr: backfill_tier(spark, store, tr, t0, t1))
                  for tr in TIERS]
        steps += [(f"retention_{tr}", lambda tr=tr: apply_retention(spark, store, tr, now))
                  for tr in TIERS]
        steps += [("compact_1m", lambda: store.compact(
            "rollup_1m", sort_within=("series_id", "window_start")))]
        steps += [("expire", lambda: [store.expire_snapshots(f"{kind}_{tr}", keep_last=1)
                                      for tr in TIERS for kind in ("rollup", "chunks")])]
        before = data_files(r.store_root)
        for name, fn in steps:
            op = record(f"maint.{name}", "maintenance", fn)
            if name.startswith("backfill_") and op.ok and timed:
                r.backfills.append(op.result)
            # after every step: expiry deletes files written earlier
            new = {p: n for p, n in data_files(r.store_root).items() if p not in before}
            r.written.update(new)
            if timed:
                r.maint_written.update(new)

    t = time.monotonic()
    night(*nights[0], timed=False)
    r.setup_s += time.monotonic() - t
    walls = []
    with r.window():
        for path, t0, t1 in nights[1:]:
            t = time.monotonic()
            night(path, t0, t1, timed=True)
            walls.append(time.monotonic() - t)
    r.window_s = median(walls)
    r.maint_nights = n_timed
    r.retention_now = now


def gate_maintenance(r: Run) -> None:
    """After maintenance every tier equals a fresh rollup of base + late
    input, over the windows retention keeps, and every chunk table
    decodes to its tier. This covers the job outside the late range and
    the repair inside it."""
    from gate import check_store
    from opentsdb_rollup_rust_spark.config import DEFAULT_TIERS

    cutoffs = {t: (r.retention_now - s.retention_seconds if s.retention_seconds else None)
               for t, s in DEFAULT_TIERS.items()}
    bad = check_store(r.store, cutoffs)
    if bad:
        r.ledger.fail(r.ledger.of_kind("job", "maintenance"), bad)


# ------------------------------------------------------------- query_mix


def run_query_mix(r: Run) -> None:
    """One closed-loop client over a store built in set-up: each request
    is sent after the previous result was collected into this process."""
    import reqmix
    from gate import tagged_tables

    r.build()
    t = time.monotonic()
    r.points_path, r.tier_path = tagged_tables(r.spark, r.store, r.work)
    r.run_query = load_run_query()
    # untimed warm-up: one request of each kind
    warm = random.Random(r.args.seed + 1)
    for kind, _ in reqmix.MIX:
        execute(r, reqmix.draw(warm, kind))
    r.setup_s += time.monotonic() - t

    todo = reqmix.plan(r.rng, REQUESTS_PER_SECOND * r.args.seconds)
    r.requests = []
    with r.window():
        for q in todo:
            r.requests.append((q, r.timed(f"read.{q.kind}", q.kind, execute, r, q)))


def load_run_query():
    import importlib.util

    spec = importlib.util.spec_from_file_location("run_query", Path("jobs/run_query.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def execute(r: Run, q):
    """Send one request through the engine's public read calls and
    collect the full result into this process."""
    from opentsdb_rollup_rust_spark.codec.gorilla import pruned_read
    from opentsdb_rollup_rust_spark.plans.tier_router import read_rollup
    from pyspark.sql import functions as F

    if q.kind == "rollup":
        mode, key = q.series
        pred = (None if mode == "all" else
                F.col("series_id").startswith(key + ":") if mode == "source" else
                F.col("series_id") == key)
        df = read_rollup(r.store, q.resolution,
                         F.timestamp_seconds(F.lit(q.t0)), F.timestamp_seconds(F.lit(q.t1)),
                         series_predicate=pred, fill=q.fill)
    elif q.kind == "decode":
        df = pruned_read(r.store.read(q.table), q.t0, q.t1)
    else:
        args = argparse.Namespace(
            points=r.points_path, qs=q.qs, json=None, json_file=None,
            tier=[f"{r.tier_path}:1h"] if q.tier else None,
            metric_col="metric", tags_col="tags", ts_col="ts", value_col="value")
        df = r.run_query.run(r.spark, args)
    return df.toPandas()


def gate_query_mix(r: Run) -> None:
    """Every request's result equals a pandas recompute from the raw
    tagged points (derived with the reference impl="sql" derive). The
    reads cover every rollup tier and the 1m/1h chunk tables, so this
    also checks the job that built the store."""
    import reqmix
    from gate import compare, raw_points

    raw, chunks_meta = raw_points(r.spark, r.points_path, r.store)
    scanned = returned = decoded = kept = 0
    for q, op in r.requests:
        if not op.ok:
            continue
        if q.kind == "rollup":
            want, n = reqmix.expect_rollup(raw, q)
        elif q.kind == "decode":
            want, n = reqmix.expect_decode(raw, q, chunks_meta)
            decoded, kept = decoded + n, kept + len(op.result)
        else:
            want, n = reqmix.expect_api(raw, q)
        scanned, returned = scanned + n, returned + len(op.result)
        why = compare(reqmix.normalize(q.kind, op.result), want)
        if why is None and q.kind == "rollup" and not reqmix.rollup_avg_ok(op.result):
            why = "avg != sum/count"
        if why:
            r.ledger.fail([op], f"{q}: {why}")
    r.read_ratio = scanned / max(returned, 1)
    r.decode_counts = (decoded, kept)


# --------------------------------------------------------------- metrics


def e2e_metrics(r: Run) -> dict[str, float]:
    return {
        "setup_s": r.setup_s,
        "peak_rss_mb": r.peak_kb / 1024.0,
        "points_per_s": r.m["points_per_s"],
        "bytes_per_point": r.m["bytes_per_point"],
        "store_bytes_per_point": r.m["store_bytes_per_point"],
        "window_s": r.window_s,
    }


PER_LAYER_UNITS = {
    "job.tier_1m_s": "s", "job.tier_1h_s": "s", "job.tier_1d_s": "s",
    "job.bookkeeping_s": "s",
    "store.append_rollup_s": "s", "store.append_chunks_s": "s",
    "store.append_report_s": "s", "store.commits": "count",
    "store.files_written": "count", "store.bytes_written": "B",
    "store.replace_range_s": "s", "store.prune_s": "s", "store.compact_s": "s",
    "store.expire_s": "s", "store.files_rewritten": "count",
    "store.files_kept": "count", "store.read_s": "s",
    "rollup.derive_agg_s": "s", "rollup.cascade_s": "s",
    "gorilla.encode_s": "s", "gorilla.points_encoded": "count",
    "gorilla.decode_s": "s", "gorilla.points_decoded": "count",
    "gorilla.points_kept_frac": "ratio",
    "read.rollup_p50_s": "s", "read.decode_p50_s": "s",
    "read.api_query_p50_s": "s", "read.query_p50_s": "s",
    "read.rows_scanned_per_row_returned": "ratio",
    "maint.write_mb": "MB",
    "spark.executor_run_s": "s", "spark.cpu_s": "s", "spark.gc_s": "s",
    "spark.shuffle_read_mb": "MB", "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB", "spark.stages": "count", "spark.tasks": "count",
    "spark.idle_core_frac": "ratio",
    "trace.overhead_s": "s", "trace.overhead_frac": "ratio",
    "traced.points_per_s": "1/s", "traced.window_s": "s",
}


def probe_maintenance(r: Run) -> None:
    """Traced query_mix runs: one pass of the maintenance layers (a
    1-day 1m backfill, retention, compaction, expiry) over the store, so
    every per-layer metric is measured in every traced run."""
    from opentsdb_rollup_rust_spark.plans.job import apply_retention, backfill_tier

    before = data_files(r.store_root)
    with r.tracer.span("probe.maintenance"):
        r.backfills.append(backfill_tier(r.spark, r.store, "1m", BASE + 10 * DAY, BASE + 11 * DAY))
        apply_retention(r.spark, r.store, "1m", BASE + 31 * DAY)
        r.store.compact("rollup_1m", sort_within=("series_id", "window_start"))
        r.store.expire_snapshots("rollup_1m", keep_last=1)
    r.maint_written.update({p: n for p, n in data_files(r.store_root).items() if p not in before})


def probe_reads(r: Run) -> None:
    """Traced maintenance runs: one request of each kind over the
    maintained store, for the same reason."""
    import reqmix
    from gate import tagged_tables

    r.points_path, r.tier_path = tagged_tables(r.spark, r.store, r.work)
    r.run_query = load_run_query()
    rng = random.Random(r.args.seed)
    with r.tracer.span("probe.reads"):
        for kind, _ in reqmix.MIX:
            t = time.perf_counter()
            execute(r, reqmix.draw(rng, kind))
            r.read_probe.append((kind, time.perf_counter() - t))


def probes(r: Run) -> dict[str, float]:
    """Layers forced alone, after the gate: the base-tier derive+agg,
    the 1h/1d cascade and the Gorilla encode of the stored 1m tier."""
    from opentsdb_rollup_rust_spark.codec.gorilla import encode_chunks
    from opentsdb_rollup_rust_spark.operators.rollup import cascade_reagg, fused_tier_rollup

    def force(df) -> float:
        t = time.monotonic()
        df.write.format("noop").mode("overwrite").save()
        return time.monotonic() - t

    m1 = r.store.read("rollup_1m").drop("bucket")
    return {
        "rollup.derive_agg_s": force(fused_tier_rollup(r.store.read("sequences"), "1m", salts=8)),
        "rollup.cascade_s": force(cascade_reagg(m1, "1h")) + force(cascade_reagg(m1, "1d")),
        "gorilla.encode_s": force(encode_chunks(m1, "1m", 4096)),
        "gorilla.points_encoded": 4 * m1.count(),
    }


def per_layer_metrics(r: Run, e2e: dict) -> dict[str, float]:
    tr = r.tracer
    tr.fold()
    spans = tr.spans

    def total(name: str) -> float:
        return sum(s.end - s.start for s in spans if s.name == name)

    out = {f"job.tier_{t}_s": total(f"job.tier_{t}") for t in TIERS}
    out["job.bookkeeping_s"] = sum(self_time(spans, i) for i, s in enumerate(spans)
                                   if s.name.startswith("job.tier_"))
    for k in ("append_rollup", "append_chunks", "append_report", "replace_range",
              "prune", "compact", "expire", "read"):
        out[f"store.{k}_s"] = total(f"store.{k}")
    out["store.files_rewritten"] = sum(d["files_rewritten"] + d["chunks"]["files_rewritten"]
                                       for d in r.backfills)
    out["store.files_kept"] = sum(d["files_kept"] + d["chunks"]["files_kept"] for d in r.backfills)
    out["store.commits"] = sum(1 for s in spans if s.name.startswith(
        ("store.append", "store.replace_range", "store.prune", "store.compact")))
    out["store.files_written"] = len(r.written)
    out["store.bytes_written"] = sum(r.written.values())

    reads = [(op.kind, op.seconds) for op in r.window_ops] + r.read_probe
    lat = {k: [t for kind, t in reads if kind == k] for k in ("rollup", "decode", "api_query")}
    for k, v in lat.items():
        out[f"read.{k}_p50_s"] = median(v) if v else 0.0
    reads = [x for v in lat.values() for x in v]
    out["read.query_p50_s"] = median(reads) if reads else 0.0
    out["read.rows_scanned_per_row_returned"] = getattr(r, "read_ratio", 0.0)
    decoded, kept = getattr(r, "decode_counts", (0, 0))
    out["gorilla.decode_s"] = sum(lat["decode"])
    out["gorilla.points_decoded"] = decoded
    out["gorilla.points_kept_frac"] = kept / decoded if decoded else 0.0
    out["maint.write_mb"] = sum(r.maint_written.values()) / 2**20 / r.maint_nights

    # Spark totals cover the job and the timed window, not the warm-up
    # night or the probes
    top = [i for i, s in enumerate(spans)
           if s.parent is None and not s.name.startswith(("warmup.", "probe."))]
    agg = dict.fromkeys(spans[0].stages, 0) if spans else {}
    for i in top:
        for k, v in inclusive(spans, i).items():
            agg[k] += v
    wall = sum(spans[i].end - spans[i].start for i in top)
    out["spark.executor_run_s"] = agg.get("run_ms", 0) / 1e3
    out["spark.cpu_s"] = agg.get("cpu_ns", 0) / 1e9
    out["spark.gc_s"] = r.gc_ms / 1e3
    out["spark.shuffle_read_mb"] = agg.get("shuffle_read_bytes", 0) / 2**20
    out["spark.shuffle_write_mb"] = agg.get("shuffle_write_bytes", 0) / 2**20
    out["spark.spill_mb"] = agg.get("spill_bytes", 0) / 2**20
    out["spark.stages"] = agg.get("stages", 0)
    out["spark.tasks"] = agg.get("tasks", 0)
    out["spark.idle_core_frac"] = 1 - out["spark.executor_run_s"] / (r.cores * wall) if wall else 0.0
    out["trace.overhead_s"] = tr.overhead_s
    out["trace.overhead_frac"] = tr.overhead_s / wall if wall else 0.0
    for k in ("points_per_s", "window_s"):
        out[f"traced.{k}"] = e2e[k]
    out.update(r.probe_metrics)
    return out


# ------------------------------------------------------------------ main

WORKLOADS = {
    "query_mix": (run_query_mix, gate_query_mix),
    "maintenance": (run_maintenance, gate_maintenance),
}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not Path("opentsdb_rollup_rust_spark/__init__.py").is_file():
        log("run from the repository root: opentsdb_rollup_rust_spark/ not found")
        return 2
    sys.path.insert(0, os.getcwd())
    os.sched_setaffinity(0, os.sched_getaffinity(0))  # pin to every allowed core

    # a terminated run still stops Spark and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = Path(".perfbench_work") / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    r = Run(args, work)
    clock = time.monotonic()

    def phase(name: str) -> None:
        nonlocal clock
        now = time.monotonic()
        log(f"phase {name}: {now - clock:.2f}s")
        clock = now

    try:
        r.open()
        phase("open")
        body, gate = WORKLOADS[args.workload]
        body(r)
        phase("set-up + timed window")
        gate(r)
        phase("gate")
        e2e = e2e_metrics(r)
        if args.trace:
            r.probe_metrics = probes(r)
            (probe_reads if args.workload == "maintenance" else probe_maintenance)(r)
            metrics = per_layer_metrics(r, e2e)
            units = PER_LAYER_UNITS
            out_dir = Path(".perfbench_out")
            out_dir.mkdir(exist_ok=True)
            dump = {"workload": args.workload, "seed": args.seed, "metrics": metrics,
                    "e2e": e2e, "ops": [(o.name, o.seconds, o.ok) for o in r.ledger.ops],
                    "stages": r.tracer.stages, **r.tracer.dump()}
            (out_dir / f"trace-{args.workload}-{args.seed}.json").write_text(
                json.dumps(dump, indent=1, default=str))
        else:
            metrics, units = e2e, E2E
    finally:
        try:
            if hasattr(r, "spark"):
                r.close()
        finally:
            shutil.rmtree(work, ignore_errors=True)
            phase("close")
    lat = [op.seconds for op in r.window_ops]
    log(json.dumps({"window_s": r.window_s, "window_ops": len(lat), "op_p50_s": median(lat),
                    "op_tail": tail_percentile(lat),
                    "ops": [(o.name, round(o.seconds, 3)) for o in r.window_ops]}))
    print(json.dumps({
        "correct": r.ledger.failed == 0,
        "attempted": r.ledger.attempted,
        "failed": r.ledger.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
