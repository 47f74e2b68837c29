"""Bench harness — the driver's per-round feedback loop.

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Two measurements:

1. **Headline** — the flagship tier pipeline (read sequences ->
   derive points -> 1m rollup -> 1h -> 1d cascade -> noop sink) over a
   deterministic synthetic sequences table sized to the scale factor.
   Input generation (synth + parquet write) is NOT timed — the table
   is materialized to a temp dir first, so the timed window is
   read -> agg -> write, per the protocol in BASELINE.md. Reported as
   `points_per_sec` (input metric points consumed / wall sec) plus
   `bytes_per_point` from the Gorilla encode of the 1m tier.

2. **Per-query wall** — every `__spark_entry__.queries()` entry at
   `$SPARK_GRAFT_SF_DIR`, each forced through a full materialization
   via the `noop` sink (no driver collect, no result truncation).

Measurement protocol (see BENCH/BASELINE.md): the process pins itself
to the first SPARK_GRAFT_CPUS cores (sched_setaffinity — the honest
"cluster of N cores" proxy: otherwise the JVM's GC/compiler/shuffle
threads free-ride on idle cores and inflate small-N throughput), warms
the JIT with untimed reps, then reports the median of the timed reps.
Shuffle goes to tmpfs (local mode's stand-in for cluster-local SSDs).

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS   (default 32 — also used for shuffle partitions),
     BENCH_SEQS         (override synthetic sequence count),
     BENCH_WARMUP/BENCH_REPS (pipeline warmup / timed reps: 2 / 3),
     BENCH_QUERIES      (comma-list subset; default all; "none" skips),
     BENCH_QUERY_REPS   (per-query reps, best-of reported; default 2 —
                         rep 1 pays one-time python-worker/JIT costs).
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _sink(df) -> None:
    """Force full computation with zero driver-side result transfer."""
    df.write.format("noop").mode("overwrite").save()


def emit_line(
    out: dict, budget: int | None = None, full_path: str | None = None
) -> str:
    """Budget the one printed JSON line to the driver's stdout tail.

    The driver keeps only the last ~2000 chars of stdout and parses the
    JSON line out of that tail: BENCH_r03/r04 both recorded
    "parsed": null because the line outgrew the window once the
    registry passed ~100 queries (the r4 tail starts mid-JSON, see
    BENCH_r04.json "tail"). The COMPLETE result always goes to
    BENCH/bench_full_latest.json first; when trimming, per-query
    entries drop from the END of registry order, so the sample-front
    (new/changed keys, then oldest driver evidence) survives on the
    printed line and `queries_omitted`/`queries_full` say where the
    rest is.
    """
    if budget is None:
        budget = int(os.environ.get("BENCH_LINE_BUDGET", "1800"))
    if full_path is None:
        full_path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)),
            "BENCH",
            "bench_full_latest.json",
        )
    try:
        with open(full_path, "w") as f:
            json.dump(out, f, indent=1)
            f.write("\n")
    except OSError as exc:
        print(f"bench: could not write {full_path}: {exc}", file=sys.stderr)
    line = json.dumps(out)
    if len(line) > budget:
        out = dict(out)
        out["queries"] = dict(out.get("queries", {}))
        names = list(out["queries"])
        out["queries_full"] = "BENCH/bench_full_latest.json"
        out["queries_omitted"] = 0
        while names and len(json.dumps(out)) > budget:
            out["queries"].pop(names.pop())
            out["queries_omitted"] += 1
        line = json.dumps(out)
    return line


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else 0.1

    try:  # pin to exactly `cpus` cores; raise our priority over box noise
        os.sched_setaffinity(0, set(range(cpus)))
        os.nice(-5)
    except (PermissionError, OSError):
        pass

    import __spark_entry__ as E
    from opentsdb_rollup_rust_spark.session import get_spark
    from opentsdb_rollup_rust_spark.sources.synth import synth_sequences
    from opentsdb_rollup_rust_spark.operators.rollup import (
        cascade_reagg,
        fused_tier_rollup,
    )
    from opentsdb_rollup_rust_spark.codec.gorilla import (
        compression_stats,
        decode_chunks,
        encode_chunks,
    )

    # Heap scales with the core count (2 g/core, override with
    # SPARK_GRAFT_MEM_PER_CORE_GB): a real N -> 4N-executor step brings
    # 4x the aggregate heap, so holding one fixed heap across both
    # parallelism levels (r1/r2 protocol: 24g at local[8] AND local[32])
    # under-provisions the 4N level — measured at local[32]: GC was
    # 14.6% of heavy-stage task time at 24g vs 17.3s -> 14.8s/rep going
    # to 64g. Constant heap-per-core is the cluster-honest proxy.
    gb_per_core = int(os.environ.get("SPARK_GRAFT_MEM_PER_CORE_GB", "2"))
    spark = get_spark(
        app_name="bench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # shuffle to tmpfs: local mode's stand-in for node-local
            # SSD shuffle dirs (the virtio root disk's writeback
            # throttling otherwise injects multi-second stalls)
            "spark.local.dir": "/dev/shm/spark-tmp",
            "spark.driver.memory": f"{gb_per_core * cpus}g",
            # -Xms=-Xmx + AlwaysPreTouch: fault + zero the whole heap
            # ONCE at JVM start (untimed) instead of during timed reps.
            # G1 otherwise grows/uncommits regions between reps and the
            # kernel re-zeroes tens of GB of pages inside the
            # measurement window — pure sys-time that scales with heap
            # size, i.e. 4x worse at the 4N level than at N (the
            # documented "kernel-time burst" signature). Disable with
            # SPARK_GRAFT_PRETOUCH=0 for A/B.
            **(
                {
                    "spark.driver.extraJavaOptions": (
                        f"-Xms{gb_per_core * cpus}g -XX:+AlwaysPreTouch"
                    )
                }
                if os.environ.get("SPARK_GRAFT_PRETOUCH", "1") != "0"
                else {}
            ),
        },
    )

    # ---------------- headline: tier pipeline throughput ----------------
    # 60M seqs/sf: big enough that per-rep fixed costs (job submit,
    # stage barriers) stay under ~10% of wall — 20M/sf understated
    # throughput ~2x vs the 24M-seq BASELINE.md protocol run
    n_seqs = int(os.environ.get("BENCH_SEQS", str(int(sf * 60_000_000))))
    n_seqs = max(n_seqs, 10_000)
    seq_path = f"/tmp/spark_graft_bench/seqs_{n_seqs}_f256.parquet"
    if not os.path.exists(seq_path):  # untimed input materialization
        # fixed 256-file layout: every parallelism level reads the same
        # split structure, and 256 tasks give 8 waves at 32 cores so
        # last-wave stragglers cost <15% (64 files packed to ~43 tasks
        # = 2 ragged waves, measured)
        synth_sequences(spark, n_seqs, partitions=256).write.mode(
            "overwrite"
        ).parquet(seq_path)

    n_points = n_seqs * 6  # 6 token stats per sequence (config.TOKEN_STATS)

    warmup = int(os.environ.get("BENCH_WARMUP", "2"))
    reps = int(os.environ.get("BENCH_REPS", "3"))
    seqs = spark.read.parquet(seq_path)

    # The derive is the engine's one JVM built-in path (no Python
    # boundary; points.derive_wide documents the guard and the A/B
    # behind the choice). The Gorilla codec below stays Arrow.
    def pipeline() -> float:
        # mirrors the tier job: materialize the 1m tier once (persist =
        # the tier write), then cascade 1h/1d from it — derive runs once.
        # fused_tier_rollup = the job's wide-form derive+agg scale path
        t0 = time.monotonic()
        r1m = fused_tier_rollup(seqs, "1m").persist()
        _sink(r1m)
        _sink(cascade_reagg(cascade_reagg(r1m, "1h"), "1d"))
        r1m.unpersist()
        return time.monotonic() - t0

    all_runs = [pipeline() for _ in range(warmup + reps)]
    pipeline_sec = statistics.median(all_runs[warmup:])
    # min = contention-free capability: this box shows intermittent
    # multi-10s kernel-time bursts (host-level, 10x sys time, ~0
    # steal) that contaminate medians; scaling_run.py compares mins
    pipeline_min = min(all_runs[warmup:])

    r1m = fused_tier_rollup(seqs, "1m").persist()
    rolled_1m = r1m.count()
    chunks = encode_chunks(r1m, "1m").persist()
    t0 = time.monotonic()
    stats = compression_stats(chunks).collect()
    encode_sec = time.monotonic() - t0
    enc = sum(r["enc_bytes"] for r in stats)
    npts = sum(r["points"] for r in stats)
    bytes_per_point = enc / max(npts, 1)
    # read path: the lane-parallel Gorilla reader over the cached
    # chunk table — decoded points/sec with no encode in the window
    t0 = time.monotonic()
    _sink(decode_chunks(chunks))
    decode_sec = time.monotonic() - t0
    chunks.unpersist()
    r1m.unpersist()

    # ---------------- per-query walls at sf_dir ----------------
    # Interleaved multi-pass sweep (round-2 VERDICT task #7): a single
    # in-order pass showed per-query swings up to 10x vs standalone —
    # transient box/JVM pressure (collector pauses, async shuffle
    # cleanup, host-level kernel-time bursts) lands on whichever query
    # is executing, and back-to-back reps both eat the same burst.
    # Running the WHOLE sweep twice and taking the per-query min across
    # passes decorrelates query identity from sweep position; pass 1
    # additionally absorbs every one-time cost (python worker spin-up,
    # Catalyst analysis, stage JIT), so pass 2 measures the warm plan.
    only = os.environ.get("BENCH_QUERIES")
    only_set = set(only.split(",")) if only else None
    q_reps = int(os.environ.get("BENCH_QUERY_REPS", "1"))
    q_passes = int(os.environ.get("BENCH_QUERY_PASSES", "2"))
    samples: dict[str, list[float]] = {}
    for _pass in range(q_passes):
        for name, fn in E.queries().items():
            if only_set and name not in only_set:
                continue
            try:
                # Explicit GC first: garbage accumulated by EARLIER
                # queries otherwise lands as a collector pause inside a
                # later query's reps (measured: 1.1s query reading 3.9s
                # mid-sweep)
                spark.sparkContext._jvm.System.gc()
                for _ in range(q_reps):
                    t0 = time.monotonic()
                    _sink(fn(spark, sf_dir))
                    samples.setdefault(name, []).append(
                        time.monotonic() - t0
                    )
            except Exception as exc:  # failing query must not kill bench
                samples.setdefault(name, []).append(-1.0)
                print(f"bench: query {name} failed: {exc}", file=sys.stderr)
    qtimes: dict[str, float] = {}
    for name, runs in samples.items():
        if any(r < 0 for r in runs):
            qtimes[name] = -1.0
            continue
        qtimes[name] = round(min(runs), 3)
        if len(runs) > 1 and max(runs) > 1.5 * max(min(runs), 0.05):
            print(
                f"bench: unstable {name}: passes {[round(r, 2) for r in runs]}",
                file=sys.stderr,
            )

    out = {
        "metric": "tier_pipeline_wall",
        "value": round(pipeline_sec, 3),
        "unit": "sec",
        "queries": qtimes,
        "sf": sf,
        "cpus": cpus,
        "n_sequences": n_seqs,
        "n_points": n_points,
        "rolled_rows_1m": rolled_1m,
        "points_per_sec": round(n_points / pipeline_sec, 1),
        "points_per_sec_best": round(n_points / pipeline_min, 1),
        "pipeline_runs": [round(x, 2) for x in all_runs],
        "encode_sec": round(encode_sec, 3),
        "decode_sec": round(decode_sec, 3),
        "decode_pts_per_sec": round(npts / max(decode_sec, 1e-9), 1),
        "bytes_per_point": round(bytes_per_point, 3),
    }
    print(emit_line(out))


if __name__ == "__main__":
    main()
