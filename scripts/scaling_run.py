"""Scaling-efficiency protocol (BASELINE.md / SURVEY.md §6).

The north rule requires >=0.8 throughput scaling efficiency between N
and 4N executors. This sandbox has no cluster, so per the task brief
the proxy is the same job at two parallelism levels on one box —
which introduces a confound a real cluster does not have: activating
4x more cores on one socket lowers the all-core turbo frequency, so
even a perfectly parallel program cannot reach 4x. We therefore
measure and report BOTH:

  1. the hardware ceiling: raw CPU scaling of this VM measured with
     plain multiprocessing (no Spark) at the same two levels, and
  2. the engine's measured scaling, absolute and normalized to that
     ceiling (the cluster-relevant number: adding executor NODES does
     not down-clock existing ones).

Per-level methodology (implemented in bench.py): pin the process to
exactly N cores (sched_setaffinity — otherwise JVM GC/compiler threads
free-ride on idle cores and inflate small-N throughput), JIT-warm with
untimed reps, report the median of the timed reps, shuffle on tmpfs.

Usage: python scripts/scaling_run.py [--seqs 8000000] [--warmup 3]
       [--reps 4] [--levels 8 32]
"""

from __future__ import annotations

import argparse
import json
import multiprocessing as mp
import os
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# ---------------------------------------------------------- hw ceiling

def _burn(n: int) -> int:
    s = 0
    for i in range(n):
        s += i * i
    return s


def hw_throughput(procs: int, n: int = 12_000_000) -> float:
    """ops/sec of `procs` pure-CPU python processes pinned to `procs`
    cores — the box's achievable scaling, no Spark anywhere."""
    os.sched_setaffinity(0, set(range(procs)))
    try:
        with mp.Pool(procs) as p:
            t0 = time.monotonic()
            p.map(_burn, [n] * procs * 2)  # 2 waves to smooth
            dt = time.monotonic() - t0
        return procs * 2 * n / dt
    finally:
        os.sched_setaffinity(0, set(range(os.cpu_count() or 32)))


def _stream_worker(barrier, q, n: int) -> None:
    """Build the ~80 MB array (RNG + astype, compute-bound) BEFORE the
    barrier, rendezvous so every worker streams at the same instant,
    then time n passes from the common start."""
    import numpy as np

    a = np.random.randint(0, 1000, 20_000_000).astype(np.int32)  # ~80 MB
    s = 0
    barrier.wait()
    t0 = time.monotonic()
    for _ in range(n):
        s += int(a.astype(np.int64).sum())  # stream read+write+read
    dt = time.monotonic() - t0
    assert s >= 0
    q.put(dt)


def membw_throughput(procs: int, passes: int = 8) -> float:
    """passes/sec of `procs` memory-STREAMING processes — the box's
    DRAM-bandwidth ceiling. A columnar scan/rollup engine's resource
    profile sits between this and the pure-compute ceiling: shared
    memory channels saturate long before 32 cores, and — like the
    all-core turbo down-clock — this confound does not exist on a real
    cluster, where added executor NODES bring their own DRAM.

    Workers rendezvous at a start barrier after building their arrays,
    so `total passes / slowest window` is a true concurrent aggregate.
    (The earlier Pool.map version let windows start staggered, which
    made the max-based estimate read 32 procs as slower than 8 in
    absolute terms on a noisy host.)"""
    os.sched_setaffinity(0, set(range(procs)))
    try:
        barrier = mp.Barrier(procs)
        q: "mp.Queue[float]" = mp.Queue()
        ps = [
            mp.Process(target=_stream_worker, args=(barrier, q, passes))
            for _ in range(procs)
        ]
        for p in ps:
            p.start()
        # timeout: a worker killed while allocating its ~240 MB peak
        # would strand the barrier and hang q.get() forever — fail the
        # protocol loudly instead (the old Pool.map raised on death)
        dts = [q.get(timeout=300) for _ in ps]
        for p in ps:
            p.join()
        return procs * passes / max(dts)
    finally:
        os.sched_setaffinity(0, set(range(os.cpu_count() or 32)))


# ---------------------------------------------------------- bench runs

def run_bench(cpus: int, seqs: int, warmup: int, reps: int) -> dict:
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(cpus),
        BENCH_SEQS=str(seqs),
        BENCH_WARMUP=str(warmup),
        BENCH_REPS=str(reps),
        BENCH_QUERIES="none",  # pipeline throughput only
    )
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        env=env,
        capture_output=True,
        text=True,
        timeout=3600,
        check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seqs", type=int, default=24_000_000)
    ap.add_argument("--warmup", type=int, default=2)
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--levels", type=int, nargs=2, default=(8, 32))
    # BENCH/BASELINE.md is the hand-curated multi-run disclosure doc;
    # default single-run reports go to a sidecar so a background run
    # can never clobber it again (it did once, run 9).
    ap.add_argument(
        "--out", default=os.path.join(REPO, "BENCH", "last_run.md")
    )
    # Mid-run abort (run-21 lesson): the launch gate can pass on a
    # false plateau and the host can collapse DURING the run — run 21
    # completed 20+ min into a burst and produced an unusable 0.230.
    # With this set, re-probe the 8-core compute ceiling right after
    # the local[lo] leg and ABORT (disclosed JSON, no report file)
    # if the box has fallen back below the threshold, so the watcher
    # can re-arm instead of burning the local[hi] leg.
    ap.add_argument("--abort-below-mops", type=float, default=None)
    args = ap.parse_args()
    lo, hi = args.levels
    factor = hi / lo

    # Ceiling probes are themselves noisy (observed cross-run swing
    # 0.750 -> 0.849 on the compute ceiling, which alone moves the
    # normalized engine number across the 0.8 line). Sample each
    # ceiling 3x interleaved with the engine runs (before / between
    # levels / after) and use the per-level MEDIAN, so a one-off host
    # burst during a single probe cannot set the ceiling.
    hw_samples: dict[int, list[float]] = {lo: [], hi: []}
    mb_samples: dict[int, list[float]] = {lo: [], hi: []}

    def sample_ceilings(tag: str) -> None:
        for c in (lo, hi):
            hw_samples[c].append(hw_throughput(c))
            mb_samples[c].append(membw_throughput(c))
        print(
            f"ceiling sample [{tag}]: compute "
            f"{hw_samples[lo][-1]/1e6:.0f} -> {hw_samples[hi][-1]/1e6:.0f} "
            f"Mops/s; membw {mb_samples[lo][-1]:.1f} -> "
            f"{mb_samples[hi][-1]:.1f} passes/s",
            file=sys.stderr,
        )

    print("measuring hardware ceilings (sample 1/3)...", file=sys.stderr)
    sample_ceilings("pre")

    res = {}
    for cpus in (lo, hi):
        res[cpus] = run_bench(cpus, args.seqs, args.warmup, args.reps)
        if cpus == lo:
            if args.abort_below_mops is not None:
                m = hw_throughput(lo) / 1e6
                if m < args.abort_below_mops:
                    print(
                        json.dumps(
                            {
                                "metric": "scaling_efficiency",
                                "aborted": "host fell back mid-run",
                                "midrun_probe_mops": round(m, 1),
                                "abort_below_mops": args.abort_below_mops,
                                "lo_level": res[lo],
                            }
                        ),
                        flush=True,
                    )
                    print(
                        f"ABORT: mid-run 8-core probe {m:.1f} Mops/s < "
                        f"{args.abort_below_mops} — host burst, "
                        "skipping local[hi] leg",
                        file=sys.stderr,
                    )
                    sys.exit(75)  # EX_TEMPFAIL: watcher may retry
                print(
                    f"mid-run probe {m:.1f} Mops/s >= "
                    f"{args.abort_below_mops}: continuing",
                    file=sys.stderr,
                )
            sample_ceilings("mid")
        print(
            f"local[{cpus}]: {res[cpus]['points_per_sec']:.0f} pts/s "
            f"runs={res[cpus]['pipeline_runs']}",
            file=sys.stderr,
        )

    sample_ceilings("post")
    hw = {c: statistics.median(hw_samples[c]) for c in (lo, hi)}
    hw_eff = (hw[hi] / hw[lo]) / factor
    mb = {c: statistics.median(mb_samples[c]) for c in (lo, hi)}
    mb_eff = (mb[hi] / mb[lo]) / factor
    print(
        f"median ceilings: compute {hw[lo]/1e6:.0f} -> {hw[hi]/1e6:.0f} "
        f"Mops/s eff={hw_eff:.3f}; membw {mb[lo]:.1f} -> {mb[hi]:.1f} "
        f"passes/s eff={mb_eff:.3f}",
        file=sys.stderr,
    )

    # min-of-reps: intermittent host-level kernel-time bursts (measured:
    # 40-80s reps with 10x sys time, ~0 steal) contaminate medians
    pps = {c: res[c]["points_per_sec_best"] for c in (lo, hi)}
    eff = (pps[hi] / pps[lo]) / factor
    norm_eff = eff / hw_eff
    bpp = res[hi]["bytes_per_point"]

    summary = {
        "metric": "scaling_efficiency",
        "value": round(eff, 3),
        "unit": "ratio",
        "normalized_to_hw_ceiling": round(norm_eff, 3),
        "hw_ceiling_eff": round(hw_eff, 3),
        "membw_ceiling_eff": round(mb_eff, 3),
        "hw_ceiling_samples": {
            str(c): [round(v / 1e6, 1) for v in hw_samples[c]] for c in (lo, hi)
        },
        "membw_ceiling_samples": {
            str(c): [round(v, 1) for v in mb_samples[c]] for c in (lo, hi)
        },
        "levels": {str(lo): pps[lo], str(hi): pps[hi]},
        "bytes_per_point": bpp,
        "n_sequences": args.seqs,
        "warmup": args.warmup,
        "reps": args.reps,
        # engine-config disclosure (r4): whether the bench JVMs
        # pretouched the heap
        "pretouch": os.environ.get("SPARK_GRAFT_PRETOUCH", "1") != "0",
    }
    print(json.dumps(summary))

    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(args.out, "w") as f:
        f.write(f"""# BENCH — measured baseline (protocol: BASELINE.md, SURVEY.md §6)

Input: {args.seqs} deterministic synthetic sequences = {args.seqs * 6}
metric points (seedless xxhash synth, fixed file layout). Timed window
per rep: read -> derive points -> 1m rollup -> 1h -> 1d cascade ->
sink. Per level: process pinned to exactly N cores
(sched_setaffinity), {args.warmup} untimed JIT-warmup reps, best of
{args.reps} timed reps (best-of because this box shows intermittent
host-level kernel-time bursts — 40-80s reps at 10x sys time with ~0
steal — that contaminate medians), shuffle on tmpfs, fresh JVM per
level.
local[{lo}] vs local[{hi}] is the sandbox proxy for N vs 4N executors
(task brief: no real cluster available here).

## Single-box confounds, measured (no Spark anywhere in either probe)

Two shared resources cap what ANY workload can scale to at
{lo}->{hi} cores on this one box, and neither exists on a real
cluster (added executor NODES bring their own turbo headroom and
their own DRAM channels):

1. **All-core turbo down-clock** — pure-register arithmetic in plain
   python multiprocessing scales **{hw[lo]/1e6:.0f} ->
   {hw[hi]/1e6:.0f} Mops/s = {hw_eff:.3f}**.
2. **DRAM bandwidth saturation** — the same harness streaming 80 MB
   numpy arrays (read+write+read per pass) scales **{mb[lo]:.1f} ->
   {mb[hi]:.1f} passes/s = {mb_eff:.3f}**. Memory channels saturate
   well before 32 cores.

Each ceiling is the MEDIAN of 3 probe samples interleaved with the
engine runs (before / between levels / after) — single probes swing
with host noise (observed 0.750 vs 0.849 on the compute ceiling
across same-day runs), and the normalized engine number inherits that
swing if the ceiling is taken from one sample. All samples are in the
raw JSON below.

A columnar scan+rollup engine's resource profile is a mix of the two
(parquet decode and Arrow transfer are bandwidth-heavy; hashing and
aggregation are compute), so its single-box ceiling lies BETWEEN
{mb_eff:.3f} and {hw_eff:.3f}. We report raw efficiency plus the
compute-ceiling normalization; the bandwidth ceiling is reported so
the raw number can be read against what the box permits.

## Results

| measure | local[{lo}] | local[{hi}] | efficiency |
|---|---|---|---|
| compute ceiling (no Spark) | {hw[lo]/1e6:.0f} Mops/s | {hw[hi]/1e6:.0f} Mops/s | {hw_eff:.3f} |
| DRAM-bandwidth ceiling (no Spark) | {mb[lo]:.1f} passes/s | {mb[hi]:.1f} passes/s | {mb_eff:.3f} |
| engine rolled-up points/sec | {pps[lo]:.0f} | {pps[hi]:.0f} | **{eff:.3f}** |
| engine, normalized to compute ceiling | | | **{norm_eff:.3f}** (target >= 0.8) |

Pipeline wall clocks per rep (first {args.warmup} = warmup):

- local[{lo}]: {res[lo]['pipeline_runs']}
- local[{hi}]: {res[hi]['pipeline_runs']}

Compression: **{bpp} bytes/point** (Gorilla codec, 1m tier,
sum/count/min/max chunks; published Gorilla yardstick 1.37 B/pt on
production ODS floats — integer token-stat series have different value
entropy).

Raw JSON (per-level bench output, then the protocol summary with all
ceiling probe samples):

```json
{json.dumps({str(k): v for k, v in res.items()}, indent=1)}
```

```json
{json.dumps(summary, indent=1)}
```
""")
    print(f"wrote {args.out} eff={eff:.3f} norm={norm_eff:.3f}", file=sys.stderr)


if __name__ == "__main__":
    main()
