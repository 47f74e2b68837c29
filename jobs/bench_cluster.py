"""spark-submit driver for the STANDALONE-CLUSTER scaling protocol.

This is the cluster twin of bench.py's headline measurement: the same
tier pipeline (read pre-materialized sequences -> fused wide-form
derive+1m rollup -> 1h -> 1d cascade -> noop sink), but the session
comes from spark-submit against a real standalone master, with the
engine shipped as ``--py-files engine.zip`` (BASELINE.json:14
"packaged for spark-submit --py-files ... at two cluster sizes").
Executors here are SEPARATE JVMs launched by separate worker
processes — shuffle blocks cross process boundaries through the
block-transfer service, python workers are forked per executor — so
the N -> 4N comparison scripts/standalone_scaling.py builds from two
invocations of this driver is a multi-executor measurement, not the
local[N] thread proxy.

Prints ONE JSON line on stdout (everything else goes to stderr / the
submit log). Refuses loudly if the executor fleet never reaches the
requested size: a leg that silently ran 3-of-4 executors would
corrupt the scaling ratio, which is worse than no number.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys
import time

from pyspark.sql import SparkSession


def executor_count(spark: SparkSession) -> int:
    """Registered executors, driver excluded (JVM status map has an
    entry per block manager, driver included)."""
    status = spark.sparkContext._jsc.sc().getExecutorMemoryStatus()
    return status.keySet().size() - 1


def wait_executors(spark: SparkSession, want: int, timeout_s: float) -> int:
    t0 = time.monotonic()
    n, last_log = executor_count(spark), 0.0
    while n < want:
        el = time.monotonic() - t0
        if el > timeout_s:
            raise RuntimeError(
                f"only {n}/{want} executors registered after "
                f"{timeout_s:.0f}s — refusing to measure a short fleet"
            )
        if el - last_log >= 15:
            print(
                f"waiting executors: {n}/{want} after {el:.0f}s "
                "(-Xms+AlwaysPreTouch page-zeroing is untimed startup)",
                file=sys.stderr,
            )
            last_log = el
        time.sleep(0.5)
        n = executor_count(spark)
    return n


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="sequences parquet")
    ap.add_argument("--seqs", type=int, required=True)
    ap.add_argument("--warmup", type=int, default=2)
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--wait-executors", type=int, required=True)
    ap.add_argument("--wait-timeout", type=float, default=120.0)
    args = ap.parse_args()

    # master/memory/cores/shuffle confs all arrive from spark-submit;
    # this driver only asserts the fleet it was promised actually came.
    spark = SparkSession.builder.appName("bench-cluster").getOrCreate()
    got = wait_executors(spark, args.wait_executors, args.wait_timeout)

    from opentsdb_rollup_rust_spark.operators.rollup import (
        cascade_reagg,
        fused_tier_rollup,
    )

    seqs = spark.read.parquet(args.input)

    def sink(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def pipeline() -> float:
        # identical protocol to bench.py::pipeline — materialize the 1m
        # tier once (persist = the tier write), cascade 1h/1d from it
        t0 = time.monotonic()
        r1m = fused_tier_rollup(seqs, "1m").persist()
        sink(r1m)
        sink(cascade_reagg(cascade_reagg(r1m, "1h"), "1d"))
        r1m.unpersist()
        return time.monotonic() - t0

    runs = [pipeline() for _ in range(args.warmup + args.reps)]
    timed = runs[args.warmup :]
    n_points = args.seqs * 6  # config.TOKEN_STATS per sequence
    med = statistics.median(timed)
    out = {
        "metric": "tier_pipeline_wall",
        "value": round(med, 3),
        "unit": "sec",
        "mode": "standalone",
        "executors": got,
        "executor_cores": int(spark.conf.get("spark.executor.cores", "0")),
        "n_sequences": args.seqs,
        "n_points": n_points,
        "points_per_sec": round(n_points / med, 1),
        "points_per_sec_best": round(n_points / min(timed), 1),
        "pipeline_runs": [round(r, 2) for r in runs],
    }
    # the orchestrator parses the LAST stdout line; log4j writes to
    # stderr, so this is the only stdout the submit produces
    print(json.dumps(out))
    sys.stdout.flush()
    spark.stop()


if __name__ == "__main__":
    main()
