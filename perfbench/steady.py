#!/usr/bin/env python3
"""Run the benchmark on several seeds and print each end-to-end
metric's median and spread (inter-quartile distance over median), next
to the bound BENCHMARK.json gives it.

    python3 perfbench/steady.py --workload query_mix --seeds 1-5
    python3 perfbench/steady.py --workload maintenance --seeds 1-10 --json out.json

Run from the repository root; each run is a fresh process, one at a time.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from stats import spread  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="first-last")
    ap.add_argument("--json", default=None, help="also write every run here")
    args = ap.parse_args()
    bench = json.loads(Path("BENCHMARK.json").read_text())
    lo, hi = (int(x) for x in args.seeds.split("-"))
    runs = []
    for seed in range(lo, hi + 1):
        t = time.monotonic()
        out = subprocess.run(
            [*bench["command"], "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(bench["run_seconds"]), "--trace", "0"],
            capture_output=True, text=True, timeout=180)
        wall = time.monotonic() - t
        res = json.loads(out.stdout.strip().splitlines()[-1])
        res["wall_s"] = wall
        runs.append(res)
        print(f"seed {seed}: {wall:.1f}s correct={res['correct']} "
              f"failed={res['failed']}/{res['attempted']}", file=sys.stderr)
    if args.json:
        Path(args.json).write_text(json.dumps(runs, indent=1))
    print(f"{'metric':24} {'median':>12} {'spread':>8} {'bound':>6}")
    for m in bench["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in runs]
        sp = spread(vals) if len(vals) >= 2 else float("nan")
        print(f"{m['name']:24} {statistics.median(vals):12.5g} {sp:8.4f} {m['bound']:6}")
    walls = [r["wall_s"] for r in runs]
    print(f"{'run wall (s)':24} {statistics.median(walls):12.5g} max {max(walls):.1f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
