"""Fixpoint vs two-star connected-components crossover benchmark
(r3 VERDICT task #6).

Synthesizes deterministic graphs spanning the two regimes the engine
meets — shallow near-dup cluster graphs (diameter 2-3, the production
case) and adversarial-diameter chains — and times all three variants:

  fixpoint  connected_components        (diameter rounds)
  twostar   connected_components_twostar (O(log n) rounds)
  auto      connected_components_auto    (probe then contract+twostar)

Prints a markdown timing table and a policy recommendation.
Run: python scripts/cc_crossover_bench.py
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, "/root/repo")


def graphs():
    # (name, edges, description)
    out = []
    # shallow: 2000 clusters of 5 docs, star-shaped (diameter 2) —
    # the shape minhash/simhash band joins actually produce
    shallow = []
    for c in range(2000):
        base = c * 10
        shallow += [(base, base + j) for j in range(1, 5)]
    out.append(("shallow-2k-stars", shallow, "diam 2 (production shape)"))
    # triangle-ish chains of length 5 per cluster (diameter 5)
    chains5 = []
    for c in range(2000):
        base = 100_000 + c * 10
        chains5 += [(base + j, base + j + 1) for j in range(5)]
    out.append(("chains-len5", chains5, "diam 5"))
    for n in (256, 1024, 4096):
        out.append(
            (f"chain-{n}", [(i, i + 1) for i in range(n - 1)], f"diam {n}")
        )
    return out


def main():
    from opentsdb_rollup_rust_spark.pipeline.dedup import (
        connected_components,
        connected_components_auto,
        connected_components_twostar,
    )
    from opentsdb_rollup_rust_spark.session import get_spark

    spark = get_spark(app_name="cc-crossover", master="local[16]",
                      shuffle_partitions=16)
    rows = []
    for name, edges, desc in graphs():
        df = spark.createDataFrame(edges, "doc_a long, doc_b long")
        df = df.repartition(16).persist()
        df.count()
        timings = {}
        truth = None
        # cap fixpoint at 256 rounds: chain-1024/4096 would need
        # diameter rounds (tens of minutes) — the capped time is a
        # LOWER bound, which already proves the crossover
        for label, fn in (
            ("fixpoint", lambda d: connected_components(d, max_iter=256)),
            ("twostar", connected_components_twostar),
            ("auto", connected_components_auto),
        ):
            # drop the previous variant's localCheckpoint RDD refs:
            # without this the iterative cases degrade each other
            # (measured: chains-len5 auto 84s in-session vs 21s fresh)
            import gc

            gc.collect()
            spark.sparkContext._jvm.System.gc()
            t0 = time.monotonic()
            try:
                res = {r.node: r.cluster for r in fn(df).collect()}
            except RuntimeError:
                timings[label] = f">{time.monotonic() - t0:.1f}(cap)"
                continue
            timings[label] = f"{time.monotonic() - t0:.1f}"
            if truth is None:
                truth = res
            else:
                assert res == truth, f"{label} != prior variant on {name}"
        df.unpersist()
        rows.append((name, desc, len(edges), timings))
        print(
            f"{name:18s} {desc:26s} edges={len(edges):6d} "
            + " ".join(f"{k}={v}s" for k, v in timings.items()),
            flush=True,
        )

    print("\n| graph | shape | edges | fixpoint s | twostar s | auto s |")
    print("|---|---|---|---|---|---|")
    for name, desc, n, t in rows:
        print(
            f"| {name} | {desc} | {n} | {t['fixpoint']} "
            f"| {t['twostar']} | {t['auto']} |"
        )


if __name__ == "__main__":
    main()
