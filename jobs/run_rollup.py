#!/usr/bin/env python
"""CLI entry point for the tier rollup job (BASELINE.json:14:
packaged for `spark-submit --py-files engine.zip`).

Examples:
  # synthesize input, then run the full 1m -> 1h -> 1d cascade
  spark-submit --py-files engine.zip jobs/run_rollup.py \
      --root /tmp/rollup_store --synthesize 100000 --tier all \
      --buckets 32 --salts 16

  # resume a single tier after a crash (finishes the splice a crashed
  # run left; a tier whose source is unchanged writes nothing)
  spark-submit --py-files engine.zip jobs/run_rollup.py \
      --root /tmp/rollup_store --tier 1h --run-id retry-1

Local test (no spark-submit needed): python jobs/run_rollup.py ...
"""

from __future__ import annotations

import argparse
import json
import sys

sys.path.insert(0, ".")  # allow running from the repo root w/o --py-files

from opentsdb_rollup_rust_spark.plans.job import (  # noqa: E402
    apply_retention,
    backfill_tier,
    run_cascade,
    run_rollup_job,
)
from opentsdb_rollup_rust_spark.session import get_spark  # noqa: E402
from opentsdb_rollup_rust_spark.sources.store import (  # noqa: E402
    ConcurrentCommitError,
    make_store,
)
from opentsdb_rollup_rust_spark.sources.synth import synth_sequences  # noqa: E402

REPORT_TABLES = ("lineage", "metrics")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--root", required=True, help="store root directory")
    ap.add_argument("--tier", default="all", help="1m | 1h | 1d | all")
    ap.add_argument("--buckets", type=int, default=8)
    ap.add_argument("--salts", type=int, default=8)
    ap.add_argument("--run-id", default=None)
    ap.add_argument("--no-encode", action="store_true")
    ap.add_argument("--synthesize", type=int, default=0,
                    help="generate N sequences into the store first")
    ap.add_argument("--retention-now", type=int, default=None,
                    help="epoch seconds 'now' for a retention pass")
    ap.add_argument("--backfill", nargs=2, type=int, metavar=("T0", "T1"),
                    default=None,
                    help="recompute [T0, T1) epoch-second window range for "
                         "--tier from its source (chunk-coherent splice) "
                         "instead of running the job")
    ap.add_argument("--compact", action="store_true",
                    help="run small-file compaction on sequences, the tier "
                         "table(s) and the report tables after the job")
    ap.add_argument("--expire-keep", type=int, default=None,
                    help="expire all but the newest N snapshots per tier "
                         "and report table (GC superseded data files)")
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)

    spark = get_spark(app_name=f"rollup-{args.tier}", master=args.master)
    # real Iceberg catalog when the runtime jar is present, manifest
    # store otherwise — identical surface either way
    store = make_store(spark, args.root)

    if args.synthesize:
        snap = store.append("sequences", synth_sequences(spark, args.synthesize))
        print(json.dumps({"synthesized": args.synthesize, "snapshot": snap}))

    tiers = ("1m", "1h", "1d") if args.tier == "all" else (args.tier,)
    failures = 0

    def with_retry(label: str, op, attempts: int = 3):
        """Maintenance ops raise ConcurrentCommitError when another
        writer (e.g. the streaming sink) advances the table mid-op —
        the contract is recompute-and-retry, not crash the nightly."""
        nonlocal failures
        for attempt in range(attempts):
            try:
                return op()
            except ConcurrentCommitError as e:
                print(json.dumps({"op": label, "retry": attempt + 1,
                                  "reason": str(e)}))
        failures += 1
        print(json.dumps({"op": label, "error":
                          f"still conflicting after {attempts} attempts"}))
        return None

    if args.backfill is not None:
        t0, t1 = args.backfill
        for tier in tiers:
            res = with_retry(
                f"backfill:{tier}",
                lambda tier=tier: backfill_tier(
                    spark, store, tier, t0, t1,
                    n_buckets=args.buckets, salts=args.salts,
                ),
            )
            if res is not None:
                print(json.dumps({"backfill_tier": tier, **res}))
    else:
        kw = dict(
            n_buckets=args.buckets,
            salts=args.salts,
            run_id=args.run_id,
            encode=not args.no_encode,
        )
        results = (
            run_cascade(spark, store, **kw)
            if args.tier == "all"
            else [run_rollup_job(spark, store, args.tier, **kw)]
        )
        for r in results:
            print(json.dumps(r.__dict__))

    if args.retention_now is not None:
        for tier in ("1m", "1h", "1d"):
            kept = apply_retention(spark, store, tier, args.retention_now)
            print(json.dumps({"retention_tier": tier, "rows_kept": kept}))

    # `sequences` gains a file per write task every late batch and the
    # report tables a file per tier every run. A compaction of
    # `sequences` changes no tier: the job's changed range skips
    # compaction commits.
    if args.compact:
        tables = ["sequences"] + [f"rollup_{t}" for t in tiers] + list(REPORT_TABLES)
        for table in tables:
            if store.exists(table):
                rollup = table.startswith("rollup_")
                sort = ("series_id", "window_start") if rollup else None
                stats = with_retry(
                    f"compact:{table}",
                    lambda table=table, sort=sort: store.compact(
                        table, sort_within=sort
                    ),
                )
                if stats is not None:
                    print(json.dumps({"compact_table": table, **stats}))

    if args.expire_keep is not None:
        tier_tables = [f"{k}_{t}" for t in tiers for k in ("rollup", "chunks")]
        for table in tier_tables + list(REPORT_TABLES):
            if store.exists(table):
                stats = store.expire_snapshots(
                    table, keep_last=args.expire_keep
                )
                print(json.dumps({"expire_table": table, **stats}))

    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
