"""Tests for the benchmark's own arithmetic (no Spark needed):

    python3 -m pytest perfbench/test_stats.py -q
"""

from __future__ import annotations

import statistics
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent))

from stats import (  # noqa: E402
    MIN_BEYOND, Ledger, Span, fold_stages, inclusive, percentile, self_time,
    spread, tail_percentile,
)


# ------------------------------------------------------------ percentile


def test_percentile_needs_ten_samples_beyond():
    xs = list(range(1, 101))  # p90 is 90, with 91..100 beyond it
    assert percentile(xs, 90) == 90
    assert percentile(xs[:99], 90) is None  # rank 90 of 99: 9 beyond
    assert percentile(xs[:40], 75) == 30  # exactly 10 beyond
    assert percentile(xs[:39], 75) is None


def test_percentile_median_always_reported():
    assert percentile([3.0, 1.0, 2.0], 50) == 2.0
    assert percentile([5.0], 50) == 5.0
    assert percentile([], 50) is None


def test_tail_percentile_picks_highest_allowed():
    xs = [float(i) for i in range(1, 201)]  # 200 samples: p95 has 10 beyond
    assert tail_percentile(xs) == (95, 190.0)
    assert tail_percentile(xs[:100]) == (90, 90.0)
    assert tail_percentile(xs[:20]) is None
    for q, n in ((99, 1000), (95, 200), (90, 100), (75, 40)):
        got = tail_percentile([1.0] * n)
        assert got[0] == q and n - q * n // 100 >= MIN_BEYOND


def test_spread_uses_statistics_quartiles():
    xs = [10.0, 11.0, 9.5, 10.2, 10.8, 9.9, 10.1, 10.4, 9.7, 10.0]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    assert spread(xs) == pytest.approx((q3 - q1) / med)


# ---------------------------------------------------- failure accounting


def test_ledger_counts_raised_and_gated_failures():
    led = Ledger()
    led.run("ok", "request", lambda: 1)

    def boom():
        raise ValueError("engine refused")

    bad = led.run("raises", "request", boom)
    job = led.run("job", "job", lambda x: x * 2, 21)
    assert (led.attempted, led.failed) == (3, 1)
    assert not bad.ok and bad.result is None and job.result == 42
    led.fail(led.of_kind("job"), "tier mismatch")  # a failed gate
    assert (led.attempted, led.failed) == (3, 2)
    led.fail(led.of_kind("job"), "again")  # idempotent
    assert led.failed == 2


# ------------------------------------------------------ stage-metric fold


def _stage(t: float, run_ms: int, tasks: int = 4) -> dict:
    return {"submit_ms": int(t * 1000), "run_ms": run_ms, "cpu_ns": run_ms * 10**6,
            "gc_ms": 1, "shuffle_read_bytes": 10, "shuffle_write_bytes": 20,
            "spill_bytes": 0, "tasks": tasks}


def test_fold_assigns_stages_to_innermost_span():
    spans = [
        Span("job.cascade", 100.0, 110.0, None),
        Span("job.tier_1m", 100.5, 106.0, 0),
        Span("store.append_rollup", 101.0, 104.0, 1),
        Span("read.rollup", 120.0, 121.0, None),
    ]
    stages = [_stage(100.2, 5), _stage(102.0, 100), _stage(105.0, 7),
              _stage(120.5, 3), _stage(130.0, 999)]
    assert fold_stages(spans, stages) == 1  # the stage at t=130 is in no span
    assert spans[2].stages["run_ms"] == 100 and spans[2].stages["stages"] == 1
    assert spans[1].stages["run_ms"] == 7
    assert spans[0].stages["run_ms"] == 5
    assert spans[3].stages["run_ms"] == 3
    tot = inclusive(spans, 0)
    assert tot["run_ms"] == 112 and tot["stages"] == 3 and tot["tasks"] == 12
    assert tot["shuffle_write_bytes"] == 60


def test_self_time_subtracts_union_of_children():
    spans = [
        Span("job.tier_1m", 0.0, 10.0, None),
        Span("store.append_rollup", 1.0, 4.0, 0),
        Span("store.read", 3.0, 5.0, 0),  # overlaps the first child
        Span("store.append_chunks", 8.0, 12.0, 0),  # runs past the parent
        Span("inner", 1.5, 2.0, 1),  # a grandchild is not subtracted again
    ]
    assert self_time(spans, 0) == pytest.approx(10.0 - 4.0 - 2.0)
    assert self_time(spans, 1) == pytest.approx(2.5)
