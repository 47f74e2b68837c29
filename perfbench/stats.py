"""The benchmark's own arithmetic: percentiles, spreads, operation
accounting and the fold of Spark stage metrics into trace spans.

Pure Python with no Spark import, so it is unit-tested on its own
(perfbench/test_stats.py).
"""

from __future__ import annotations

import math
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

#: A percentile is only reported when at least this many samples lie
#: strictly above its rank: a tail read from fewer points is one or
#: two outliers, not a percentile.
MIN_BEYOND = 10


def percentile(values: list[float], q: float) -> float | None:
    """Nearest-rank ``q``-th percentile (0 < q <= 100) of ``values``,
    or None when fewer than MIN_BEYOND samples lie beyond its rank.

    The median (q=50) is exempt from the rule: it is always reported
    with its sample count."""
    if not values:
        return None
    xs = sorted(values)
    rank = max(1, math.ceil(q / 100.0 * len(xs)))
    if q != 50 and len(xs) - rank < MIN_BEYOND:
        return None
    return xs[rank - 1]


def median(values: list[float]) -> float:
    return statistics.median(values)


def tail_percentile(values: list[float], candidates=(99, 95, 90, 75)) -> tuple[int, float] | None:
    """The highest candidate percentile that ``percentile`` allows."""
    for q in candidates:
        v = percentile(values, q)
        if v is not None:
            return q, v
    return None


def spread(values: list[float]) -> float:
    """Inter-quartile distance as a share of the median, with the
    quartiles of ``statistics.quantiles(values, n=4)``."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


# ------------------------------------------------------------ operations


@dataclass
class Op:
    name: str
    kind: str
    seconds: float
    ok: bool
    result: object = None


@dataclass
class Ledger:
    """Attempted/failed accounting. An operation is one engine call
    the workload times: a job, a request or a maintenance step. A call
    that raises fails; a failed correctness check fails the
    operations it covers (``fail``)."""

    ops: list[Op] = field(default_factory=list)

    def run(self, name: str, kind: str, fn, *args, **kwargs) -> Op:
        t0 = time.perf_counter()
        try:
            res, ok = fn(*args, **kwargs), True
        except Exception:  # the run must go on and report the failure
            traceback.print_exc(file=sys.stderr)
            res, ok = None, False
        op = Op(name, kind, time.perf_counter() - t0, ok, res)
        self.ops.append(op)
        return op

    def fail(self, ops: list[Op], why: str) -> None:
        print(f"correctness: {why}", file=sys.stderr)
        for op in ops:
            op.ok = False

    def of_kind(self, *kinds: str) -> list[Op]:
        return [o for o in self.ops if o.kind in kinds]

    @property
    def attempted(self) -> int:
        return len(self.ops)

    @property
    def failed(self) -> int:
        return sum(not o.ok for o in self.ops)


# ---------------------------------------------------------------- spans

STAGE_FIELDS = (
    "run_ms", "cpu_ns", "gc_ms", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "tasks",
)


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float
    parent: int | None
    stages: dict = field(default_factory=lambda: dict.fromkeys(("stages", *STAGE_FIELDS), 0))


def fold_stages(spans: list[Span], stages: list[dict]) -> int:
    """Add each completed stage's metrics to the innermost span whose
    [start, end] holds the stage's submission time (epoch ms). Every
    engine call is synchronous, so a stage submitted inside a span
    belongs to it. Returns the number of stages that fell in no span."""
    depth = {}
    for i, s in enumerate(spans):
        d, p = 0, s.parent
        while p is not None:
            d, p = d + 1, spans[p].parent
        depth[i] = d
    orphans = 0
    for st in stages:
        t = st["submit_ms"] / 1000.0
        inner = None
        for i, s in enumerate(spans):
            if s.start <= t <= s.end and (inner is None or depth[i] > depth[inner]):
                inner = i
        if inner is None:
            orphans += 1
            continue
        acc = spans[inner].stages
        acc["stages"] += 1
        for f in STAGE_FIELDS:
            acc[f] += st[f]
    return orphans


def inclusive(spans: list[Span], i: int) -> dict:
    """Stage metrics of span ``i`` plus all of its descendants."""
    tot = dict(spans[i].stages)
    for j, s in enumerate(spans):
        if s.parent == i:
            for k, v in inclusive(spans, j).items():
                tot[k] += v
    return tot


def self_time(spans: list[Span], i: int) -> float:
    """Span duration minus the part its direct children cover."""
    s = spans[i]
    kids = sorted((c.start, c.end) for c in spans if c.parent == i)
    covered, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in kids:
        lo, hi = max(lo, s.start), min(hi, s.end)
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return (s.end - s.start) - covered
