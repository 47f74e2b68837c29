"""Spans around the engine's public calls, Spark stage metrics folded
into them, and the process-tree RSS sampler.

Spans are recorded only from the benchmark's side: ``Tracer.wrap``
replaces a public function or a store instance's method with a timed
wrapper. Spans live in memory and are written out once, after the
run. With tracing off, ``span`` and ``wrap`` cost nothing.
"""

from __future__ import annotations

import functools
import os
import threading
import time
from contextlib import contextmanager

from stats import STAGE_FIELDS, Span, fold_stages


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._last_stage = -1
        self.stages: list[dict] = []
        #: seconds spent in the tracer's own bookkeeping
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        t = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, time.time(), 0.0, parent))
        self._stack.append(idx)
        self.overhead_s += time.perf_counter() - t
        try:
            yield
        finally:
            t = time.perf_counter()
            self.spans[idx].end = time.time()
            self._stack.pop()
            if not self._stack:
                self._collect_stages()
            self.overhead_s += time.perf_counter() - t

    def wrap(self, owner, attr: str, name) -> None:
        """Put a span around ``owner.attr``; ``name`` is a string or a
        function of the call's arguments returning one."""
        if not self.enabled:
            return
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            label = name(*args, **kwargs) if callable(name) else name
            with self.span(label):
                return fn(*args, **kwargs)

        setattr(owner, attr, traced)

    def _collect_stages(self) -> None:
        """Read the stages completed since the last call from Spark's
        in-process status store (works with spark.ui.enabled=false)."""
        sc = self.spark.sparkContext
        jvm = sc._jvm
        seq = sc._jsc.sc().statusStore().stageList(
            jvm.java.util.ArrayList(), False, False,
            sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
        )
        newest = self._last_stage
        for i in range(seq.size()):  # newest first
            s = seq.apply(i)
            sid = s.stageId()
            if sid <= self._last_stage:
                break
            newest = max(newest, sid)
            if s.status().toString() != "COMPLETE":
                continue
            sub = s.submissionTime()
            self.stages.append({
                "id": sid,
                "name": s.name(),
                "submit_ms": sub.get().getTime() if sub.isDefined() else 0,
                "run_ms": s.executorRunTime(),
                "cpu_ns": s.executorCpuTime(),
                "gc_ms": s.jvmGcTime(),
                "shuffle_read_bytes": s.shuffleReadBytes(),
                "shuffle_write_bytes": s.shuffleWriteBytes(),
                "spill_bytes": s.diskBytesSpilled(),
                "tasks": s.numTasks(),
            })
        self._last_stage = newest

    def fold(self) -> int:
        t = time.perf_counter()
        orphans = fold_stages(self.spans, self.stages)
        self.overhead_s += time.perf_counter() - t
        return orphans

    def dump(self) -> dict:
        return {
            "spans": [
                {"name": s.name, "start": s.start, "end": s.end,
                 "parent": s.parent, **s.stages}
                for s in self.spans
            ],
            "stage_fields": list(STAGE_FIELDS),
        }


# ------------------------------------------------------------------ RSS


def descendants(root_pid: int) -> set[int]:
    """Every live process below ``root_pid``, from the /proc ppid links."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(d))
    out, todo = set(), list(children.get(root_pid, ()))
    while todo:
        pid = todo.pop()
        out.add(pid)
        todo.extend(children.get(pid, ()))
    return out


#: above this resident size a process's pages are its own (the JVM
#: heap), so its RSS stands in for its Pss
PSS_BELOW_KB = 512 * 1024


def _tree_rss_kb(root_pid: int) -> int:
    """Summed proportional set size (Pss) of ``root_pid`` and all of its
    descendants: forked Python workers share pages with their daemon,
    and summing plain RSS would count those pages once per worker.
    Reading Pss walks a process's page tables under its memory-map
    lock, about 45 ms for a 4 GB JVM, which would stall the JVM it
    measures; a process larger than PSS_BELOW_KB is read from
    /proc/<pid>/statm instead, a constant-time counter."""
    page_kb = os.sysconf("SC_PAGE_SIZE") // 1024
    total = 0
    for pid in (root_pid, *descendants(root_pid)):
        try:
            with open(f"/proc/{pid}/statm") as f:
                rss_kb = int(f.read().split()[1]) * page_kb
            if rss_kb > PSS_BELOW_KB:
                total += rss_kb
                continue
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1])
                        break
        except (OSError, IndexError, ValueError):
            pass
    return total


class RssSampler:
    """Peak summed Pss of this process tree (this process, the JVM, the
    Python workers), sampled from /proc while running."""

    def __init__(self, period_s: float = 0.25):
        self.period_s = period_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(pid))
            self._stop.wait(self.period_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_kb = max(self.peak_kb, _tree_rss_kb(os.getpid()))
