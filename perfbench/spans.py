"""What the benchmark reads besides wall clocks: spans around the calls
into each layer (traced runs only), the Spark status store, and memory.

Spans are recorded from the benchmark's own files by wrapping the
program's public entry points for the duration of a traced run; the
program itself carries no tracing code. A span records its total time
and its self time (total minus the spans nested inside it on the same
thread), and every span's interval is kept so that the time a pass
spends outside sink and ClickHouse calls can be measured even when
those calls run on other threads (foreachBatch runs on Py4J callback
threads; concurrent tables run on a pool).
"""

from __future__ import annotations

import glob
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self):
        self.total: dict[str, float] = defaultdict(float)
        self.self_s: dict[str, float] = defaultdict(float)
        self.counts: dict[str, float] = defaultdict(float)
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.intervals: dict[str, list[tuple[float, float]]] = defaultdict(list)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        stack.append(0.0)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            child = stack.pop()
            dt = t1 - t0
            if stack:
                stack[-1] += dt
            with self._lock:
                self.total[name] += dt
                self.self_s[name] += dt - child
                self.samples[name].append(dt)
                self.intervals[name].append((t0, t1))

    def reset(self, keep: str) -> None:
        """Forget every figure except those of spans named ``keep*``."""
        with self._lock:
            for d in (self.total, self.self_s, self.counts, self.samples,
                      self.intervals):
                for name in [n for n in d if not n.startswith(keep)]:
                    del d[name]

    def count(self, name: str, n: float = 1) -> None:
        with self._lock:
            self.counts[name] += n

    def patch(self, owner, attr: str, value) -> None:
        """Set ``owner.attr`` until :meth:`restore`."""
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` by a spanned call; ``after(args,
        result)`` may record counts."""
        orig = getattr(owner, attr)

        def wrapped(*args, **kwargs):
            with self.span(name):
                out = orig(*args, **kwargs)
            if after is not None:
                after(args, out)
            return out

        self.patch(owner, attr, wrapped)

    def restore(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    def covered(self, names, t0: float, t1: float) -> float:
        """Seconds of [t0, t1] during which any span in ``names`` ran."""
        ivs = sorted(
            (max(a, t0), min(b, t1))
            for n in names
            for a, b in self.intervals.get(n, ())
            if b > t0 and a < t1
        )
        out, end = 0.0, t0
        for a, b in ivs:
            if b <= end:
                continue
            out += b - max(a, end)
            end = b
        return out


class SparkCounters:
    """Job, stage and task figures from the driver's status store, which
    is kept with ``spark.ui.enabled=false`` too. Job and stage ids are
    sequential, so a window's jobs are a difference of two ids; stages
    are read per window, well inside the store's retention."""

    def __init__(self, spark):
        self.jsc = spark.sparkContext._jsc.sc()
        self.dag = self.jsc.dagScheduler()
        self.store = self.jsc.statusStore()

    def drain(self) -> None:
        self.jsc.listenerBus().waitUntilEmpty()

    def mark(self) -> tuple[int, int]:
        self.drain()
        return int(self.dag.nextJobId()), int(self.dag.nextStageId())

    def window(self, start: tuple[int, int], end: tuple[int, int]) -> dict:
        """Totals over the jobs and stages launched between two marks."""
        out = {
            "jobs": end[0] - start[0],
            "stages": 0,
            "tasks": 0,
            "task_s": 0.0,
            "shuffle_write_mb": 0.0,
            "spill_mb": 0.0,
            "gc_s": 0.0,
        }
        from py4j.protocol import Py4JJavaError

        for sid in range(start[1], end[1]):
            try:
                s = self.store.lastStageAttempt(sid)
            except Py4JJavaError:  # NoSuchElementException: never attempted
                continue
            if s.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += int(s.numCompleteTasks())
            out["task_s"] += s.executorRunTime() / 1e3
            out["shuffle_write_mb"] += s.shuffleWriteBytes() / 1e6
            out["spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / 1e6
            out["gc_s"] += s.jvmGcTime() / 1e3
        return out


def _status_kb(pid: int | str, field: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1])
    return 0


def child_pids(pid: int) -> list[int]:
    out = []
    for path in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(path) as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat.rsplit(")", 1)[1].split()
        if int(fields[1]) == pid:
            out.append(int(path.split("/")[2]))
    return out


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident set of this process plus its JVM child."""
    return (_status_kb("self", "VmHWM") + _status_kb(jvm_pid, "VmHWM")) / 1024


def _alive(pid: int) -> bool:
    """False once the process has exited (a zombie has exited too)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def wait_gone(pids, timeout: float) -> None:
    deadline = time.monotonic() + timeout
    for pid in pids:
        while _alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
