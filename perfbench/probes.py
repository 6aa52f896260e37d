"""Measurement probes: spans, process-tree CPU, host contention and JVM
counters. Nothing here imports the package under test."""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager

_CLK_TCK = os.sysconf("SC_CLK_TCK")


class Tracer:
    """In-memory spans (name, start, end, parent, op). Disabled tracers
    record nothing and cost one attribute check per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: int | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def durations_ms(self, name: str) -> list[float]:
        """Durations of the named spans recorded inside timed ops."""
        return [
            (s["end"] - s["start"]) * 1e3
            for s in self.spans
            if s["name"] == name and s["end"] is not None and s["op"] is not None
        ]

    def self_time_ms(self) -> dict[str, float]:
        """Per span name: total duration minus the time its children cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            own = (s["end"] - s["start"] - child[s["id"]]) * 1e3
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_ms": self.self_time_ms(), **extra}, f)


def _stat_fields(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may contain spaces; fields resume after the closing paren
    return raw[raw.rindex(")") + 2 :].split()


class ProcTree:
    """CPU seconds of this process and every descendant (JVM,
    Python workers), including children they have already reaped."""

    def __init__(self):
        self.root = os.getpid()
        self.seen_python: set[int] = set()

    def _tree(self) -> dict[int, list[str]]:
        stats, kids = {}, {}
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            f = _stat_fields(pid)
            if f is None:
                continue
            stats[int(pid)] = f
            kids.setdefault(int(f[1]), []).append(int(pid))
        out, todo = {}, [self.root]
        while todo:
            p = todo.pop()
            if p in stats:
                out[p] = stats[p]
                todo.extend(kids.get(p, ()))
        return out

    def cpu_s(self) -> float:
        tree = self._tree()
        total = 0
        for pid, f in tree.items():
            # fields after comm: state=0 ppid=1 ... utime=11 stime=12 cutime=13 cstime=14
            total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
            if pid != self.root and pid not in self.seen_python:
                try:
                    with open(f"/proc/{pid}/cmdline", "rb") as c:
                        if b"pyspark" in c.read():
                            self.seen_python.add(pid)
                except OSError:
                    pass
        return total / _CLK_TCK

    def python_workers_seen(self) -> int:
        """Distinct Python daemon/worker processes observed so far."""
        return len(self.seen_python)


def host_snapshot() -> dict:
    """Steal time (ms) from /proc/stat and the 1-minute load average."""
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    steal_ticks = int(cpu[8]) if len(cpu) > 8 else 0
    return {"steal_ms": steal_ticks * 1000.0 / _CLK_TCK, "load1": os.getloadavg()[0]}


class JvmCounters:
    """Cumulative JIT compile and GC milliseconds from the JVM's
    management beans, read over py4j."""

    def __init__(self, spark):
        mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        self._jit = mf.getCompilationMXBean()
        self._gcs = list(mf.getGarbageCollectorMXBeans())

    def read(self) -> tuple[float, float]:
        return (
            float(self._jit.getTotalCompilationTime()),
            float(sum(b.getCollectionTime() for b in self._gcs)),
        )


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def geomean(xs) -> float:
    xs = [x for x in xs if x > 0]
    return statistics.geometric_mean(xs) if xs else 0.0


def warm_up(step, min_steps: int, max_steps: int) -> list[float]:
    """Call ``step`` (which returns its time) until a call is no longer
    3% faster than the best earlier one, at least ``min_steps`` and at
    most ``max_steps`` times. While the JIT is still compiling the hot
    paths, times keep falling. Returns the step times."""
    times: list[float] = []
    while len(times) < max_steps:
        times.append(step())
        if len(times) >= min_steps and times[-1] > 0.97 * min(times[:-1]):
            break
    return times
