"""One benchmark run in a fresh process: session start, input generation,
warm-up, then a timed closed loop with one client thread.

Started by run.py, which prepares the environment and cleans up after it.
Prints one JSON result as the last line of standard output.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import sys
import time

from probes import JvmCounters, ProcTree, Tracer, host_snapshot, median

WORKLOADS = ("ingest_small_files", "analytics_mix")
STEAL_LIMIT = 0.02
MAX_TIMED_FACTOR = 2


class Context:
    """What a workload needs from the run: session, seed, scratch dir,
    tracer, and the meters for the timed phase."""

    def __init__(self, seed: int, tmp: str, trace: bool):
        self.seed = seed
        self.tmp = tmp
        self.tracer = Tracer(trace)
        self.trace = trace
        self.proc = ProcTree()
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.check_s = 0.0  # time spent checking results, kept out of setup_s
        # timed-phase meters, split by whether tracing was on:
        # traced -> [op time s, CPU s, ops]
        self.busy = {False: [0.0, 0.0, 0], True: [0.0, 0.0, 0]}

    def count(self, attempted: int, failed: int) -> None:
        self.attempted += attempted
        self.failed += failed

    def note_failure(self, msg: str) -> None:
        self.failures.append(msg)
        print(f"perfbench: failure: {msg}", file=sys.stderr)

    @contextlib.contextmanager
    def checking(self):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.check_s += time.perf_counter() - t0

    def cpu_mark(self) -> float:
        return self.proc.cpu_s()

    def add_busy(self, wall: float, cpu: float, ops: int) -> None:
        m = self.busy[self.tracer.enabled]
        m[0] += wall
        m[1] += cpu
        m[2] += ops


def _make(ctx: Context, workload: str):
    if workload == "analytics_mix":
        from analytics import Analytics

        return Analytics(ctx)
    from ingest import Ingest

    return Ingest(ctx)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tmp", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--t0", type=float, required=True, help="run start, time.time()")
    args = ap.parse_args()

    host0 = host_snapshot()
    ctx = Context(args.seed, args.tmp, bool(args.trace))
    t0 = time.perf_counter()
    with ctx.tracer.span("session.start"):
        from cloudtrail_streamer_spark.session import get_session

        spark = get_session("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
    session_start_s = time.perf_counter() - t0
    ctx.spark = spark
    jvm = JvmCounters(spark)

    wl = _make(ctx, args.workload)
    wl.setup()
    # the result checks (oracle queries, hashing, spool reads) are the
    # benchmark's own work, not the program's
    setup_s = time.time() - args.t0 - ctx.check_s
    ctx.proc.cpu_s()  # notes the Python workers set-up started

    host1 = host_snapshot()
    jit0, gc0 = jvm.read()
    # A step during which the hypervisor took more than STEAL_LIMIT of the
    # vCPUs' time ran on a contended host: its figures are dropped and
    # another step is run instead, until MAX_TIMED_FACTOR times --seconds
    # of timed wall has passed, after which every step counts.
    ncpu = len(os.sched_getaffinity(0))
    max_timed_s = MAX_TIMED_FACTOR * args.seconds
    steps = []  # per timed pass or round: (op time s, JIT ms, steal ms, dropped)
    t_timed = time.perf_counter()
    while True:
        # a traced run alternates untraced and traced steps, so that the
        # tracing overhead is measured under the same host conditions
        ctx.tracer.enabled = ctx.trace and ctx.busy[True][0] < ctx.busy[False][0]
        mark = ({k: list(v) for k, v in ctx.busy.items()}, len(ctx.tracer.spans), wl.mark())
        jit, steal, t0 = jvm.read()[0], host_snapshot()["steal_ms"], time.perf_counter()
        wall = wl.step()
        stolen = host_snapshot()["steal_ms"] - steal
        contended = stolen > STEAL_LIMIT * ncpu * (time.perf_counter() - t0) * 1e3
        drop = contended and time.perf_counter() - t_timed < max_timed_s
        steps.append((wall, jvm.read()[0] - jit, stolen, drop))
        if drop:
            ctx.busy, n_spans, wl_mark = mark
            del ctx.tracer.spans[n_spans:]
            wl.rollback(wl_mark)
            continue
        done = ctx.busy[False][0] + ctx.busy[True][0] >= args.seconds
        if done and (not ctx.trace or ctx.busy[True][0] > 0):
            break
    ctx.tracer.enabled = ctx.trace
    dropped = sum(1 for s in steps if s[3])
    jit1, gc1 = jvm.read()
    host2 = host_snapshot()

    wall, cpu, ops = (a + b for a, b in zip(ctx.busy[False], ctx.busy[True]))
    if not ops:
        print(f"perfbench: no op succeeded: {ctx.failures[:3]}", file=sys.stderr)
        return 1
    e2e = {
        "ops_per_s": ops / wall,
        "cpu_ms_per_op": cpu * 1e3 / ops,
        "latency_p50_ms": wl.latency_p50_ms(),
        "setup_s": setup_s,
    }

    if ctx.trace:
        layer = {
            "first_pass_s": wl.first_pass_s,
            "session.start_s": session_start_s,
            "jvm.jit_ms": jit1 - jit0,
            "jvm.gc_ms": gc1 - gc0,
            "python.worker_spawns": ctx.proc.python_workers_seen(),
            "host.steal_ms": host2["steal_ms"] - host1["steal_ms"],
            "host.load1": host0["load1"],
            "host.dropped_steps": dropped,
        }
        layer.update(wl.per_layer())
        untraced = ctx.busy[False][2] / ctx.busy[False][0]
        traced = ctx.busy[True][2] / ctx.busy[True][0]
        layer["trace.ops_per_s"] = traced
        layer["trace.overhead_share"] = 1.0 - traced / untraced
        metrics = layer
    else:
        metrics = e2e

    diag = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "end_to_end": e2e,
        "session_start_s": session_start_s,
        "first_pass_s": wl.first_pass_s,
        "timed_wall_s": wall,
        "timed_ops": ops,
        "jvm_jit_ms": jit1 - jit0,
        "jvm_gc_ms": gc1 - gc0,
        "host_steal_ms": host2["steal_ms"] - host1["steal_ms"],
        "host_load1_start": host0["load1"],
        "steps": steps,
        "dropped_steps": dropped,
        "failures": ctx.failures[:20],
        **wl.diagnostics(),
    }
    if ctx.trace:
        ctx.tracer.write(args.out + ".trace.json", {"metrics": metrics, "diagnostics": diag})
    with open(args.out, "w") as f:
        json.dump({"metrics": metrics, "diagnostics": diag,
                   "attempted": ctx.attempted, "failed": ctx.failed}, f)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
