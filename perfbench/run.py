"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload in a fresh child process (bench.py) with every scratch
file kept under .perfbench/ in the current directory, stops every process
the child started, and prints one JSON result as the last line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {name: {"value", "unit"}}}

With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json; with
--trace 1 the per-layer ones, and the spans are written next to the result
under .perfbench/results/.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from metrics import PER_LAYER  # noqa: E402

DEADLINE_S = 170.0  # the whole run, including cleanup, stays under 180 s


def _die(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def _group_alive(pgid: int) -> bool:
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        fields = raw[raw.rindex(")") + 2 :].split()
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def _stop_group(pgid: int) -> None:
    """Kill whatever the child left (JVM, Python workers) and wait until
    every process of its group has ended."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        end = time.monotonic() + 5
        while time.monotonic() < end:
            if not _group_alive(pgid):
                return
            time.sleep(0.05)


def main() -> int:
    t0 = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "cloudtrail_streamer_spark", "__init__.py")):
        return _die("run from a checkout: cloudtrail_streamer_spark/ is missing here")
    try:
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            spec = json.load(f)
    except (OSError, ValueError) as exc:
        return _die(f"cannot read BENCHMARK.json: {exc}")

    work = os.path.join(root, ".perfbench")
    tmp = os.path.join(work, "tmp", f"{args.workload}-{args.seed}-{os.getpid()}")
    results = os.path.join(work, "results")
    os.makedirs(tmp)
    os.makedirs(results, exist_ok=True)
    out = os.path.join(results, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    if os.path.exists(out):
        os.remove(out)

    cpus = str(len(os.sched_getaffinity(0)))
    env = dict(os.environ)
    env.update(
        # Python workers import the package and the deliver closure from here
        PYTHONPATH=os.pathsep.join([root, HERE]),
        SPARK_GRAFT_CPUS=cpus,
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"),
        PYSPARK_SUBMIT_ARGS=(
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
            f"--conf spark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')} pyspark-shell"
        ),
        PYTHONHASHSEED="0",
    )
    env.pop("OMP_NUM_THREADS", None)
    cmd = [
        sys.executable, os.path.join(HERE, "bench.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--tmp", tmp, "--out", out, "--t0", repr(t0),
    ]
    # SIGTERM unwinds through the finally below, which stops the child's group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(3))
    # the child's stdout goes to our stderr: our last stdout line is the result
    child = subprocess.Popen(
        cmd, cwd=tmp, env=env, stdout=sys.stderr, start_new_session=True
    )
    try:
        rc = child.wait(timeout=max(1.0, DEADLINE_S - (time.time() - t0)))
    except subprocess.TimeoutExpired:
        rc = None
    finally:
        _stop_group(child.pid)
        child.wait()
        shutil.rmtree(tmp, ignore_errors=True)
    if rc is None:
        return _die("run exceeded its deadline")
    if rc != 0:
        return _die(f"benchmark process exited with {rc}")
    with open(out) as f:
        res = json.load(f)

    if args.trace:
        names = {m["name"]: m["unit"] for m in spec["per_layer"]}
        exercised = {k for k in names if args.workload in PER_LAYER[k][1]}
    else:
        names = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        exercised = set(names)
    metrics = {}
    for name, unit in names.items():
        value = res["metrics"].get(name)
        if value is None:
            if name in exercised:
                return _die(f"workload did not report {name}")
            value = 0.0
        metrics[name] = {"value": value, "unit": unit}
    finite = all(math.isfinite(m["value"]) for m in metrics.values())
    print(json.dumps(res["diagnostics"]), file=sys.stderr)
    print(json.dumps({
        "correct": res["failed"] == 0 and finite,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
