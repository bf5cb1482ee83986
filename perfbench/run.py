"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Launches the workload in its own
process with the checkout on ``PYTHONPATH`` (Spark's Python workers
import ``logvision_spark`` from there), gives it its own temp, log and
checkpoint directories under ``.perfbench/`` and deletes them at exit.
Prints one detail line (every figure by name, plus nproc, master and
seed), then, as the last line, the result: the end-to-end metrics of
``BENCHMARK.json`` or, with ``--trace 1``, its per-layer metrics.
Spans of a traced run are kept in ``.perfbench/traces/``.
"""

from __future__ import annotations

import time

T0 = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

from common import WORKLOADS  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CHILD_TIMEOUT_S = 170


def _stop_session(child: subprocess.Popen) -> None:
    """Stop every process left in the workload's session (the JVM and the
    tail generator are its descendants) and wait until they have ended."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(child.pid, sig)
        except ProcessLookupError:
            return
        for _ in range(50):
            time.sleep(0.1)
            child.poll()  # reap the leader, or the group never empties
            try:
                os.killpg(child.pid, 0)
            except ProcessLookupError:
                return


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "logvision_spark", "__init__.py")):
        print("perfbench: logvision_spark not found beside perfbench/", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    run_dir = os.path.join(ROOT, ".perfbench", f"run-{a.workload}-{a.seed}-{os.getpid()}")
    trace_out = os.path.join(ROOT, ".perfbench", "traces", f"{a.workload}-{a.seed}.jsonl")
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    result_path = os.path.join(run_dir, "result.json")
    log_path = os.path.join(run_dir, "workload.log")
    cpus = str(len(os.sched_getaffinity(0)))
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join([ROOT, HERE]),
        PYSPARK_PYTHON=sys.executable,
        TMPDIR=os.path.join(run_dir, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        SPARK_GRAFT_CPUS=cpus,
        SPARK_GRAFT_DRIVER_MEM="2g",
        PERFBENCH_T0=repr(T0),
    )
    env.pop("SPARK_MASTER", None)  # get_spark would prefer it over local[nproc]
    cmd = [sys.executable, os.path.join(HERE, "workload.py"),
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--run-dir", run_dir, "--result", result_path,
           "--trace-out", trace_out]
    try:
        with open(log_path, "w") as log:
            child = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log, stderr=log,
                                     stdin=subprocess.DEVNULL, start_new_session=True)
            try:
                code = child.wait(timeout=CHILD_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                code = None
            finally:
                _stop_session(child)
                child.wait()
        if code != 0 or not os.path.exists(result_path):
            with open(log_path) as f:
                tail = f.readlines()[-60:]
            sys.stderr.write("".join(tail))
            print(f"perfbench: workload {a.workload} failed (exit {code})", file=sys.stderr)
            return 1
        with open(result_path) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    key, values = ("per_layer", res["layers"]) if a.trace else ("end_to_end", res["e2e"])
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec[key]}
    res["detail"]["run_wall_s"] = time.monotonic() - T0
    print(json.dumps({"detail": res["detail"]}))
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
