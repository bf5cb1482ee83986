"""One workload run in its own process; ``run.py`` launches it.

Writes the run's outcome as one JSON object to ``--result``: the output
checks, the end-to-end metrics, the per-layer metrics of a traced run,
and a detail map with every figure under its own name.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import sys
import time
from statistics import median

from common import LAYERS, WORKLOADS, JobCounter, Tracer, pct, start_spark


class Ctx:
    """What a workload needs from its run: the session, tracer, job
    counter, seed and seconds, and the run's own directory."""

    def __init__(self, a, t_proc0: float):
        self.seed, self.seconds, self.run_dir = a.seed, a.seconds, a.run_dir
        self.t_proc0 = t_proc0
        self.t_first_op = None
        self.window: dict = {}
        self.tracer = Tracer(bool(a.trace), trace_id=f"{a.workload}-{a.seed}-{os.getpid()}")
        t = time.monotonic()
        with self.tracer.span("session"):
            self.spark = start_spark(self.run_dir)
        self.get_spark_s = time.monotonic() - t
        self.master = self.spark.sparkContext.master
        self.jobs = JobCounter(self.spark, bool(a.trace))
        self.job_totals = None

    def mark_first_op(self) -> None:
        """Set-up ends here; jobs are counted from here on."""
        self.t_first_op = time.monotonic()
        self.window = {"ticks": _cpu_ticks(), "gc_s": _gc_s(self.spark)}
        self.jobs.groups.clear()

    def mark_timed_end(self) -> None:
        """The timed window ends here: host steal and JVM GC time over it."""
        self.window = {"host.steal_pct": _steal_pct(self.window["ticks"], _cpu_ticks()),
                       "jvm.gc_s": _gc_s(self.spark) - self.window["gc_s"]}

    def restart_spark_one_core(self):
        """Stop the session (keeping its job counts) and start another on
        ``local[1]``."""
        self.job_totals = self.jobs.counts()
        self.spark.stop()
        self.spark = start_spark(self.run_dir, master="local[1]")
        self.jobs = JobCounter(self.spark, False)
        return self.spark

    def probe_parse(self, path: str, n_lines: int, model=None) -> dict:
        """Traced runs only, off the clock: parse the workload's lines to a
        ``noop`` sink, and with a model, parse and score them too. Parsing
        and scoring run inside the micro-batches and panel collects; these
        probes time them on their own, as figures, not as layer shares."""
        from logvision_spark.ml.intrusion import score_stream
        from logvision_spark.parser import read_access_log

        parsed = read_access_log(self.spark, path)
        t = time.monotonic()
        parsed.write.format("noop").mode("overwrite").save()
        parse_s = time.monotonic() - t
        out = {"parser.lines_per_s": n_lines / parse_s}
        if model is not None:
            t = time.monotonic()
            score_stream(model, parsed).write.format("noop").mode("overwrite").save()
            score_s = time.monotonic() - t
            out["ml.score_lines_per_s"] = n_lines / max(score_s - parse_s, 1e-3)
        return out


def main(argv: list[str]) -> int:
    t_proc0 = float(os.environ["PERFBENCH_T0"])
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--trace-out", required=True)
    a = ap.parse_args(argv)

    ctx = Ctx(a, t_proc0)
    module = __import__(a.workload)
    try:
        res = module.run(ctx)
        lo, hi = res["timed"]
        lat = res["latencies"]
        out = {
            "correct": res["failed"] == 0,
            "attempted": res["attempted"],
            "failed": res["failed"],
            "e2e": {
                "setup_s": ctx.t_first_op - t_proc0,
                "py_peak_rss_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0,
                "latency_p50_s": median(lat),
                "latency_p90_s": pct(lat, 90),
                "cycle_s": res["cycle_s"],
            },
            "detail": {"workload": a.workload, "seed": a.seed, "nproc": len(os.sched_getaffinity(0)),
                       "master": ctx.master, "timed_s": hi - lo, "samples": len(lat),
                       "get_spark_s": ctx.get_spark_s, **ctx.window, **res["detail"]},
        }
        if a.trace:
            out["layers"] = _layers(ctx, res, lo, hi, out["detail"])
            ctx.tracer.write(a.trace_out)
            out["detail"]["trace_file"] = a.trace_out
    finally:
        ctx.spark.stop()
    with open(a.result, "w") as f:
        json.dump(out, f)
    return 0


def _cpu_ticks() -> list[int] | None:
    """The host's aggregate CPU tick counters (Linux ``/proc/stat``)."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def _gc_s(spark) -> float:
    """Seconds the driver JVM has spent in garbage collection."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1e3


def _steal_pct(a, b) -> float | None:
    """Share of CPU time the hypervisor gave to other guests between two
    tick samples: a slow run with high steal was slowed by its host."""
    if not a or not b or len(a) < 8:
        return None
    d = [y - x for x, y in zip(a, b)]
    return 100.0 * d[7] / max(1, sum(d[:8]))


def _layers(ctx, res, lo: float, hi: float, detail: dict) -> dict:
    """Per-layer figures of the timed window [lo, hi]; set-up lies before
    it and is reported as ``session.get_spark_s`` and ``setup_s``."""
    tr = ctx.tracer
    coverage = tr.coverage(lo, hi)
    tr.add_idle(lo, hi)
    self_s = tr.self_times(lo, hi)
    busy = sum(self_s[name] for name in LAYERS)
    jobs, tasks = ctx.job_totals if ctx.job_totals is not None else ctx.jobs.counts()
    layers = {"session.get_spark_s": ctx.get_spark_s,
              "parser.lines_per_s": res["detail"]["parser.lines_per_s"]}
    layers.update({f"{name}.self_pct": 100.0 * self_s[name] / busy for name in LAYERS})
    layers.update({
        "trace.coverage_pct": 100.0 * coverage,
        "trace.overhead_pct": 100.0 * tr.bookkeeping_s / (hi - lo),
        "trace.cycle_s": res["cycle_s"],
        "spark.jobs": jobs,
        "spark.tasks": tasks,
    })
    detail["self_s"] = self_s
    return layers


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
