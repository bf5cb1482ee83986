"""Shared pieces of the workloads: the span recorder, the percentile
helper and the Spark session every workload process starts.

Spans are kept in memory and written as JSON lines at exit. A span's
layer is its name; its self time is its duration minus the part of it
that its children cover.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
from contextlib import contextmanager
from statistics import quantiles

WORKLOADS = ("log_stream", "batch_serving")

# Layers whose share of the timed window a traced run reports, in the
# order they appear on a request's path. Set-up (session start, model
# fit, warm-up) lies before the window and is reported on its own.
# Parsing and scoring have no layer of their own here: they run inside
# the micro-batches and the panel collects, and the traced run measures
# them separately with off-clock probes.
LAYERS = (
    "stream.counter",   # micro-batches of the counter query (engine side)
    "stream.alert",     # micro-batches of the alert query, push sink included
    "multiplex.batch",  # streaming.multiplex foreachBatch callback
    "multiplex.merge",  # KVCounterStore.merge
    "multiplex.read",   # KVCounterStore board reads
    "views.build",      # serving.views driver-side DataFrame build
    "views.collect",    # serving.views panel execution and fetch
    "catalog.build",    # catalog builder(), driver side
    "catalog.collect",  # catalog entry execution and fetch
    "idle",             # open-loop wait: no layer has work
)


def pct(values, q: int) -> float:
    """Percentile q (1..99) of a non-empty sample, interpolated as
    ``statistics.quantiles(..., method="inclusive")`` does; pct(v, 50)
    equals ``statistics.median(v)``."""
    v = list(values)
    if len(v) < 2:
        return v[0]
    return quantiles(v, n=100, method="inclusive")[q - 1]


class Tracer:
    """In-memory spans: name, start, end, parent and trace id.

    Disabled, ``span`` still yields but records nothing, so untraced runs
    take the same code path without the bookkeeping.
    """

    def __init__(self, enabled: bool, trace_id: str):
        self.enabled = enabled
        self.trace_id = trace_id
        self.spans: list[dict] = []
        self.bookkeeping_s = 0.0
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def add(self, name: str, start: float, end: float, parent: int | None = None,
            sid: int | None = None, **attrs) -> int | None:
        """Record a finished span: from ``span``, or derived after the
        fact, such as micro-batches read from query progress."""
        if not self.enabled:
            return None
        t = time.perf_counter()
        sid = sid if sid is not None else next(self._ids)
        rec = {"id": sid, "name": name, "start": start, "end": end,
               "parent": parent, "trace": self.trace_id, **attrs}
        with self._lock:
            self.spans.append(rec)
            self.bookkeeping_s += time.perf_counter() - t
        return sid

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        start = time.monotonic()
        try:
            yield sid
        finally:
            end = time.monotonic()
            stack.pop()
            self.add(name, start, end, parent=parent, sid=sid, **attrs)

    def self_times(self, lo: float, hi: float) -> dict[str, float]:
        """Seconds of self time per layer inside [lo, hi]."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = {layer: 0.0 for layer in LAYERS}
        for s in self.spans:
            a, b = max(s["start"], lo), min(s["end"], hi)
            if b <= a:
                continue
            covered = _union([(max(x, a), min(y, b)) for x, y in kids.get(s["id"], [])])
            out[s["name"]] = out.get(s["name"], 0.0) + (b - a) - covered
        return out

    def coverage(self, lo: float, hi: float) -> float:
        """Share of [lo, hi] covered by at least one span."""
        return _union([(max(s["start"], lo), min(s["end"], hi)) for s in self.spans]) / (hi - lo)

    def add_idle(self, lo: float, hi: float) -> None:
        """Record the gaps in [lo, hi] that no span covers as ``idle``."""
        ivs = sorted((max(s["start"], lo), min(s["end"], hi)) for s in self.spans
                     if s["end"] > lo and s["start"] < hi)
        cur = lo
        gaps = []
        for a, b in ivs:
            if a > cur:
                gaps.append((cur, a))
            cur = max(cur, b)
        if hi > cur:
            gaps.append((cur, hi))
        for a, b in gaps:
            self.add("idle", a, b)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s) + "\n")


def _union(ivs) -> float:
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(iv for iv in ivs if iv[1] > iv[0]):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


class JobCounter:
    """Spark jobs and tasks, read from the status tracker under a job
    group the benchmark sets around each traced call. Streaming queries
    run under their run id as the group."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.groups: list[tuple[str, str]] = []  # (label, group id)
        self._n = itertools.count()

    @contextmanager
    def group(self, label: str):
        if not self.enabled:
            yield None
            return
        gid = f"perfbench-{next(self._n)}-{label}"
        self.sc.setJobGroup(gid, label)
        try:
            yield gid
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.groups.append((label, gid))

    def add_group(self, label: str, gid: str) -> None:
        if self.enabled:
            self.groups.append((label, gid))

    def counts(self, labels=None) -> tuple[int, int]:
        """(jobs, tasks) over the recorded groups, or those labelled so."""
        st = self.sc.statusTracker()
        jobs = tasks = 0
        for label, gid in self.groups:
            if labels is not None and label not in labels:
                continue
            for j in st.getJobIdsForGroup(gid):
                jobs += 1
                info = st.getJobInfo(j)
                for sid in (info.stageIds if info else []):
                    si = st.getStageInfo(sid)
                    tasks += si.numTasks if si else 0
        return jobs, tasks


def start_spark(run_dir: str, master: str | None = None):
    """The session every workload uses: ``get_spark`` with the run's own
    scratch, warehouse and temp directories."""
    from logvision_spark.session import get_spark

    tmp = os.path.join(run_dir, "tmp")
    conf = {
        "spark.ui.enabled": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData",
        "spark.sql.streaming.numRecentProgressUpdates": "5000",
        "spark.ui.retainedJobs": "5000",
        "spark.ui.retainedStages": "10000",
    }
    spark = get_spark(app_name="perfbench", master=master, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def fit_model(spark, run_dir: str, seed: int):
    """Fit the intrusion model on the seeded corpus, read through the
    package's own corpus loader."""
    from gen import training_corpus
    from logvision_spark.ml.intrusion import BAD, GOOD, load_corpus, train

    good, bad = training_corpus(seed)
    paths = {}
    for name, urls in (("good", good), ("bad", bad)):
        paths[name] = os.path.join(run_dir, f"{name}.txt")
        with open(paths[name], "w") as f:
            f.write("\n".join(urls) + "\n")
    return train(load_corpus(spark, paths["good"], GOOD), load_corpus(spark, paths["bad"], BAD))
