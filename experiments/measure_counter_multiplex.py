"""Counter-catalog topology A/B: N streaming queries (one per view, the
r1-r7 shape AND the reference's 11-foreachRDD shape) vs ONE multiplexed
foreachBatch (streaming/multiplex.py) — results in ARCHITECTURE.md
"Counter serving topology", round 8.

Both topologies materialize the SAME artifact: the full counter catalog
(7 per-key counters + per-second series + 3 totals) in a KV store, fed
from the same on-disk log corpus through real streaming queries
(AvailableNow, maxFilesPerTrigger so every topology sees the same
number of triggers).

- fanout    — one streaming query per counter view (counter_views +
              foreach_batch_kv, update mode): each query independently
              scans + parses every file and keeps running counts in its
              own StateStore; the KV write applies update rows as SETs.
              Aggregate per-trigger source cost: N scans + N parses.
- multiplex — ONE stateless foreachBatch; per trigger the whole catalog
              is computed as (counter, member, delta) rows by one melt +
              one hash aggregation and MERGED into the KV store
              (replay-fenced). Per-trigger source cost: 1 scan + 1 parse,
              no Spark state at all.

The two stores must agree exactly on every counter — the equality check
runs before any timing is reported.

Two numbers per arm: WALL time (drain under AvailableNow) and AGGREGATE
EXECUTOR RUN TIME (summed over the arm's completed stages via the UI
REST API). On an idle local[32] the wall times converge — 28 free cores
absorb 9 concurrent queries — so the executor-run-time ratio is the
honest scale signal: it is what a BUSY 1000-executor cluster pays, where
every core-second one topology burns is a core-second another tenant
(or trigger) doesn't get.

The multiplex arm also prints the p50 of its triggers'
`durationMs.addBatch` (from `q.recentProgress`): the per-trigger
foreachBatch time, i.e. the delta aggregation plus the KV merge.

The session comes from `logvision_spark.session.get_spark`, so it runs
at `local[$SPARK_GRAFT_CPUS]` (default `local[*]`).

Run: python experiments/measure_counter_multiplex.py
"""

import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

from logvision_spark.parser import parse_access_log  # noqa: E402
from logvision_spark.session import get_spark  # noqa: E402
from logvision_spark.streaming.multiplex import (  # noqa: E402
    KVCounterStore,
    log_counter_specs,
    start_multiplexed_counter_sink,
)
from logvision_spark.streaming.pipeline import counter_views  # noqa: E402

spark = get_spark("measure-counter-multiplex")
spark.sparkContext.setLogLevel("ERROR")

# Defaults reproduce the r8 A/B (4 M rows, 4 triggers); the r9 scale
# point (does per-trigger cost stay flat as batches grow 10×?) runs the
# same script at LV_MUX_ROWS=40000000 LV_MUX_FILES=32 — results for
# both rows in ARCHITECTURE.md "Counter serving topology".
N_ROWS = int(os.environ.get("LV_MUX_ROWS", 4_000_000))
N_FILES = int(os.environ.get("LV_MUX_FILES", 8))
FILES_PER_TRIGGER = int(os.environ.get("LV_MUX_FILES_PER_TRIGGER", 2))
if N_ROWS % N_FILES or N_FILES % FILES_PER_TRIGGER:
    # integer division below would silently write fewer lines than
    # N_ROWS while every printed figure (and any per-row cost derived
    # from it) still cites N_ROWS — refuse rather than misreport
    raise SystemExit(
        "LV_MUX_ROWS must be divisible by LV_MUX_FILES, and "
        "LV_MUX_FILES by LV_MUX_FILES_PER_TRIGGER"
    )

corpus = tempfile.mkdtemp(prefix="lv_mux_ab_")
rows_per_file = N_ROWS // N_FILES
for fidx in range(N_FILES):
    with open(f"{corpus}/part{fidx}.log", "w") as f:
        for j in range(rows_per_file):
            i = fidx * rows_per_file + j
            # realistic-ish cardinalities: ~350k hosts, 10k urls, 97
            # users, 5 statuses, 86400 distinct seconds. Event time is
            # MONOTONIC in i (never wraps): the fan-out arm's datetime
            # view carries a 1h watermark, and wrapped (late) rows
            # would be dropped there but counted by the stateless
            # multiplex — a semantics difference, not a cost difference
            s = i * 86400 // N_ROWS
            f.write(
                f"10.{(i % 50000) >> 8 & 255}.{(i % 50000) & 255}.{i % 7} "
                f"- u{i % 97} "
                f"[10/Oct/2020:{s // 3600:02d}:{(s // 60) % 60:02d}:{s % 60:02d} +0000] "
                f'"GET /p{i % 10000} HTTP/1.1" {200 + (i % 5)} {i % 100000} '
                f'"http://ref.example/" "ab-agent/1.0"\n'
            )
print(f"corpus: {N_ROWS} lines in {N_FILES} files at {corpus}")


def _stream():
    return parse_access_log(
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", FILES_PER_TRIGGER)
        .load(corpus)
    )


def _executor_run_time_ms() -> int:
    """Total executorRunTime across all completed stages so far (UI
    REST API) — diffed around each arm to get its aggregate cost."""
    import json as _json
    import urllib.request

    base = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId
    url = f"{base}/api/v1/applications/{app_id}/stages?status=complete"
    with urllib.request.urlopen(url) as r:
        stages = _json.load(r)
    return sum(s.get("executorRunTime", 0) for s in stages)


class SetStore:
    """KV target for the fan-out: update-mode rows are running totals,
    so the write is SET (last write wins), keyed per view."""

    def __init__(self):
        self.kv = {}

    def writer(self, view_name, member_col, value_col):
        def _w(batch_df, batch_id):
            for r in batch_df.collect():
                self.kv[(view_name, r[member_col])] = r[value_col]

        return _w


def run_fanout() -> tuple[float, dict]:
    store = SetStore()
    ck = tempfile.mkdtemp(prefix="lv_ab_fan_")
    queries = []
    try:
        views = counter_views(_stream())
        t0 = time.perf_counter()
        for name, view in views.items():
            if name == "totals":
                # global agg: one row, complete mode (no key column)
                def _w_tot(batch_df, batch_id, _s=store):
                    for r in batch_df.collect():
                        _s.kv[("totals", "line_cnt")] = r["line_cnt"]
                        _s.kv[("totals", "size_kb")] = r["size_kb"]
                        _s.kv[("totals", "traffic_mb")] = r["traffic_mb"]

                q = (
                    view.writeStream.foreachBatch(_w_tot)
                    .outputMode("complete")
                    .option("checkpointLocation", f"{ck}/{name}")
                    .trigger(availableNow=True)
                    .start()
                )
            else:
                # same sink recipe as sinks.foreach_batch_kv, plus the
                # AvailableNow trigger for a bounded drain
                member = "second" if name == "datetime" else "member"
                q = (
                    view.writeStream.foreachBatch(
                        store.writer(name, member, "cnt")
                    )
                    .outputMode("update")
                    .option("checkpointLocation", f"{ck}/{name}")
                    .trigger(availableNow=True)
                    .start()
                )
            queries.append(q)
        print(f"fanout: {len(queries)} concurrent queries")
        for q in queries:
            if not q.awaitTermination(1800):
                raise TimeoutError("fanout query did not drain")
        sec = time.perf_counter() - t0
    finally:
        for q in queries:
            q.stop()
        shutil.rmtree(ck, ignore_errors=True)
    return sec, store.kv


def run_multiplex() -> tuple[float, KVCounterStore]:
    store = KVCounterStore()
    ck = tempfile.mkdtemp(prefix="lv_ab_mux_")
    q = None
    try:
        t0 = time.perf_counter()
        q = start_multiplexed_counter_sink(
            _stream(),
            log_counter_specs(),
            store.merge,
            checkpoint_dir=ck,
            available_now=True,
        )
        if not q.awaitTermination(1800):
            raise TimeoutError("multiplex query did not drain")
        sec = time.perf_counter() - t0
    finally:
        if q is not None:
            q.stop()
        shutil.rmtree(ck, ignore_errors=True)
    add_batch = [
        p.durationMs["addBatch"]
        for p in q.recentProgress
        if "addBatch" in p.durationMs
    ]
    print(
        f"multiplex: {store.high_water_batch_id + 1} triggers, "
        f"addBatch p50 {statistics.median(add_batch):.0f} ms"
    )
    return sec, store


ert0 = _executor_run_time_ms()
mux_sec, mux_store = run_multiplex()
ert1 = _executor_run_time_ms()
fan_sec, fan_kv = run_fanout()
ert2 = _executor_run_time_ms()
mux_core_sec = (ert1 - ert0) / 1000.0
fan_core_sec = (ert2 - ert1) / 1000.0

# -- equality: both topologies must have produced the same catalog -----
mux = mux_store.snapshot()
mismatch = 0
for (view, member), val in fan_kv.items():
    if view == "totals":
        # fan-out stores derived units; multiplex stores integral units
        key = {
            "line_cnt": ("totals", "line_cnt"),
            "size_kb": ("totals", "size_bytes"),
            "traffic_mb": ("totals", "traffic_bytes"),
        }[member]
        got = mux[key] / (
            1024.0 if member == "size_kb"
            else (1048576.0 if member == "traffic_mb" else 1)
        )
        ok = abs(got - val) < 1e-6 * max(1.0, abs(val))
    else:
        # r8 ADVICE: the fan-out's datetime view holds Timestamp
        # members; str() only matches the multiplex's date_format
        # string while microseconds are zero — format explicitly so a
        # sub-second corpus change can't fake a mismatch.
        if member is None:
            m = None
        elif hasattr(member, "strftime"):
            m = member.strftime("%Y-%m-%d %H:%M:%S")
        else:
            m = str(member)
        ok = mux.get((view, m)) == val
    if not ok:
        mismatch += 1
        if mismatch < 5:
            print("MISMATCH", view, member, val)
assert mismatch == 0, f"{mismatch} mismatching counters"
assert len(fan_kv) == len(mux), (len(fan_kv), len(mux))
print(f"equality: {len(mux)} counters identical across topologies")

print(
    f"\nRESULT rows={N_ROWS} files={N_FILES} triggers/query="
    f"{N_FILES // FILES_PER_TRIGGER}\n"
    f"  fanout    (9 queries, 9 scans+parses/trigger): "
    f"wall {fan_sec:7.2f} s  executor-run {fan_core_sec:8.1f} core-s\n"
    f"  multiplex (1 query,   1 scan+parse/trigger):   "
    f"wall {mux_sec:7.2f} s  executor-run {mux_core_sec:8.1f} core-s\n"
    f"  wall speedup: {fan_sec / mux_sec:.2f}x   "
    f"aggregate-cost ratio: {fan_core_sec / mux_core_sec:.2f}x"
)

shutil.rmtree(corpus, ignore_errors=True)
spark.stop()
