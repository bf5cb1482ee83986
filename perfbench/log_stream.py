"""``log_stream``: restart-and-tail of the production streaming topology.

A text-file source feeds two queries, as composed in the repository's
integration test:

- counter: ``parse_access_log`` -> ``start_multiplexed_counter_sink`` ->
  ``KVCounterStore.merge``;
- alert: ``score_stream`` with a model fitted at set-up ->
  ``websocket_push_sink`` of the flagged rows.

A poller thread reads the boards once a second (``zrevrange`` on host,
url and status_code, ``zscore`` of the line count) beside the writes.

Phase 1 (catch-up) drains a backlog staged before the queries start; a
warm-up run of the counter path beside the model fit, and one batch
scoring, precede it.
Phase 2 (tail) is an open loop: a separate generator process writes one
200-line file every 0.1 s on a fixed schedule. A tail file's lag runs
from its due time to the end of the first merge after which the line
count covers it; an attack's alert lag runs from its file's due time to
its receipt at the push sink. Files due in the first ``SETTLE_S`` of the
tail, while the engine settles out of the catch-up, are checked but left
out of the lag sample.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
from collections import Counter
from datetime import datetime
from statistics import median

from common import fit_model, pct
from gen import RID, LogGen, Tallies, write_files

BACKLOG_FILES = 40
BACKLOG_FILE_LINES = 1_000
WARM_FIRST_LINE = 10**8  # warm-up lines come from far past the run's own
TAIL_PERIOD_S = 0.1
TAIL_FILE_LINES = 200
SETTLE_S = 2.0
POLL_PERIOD_S = 1.0
DRAIN_DEADLINE_S = 30.0
PHASES = ("latestOffset", "queryPlanning", "walCommit", "commitOffsets", "addBatch")
BOARDS = ("host", "url", "status_code")


def _topology(spark, model, source: str, ckpt: str, serve, send, available_now=False):
    from pyspark.sql import functions as F

    from logvision_spark.ml.intrusion import score_stream
    from logvision_spark.parser import parse_access_log
    from logvision_spark.streaming.multiplex import log_counter_specs, start_multiplexed_counter_sink
    from logvision_spark.streaming.sinks import websocket_push_sink

    def lines():
        return spark.readStream.format("text").load(source)

    q_counter = start_multiplexed_counter_sink(
        parse_access_log(lines()), log_counter_specs(), serve,
        checkpoint_dir=os.path.join(ckpt, "counter"), available_now=available_now)
    alert_view = (
        score_stream(model, parse_access_log(lines()))
        .where(F.col("prediction") == 1.0)
        .select("host", "username", "url", "prediction")
    )
    q_alert = websocket_push_sink(alert_view, send, checkpoint_dir=os.path.join(ckpt, "alert"),
                                  output_mode="append")
    return q_counter, q_alert


class _Warmer(threading.Thread):
    """Set-up, beside the model fit: one available-now run of the counter
    path over a small file, so the timed catch-up starts on warm code."""

    def __init__(self, spark, source: str, ckpt: str):
        super().__init__()
        self.spark, self.source, self.ckpt = spark, source, ckpt
        self.error = None

    def run(self):
        from logvision_spark.parser import parse_access_log
        from logvision_spark.streaming.multiplex import (
            KVCounterStore, log_counter_specs, start_multiplexed_counter_sink)

        try:
            q = start_multiplexed_counter_sink(
                parse_access_log(self.spark.readStream.format("text").load(self.source)),
                log_counter_specs(), KVCounterStore().merge, checkpoint_dir=self.ckpt,
                available_now=True)
            q.awaitTermination(120)
        except Exception as e:  # re-raised by the caller after join
            self.error = e


def _warm_scoring(spark, model, source: str) -> None:
    from logvision_spark.ml.intrusion import score_stream
    from logvision_spark.parser import parse_access_log

    score_stream(model, parse_access_log(spark.read.text(source))).where("prediction = 1.0").count()


def _rows_in(q) -> int:
    return sum(p.numInputRows for p in q.recentProgress)


def _wait(cond, deadline: float, period: float = 0.02) -> bool:
    while not cond():
        if time.monotonic() > deadline:
            return False
        time.sleep(period)
    return True


def run(ctx) -> dict:
    from logvision_spark.streaming.multiplex import KVCounterStore

    spark, tracer, seed, seconds = ctx.spark, ctx.tracer, ctx.seed, ctx.seconds
    gen = LogGen(seed)
    warm = os.path.join(ctx.run_dir, "warm")
    write_files(gen, warm, WARM_FIRST_LINE, 1, BACKLOG_FILE_LINES, "warm")
    warmer = _Warmer(spark, warm, os.path.join(ctx.run_dir, "ckpt-warm"))
    warmer.start()
    try:
        with tracer.span("ml", op="train"):
            t = time.monotonic()
            model = fit_model(spark, ctx.run_dir, seed)
            train_s = time.monotonic() - t
    finally:
        warmer.join()
    if warmer.error is not None:
        raise warmer.error
    _warm_scoring(spark, model, warm)

    tallies = Tallies()
    watch = os.path.join(ctx.run_dir, "watch")
    n_backlog = write_files(gen, watch, 0, BACKLOG_FILES, BACKLOG_FILE_LINES, "backlog", tallies)
    n_tail_files = max(1, int(round(seconds / TAIL_PERIOD_S)))
    n_total = n_backlog + n_tail_files * TAIL_FILE_LINES
    manifest = os.path.join(ctx.run_dir, "tail-manifest.jsonl")
    # the generator prepares its lines now and waits for the tail's start
    gen_proc = subprocess.Popen(
        [sys.executable, os.path.join(os.path.dirname(__file__), "gen.py"),
         "--seed", str(seed), "--out", watch, "--manifest", manifest,
         "--first-line", str(n_backlog), "--files", str(n_tail_files),
         "--lines", str(TAIL_FILE_LINES), "--period", str(TAIL_PERIOD_S)],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
    try:
        if gen_proc.stdout.readline().strip() != "ready":
            raise RuntimeError("tail generator failed to start")

        store = KVCounterStore()
        merges: list[tuple[float, int, int, float, float]] = []
        # (end, batch id, line_cnt, merge_s, callback_s) per foreachBatch call
        alerts: list[tuple[float, str]] = []
        reads: list[float] = []

        def serve(deltas, batch_id):
            with tracer.span("multiplex.batch", batch_id=batch_id):
                t0 = time.monotonic()
                with tracer.span("multiplex.merge", batch_id=batch_id):
                    store.merge(deltas, batch_id)
                t1 = time.monotonic()
                cnt = store.zscore("totals", "line_cnt")
                merges.append((t1, batch_id, cnt, t1 - t0, time.monotonic() - t0))

        def send(payload):
            alerts.append((time.monotonic(), payload))

        stop_poll = threading.Event()

        def poll():
            while not stop_poll.wait(POLL_PERIOD_S):
                with tracer.span("multiplex.read"):
                    t0 = time.monotonic()
                    for board in BOARDS:
                        store.zrevrange(board, 10)
                    store.zscore("totals", "line_cnt")
                    reads.append(time.monotonic() - t0)

        def line_cnt():
            return merges[-1][2] if merges else 0

        # ---- timed: catch-up ------------------------------------------------
        ctx.mark_first_op()
        t_start = time.monotonic()
        q_counter, q_alert = _topology(spark, model, watch, os.path.join(ctx.run_dir, "ckpt"),
                                       serve, send)
        poller = threading.Thread(target=poll, daemon=True)
        poller.start()
        try:
            caught = _wait(lambda: line_cnt() >= n_backlog and _rows_in(q_alert) >= n_backlog,
                           t_start + 120)
            if not caught:
                raise RuntimeError("catch-up did not finish within 120 s")
            t_caught = time.monotonic()
            # ---- timed: open-loop tail --------------------------------------
            t0 = t_caught + 0.05
            gen_proc.stdin.write(f"{t0!r}\n")
            gen_proc.stdin.flush()
            gen_proc.wait(timeout=seconds + 60)
            if gen_proc.returncode != 0:
                raise RuntimeError("tail generator failed")
            last_due = t0 + (n_tail_files - 1) * TAIL_PERIOD_S
            _wait(lambda: line_cnt() >= n_total and _rows_in(q_alert) >= n_total,
                  last_due + DRAIN_DEADLINE_S)
            t_end = time.monotonic()
            ctx.mark_timed_end()
        finally:
            stop_poll.set()
            poller.join(timeout=10)
            progress = {}
            for name, q in (("counter", q_counter), ("alert", q_alert)):
                progress[name] = [json.loads(p.json) for p in q.recentProgress]
                ctx.jobs.add_group(name, str(q.runId))
                q.stop()
    finally:
        if gen_proc.poll() is None:
            gen_proc.kill()
        gen_proc.wait()

    # ---- off the clock: lags, checks, layer figures ------------------------
    with open(manifest) as f:
        stamps = [json.loads(line) for line in f if line.strip()]
    for s in stamps:
        gen.lines(s["first_line"], s["first_line"] + s["lines"], tallies)

    lags, unmerged = [], 0
    mi = 0
    settled = t0 + SETTLE_S
    for s in stamps:
        covered = s["first_line"] + s["lines"]
        while mi < len(merges) and merges[mi][2] < covered:
            mi += 1
        if mi == len(merges):
            unmerged += s["lines"]
        elif s["due"] >= settled:
            lags.append(merges[mi][0] - s["due"])

    due_of = {s["file"]: s["due"] for s in stamps}
    planted = set(tallies.attacks)
    flagged, alert_lags = set(), []
    for t_recv, payload in alerts:
        m = RID.search(json.loads(payload).get("url") or "")
        if m:
            rid = int(m.group(1))
            flagged.add(rid)
            due = due_of.get((rid - n_backlog) // TAIL_FILE_LINES) if rid >= n_backlog else None
            if due is not None and due >= settled:
                alert_lags.append(t_recv - due)

    t = time.monotonic()
    kv_bad, alert_missing, alert_extra = _check(spark, model, watch, store, alerts)
    check_s = time.monotonic() - t
    failed = unmerged + kv_bad + alert_missing + alert_extra
    if not lags:
        raise RuntimeError("no tail file was merged")

    hit = len(flagged & planted)
    detail = {
        "catchup_lines_per_s": n_backlog / (t_caught - t_start),
        "lag_p50_s": median(lags), "lag_p95_s": pct(lags, 95), "lag_samples": len(lags),
        "alert_lag_p50_s": median(alert_lags) if alert_lags else None,
        "alert_lag_p95_s": pct(alert_lags, 95) if alert_lags else None,
        "alert_lag_samples": len(alert_lags),
        "backlog_lines": n_backlog, "tail_files": n_tail_files, "lines_total": n_total,
        "ml.train_s": train_s,
        "ml.alert_precision": hit / len(alerts) if alerts else None,
        "ml.alert_recall": hit / len(planted) if planted else None,
        "multiplex.kv_members": len(store.snapshot()),
        "multiplex.sink_batch_ms_p50": 1e3 * median([m[4] for m in merges]),
        "multiplex.merge_ms_p50": 1e3 * median([m[3] for m in merges]),
        "multiplex.board_read_ms_p50": 1e3 * median(reads) if reads else None,
        "multiplex.board_read_ms_p95": 1e3 * pct(reads, 95) if reads else None,
        "gen.late_p95_s": pct([s["written"] - s["due"] for s in stamps], 95),
        "gen.late_max_s": max(s["written"] - s["due"] for s in stamps),
        "check_s": check_s, "check.unmerged_lines": unmerged, "check.kv_mismatches": kv_bad,
        "check.alerts_missing": alert_missing, "check.alerts_extra": alert_extra,
    }
    detail.update(_backlog(merges, stamps, n_backlog, t0))
    for name, prog in progress.items():
        detail.update(_progress_figures(name, prog))
    if tracer.enabled:
        _trace_triggers(tracer, progress)
        detail.update(ctx.probe_parse(watch, n_total, model))
        detail["stream.catchup_1core_lines_per_s"] = _one_core_catchup(ctx, model, watch, n_backlog)
    return {
        "attempted": n_total, "failed": failed, "detail": detail,
        "latencies": lags, "cycle_s": t_caught - t_start,
        "timed": (t_start, t_end),
    }


def _check(spark, model, watch, store, alerts) -> tuple[int, int, int]:
    """KV state == one batch melt over every file; alert feed == the batch
    flagged set, each row exactly once."""
    from pyspark.sql import functions as F

    from logvision_spark.ml.intrusion import score_stream
    from logvision_spark.parser import parse_access_log
    from logvision_spark.streaming.multiplex import log_counter_specs, melted_counter_deltas

    batch = parse_access_log(spark.read.text(watch))
    expect = {(r["counter"], r["member"]): r["delta"]
              for r in melted_counter_deltas(batch, log_counter_specs()).collect()}
    got = store.snapshot()
    kv_bad = sum(1 for k in expect.keys() | got.keys() if expect.get(k) != got.get(k))
    want = Counter(
        (r["host"], r["username"], r["url"])
        for r in score_stream(model, batch).where(F.col("prediction") == 1.0)
        .select("host", "username", "url").collect()
    )
    have = Counter()
    for _, payload in alerts:
        a = json.loads(payload)
        have[(a.get("host"), a.get("username"), a.get("url"))] += 1
    return kv_bad, sum((want - have).values()), sum((have - want).values())


def _backlog(merges, stamps, n_backlog, t0) -> dict:
    """Lines due but not yet merged, sampled at each merge of the tail."""
    pts = []
    for t, _, cnt, *_ in merges:
        if t < t0:
            continue
        due_files = sum(1 for s in stamps if s["due"] <= t)
        due = n_backlog + sum(s["lines"] for s in stamps[:due_files])
        pts.append((t - t0, max(0, due - cnt)))
    if len(pts) < 2:
        return {"stream.backlog_lines_max": max((b for _, b in pts), default=0),
                "stream.backlog_growth_lines_per_s": None}
    slope = statistics.linear_regression([p[0] for p in pts], [p[1] for p in pts]).slope
    return {"stream.backlog_lines_max": max(b for _, b in pts),
            "stream.backlog_growth_lines_per_s": slope}


def _progress_figures(name: str, prog: list[dict]) -> dict:
    real = [p for p in prog if p.get("numInputRows", 0) > 0]
    out = {f"stream.{name}.triggers": len(real)}
    if not real:
        return out
    out[f"stream.{name}.rows_per_trigger_p50"] = median([p["numInputRows"] for p in real])
    trig = [p["durationMs"].get("triggerExecution", 0) for p in real]
    out[f"stream.{name}.trigger_ms_p50"] = median(trig)
    out[f"stream.{name}.trigger_ms_p95"] = pct(trig, 95)
    for ph in PHASES:
        out[f"stream.{name}.{ph}_ms_p50"] = median([p["durationMs"].get(ph, 0) for p in real])
    return out


def _trace_triggers(tracer, progress) -> None:
    """Micro-batch spans from query progress (trigger start + duration).
    A counter trigger becomes the parent of the foreachBatch callback
    span of its batch, which was recorded before the trigger's span."""
    offset = time.time() - time.monotonic()
    callbacks = {s["batch_id"]: s for s in tracer.spans if s["name"] == "multiplex.batch"}
    for name, prog in progress.items():
        for p in prog:
            start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp() - offset
            end = start + p["durationMs"].get("triggerExecution", 0) / 1e3
            sid = tracer.add(f"stream.{name}", start, end, batch_id=p["batchId"],
                             rows=p.get("numInputRows", 0),
                             phases_ms={k: p["durationMs"].get(k, 0) for k in PHASES})
            if name == "counter" and p["batchId"] in callbacks:
                callbacks[p["batchId"]]["parent"] = sid


def _one_core_catchup(ctx, model, watch, n_backlog) -> float:
    """Single-threaded baseline: the same backlog drained once at local[1]."""
    spark = ctx.restart_spark_one_core()
    src = os.path.join(ctx.run_dir, "backlog1")
    os.makedirs(src)
    for p in glob.glob(os.path.join(watch, "backlog-*.log")):
        shutil.copy(p, src)
    from logvision_spark.streaming.multiplex import KVCounterStore

    store = KVCounterStore()
    t = time.monotonic()
    q_counter, q_alert = _topology(spark, model, src, os.path.join(ctx.run_dir, "ckpt1"),
                                   store.merge, lambda _: None, available_now=True)
    try:
        q_counter.awaitTermination(120)
        q_alert.processAllAvailable()
        elapsed = time.monotonic() - t
    finally:
        for q in (q_counter, q_alert):
            if q.isActive:
                q.stop()
    if store.zscore("totals", "line_cnt") != n_backlog:
        raise RuntimeError("single-core baseline did not drain the backlog")
    return n_backlog / elapsed
