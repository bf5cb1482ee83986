"""``batch_serving``: a closed loop with one client that, cycle after
cycle, refreshes the dashboard and then runs a catalog pass.

A refresh builds the serving panels over a seeded archive and collects
each (``dashboard_views``); a pass runs the catalog entries in a
seed-shuffled order (``catalog_batch``). At set-up one untimed catalog
pass and one refresh over a small separate archive pay the first-job
and Python-worker start-up costs and warm code generation. One pass is
enough: on 4 cores the first pass took 19 s, the next two 3.4 s and
3.1 s. The timed loop runs whole cycles until the run's seconds are
used.

Latency samples are the panel collects only, all of one kind; the
refresh's build and the catalog pass count in ``cycle_s``.
"""

from __future__ import annotations

import os
import random
import time
from statistics import median

import catalog_batch as cat
import dashboard_views as dash
from common import pct
from gen import LogGen, Tallies, write_files

ARCHIVE_FILES = 2
ARCHIVE_FILE_LINES = 5_000
WARM_LINES = 1_000


def run(ctx) -> dict:
    entries = [e for es in cat.FAMILIES.values() for e in es]
    rng = random.Random(ctx.seed)
    gen = LogGen(ctx.seed)
    tallies = Tallies()
    archive = os.path.join(ctx.run_dir, "archive")
    n_lines = write_files(gen, archive, 0, ARCHIVE_FILES, ARCHIVE_FILE_LINES, "access", tallies)
    warm = os.path.join(ctx.run_dir, "warm")
    write_files(gen, warm, n_lines, 1, WARM_LINES, "access")
    warm_pass = cat.run_pass(ctx, rng.sample(entries, len(entries)))
    warm_refresh, _ = dash.refresh(ctx, warm)

    ctx.mark_first_op()
    t_start = time.monotonic()
    panel_t: dict[str, list[float]] = {}
    entry_t: dict[str, list[float]] = {}
    build_t: dict[str, list[float]] = {}
    refreshes, passes, results, rows, view_builds = [], [], [], {}, []
    while len(passes) < 2 or time.monotonic() - t_start < ctx.seconds:
        took, got = dash.refresh(ctx, archive, panel_t, view_builds)
        refreshes.append(took)
        results.append(got)
        passes.append(cat.run_pass(ctx, rng.sample(entries, len(entries)), entry_t, build_t, rows))
    t_end = time.monotonic()
    ctx.mark_timed_end()

    exp = dash.ranked(tallies)
    panel_bad = sum(1 for got in results for name, r in got.items()
                    if not dash.panel_ok(name, r, tallies, exp))
    oracle_bad = cat.oracle_mismatches(rows)

    panels = [x for v in panel_t.values() for x in v]
    n = len(passes)
    detail = {
        "cycles": n, "archive_lines": n_lines,
        "setup.warm_pass_s": warm_pass, "setup.warm_refresh_s": warm_refresh,
        "panel_p50_s": median(panels), "panel_p90_s": pct(panels, 90),
        "refresh_s": median(refreshes), "views.build_s": median(view_builds),
        "pass_s": median(passes),
        "check.panels_failed": panel_bad, "check.oracle_mismatches": oracle_bad,
        **{f"views.{k}_s": median(v) for k, v in panel_t.items()},
        **{f"catalog.{k}_s": median(v) for k, v in entry_t.items()},
    }
    for fam, es in cat.FAMILIES.items():
        detail[f"catalog.{fam}_s"] = median(sum(entry_t[e][i] for e in es) for i in range(n))
        detail[f"catalog.{fam}.build_s"] = median(sum(build_t[e][i] for e in es) for i in range(n))
        if ctx.jobs.enabled:
            detail[f"catalog.{fam}.jobs"], detail[f"catalog.{fam}.tasks"] = ctx.jobs.counts(es)
    if ctx.tracer.enabled:
        detail.update(ctx.probe_parse(archive, n_lines))
    return {
        "attempted": len(panels) + n * len(entries),
        "failed": panel_bad + len(oracle_bad),
        "detail": detail, "latencies": panels,
        "cycle_s": median(r + p for r, p in zip(refreshes, passes)),
        "timed": (t_start, t_end),
    }
