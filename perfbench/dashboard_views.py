"""Dashboard refresh: the serving panels over a seeded log archive.

A refresh builds the panels from ``read_access_log`` as the README does
and collects every ``ServingCatalog.all_views()`` panel that needs no
model scores (8 of the 14); nothing is cached between refreshes. The
checks compare the panels with the generator's tallies.
"""

from __future__ import annotations

import time

from gen import Tallies


def refresh(ctx, path: str, times: dict | None = None,
            builds: list | None = None) -> tuple[float, dict]:
    """One refresh: build the views, then collect each panel. ``times``
    gets each panel's collect seconds, ``builds`` the build seconds."""
    from logvision_spark.parser import read_access_log
    from logvision_spark.serving.views import ServingCatalog
    from logvision_spark.sources.fixtures import geo_dim_for_hosts

    spark, tracer = ctx.spark, ctx.tracer
    t0 = time.monotonic()
    with tracer.span("views.build"):
        parsed = read_access_log(spark, path)
        views = ServingCatalog(parsed, geo_dim=geo_dim_for_hosts(spark, parsed)).all_views()
    if builds is not None:
        builds.append(time.monotonic() - t0)
    rows = {}
    for name, df in views.items():
        with ctx.jobs.group(name), tracer.span("views.collect", panel=name):
            t = time.monotonic()
            rows[name] = df.collect()
            if times is not None:
                times.setdefault(name, []).append(time.monotonic() - t)
    return time.monotonic() - t0, rows


def ranked(tallies: Tallies) -> dict:
    """The generator's counts per key, ordered as the top-k panels order
    them (count descending, key ascending)."""
    return {key: sorted(getattr(tallies, key).items(), key=lambda kv: (-kv[1], kv[0]))
            for key in ("url", "host", "status_code", "req_method")}


def panel_ok(name: str, rows, t: Tallies, exp: dict) -> bool:
    """Each panel equals what the generator's tallies say it must hold."""
    parsed = sum(t.status_code.values())

    def topk(key, k):
        return [(r[key], r["cnt"], r["rank"]) for r in rows] == [
            (m, c, i + 1) for i, (m, c) in enumerate(exp[key][:k])]

    if name == "count_board":
        (r,) = rows
        ok_cnt = sum(c for s, c in t.status_code.items() if 200 <= s <= 207)
        return (r["line_cnt"] == t.lines and r["success_cnt"] == ok_cnt
                and r["other_cnt"] == parsed - ok_cnt
                and abs(r["traffic_mb"] - t.traffic_bytes / 1048576.0) < 1e-6
                and abs(r["visitors"] / len(t.host) - 1) < 0.15
                and abs(r["resources"] / len(t.url) - 1) < 0.15)
    if name == "hot_url":
        return topk("url", 10)
    if name == "hot_ip":
        return topk("host", 14)
    if name == "ip_ranking":
        return topk("host", 51)
    if name in ("status_code_pie", "req_method_pie"):
        key = name[:-4]
        return [(r[key], r["cnt"]) for r in rows] == exp[key]
    if name == "req_count_timeline":
        want = sorted((time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime(s)), c)
                      for s, c in t.second.items())
        return [(r["second_str"], r["cnt"]) for r in rows] == want
    if name == "hot_geo":
        top = dict(exp["host"][:51])
        return bool(rows) and all(top.get(r["host"]) == r["cnt"] for r in rows)
    raise ValueError(f"no check for panel {name}")
