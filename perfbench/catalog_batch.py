"""Catalog pass: catalog entries over the sf0.01 tables in ``data/``.

Eight entries in four families, chosen so that every operator module the
dashboard and the stream never reach (dedup, similarity, text, asof,
multimodal) runs. The check compares each entry's rows with its DuckDB
oracle.
"""

from __future__ import annotations

import os
import time
from decimal import Decimal

FAMILIES = {
    "tpch": ("q3_shipping_priority",),
    "log": ("a3_count_by_user", "j6_asof_nearest"),
    "dedup": ("dedup_exact", "dedup_minhash_sig"),
    "corpus": ("text_quality", "sim_top10_vec0", "mm_feature_stats"),
}
DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def run_pass(ctx, order, samples=None, build=None, rows=None) -> float:
    from logvision_spark.catalog import CATALOG

    t0 = time.monotonic()
    for name in order:
        t = time.monotonic()
        with ctx.tracer.span("catalog.build", entry=name):
            df = CATALOG[name].builder(ctx.spark, DATA)
        b = time.monotonic()
        with ctx.jobs.group(name), ctx.tracer.span("catalog.collect", entry=name):
            got = df.collect()
        if samples is not None:
            samples.setdefault(name, []).append(time.monotonic() - t)
            build.setdefault(name, []).append(b - t)
            rows.setdefault(name, []).append((df.columns, got))
    return time.monotonic() - t0


def oracle_mismatches(rows: dict) -> list[tuple[str, int]]:
    """(entry, pass) pairs whose result differs from the DuckDB oracle;
    ``rows`` holds every timed pass's result of each entry."""
    import duckdb
    import pandas as pd

    from logvision_spark.catalog import oracle_sql

    oracles = oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{DATA}/{t}.parquet'")
    bad = []
    for name, results in rows.items():
        d = con.execute(oracles[name]).df()
        for i, (cols, got) in enumerate(results):
            s = pd.DataFrame.from_records([tuple(r) for r in got], columns=cols)
            if not _frames_equal(s, d):
                bad.append((name, i))
    con.close()
    return bad


def _frames_equal(s, d) -> bool:
    import pandas as pd

    if len(s) != len(d) or sorted(s.columns) != sorted(d.columns):
        return False
    cols = sorted(s.columns)
    s, d = s[cols].copy(), d[cols].copy()
    for f in (s, d):
        for c in f.columns:
            col = f[c]
            if col.dtype == object and col.map(lambda v: isinstance(v, Decimal)).any():
                f[c] = col.astype(float)
            elif pd.api.types.is_datetime64_any_dtype(col) or (
                    col.dtype == object and col.map(lambda v: hasattr(v, "isoformat")).any()):
                f[c] = pd.to_datetime(col).astype("datetime64[ns]")
    s = s.sort_values(by=cols, ignore_index=True)
    d = d.sort_values(by=cols, ignore_index=True)
    for c in cols:
        try:
            pd.testing.assert_series_equal(s[c], d[c], check_dtype=False, check_names=False)
        except AssertionError:
            return False
    return True
