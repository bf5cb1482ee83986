"""Query catalog: every operator from SURVEY.md §2 as a (PySpark builder,
DuckDB oracle SQL) pair, keyed by a stable query name.

This is the engine's public query surface *and* the driver's correctness
contract (`__spark_entry__.queries()` / `oracle_sql()` re-export it).

Determinism rules (so the order-insensitive value-hash compare can be exact
instead of approximate):
- Counts stay integral; DuckDB `sum()` returns HUGEINT so oracles CAST to
  BIGINT to match Spark's LongType.
- Money/measure arithmetic runs in integer units (`round(x*100)` cents),
  summed exactly as BIGINT, with ONE final division to double — both
  engines then perform identical correctly-rounded IEEE ops, giving
  bit-identical doubles regardless of partitioning / summation order.
- Continuous values (cosine similarities) are rounded to 6 decimals; FP
  noise is ~1e-15 so the rounding boundary is never in play.
- Every ORDER BY ... LIMIT carries a unique-key tie-break, so the selected
  row *set* is deterministic.
- Timestamps: `events.ts` has shipped as parquet TIMESTAMP(NANOS) (both
  engines truncate to micros) and as TIMESTAMP(MICROS, NTZ); readers
  sniff the footer and normalize (see sources/readers.py).

Scale notes live on each builder — the sf0.01 oracle checks correctness,
but the plan shapes (partial agg, broadcast joins, TakeOrdered top-k,
single-pass conditional aggregates) are chosen for the 100 TB target.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from logvision_spark.operators.joins import timeline_full_outer, union_labeled
from logvision_spark.operators.topk import ranked, top_k
from logvision_spark.sources.readers import load_table, load_table_cache_clear


@dataclass(frozen=True)
class CatalogEntry:
    builder: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str = ""


CATALOG: dict[str, CatalogEntry] = {}


def register(name: str, oracle: str | None = None, doc: str = ""):
    def deco(fn):
        CATALOG[name] = CatalogEntry(fn, oracle, doc)
        return fn

    return deco


def cents(col: str | Column) -> Column:
    """Exact integer-units representation of a 2-decimal measure."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * 100).cast("long")


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, name, sf_dir)


# One persisted (doc_id, shingle) table per (session, sf_dir), shared by
# the dedup fast paths that accept a caller-owned ``shingles=`` cache —
# the catalog IS the caller here, so it owns the lifecycle the operator
# docstrings demand (see near_dup_drop_list: an operator-internal persist
# is a measured loss; an already-materialized cache is a measured 2×).
# One entry only: switching sf_dir (or session) unpersists the previous
# cache so repeated mirror runs can't accumulate executor storage.
_SHINGLE_CACHE: dict[str, tuple[tuple[SparkSession, str], DataFrame]] = {}


def _table_fingerprint(sf_dir: str, name: str) -> tuple:
    """(path, mtime_ns, size) of one table's parquet files — part of
    cache keys (shingle cache, IVF quantizer memo) so an in-place
    regeneration during a session invalidates the cache instead of
    serving stale derived state (r4 ADVICE + r5 review)."""
    import glob as _glob
    import os as _os

    out = []
    root = _os.path.join(sf_dir, f"{name}.parquet")
    if _os.path.isfile(root):
        paths = [root]
    else:
        # walk recursively: partitioned/nested layouts keep their part
        # files in subdirectories, and a non-recursive glob would
        # fingerprint them as () — identical before and after an
        # in-place regeneration (review finding)
        paths = sorted(
            _glob.glob(_os.path.join(root, "**", "*"), recursive=True)
        )
    for p in paths:
        if not _os.path.isfile(p):
            continue
        try:
            st = _os.stat(p)
            out.append((p, st.st_mtime_ns, st.st_size))
        except OSError:
            pass
    # distinguish "no data files found" from any real listing so a
    # missing table never key-collides with an empty or different one
    return tuple(out) if out else ("absent", root)


def invalidate_caches() -> None:
    """Drop (and unpersist) the shared shingle cache and empty the IVF
    quantizer memo, so the next consumer rebuilds both."""
    hit = _SHINGLE_CACHE.pop("t", None)
    if hit is not None:
        try:
            hit[1].unpersist()
        except Exception:
            pass
    _IVF_MODELS.clear()


# DataSketches HLL with the default lgConfigK=12: rsd ≈ 1.04/√4096 ≈
# 1.63%; the 3σ band is the guarantee the estimator actually makes
# (rsd is a STANDARD DEVIATION — see sketch_accuracy_props). One
# constant so the batch and streaming sketch entries can't drift.
_HLL_3SIGMA_BAND = 3 * 1.04 / (2**12) ** 0.5


def _docs_fingerprint(sf_dir: str) -> tuple:
    return _table_fingerprint(sf_dir, "documents")


def _shared_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark import StorageLevel

    from logvision_spark.operators.dedup import exploded_shingles

    key = (spark, sf_dir, _docs_fingerprint(sf_dir))
    hit = _SHINGLE_CACHE.get("t")
    if hit is not None and hit[0] == key:
        return hit[1]
    if hit is not None:
        try:
            hit[1].unpersist()
        except Exception:
            pass  # stopped session: nothing to release
        if hit[0][:2] == key[:2]:
            # same (session, sf_dir) but the fingerprint moved: the
            # documents parquet was regenerated in place, so the
            # memoized load_table resolution (whose FileIndex lists the
            # OLD part files) must be dropped too or the rebuild would
            # scan deleted/stale files (review finding)
            load_table_cache_clear()
    # Cache xxhash64(shingle) longs, not strings: the production cache
    # layout — 8-byte keys through every downstream shuffle; signatures
    # unchanged (pmod(xxhash64(s), P) ≡ pmod(h, P)).
    #
    # Deliberately a SINGLE-PARTITION-shaped, unspread build (r19,
    # measured): both "improvements" tried here LOST at fixture scale —
    # (a) spreading the build input (guide §2.5) parallelizes the
    # explode (build p50 0.62 → 0.48 s) but leaves a 32-partition cache
    # whose consumers pay ~0.3-0.5 s of extra task scheduling per query
    # (dedup_drop_list min 1.18 → 1.76 s in the interleaved A/B);
    # (b) persisting hash-partitioned by the shingle key (guide §2.4,
    # to erase the consumers' cap-window exchange) did not remove the
    # exchange from the executed plans and regressed every consumer
    # (drop_list min 1.20 → 1.47 s). At 100 TB the trade flips — a
    # production cache would be written bucketed by the shingle key —
    # but on this bench the scheduler overhead of extra partitions
    # outweighs a 260k-row exchange; see OPTIMIZATION_r19.md.
    sh = (
        exploded_shingles(_t(spark, sf_dir, "documents"))
        .select("doc_id", F.xxhash64("shingle").alias("shingle"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    _SHINGLE_CACHE["t"] = (key, sh)
    return sh


# ---------------------------------------------------------------------------
# A* — aggregations (SURVEY.md §2.4) phrased over the `events` stream table
# (ts/user_id/event_type/value ≈ the log's ts/host/req_method/bytes).
# ---------------------------------------------------------------------------


@register(
    "a1_global_count",
    oracle="SELECT CAST(count(*) AS BIGINT) AS cnt FROM events",
    doc="A1: total record count (streaming.scala:93-95).",
)
def a1_global_count(spark, sf_dir):
    return _t(spark, sf_dir, "events").agg(F.count(F.lit(1)).alias("cnt"))


@register(
    "a2_size_kb",
    oracle="SELECT CAST(sum(length(props)) AS BIGINT) / 1024.0 AS size_kb FROM events",
    doc="A2: payload size in KB via sum(length) — not the reference's "
    "per-char explosion (streaming.scala:98-101).",
)
def a2_size_kb(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.agg((F.sum(F.length("props")) / F.lit(1024.0)).alias("size_kb"))


@register(
    "a3_count_by_user",
    oracle="SELECT user_id, CAST(count(*) AS BIGINT) AS cnt FROM events GROUP BY user_id",
    doc="A3-A5: per-key counter (streaming.scala:104-114). Partial agg "
    "collapses hot keys map-side; only (key, partial) rows shuffle.",
)
def a3_count_by_user(spark, sf_dir):
    return _t(spark, sf_dir, "events").groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))


@register(
    "a6_count_by_second",
    oracle="SELECT strftime(date_trunc('second', ts), '%Y-%m-%d %H:%M:%S.%f') AS second, "
    "CAST(count(*) AS BIGINT) AS cnt FROM events GROUP BY 1",
    doc="A6: per-second event-time buckets (streaming.scala:117-119). "
    "Bucket emitted as a formatted string: hash-stable across engines "
    "regardless of pandas datetime resolution.",
)
def a6_count_by_second(spark, sf_dir):
    # group on the truncated TIMESTAMP (8-byte long) and render the
    # display string AFTER the aggregate (r18, guide §2.3): the shuffle
    # and the aggregation hash table carry a long instead of a 26-char
    # string, and the formatter runs once per bucket, not per event.
    # Row-identical: the format is injective on whole-second timestamps,
    # so grouping before or after formatting yields the same buckets.
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_trunc("second", F.col("ts")).alias("_sec"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.date_format("_sec", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "second"
            ),
            "cnt",
        )
    )


@register(
    "a7_count_by_type",
    oracle="SELECT event_type, CAST(count(*) AS BIGINT) AS cnt FROM events GROUP BY event_type",
    doc="A7-A10: categorical counters (streaming.scala:122-139).",
)
def a7_count_by_type(spark, sf_dir):
    return (
        _t(spark, sf_dir, "events").groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt"))
    )


@register(
    "a11_value_sum",
    oracle="SELECT CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) / 100.0 "
    "AS total_value FROM events",
    doc="A11 (sane variant): exact sum of a 2-decimal measure via integer "
    "cents (streaming.scala:142-149; the faithful int-div variant is "
    "operators.aggregations.sum_mb_faithful).",
)
def a11_value_sum(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.agg((F.sum(cents("value")) / F.lit(100.0)).alias("total_value"))


@register(
    "a11_value_sum_faithful",
    oracle="SELECT CAST(sum(CASE WHEN value IS NOT NULL THEN "
    "CAST(floor(value/100) AS BIGINT) ELSE 0 END) AS BIGINT) "
    "AS value_units FROM events",
    doc="A11 (bit-faithful variant): the reference integer-divides PER "
    "RECORD before summing (`bytes.toInt/1024/1024`, streaming.scala:145), "
    "so sub-unit rows contribute 0 — deliberately different from the sane "
    "exact-cents sum. Divisor 100 keeps the fixture's 2-decimal values "
    "non-degenerate.",
)
def a11_value_sum_faithful(spark, sf_dir):
    from logvision_spark.operators.aggregations import sum_mb_faithful

    ev = _t(spark, sf_dir, "events")
    return sum_mb_faithful(ev, bytes_col="value", alias="value_units", divisor=100)


@register(
    "a15_distinct_users",
    oracle="SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS distinct_users FROM events",
    doc="A15/A16: distinct visitors (app.py:100). Exact here for the oracle; "
    "the engine default is approx_count_distinct (HLL++) for the 100 TB path "
    "— no shuffle of raw members.",
)
def a15_distinct_users(spark, sf_dir):
    return _t(spark, sf_dir, "events").agg(
        F.count_distinct(F.col("user_id")).alias("distinct_users")
    )


@register(
    "a18_error_split",
    oracle="SELECT CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) "
    "AS error_cnt, CAST(sum(CASE WHEN event_type <> 'error' THEN 1 ELSE 0 END) AS BIGINT) "
    "AS ok_cnt FROM events",
    doc="F3/A18: success-vs-other split as ONE conditional aggregate pass "
    "(the reference sums ZSET scores client-side, app.py:87-97).",
)
def a18_error_split(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    is_err = F.col("event_type") == "error"
    return ev.agg(
        F.sum(F.when(is_err, 1).otherwise(0)).cast("long").alias("error_cnt"),
        F.sum(F.when(~is_err, 1).otherwise(0)).cast("long").alias("ok_cnt"),
    )


@register(
    "a17_counter_lookup",
    oracle="SELECT event_type, CAST(count(*) AS BIGINT) AS cnt FROM events "
    "WHERE event_type = 'purchase' GROUP BY event_type",
    doc="A17: point lookup of one counter member (zscore, app.py:84,106) — "
    "filter prunes to a single aggregation group.",
)
def a17_counter_lookup(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _scored_serving_catalog(spark, sf_dir):
    """Deterministic scored fixture for the A12/A13 serving counters: the
    events table with a STATIC prediction rule (error → 1.0 "bad") in
    place of the LR model, so the driver's oracle can reproduce the
    scores exactly. The real model path (ml/intrusion.py) is checked by
    its own accuracy-band tests; these entries pin the serving *query*
    semantics (flask/app.py:309-343, 425-458)."""
    from logvision_spark.serving.views import ServingCatalog

    ev = _t(spark, sf_dir, "events").withColumn("parsed", F.lit(True))
    scored = ev.withColumn(
        "prediction",
        F.when(F.col("event_type") == "error", F.lit(1.0)).otherwise(F.lit(0.0)),
    )
    return ServingCatalog(ev, scored=scored)


@register(
    "a12_class_counts",
    oracle="SELECT CASE WHEN event_type = 'error' THEN 1.0 ELSE 0.0 END "
    "AS prediction, CAST(count(*) AS BIGINT) AS cnt FROM events GROUP BY 1",
    doc="A12: good/bad class counters over the scored stream "
    "(flask/app.py:309-343) via the serving view, with a deterministic "
    "rule-based prediction standing in for the model.",
)
def a12_class_counts(spark, sf_dir):
    return _scored_serving_catalog(spark, sf_dir).class_counts()


@register(
    "a13_class_timeline",
    oracle="""
WITH g AS (SELECT date_trunc('second', ts) AS s, CAST(count(*) AS BIGINT) AS good_cnt
           FROM events WHERE event_type <> 'error' GROUP BY 1),
     b AS (SELECT date_trunc('second', ts) AS s, CAST(count(*) AS BIGINT) AS bad_cnt
           FROM events WHERE event_type = 'error' GROUP BY 1)
SELECT strftime(COALESCE(g.s, b.s), '%Y-%m-%d %H:%M:%S.%f') AS second,
       COALESCE(good_cnt, 0) AS good_cnt,
       COALESCE(bad_cnt, 0) AS bad_cnt
FROM g FULL OUTER JOIN b ON g.s = b.s
""",
    doc="A13: good/bad per-second timeline, full-outer zero-filled "
    "(flask/app.py:425-458) via the serving view; bucket emitted as a "
    "formatted string for cross-engine hash stability.",
)
def a13_class_timeline(spark, sf_dir):
    # ordered=False: the driver compare is order-insensitive and the
    # oracle has no ORDER BY — the display sort was a pure extra global
    # range exchange (r18)
    tl = _scored_serving_catalog(spark, sf_dir).class_timeline(ordered=False)
    return tl.select(
        F.date_format("second", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("second"),
        "good_cnt",
        "bad_cnt",
    )


# ---------------------------------------------------------------------------
# F* — filter surface (SURVEY.md §2.3)
# ---------------------------------------------------------------------------


@register(
    "f1_sql_filter",
    oracle="SELECT event_id, user_id, event_type, value FROM events "
    "WHERE event_type = 'click' AND value > 150.0",
    doc="F1: SQL-string predicate surface (`where(\"prediction = 0.0\")`, "
    "streaming.scala:198-200) — Catalyst parses the expression string. "
    "Raw-column projection: pushdown-eligible, no arithmetic.",
)
def f1_sql_filter(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.where("event_type = 'click' AND value > 150.0").select(
        "event_id", "user_id", "event_type", "value"
    )


# ---------------------------------------------------------------------------
# K* — top-k / ranking (SURVEY.md §2.5)
# ---------------------------------------------------------------------------


@register(
    "k2_top14_users",
    oracle="SELECT user_id, cnt FROM (SELECT user_id, CAST(count(*) AS BIGINT) AS cnt "
    "FROM events GROUP BY user_id) ORDER BY cnt DESC, user_id LIMIT 14",
    doc="K2: top-14 hosts by hits (app.py:185). Plans as TakeOrderedAndProject "
    "over the agg — k rows per partition move, no global sort.",
)
def k2_top14_users(spark, sf_dir):
    counts = (
        _t(spark, sf_dir, "events").groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))
    )
    return top_k(counts, "cnt", 14, tiebreak="user_id")


@register(
    "k6_user_ranking",
    oracle="SELECT user_id, cnt, CAST(row_number() OVER (ORDER BY cnt DESC, user_id) "
    "AS INTEGER) AS rank FROM (SELECT user_id, CAST(count(*) AS BIGINT) AS cnt "
    "FROM events GROUP BY user_id) ORDER BY rank LIMIT 20",
    doc="K6: rank assignment (the hand-rolled `no += 1` loop, app.py:165-169) "
    "as row_number over the top-k'd frame — window runs on k rows, not the table.",
)
def k6_user_ranking(spark, sf_dir):
    counts = (
        _t(spark, sf_dir, "events").groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))
    )
    return ranked(top_k(counts, "cnt", 20, tiebreak="user_id"), "cnt", tiebreak="user_id")


@register(
    "k5_order_scan",
    oracle="SELECT o_orderkey, o_custkey, o_totalprice, "
    "strftime(o_orderdate, '%Y-%m-%d %H:%M:%S.%f') AS o_orderdate FROM orders "
    "ORDER BY o_totalprice DESC, o_orderkey LIMIT 100",
    doc="K5: ordered scan + limit (zrange + client sort, app.py:264-271). "
    "Raw columns only — exact at any scale.",
)
def k5_order_scan(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return (
        o.select(
            "o_orderkey", "o_custkey", "o_totalprice",
            F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "o_orderdate"
            ),
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


# ---------------------------------------------------------------------------
# J* — joins / set ops (SURVEY.md §2.6)
# ---------------------------------------------------------------------------


@register(
    "j1_union_labeled",
    oracle="SELECT label, CAST(count(*) AS BIGINT) AS cnt FROM ("
    "SELECT 0 AS label FROM events WHERE event_type = 'error' "
    "UNION ALL SELECT 1 AS label FROM events WHERE event_type = 'purchase'"
    ") GROUP BY label",
    doc="J1: union of labeled subsets (learning.scala:23-25) via unionByName.",
)
def j1_union_labeled(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    good = ev.where(F.col("event_type") == "error").select(
        F.lit(0).cast("int").alias("label")
    )
    bad = ev.where(F.col("event_type") == "purchase").select(
        F.lit(1).cast("int").alias("label")
    )
    return union_labeled(good, bad).groupBy("label").agg(F.count(F.lit(1)).alias("cnt"))


@register(
    "j2_timeline_full_outer",
    oracle="""
WITH e AS (SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S.%f') AS hour,
             CAST(count(*) AS BIGINT) AS error_cnt
           FROM events WHERE event_type = 'error' GROUP BY 1),
     p AS (SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S.%f') AS hour,
             CAST(count(*) AS BIGINT) AS purchase_cnt
           FROM events WHERE event_type = 'purchase' GROUP BY 1)
SELECT COALESCE(e.hour, p.hour) AS hour,
       COALESCE(error_cnt, 0) AS error_cnt,
       COALESCE(purchase_cnt, 0) AS purchase_cnt
FROM e FULL OUTER JOIN p ON e.hour = p.hour
""",
    doc="J2: time-axis full outer join of two counter views, zero-filled "
    "(the Python dict merge at app.py:436-453). Inputs are pre-aggregated — "
    "join cardinality is #time-buckets at every scale.",
)
def j2_timeline_full_outer(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    # group/join on the 8-byte truncated TIMESTAMP and format the 26-char
    # display string once per joined bucket AFTER the join (guide §2.3
    # narrow keys — the a6_count_by_second r18 precedent; date_format is
    # injective on whole hours so grouping/join equality is unchanged,
    # and the format input is the same truncated value as before).
    # SHUFFLE_HASH on the error side: both aggregates already partition
    # by the key, so the SMJ added only its two sorts — the hash join
    # drops them (guide §3.1; full-outer shuffled-hash is supported
    # since Spark 3.1, and each build partition is bounded by the
    # pre-aggregated bucket cardinality, never raw rows).
    hour = F.date_trunc("hour", F.col("ts")).alias("hour")
    e = (
        ev.where(F.col("event_type") == "error")
        .groupBy(hour)
        .agg(F.count(F.lit(1)).alias("error_cnt"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy(hour)
        .agg(F.count(F.lit(1)).alias("purchase_cnt"))
    )
    return timeline_full_outer(
        e.hint("shuffle_hash"),
        p,
        key="hour",
        good_alias="error_cnt",
        bad_alias="purchase_cnt",
    ).select(
        F.date_format("hour", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("hour"),
        "error_cnt",
        "purchase_cnt",
    )


@register(
    "j3_region_enrich",
    oracle="""
SELECT r_name, CAST(count(*) AS BIGINT) AS customer_cnt,
       CAST(sum(CAST(round(c_acctbal*100) AS BIGINT)) AS BIGINT) / 100.0 AS total_acctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
""",
    doc="J3 shape: enrichment via broadcast dimension join (replaces the "
    "per-IP HTTP geocoder, app.py:136-147). nation/region are broadcast — "
    "facts never shuffle for the join.",
)
def j3_region_enrich(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("customer_cnt"),
            (F.sum(cents("c_acctbal")) / F.lit(100.0)).alias("total_acctbal"),
        )
    )


# ---------------------------------------------------------------------------
# T* — transforms (SURVEY.md §2.2): regex extraction, time formatting
# ---------------------------------------------------------------------------


@register(
    "t2_regex_extract",
    oracle="SELECT CAST(regexp_extract(props, '\"k\": (\\d+)', 1) AS INTEGER) AS k, "
    "CAST(count(*) AS BIGINT) AS cnt FROM events GROUP BY 1",
    doc="T2: regex field extraction (the 11-group combined-log parse, "
    "streaming.scala:75-89, exercised here on the props payload; full parser "
    "in logvision_spark.parser with golden tests).",
)
def t2_regex_extract(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    k = F.regexp_extract(F.col("props"), '"k": (\\d+)', 1).cast("int").alias("k")
    return ev.groupBy(k).agg(F.count(F.lit(1)).alias("cnt"))


@register(
    "t_json_extract",
    oracle="""
SELECT CAST(json_extract(props, '$.k') AS INTEGER) % 10 AS k_bucket,
       CAST(count(*) AS BIGINT) AS cnt,
       CAST(sum(CAST(json_extract(props, '$.k') AS INTEGER)) AS BIGINT) AS k_sum
FROM events GROUP BY 1
""",
    doc="JSON field extraction (the serving layer parses record JSON, "
    "app.py:350-351): get_json_object stays JVM-side; grouped roll-up of "
    "the extracted value.",
)
def t_json_extract(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return ev.groupBy((k % 10).alias("k_bucket")).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(k).alias("k_sum"),
    )


@register(
    "t8_minute_series",
    oracle="SELECT strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M:%S') AS minute_str, "
    "CAST(count(*) AS BIGINT) AS cnt FROM events GROUP BY 1",
    doc="T8: epoch→display-string formatting (app.py:270) fused into the "
    "per-minute counter.",
)
def t8_minute_series(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    m = F.date_format(F.date_trunc("minute", F.col("ts")), "yyyy-MM-dd HH:mm:ss").alias(
        "minute_str"
    )
    return ev.groupBy(m).agg(F.count(F.lit(1)).alias("cnt"))


# ---------------------------------------------------------------------------
# Q* — relational/star-schema coverage (joins + sorts + grouped measures the
# serving catalog implies; phrased TPC-H-style over the driver fixtures).
# ---------------------------------------------------------------------------


@register(
    "q1_pricing_summary",
    oracle="""
SELECT l_returnflag, l_linestatus,
  CAST(sum(CAST(round(l_quantity*100) AS BIGINT)) AS BIGINT) / 100.0 AS sum_qty,
  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) / 100.0 AS sum_base_price,
  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT) / 10000.0 AS sum_disc_price,
  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT)) * (100 + CAST(round(l_tax*100) AS BIGINT))) AS BIGINT) / 1000000.0 AS sum_charge,
  CAST(sum(CAST(round(l_quantity*100) AS BIGINT)) AS BIGINT) / 100.0 / count(*) AS avg_qty,
  CAST(sum(CAST(round(l_discount*100) AS BIGINT)) AS BIGINT) / 100.0 / count(*) AS avg_disc,
  CAST(count(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
    doc="Flagship: TPC-H Q1-shaped pricing summary. One scan, partial+final "
    "hash agg, 4-6 groups at any scale; all measures exact via integer units.",
)
def q1_pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    # measure aggregates as single F.expr parses (r18, guide §5): the
    # Column form paid ~300 py4j round trips per build — ~40% of this
    # CORE entry's bench time was driver-side construction. Same trees:
    # cents() is CAST(round(c * 100) AS BIGINT), 100.0D the double lit.
    q = "CAST(round(l_quantity * 100) AS BIGINT)"
    p = "CAST(round(l_extendedprice * 100) AS BIGINT)"
    d = "CAST(round(l_discount * 100) AS BIGINT)"
    t = "CAST(round(l_tax * 100) AS BIGINT)"
    return (
        li.where(F.expr("l_shipdate <= CAST('1998-09-02 00:00:00' AS TIMESTAMP)"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.expr(f"sum({q}) / 100.0D AS sum_qty"),
            F.expr(f"sum({p}) / 100.0D AS sum_base_price"),
            F.expr(f"sum({p} * (100 - {d})) / 10000.0D AS sum_disc_price"),
            F.expr(
                f"sum({p} * (100 - {d}) * (100 + {t})) / 1000000.0D "
                "AS sum_charge"
            ),
            F.expr(f"sum({q}) / 100.0D / count(1) AS avg_qty"),
            F.expr(f"sum({d}) / 100.0D / count(1) AS avg_disc"),
            F.expr("count(1) AS count_order"),
        )
    )


@register(
    "q3_shipping_priority",
    oracle="""
SELECT l_orderkey,
  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT) / 10000.0 AS revenue,
  strftime(o_orderdate, '%Y-%m-%d %H:%M:%S.%f') AS o_orderdate, o_orderpriority
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
""",
    doc="TPC-H Q3 shape: selective 3-way join + grouped revenue + top-10. "
    "customer qualifies ~1/5 and broadcasts; order/lineitem join is the "
    "only shuffle; TakeOrdered caps the sort.",
)
def q3_shipping_priority(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-03-15 00:00:00").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-03-15 00:00:00").cast("timestamp")
    )
    rev = cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        # customer scales with SF — no broadcast pin; the 64m
        # autoBroadcastJoinThreshold + AQE decide at runtime
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg((F.sum(rev) / F.lit(10000.0)).alias("revenue"))
        .select(
            "l_orderkey", "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "o_orderdate"
            ),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@register(
    "q5_nation_revenue",
    oracle="""
SELECT n_name,
  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT) / 10000.0 AS revenue
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
JOIN orders ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE r_name = 'ASIA'
GROUP BY n_name
""",
    doc="TPC-H Q5 shape: star join (two broadcast dims + one fact-fact "
    "shuffle join) with grouped revenue per nation.",
)
def q5_nation_revenue(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    rev = cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg((F.sum(rev) / F.lit(10000.0)).alias("revenue"))
    )


# ---------------------------------------------------------------------------
# D*/X* — training-data pipeline extensions: dedup, text analysis,
# similarity search (north-star operators; SURVEY.md §7 phase 6).
# ---------------------------------------------------------------------------


@register(
    "q7_nation_volume",
    oracle="""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
  CAST(EXTRACT(year FROM l_shipdate) AS INTEGER) AS ship_year,
  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT) / 10000.0 AS volume
FROM lineitem
JOIN supplier ON s_suppkey = l_suppkey
JOIN orders ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE n1.n_name IN ('NATION_1', 'NATION_2') AND n2.n_name IN ('NATION_1', 'NATION_2')
GROUP BY n1.n_name, n2.n_name, EXTRACT(year FROM l_shipdate)
""",
    doc="TPC-H Q7 shape: bilateral trade volume between two nations per "
    "ship-year — double-dim join with per-alias nation lookups. The "
    "nation pair uses the FIXTURE's naming (NATION_1/NATION_2, like "
    "q8): the canonical FRANCE/GERMANY literals matched zero fixture "
    "rows, so the gate was vacuous — both engines agreed on an empty "
    "result no matter what the join logic did (review finding).",
)
def q7_nation_volume(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    n1 = n.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    ).where(F.col("n_name").isin("NATION_1", "NATION_2"))
    n2 = n.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    ).where(F.col("n_name").isin("NATION_1", "NATION_2"))
    rev = cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))
    return (
        # supplier scales with SF — threshold/AQE decide, no pin
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("ship_year")
        )
        .agg((F.sum(rev) / F.lit(10000.0)).alias("volume"))
    )


@register(
    "q10_returned_items",
    oracle="""
SELECT c_custkey, c_name, n_name,
  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT) / 10000.0 AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
""",
    doc="TPC-H Q10 shape: top customers by returned-item revenue.",
)
def q10_returned_items(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    n = _t(spark, sf_dir, "nation")
    rev = cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg((F.sum(rev) / F.lit(10000.0)).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@register(
    "q2_cheapest_part_per_brand",
    oracle="""
SELECT p_brand, p_partkey, p_name, p_retailprice FROM (
  SELECT p_brand, p_partkey, p_name, p_retailprice,
         row_number() OVER (PARTITION BY p_brand
                            ORDER BY p_retailprice, p_partkey) AS rn
  FROM part) WHERE rn = 1
""",
    doc="TPC-H Q2 shape (argmin-per-group): cheapest part per brand via a "
    "partitioned row_number — distributes by the partition key.",
)
def q2_cheapest_part_per_brand(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(F.asc("p_retailprice"), F.asc("p_partkey"))
    return (
        p.select(
            "p_brand", "p_partkey", "p_name", "p_retailprice",
            F.row_number().over(w).alias("rn"),
        )
        .where(F.col("rn") == 1)
        .drop("rn")
    )


@register(
    "dedup_exact",
    oracle="SELECT CAST(min(doc_id) AS BIGINT) AS keep_id, CAST(count(*) AS BIGINT) "
    "AS dup_cnt FROM documents GROUP BY text",
    doc="Exact dedup: keep the lowest doc_id per identical text. At scale "
    "group by a 128-bit content hash instead of the full text to shrink "
    "shuffle width (operators/dedup.py has the hashed variant).",
)
def dedup_exact(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.groupBy("text").agg(
        F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("dup_cnt")
    ).select("keep_id", "dup_cnt")


@register(
    "text_token_count",
    oracle="SELECT doc_id, CAST(len(string_split(text, ' ')) AS INTEGER) AS token_cnt "
    "FROM documents",
    doc="Text analysis: whitespace token count per document (JVM-side split, "
    "no Python).",
)
def text_token_count(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", F.size(F.split(F.col("text"), " ")).alias("token_cnt"))


@register(
    "text_quality",
    oracle="""
SELECT doc_id,
  CAST(len(string_split(text, ' ')) AS INTEGER) AS token_cnt,
  CAST(length(text) AS DOUBLE) / len(string_split(text, ' ')) AS chars_per_token,
  CAST(len(list_filter(string_split(text, ' '),
       t -> lower(t) IN ('the', 'a', 'of', 'and', 'to'))) AS DOUBLE)
    / len(string_split(text, ' ')) AS stopword_ratio
FROM documents
""",
    doc="Text quality scoring: token count, chars/token, stopword ratio — "
    "single pass of array built-ins.",
)
def text_quality(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    stop = F.size(
        F.filter(
            toks, lambda t: F.lower(t).isin("the", "a", "of", "and", "to")
        )
    )
    return d.select(
        "doc_id",
        n.alias("token_cnt"),
        (F.length("text").cast("double") / n).alias("chars_per_token"),
        (stop.cast("double") / n).alias("stopword_ratio"),
    )


@register(
    "sim_top10_vec0",
    oracle="""
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
SELECT e.vec_id, round(
  list_sum(list_transform(range(1, len(e.embedding)+1),
           i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)))
  / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
   * sqrt(list_sum(list_transform(q.qe, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))),
  6) AS cos_sim
FROM embeddings e, q
WHERE e.vec_id <> 0
ORDER BY cos_sim DESC, e.vec_id
LIMIT 10
""",
    doc="Similarity search baseline: brute-force cosine top-k against a "
    "query vector. Query side broadcast; JVM higher-order functions (no "
    "Python). Scale path = LSH bucketing in operators/similarity.py.",
)
def sim_top10_vec0(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    j = emb.where(F.col("vec_id") != 0).crossJoin(F.broadcast(q))
    dot = F.aggregate(
        F.zip_with("embedding", "qe", lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    n1 = F.sqrt(
        F.aggregate(
            F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda a, x: a + x,
        )
    )
    n2 = F.sqrt(
        F.aggregate(
            F.transform("qe", lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda a, x: a + x,
        )
    )
    return (
        j.select("vec_id", F.round(dot / (n1 * n2), 6).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(10)
    )


@register(
    "sim_srp_topk_vec0",
    oracle="""
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
SELECT e.vec_id, round(
  list_sum(list_transform(range(1, len(e.embedding)+1),
           i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)))
  / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
   * sqrt(list_sum(list_transform(q.qe, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))),
  6) AS cos_sim
FROM embeddings e, q
WHERE e.vec_id <> 0
ORDER BY cos_sim DESC, e.vec_id
LIMIT 10
""",
    doc="ANN top-10 via multi-table SRP-LSH (4 bits × 24 tables, fixed "
    "seed) with exact re-rank of candidates. At fixture scale the "
    "candidate set contains the full true top-10 (per-item miss p≈1e-4), "
    "so the result equals the brute-force oracle; at 100 TB the probe "
    "reads Σ_t n_bucket(t) rows instead of N.",
)
def sim_srp_topk_vec0(spark, sf_dir):
    from logvision_spark.operators.similarity import srp_bucket_topk

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    data = emb.where(F.col("vec_id") != 0)
    return srp_bucket_topk(data, q, dim=64, k=10, num_bits=4, num_tables=24)


@register(
    "emb_label_centroids",
    oracle="""
SELECT label, dim, round(avg(CAST(v AS DOUBLE)), 6) AS centroid_val
FROM (SELECT label, unnest(embedding) AS v,
             generate_subscripts(embedding, 1) AS dim
      FROM embeddings)
WHERE dim <= 8
GROUP BY label, dim
""",
    doc="Vector aggregation: per-label centroid components via "
    "posexplode + grouped avg — the distributed form of computing class "
    "centroids (IVF training step). First 8 dims to keep the result "
    "compact; rounding bounds FP-order noise.",
)
def emb_label_centroids(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    ex = emb.select(
        # slice FIRST: posexploding all 64 dims and filtering pos < 8
        # shipped 8x the rows through the aggregate (review finding)
        "label", F.posexplode(F.slice("embedding", 1, 8)).alias("pos", "v")
    )
    return (
        ex.groupBy("label", (F.col("pos") + 1).alias("dim"))
        .agg(F.round(F.avg(F.col("v").cast("double")), 6).alias("centroid_val"))
    )


@register(
    "text_repetition",
    oracle="""
SELECT doc_id,
  CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
    / len(string_split(text, ' ')) AS uniq_ratio
FROM documents
""",
    doc="Repetition scoring: unique-token ratio (low ⇒ boilerplate/spam) — "
    "a standard quality-filter feature.",
)
def text_repetition(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    return d.select(
        "doc_id",
        (F.size(F.array_distinct(toks)).cast("double") / F.size(toks)).alias(
            "uniq_ratio"
        ),
    )


@register(
    "q15_top_supplier",
    oracle="""
WITH rev AS (
  SELECT l_suppkey,
    CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT) AS r_e4
  FROM lineitem GROUP BY l_suppkey)
SELECT s_suppkey, s_name, r_e4 / 10000.0 AS total_revenue
FROM supplier JOIN rev ON s_suppkey = l_suppkey
WHERE r_e4 = (SELECT max(r_e4) FROM rev)
""",
    doc="TPC-H Q15 shape: supplier(s) matching the MAX of an aggregated "
    "revenue view — aggregate-of-aggregate with exact integer comparison "
    "(no double-equality fragility).",
)
def q15_top_supplier(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    rev = li.groupBy("l_suppkey").agg(
        F.sum(
            cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))
        ).alias("r_e4")
    )
    mx = rev.agg(F.max("r_e4").alias("mx"))
    return (
        rev.crossJoin(F.broadcast(mx))  # mx is a single-row aggregate: pin OK
        .where(F.col("r_e4") == F.col("mx"))
        # supplier scales with SF — threshold/AQE decide, no pin
        .join(s, F.col("l_suppkey") == s.s_suppkey)
        .select(
            "s_suppkey", "s_name", (F.col("r_e4") / F.lit(10000.0)).alias("total_revenue")
        )
    )


@register(
    "a_collect_sorted_types",
    oracle="""
SELECT user_id, array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types,
       CAST(count(*) AS BIGINT) AS cnt
FROM events GROUP BY user_id
""",
    doc="Aggregate-to-array: per-user distinct event types, SORTED then "
    "joined to a string (unsorted collect order is partitioning-dependent "
    "in both engines; string form keeps the compared value scalar).",
)
def a_collect_sorted_types(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.array_join(F.array_sort(F.collect_set("event_type")), ",").alias("types"),
        F.count(F.lit(1)).alias("cnt"),
    )


@register(
    "q22_inactive_rich",
    oracle="""
WITH avg_bal AS (SELECT CAST(sum(CAST(round(c_acctbal*100) AS BIGINT)) AS BIGINT)
                        / 100.0 / count(*) AS ab
                 FROM customer WHERE c_acctbal > 0)
SELECT n_name, CAST(count(*) AS BIGINT) AS cnt,
  CAST(sum(CAST(round(c_acctbal*100) AS BIGINT)) AS BIGINT) / 100.0 AS total_bal
FROM customer JOIN nation ON c_nationkey = n_nationkey, avg_bal
WHERE c_acctbal > ab
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY n_name
""",
    doc="TPC-H Q22 shape: global-average scalar subquery + anti-join "
    "(rich customers who never ordered, per nation). The scalar average "
    "is a broadcast single row; double threshold identical cross-engine "
    "(avg of exact decimal-cent values).",
)
def q22_inactive_rich(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    # exact-cents average: double avg over raw values is summation-order
    # dependent; integer sum + one division chain is bit-deterministic
    avg_bal = c.where(F.col("c_acctbal") > 0).agg(
        (F.sum(cents("c_acctbal")) / F.lit(100.0) / F.count(F.lit(1))).alias("ab")
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("ab"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .join(F.broadcast(n), F.col("c_nationkey") == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            (F.sum(cents("c_acctbal")) / F.lit(100.0)).alias("total_bal"),
        )
    )


@register(
    "q8_market_share",
    oracle="""
SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
  CAST(sum(CASE WHEN n2.n_name = 'NATION_1'
       THEN CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT))
       ELSE 0 END) AS BIGINT)
  / CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT)
  AS mkt_share
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN region ON n1.n_regionkey = r_regionkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
WHERE r_name = 'EUROPE'
  AND o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY EXTRACT(year FROM o_orderdate)
""",
    doc="TPC-H Q8 shape (market share): one nation's fraction of revenue "
    "delivered to a region's customers per order-year — conditional-sum "
    "ratio inside a single aggregate pass, exact integer numerator and "
    "denominator. nation/region broadcast; fact joins shuffle.",
)
def q8_market_share(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    n1 = n.select(F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey"))
    n2 = n.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation")
    )
    rev = cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))
    num = F.when(F.col("supp_nation") == "NATION_1", rev).otherwise(F.lit(0))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), c.c_nationkey == F.col("n1_key"))
        .join(F.broadcast(r), F.col("n_regionkey") == r.r_regionkey)
        # supplier scales with SF — threshold/AQE decide, no pin
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg((F.sum(num) / F.sum(rev)).alias("mkt_share"))
    )


@register(
    "q9_product_profit",
    oracle="""
SELECT n_name AS nation, CAST(EXTRACT(year FROM l_shipdate) AS INTEGER) AS o_year,
  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT))
       - CAST(round(p_retailprice*100) AS BIGINT) * CAST(round(l_quantity) AS BIGINT) * 10) AS BIGINT)
  / 10000.0 AS profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_name LIKE '%blue%'
GROUP BY n_name, EXTRACT(year FROM l_shipdate)
""",
    doc="TPC-H Q9 shape (product-type profit): revenue minus a 10%-of-"
    "retail-price cost proxy (no partsupp table in the fixture), per "
    "supplier nation and ship-year, over name-filtered parts. Exact "
    "integer e4 units throughout; one final division.",
)
def q9_product_profit(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").where(F.col("p_name").contains("blue"))
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    rev = cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))
    # explicit round on BOTH sides: DuckDB CAST(double AS BIGINT) rounds
    # to nearest while Spark's cast truncates — integral fixture values
    # hid the divergence (review finding)
    cost = cents("p_retailprice") * F.round("l_quantity").cast("long") * F.lit(10)
    return (
        # part/supplier scale with SF — threshold/AQE decide, no pin
        li.join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), F.year("l_shipdate").alias("o_year"))
        .agg((F.sum(rev - cost) / F.lit(10000.0)).alias("profit"))
    )


@register(
    "q11_important_suppliers",
    oracle="""
WITH sup_val AS (
  SELECT l_suppkey,
    CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT) AS val_e4
  FROM lineitem GROUP BY l_suppkey),
 total AS (SELECT CAST(sum(val_e4) AS BIGINT) AS total_e4 FROM sup_val)
SELECT l_suppkey AS s_suppkey, val_e4 / 10000.0 AS supplier_value
FROM sup_val, total
WHERE val_e4 > 0.0102 * total_e4
""",
    doc="TPC-H Q11 shape (important stock): per-supplier revenue value "
    "filtered against a fraction of the GLOBAL total — aggregate, "
    "single-row re-aggregate, broadcast scalar back. The fraction "
    "threshold compares exact integers against one double product.",
)
def q11_important_suppliers(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    rev = cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))
    sup_val = li.groupBy("l_suppkey").agg(F.sum(rev).alias("val_e4"))
    total = sup_val.agg(F.sum("val_e4").alias("total_e4"))
    return (
        sup_val.crossJoin(F.broadcast(total))  # single-row scalar: pin OK
        .where(F.col("val_e4") > F.lit(0.0102) * F.col("total_e4"))
        .select(
            F.col("l_suppkey").alias("s_suppkey"),
            (F.col("val_e4") / F.lit(10000.0)).alias("supplier_value"),
        )
    )


@register(
    "q13_order_distribution",
    oracle="""
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM (
  SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
  FROM customer LEFT OUTER JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey)
GROUP BY c_count
""",
    doc="TPC-H Q13 shape (customer order distribution): left outer join "
    "with a join-time predicate (not a post-filter — customers with only "
    "urgent orders must count 0, not disappear), per-customer count, "
    "then a second aggregation over the counts.",
)
def q13_order_distribution(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "q16_supplier_part_counts",
    oracle="""
SELECT p_brand, p_type, p_size, CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#1' AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
""",
    doc="TPC-H Q16 shape (supplier counts by part attributes): distinct "
    "supplier count per (brand, type, size) excluding a NOT-IN supplier "
    "set — the exclusion is a broadcast anti-join (the excluded set is "
    "tiny); distinct agg shuffles (group, suppkey) pairs.",
)
def q16_supplier_part_counts(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#1")
        & F.col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29)
    )
    bad_supp = _t(spark, sf_dir, "supplier").where(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    return (
        # part scales with SF — threshold/AQE decide, no pin; the NOT-IN
        # set is a handful of rows → broadcast anti-join
        li.join(p, li.l_partkey == p.p_partkey)
        .join(
            F.broadcast(bad_supp),
            li.l_suppkey == bad_supp.s_suppkey,
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "q20_part_suppliers",
    oracle="""
SELECT s_suppkey, s_name
FROM supplier
WHERE s_suppkey IN (
  SELECT l_suppkey FROM lineitem
  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
    AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  GROUP BY l_suppkey
  HAVING sum(CAST(round(l_quantity) AS BIGINT)) > 400)
ORDER BY s_suppkey
""",
    doc="TPC-H Q20 shape (qualified part suppliers): nested IN-subqueries "
    "— parts by name prefix, suppliers whose shipped quantity of those "
    "parts in 1996 clears a threshold — decorrelated to two semi-joins; "
    "the inner aggregate runs BEFORE the semi-join so only qualified "
    "(suppkey) rows flow upward.",
)
def q20_part_suppliers(spark, sf_dir):
    s = _t(spark, sf_dir, "supplier")
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    small_parts = _t(spark, sf_dir, "part").where(
        F.col("p_name").startswith("small")
    ).select("p_partkey")
    qualified = (
        li.join(small_parts, li.l_partkey == F.col("p_partkey"), "left_semi")
        .groupBy("l_suppkey")
        .agg(F.sum(F.round("l_quantity").cast("long")).alias("qty"))
        .where(F.col("qty") > 400)
        .select("l_suppkey")
    )
    return (
        s.join(qualified, s.s_suppkey == F.col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


@register(
    "q21_waiting_suppliers",
    oracle="""
WITH ll AS (
  SELECT l_orderkey, l_suppkey,
         (l_shipdate > o_orderdate + INTERVAL 60 DAY) AS late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F')
SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
FROM ll l1 JOIN supplier ON l1.l_suppkey = s_suppkey
WHERE l1.late
  AND EXISTS (SELECT 1 FROM ll l2
              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM ll l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey AND l3.late)
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 20
""",
    doc="TPC-H Q21 shape (suppliers who kept orders waiting): the "
    "sole-late-supplier pattern — EXISTS another supplier on the order, "
    "NOT EXISTS another LATE supplier — as one semi-join plus one "
    "anti-join on (orderkey, suppkey<>) conditions. Lateness adapted to "
    "ship-60-days-after-order (fixture has no commit/receipt dates).",
)
def q21_waiting_suppliers(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    s = _t(spark, sf_dir, "supplier")
    ll = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_orderkey",
        "l_suppkey",
        (
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
        ).alias("late"),
    )
    l1 = ll.where(F.col("late")).alias("l1")
    # SHUFFLE_HASH on the semi/anti BUILD sides (r19, the dedup
    # precedent): sort-merge planned three Exchange+Sort pairs; the
    # hinted plan keeps the declared semi+anti shape and the same
    # exchanges but drops every sort (SortMergeJoin 2 → 0 —
    # interleaved A/B min 0.73 → 0.62 s, p50 0.85 → 0.65). The build
    # side is the (orderkey, suppkey) two-long projection — the
    # narrowest frame in the query — and AQE skew-join splitting
    # applies to shuffled-hash joins too, so per-partition build size
    # stays bounded by the same partition sizing that fed the SMJ.
    l2 = (
        ll.select(
            F.col("l_orderkey").alias("ok2"), F.col("l_suppkey").alias("sk2")
        )
        .hint("shuffle_hash")
        .alias("l2")
    )
    l3 = (
        ll.where(F.col("late"))
        .select(
            F.col("l_orderkey").alias("ok3"), F.col("l_suppkey").alias("sk3")
        )
        .hint("shuffle_hash")
        .alias("l3")
    )
    waiting = (
        l1.join(
            l2,
            (F.col("l1.l_orderkey") == F.col("ok2"))
            & (F.col("l1.l_suppkey") != F.col("sk2")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l1.l_orderkey") == F.col("ok3"))
            & (F.col("l1.l_suppkey") != F.col("sk3")),
            "left_anti",
        )
    )
    return (
        # supplier scales with SF — threshold/AQE decide, no pin
        waiting.join(s, F.col("l1.l_suppkey") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(20)
    )


@register(
    "q21_waiting_suppliers_agg",
    oracle="""
WITH ll AS (
  SELECT l_orderkey, l_suppkey,
         (l_shipdate > o_orderdate + INTERVAL 60 DAY) AS late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F')
SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
FROM ll l1 JOIN supplier ON l1.l_suppkey = s_suppkey
WHERE l1.late
  AND EXISTS (SELECT 1 FROM ll l2
              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM ll l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey AND l3.late)
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 20
""",
    doc="Q21 reformulated for scale: per-order supplier stats replace the "
    "EXISTS/NOT-EXISTS pair — n_supp≥2 ≡ 'another supplier exists', "
    "n_late_supp=1 (l1 being late) ≡ 'no OTHER late supplier'. One "
    "grouped pass over the joined frame instead of two extra "
    "lineitem⋈orders branches (the semi/anti plan scans lineitem 3×); "
    "same oracle as q21_waiting_suppliers, results identical.",
)
def q21_waiting_suppliers_agg(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    s = _t(spark, sf_dir, "supplier")
    ll = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_orderkey",
        "l_suppkey",
        (
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
        ).alias("late"),
    )
    per_order = ll.groupBy(F.col("l_orderkey").alias("ok")).agg(
        F.count_distinct("l_suppkey").alias("n_supp"),
        F.count_distinct(
            F.when(F.col("late"), F.col("l_suppkey"))
        ).alias("n_late_supp"),
    )
    waiting = (
        ll.where(F.col("late"))
        .join(per_order, F.col("l_orderkey") == F.col("ok"))
        .where((F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1))
    )
    return (
        waiting.join(s, F.col("l_suppkey") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(20)
    )


@register(
    "emb_label_counts",
    oracle="SELECT label, CAST(count(*) AS BIGINT) AS cnt FROM embeddings GROUP BY label",
    doc="Embedding table sanity aggregate (also exercises array-column scan "
    "pruning: only `label` is read — check ReadSchema).",
)
def emb_label_counts(spark, sf_dir):
    return _t(spark, sf_dir, "embeddings").groupBy("label").agg(
        F.count(F.lit(1)).alias("cnt")
    )


# ---------------------------------------------------------------------------
# Dedup / text / similarity extensions — portable-hash variants so the full
# pipelines verify exactly against DuckDB (see operators/dedup.py for the
# xxhash64 fast paths used at scale).
# ---------------------------------------------------------------------------

# DuckDB equivalent of operators.dedup.poly_hash(col)
_DUCK_POLYHASH = (
    "list_reduce(list_prepend(CAST(7 AS BIGINT), "
    "list_transform(string_split_regex({col}, ''), c -> CAST(ascii(c) AS BIGINT))), "
    "(acc, x) -> (acc * 31 + x) % 1000000007)"
)

# DuckDB shingle-hash list for 3-word shingles of `text`
_DUCK_SHINGLE_HL = (
    "list_transform(list_distinct(list_transform(range(1, len(w)-1), "
    "i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])), g -> "
    + _DUCK_POLYHASH.format(col="g")
    + ")"
)


@register(
    "fp_rolling_hash",
    oracle="SELECT doc_id, " + _DUCK_POLYHASH.format(col="text") + " AS fingerprint "
    "FROM documents",
    doc="Document fingerprinting: portable rolling hash as the content "
    "identity key (xxhash64 is the in-engine fast path).",
)
def fp_rolling_hash(spark, sf_dir):
    from logvision_spark.operators.text import fingerprint

    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", fingerprint(F.col("text")).alias("fingerprint"))


@register(
    "dedup_minhash_sig",
    oracle="""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
hs AS (SELECT doc_id, """
    + _DUCK_SHINGLE_HL
    + """ AS hl FROM toks)
SELECT doc_id,
  list_min(list_transform(hl, h -> (h*3+1)  % 1000000007)) AS h0,
  list_min(list_transform(hl, h -> (h*5+7)  % 1000000007)) AS h1,
  list_min(list_transform(hl, h -> (h*11+13) % 1000000007)) AS h2,
  list_min(list_transform(hl, h -> (h*17+19) % 1000000007)) AS h3
FROM hs
""",
    doc="MinHash signatures (4 permutations over 3-word shingles) — the "
    "LSH building block; verified value-exact cross-engine via the "
    "portable hash. Zero-shuffle Arrow formulation (r18): a signature "
    "is a pure per-row function of the text, so one vectorized "
    "mapInArrow pass replaces explode + aggregate + exchange; numpy "
    "does the char folds the interpreted Catalyst HOFs used to.",
)
def dedup_minhash_sig(spark, sf_dir):
    from logvision_spark.operators.dedup import minhash_signatures_rows

    d = _t(spark, sf_dir, "documents")
    return minhash_signatures_rows(d, num_hashes=4)


@register(
    "dedup_minhash_fast",
    oracle="SELECT doc_id, min(doc_id) OVER (PARTITION BY text) AS group_min_id "
    "FROM documents",
    doc="Production MinHash path (xxhash64 shingle hashing — JVM "
    "intrinsic, codegen), made value-checkable by emitting what the "
    "signatures are FOR: the exact duplicate-group partition "
    "(doc_id, group_min_id), signature-bucketed with a content-hash "
    "verify. ≡ GROUP BY text regardless of hash engine, so DuckDB can "
    "check it — while broken/unstable fast signatures would split exact "
    "groups and mismatch. Raw signatures alone are engine-specific AND "
    "near-dups collide on all 8 hashes (~4% of rows at sf0.1), so "
    "signature-grouping itself is deliberately not the contract.",
)
def dedup_minhash_fast(spark, sf_dir):
    from logvision_spark.operators.dedup import minhash_exact_groups

    d = _t(spark, sf_dir, "documents")
    return minhash_exact_groups(d, num_hashes=8)


# Shared DuckDB CTE prefix for the exact-shingle oracles (3-word shingles,
# per-doc sizes, common-shingle pair counts) — ONE definition for the three
# oracles that previously carried verbatim copies (review finding).
_DUCK_SHINGLE_PAIR_CTES = """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(w)-1),
        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS s FROM toks),
sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
common AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS c
           FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)"""


@register(
    "dedup_ngram_jaccard",
    oracle=_DUCK_SHINGLE_PAIR_CTES + """
SELECT doc_a, doc_b, round(c / (x.n + y.n - c), 6) AS jaccard
FROM common JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
WHERE round(c / (x.n + y.n - c), 6) >= 0.2
ORDER BY jaccard DESC, doc_a, doc_b
LIMIT 100
""",
    doc="Exact n-gram Jaccard near-dup pairs (threshold 0.2, top-100): "
    "shared-shingle self-join bounds the work to colliding pairs.",
)
def dedup_ngram_jaccard(spark, sf_dir):
    from logvision_spark.operators.dedup import ngram_jaccard_pairs

    d = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        d,
        threshold=0.2,
        shingles=_shared_shingles(spark, sf_dir),
        shingles_hashed=True,
    )
    return pairs.orderBy(F.desc("jaccard"), F.asc("doc_a"), F.asc("doc_b")).limit(100)


@register(
    "text_lang_id",
    oracle="""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sc AS (SELECT doc_id,
  CAST(len(list_filter(w, t -> lower(t) IN ('the','and','of','to','in','is','that','it','was','for'))) AS INTEGER) AS score_en,
  CAST(len(list_filter(w, t -> lower(t) IN ('der','die','das','und','ist','nicht','ein','mit','auf','zu'))) AS INTEGER) AS score_de,
  CAST(len(list_filter(w, t -> lower(t) IN ('el','la','de','que','y','en','un','por','con','para'))) AS INTEGER) AS score_es,
  CAST(len(list_filter(w, t -> lower(t) IN ('le','la','les','de','et','est','un','une','dans','pour'))) AS INTEGER) AS score_fr
FROM toks)
SELECT doc_id, score_en, score_de, score_es, score_fr,
  CASE WHEN greatest(score_en, score_de, score_es, score_fr) = 0 THEN 'und'
       WHEN score_en = greatest(score_en, score_de, score_es, score_fr) THEN 'en'
       WHEN score_de = greatest(score_en, score_de, score_es, score_fr) THEN 'de'
       WHEN score_es = greatest(score_en, score_de, score_es, score_fr) THEN 'es'
       ELSE 'fr' END AS pred_lang
FROM sc
""",
    doc="Language-ID heuristic: argmax of per-language stopword hits, "
    "deterministic tie-break, 'und' when no evidence.",
)
def text_lang_id(spark, sf_dir):
    from logvision_spark.operators.text import lang_id

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return lang_id(d).drop("text")


@register(
    "text_term_doc_freq",
    oracle="""
SELECT term, CAST(count(*) AS BIGINT) AS doc_freq
FROM (SELECT DISTINCT doc_id, unnest(string_split(lower(text), ' ')) AS term
      FROM documents)
WHERE term <> ''
GROUP BY term
ORDER BY doc_freq DESC, term
LIMIT 20
""",
    doc="Corpus document-frequency table (the DF half of TF-IDF; also the "
    "empirical input to the hot-shingle cap): explode distinct per-doc "
    "terms, count docs per term, top-20. Shuffle carries (term, doc_id) "
    "pairs — partial-agg collapses them map-side at 100 TB.",
)
def text_term_doc_freq(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    terms = d.select(
        "doc_id",
        F.explode(
            F.array_distinct(F.split(F.lower(F.col("text")), " "))
        ).alias("term"),
    ).where(F.col("term") != "")
    return (
        terms.groupBy("term")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .orderBy(F.desc("doc_freq"), F.asc("term"))
        .limit(20)
    )


@register(
    "text_redact_pii",
    oracle=r"""
SELECT doc_id,
  regexp_replace(regexp_replace(regexp_replace(
    text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com from 10.0.0.'
         || CAST(doc_id % 256 AS VARCHAR) || ' tel +1 (555) 000-'
         || CAST(1000 + doc_id % 9000 AS VARCHAR),
    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
    '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g'),
    '\+?[0-9][0-9() -]{7,}[0-9]', '<PHONE>', 'g') AS redacted
FROM documents
""",
    doc="PII scrubbing pass (pre-training corpus hygiene): emails, IPv4s, "
    "phone-like digit runs → typed placeholders via sequential JVM "
    "regexp_replace (operators/text.redact_pii). The fixture corpus has "
    "no PII, so deterministic spans are synthesized from doc_id on BOTH "
    "engines before redacting — the oracle checks the actual rewrite.",
)
def text_redact_pii(spark, sf_dir):
    from logvision_spark.operators.text import redact_pii

    d = _t(spark, sf_dir, "documents")
    synth = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com from 10.0.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(" tel +1 (555) 000-"),
        (F.lit(1000) + F.col("doc_id") % 9000).cast("string"),
    )
    return d.select("doc_id", redact_pii(synth).alias("redacted"))


@register(
    "corpus_split_counts",
    oracle="SELECT CASE WHEN doc_id % 100 < 80 THEN 'train' "
    "WHEN doc_id % 100 < 90 THEN 'val' ELSE 'test' END AS split, "
    "CAST(count(*) AS BIGINT) AS cnt FROM documents GROUP BY 1",
    doc="Deterministic train/val/test split sizes (operators/text."
    "corpus_split): id-mod assignment, stable across engines/runs/"
    "partitionings — the reproducible-snapshot property sampleBy lacks.",
)
def corpus_split_counts(spark, sf_dir):
    from logvision_spark.operators.text import corpus_split

    d = _t(spark, sf_dir, "documents")
    return d.groupBy(corpus_split(F.col("doc_id")).alias("split")).agg(
        F.count(F.lit(1)).alias("cnt")
    )


@register(
    "text_quality_percentiles",
    oracle="""
SELECT round(quantile_cont(tc, 0.25), 6) AS p25,
       round(quantile_cont(tc, 0.50), 6) AS p50,
       round(quantile_cont(tc, 0.75), 6) AS p75,
       round(quantile_cont(tc, 0.95), 6) AS p95
FROM (SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS tc FROM documents)
""",
    doc="Token-count distribution percentiles — the empirical basis for "
    "length-based quality filtering of a training corpus. Exact "
    "interpolating percentile (both engines: linear type-7), rounded to "
    "6 decimals; at 100 TB swap in approx_percentile and re-verify band.",
)
def text_quality_percentiles(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    tc = d.select(F.size(F.split(F.col("text"), " ")).cast("long").alias("tc"))
    return tc.agg(
        F.round(F.expr("percentile(tc, 0.25)"), 6).alias("p25"),
        F.round(F.expr("percentile(tc, 0.50)"), 6).alias("p50"),
        F.round(F.expr("percentile(tc, 0.75)"), 6).alias("p75"),
        F.round(F.expr("percentile(tc, 0.95)"), 6).alias("p95"),
    )


@register(
    "text_bpe_token_count",
    oracle=r"""SELECT doc_id, CAST(len(regexp_extract_all(text,
 '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS INTEGER) AS bpe_cnt FROM documents""",
    doc="BPE-ish pre-token count (letter runs / digits / symbols) — cheap "
    "LLM-token-cost proxy, pure regex.",
)
def text_bpe_token_count(spark, sf_dir):
    from logvision_spark.operators.text import bpe_like_token_count

    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", bpe_like_token_count(F.col("text")).alias("bpe_cnt"))


@register(
    "sim_near_pairs",
    oracle="""
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
 round(list_sum(list_transform(range(1, 65),
        i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
 / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
  * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))), 6) AS cos_sim
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE round(list_sum(list_transform(range(1, 65),
        i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
 / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
  * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))), 6) >= 0.4
""",
    doc="Embedding near-dup pairs: all-pairs cosine ≥ 0.4 (exact baseline; "
    "SRP-bucketed variant in operators/similarity.py is the scale path).",
)
def sim_near_pairs(spark, sf_dir):
    from logvision_spark.operators.similarity import near_dup_pairs_cosine

    emb = _t(spark, sf_dir, "embeddings")
    return near_dup_pairs_cosine(emb, threshold=0.4)


@register(
    "sim_near_pairs_lsh",
    oracle="""
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
 round(list_sum(list_transform(range(1, 65),
        i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
 / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
  * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))), 6) AS cos_sim
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE round(list_sum(list_transform(range(1, 65),
        i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
 / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
  * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))), 6) >= 0.4
""",
    doc="Embedding near-dup pairs, scale path: SRP-LSH bucket candidates "
    "(equi-join on (table, bucket), no all-pairs cross join) → exact-cosine "
    "verify. Fixed seed; at the defaults a cosine-0.4 pair is missed with "
    "p≈5e-6, so the verified set equals the exact all-pairs oracle.",
)
def sim_near_pairs_lsh(spark, sf_dir):
    from logvision_spark.operators.similarity import near_dup_pairs_cosine_lsh

    emb = _t(spark, sf_dir, "embeddings")
    return near_dup_pairs_cosine_lsh(emb, threshold=0.4)


@register(
    "t5_projection_rename",
    oracle="SELECT event_id AS id, user_id AS visitor, event_type AS kind, value "
    "AS amount FROM events WHERE user_id % 10 = 0",
    doc="T5: projection + snake_case rename surface (learning.scala:114-116).",
)
def t5_projection_rename(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.where(F.col("user_id") % 10 == 0).select(
        F.col("event_id").alias("id"),
        F.col("user_id").alias("visitor"),
        F.col("event_type").alias("kind"),
        F.col("value").alias("amount"),
    )


@register(
    "k6_window_per_user",
    oracle="""
SELECT event_id, user_id, value FROM (
  SELECT event_id, user_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rn
  FROM events) WHERE rn = 1
""",
    doc="Partitioned window function: top event per user via row_number — "
    "the partition key distributes the window at scale (vs the global-rank "
    "case which must stay post-top-k).",
)
def k6_window_per_user(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        ev.select("event_id", "user_id", "value", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") == 1)
        .drop("rn")
    )


@register(
    "a_pivot_type_by_bucket",
    oracle="""
SELECT user_id % 10 AS bucket,
  CAST(sum(CASE WHEN event_type = 'click'    THEN 1 ELSE 0 END) AS BIGINT) AS click,
  CAST(sum(CASE WHEN event_type = 'error'    THEN 1 ELSE 0 END) AS BIGINT) AS error,
  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
  CAST(sum(CASE WHEN event_type = 'signup'   THEN 1 ELSE 0 END) AS BIGINT) AS signup,
  CAST(sum(CASE WHEN event_type = 'view'     THEN 1 ELSE 0 END) AS BIGINT) AS view
FROM events GROUP BY 1
""",
    doc="Pivot/crosstab: event-type columns per user bucket. Explicit "
    "pivot values keep it one pass (no distinct-values pre-query) and "
    "make the output schema static — required at scale and for the oracle.",
)
def a_pivot_type_by_bucket(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy((F.col("user_id") % 10).alias("bucket"))
        .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
        .agg(F.count(F.lit(1)).alias("cnt"))
        .na.fill(0)
    )


@register(
    "a16_distinct_types_by_user",
    oracle="SELECT user_id, CAST(count(DISTINCT event_type) AS BIGINT) AS distinct_types "
    "FROM events GROUP BY user_id",
    doc="Per-key exact distinct count in the skew-balanced two-phase form "
    "(shuffle on (key,value) — uniform even for Zipf keys — dedup, then "
    "count); identical result to groupBy().agg(countDistinct()).",
)
def a16_distinct_types_by_user(spark, sf_dir):
    from logvision_spark.operators.skew import distinct_count_by_key_balanced

    ev = _t(spark, sf_dir, "events")
    return distinct_count_by_key_balanced(
        ev, "user_id", "event_type", alias="distinct_types"
    )


@register(
    "a_multi_counter_grouping_sets",
    oracle="""
SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS cnt,
       CAST(GROUPING(user_id, event_type) AS INTEGER) AS gid
FROM events GROUP BY GROUPING SETS ((user_id), (event_type))
""",
    doc="All categorical counters in ONE scan + ONE shuffle via GROUPING "
    "SETS — the reference runs one job per counter (11 jobs/batch over the "
    "same parsed data, streaming.scala:93-149); at 100 TB the rescans, not "
    "the aggregation, would dominate.",
)
def a_multi_counter_grouping_sets(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    ev.createOrReplaceTempView("_events_gs")
    return spark.sql(
        """
        SELECT user_id, event_type, count(*) AS cnt,
               CAST(grouping_id() AS INT) AS gid
        FROM _events_gs GROUP BY GROUPING SETS ((user_id), (event_type))
        """
    )


@register(
    "a_rollup_day_type",
    oracle="""
SELECT day, event_type, CAST(count(*) AS BIGINT) AS cnt,
       CAST(GROUPING(day, event_type) AS INTEGER) AS gid
FROM (SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type
      FROM events)
GROUP BY ROLLUP (day, event_type)
""",
    doc="Time-hierarchy rollup (leaf / per-day / grand-total in ONE scan "
    "and shuffle): the OLAP drill-down cascade the reference would need "
    "three separate jobs for; grouping_id disambiguates levels from "
    "genuine NULL keys.",
)
def a_rollup_day_type(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    ev.createOrReplaceTempView("_events_ru")
    return spark.sql(
        """
        SELECT day, event_type, count(*) AS cnt,
               CAST(grouping_id() AS INT) AS gid
        FROM (SELECT date_format(date_trunc('DAY', ts), 'yyyy-MM-dd') AS day,
                     event_type
              FROM _events_ru)
        GROUP BY ROLLUP (day, event_type)
        """
    )


@register(
    "j4_anti_join",
    oracle="""
SELECT n_name, CAST(count(*) AS BIGINT) AS inactive_customers
FROM customer JOIN nation ON c_nationkey = n_nationkey
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY n_name
""",
    doc="Anti-join: customers with no orders, per nation. Spark plans a "
    "broadcast/shuffled hash anti-join — no NOT IN materialization.",
)
def j4_anti_join(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    inactive = c.join(o, c.c_custkey == o.o_custkey, "left_anti")
    return (
        inactive.join(F.broadcast(n), F.col("c_nationkey") == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("inactive_customers"))
    )


@register(
    "j5_semi_join",
    oracle="""
SELECT p_brand, CAST(count(*) AS BIGINT) AS shipped_parts
FROM part WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
GROUP BY p_brand
""",
    doc="Semi-join: parts that ever shipped, per brand — existence check "
    "without duplication (left_semi).",
)
def j5_semi_join(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem")
    return (
        p.join(li, p.p_partkey == li.l_partkey, "left_semi")
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("shipped_parts"))
    )


@register(
    "q18_large_orders",
    oracle="""
SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d %H:%M:%S.%f') AS o_orderdate,
  CAST(sum(CAST(round(l_quantity*100) AS BIGINT)) AS BIGINT) / 100.0 AS total_qty
FROM orders JOIN lineitem ON l_orderkey = o_orderkey
GROUP BY o_orderkey, o_orderdate
HAVING sum(CAST(round(l_quantity*100) AS BIGINT)) > 15000
ORDER BY total_qty DESC, o_orderkey
LIMIT 20
""",
    doc="TPC-H Q18 shape: group-having over a join (orders whose total "
    "quantity exceeds a threshold), top-20. The HAVING filters on the "
    "exact integer-units sum pre-division. AGGREGATE-THEN-JOIN: the "
    "quantity sum needs only lineitem, and l_orderkey determines the "
    "order row, so the partial-agg runs on the narrow (key, qty) fact "
    "FIRST — one shuffle of two longs — and the HAVING prunes to the "
    "handful of large orders BEFORE orders is touched; AQE then sees a "
    "tiny build side. Join-then-aggregate shuffled every lineitem row "
    "with o_orderdate attached: measured 1.8× slower at sf0.1 "
    "(0.87 s vs 0.48 s), and the gap grows with fact width at 100 TB.",
)
def q18_large_orders(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(cents("l_quantity")).alias("_q"))
        .where(F.col("_q") > 15000)
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .select(
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "o_orderdate"
            ),
            (F.col("_q") / F.lit(100.0)).alias("total_qty"),
        )
        .orderBy(F.desc("total_qty"), F.asc("o_orderkey"))
        .limit(20)
    )


@register(
    "q6_forecast_revenue",
    oracle="""
SELECT CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)
             * CAST(round(l_discount*100) AS BIGINT)) AS BIGINT) / 10000.0 AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.03 AND 0.07
  AND l_quantity < 24
""",
    doc="TPC-H Q6 shape: pure filtered scan + global sum — every predicate "
    "must reach PushedFilters; the quintessential pushdown query.",
)
def q6_forecast_revenue(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & F.col("l_discount").between(0.03, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            (F.sum(cents("l_extendedprice") * cents("l_discount")) / F.lit(10000.0)).alias(
                "revenue"
            )
        )
    )


@register(
    "q12_shipmode_priority",
    oracle="""
SELECT l_linestatus,
  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
       AS BIGINT) AS high_cnt,
  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
       AS BIGINT) AS low_cnt
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate < o_orderdate
GROUP BY l_linestatus
""",
    doc="TPC-H Q12 shape: join + conditional split aggregation in one "
    "pass (the reference's success/other pattern over a join).",
)
def q12_shipmode_priority(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .where(F.col("l_shipdate") < F.col("o_orderdate"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).cast("long").alias("high_cnt"),
            F.sum(F.when(~hi, 1).otherwise(0)).cast("long").alias("low_cnt"),
        )
    )


@register(
    "q14_promo_ratio",
    oracle="""
SELECT CAST(sum(CASE WHEN starts_with(p_type, 'a') THEN
        CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT))
        ELSE 0 END) AS BIGINT)
     / CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT)
     AS promo_ratio
FROM lineitem JOIN part ON p_partkey = l_partkey
""",
    doc="TPC-H Q14 shape: ratio of two conditional sums — one join, one "
    "aggregate, division of two exact integers (deterministic double).",
)
def q14_promo_ratio(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    rev = cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))
    promo = F.when(F.col("p_type").startswith("a"), rev).otherwise(F.lit(0))
    return (
        # part scales with SF — threshold/AQE decide, no pin
        li.join(p, li.l_partkey == p.p_partkey)
        .agg((F.sum(promo) / F.sum(rev)).alias("promo_ratio"))
    )


@register(
    "q19_disjunctive",
    oracle="""
SELECT CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT) / 10000.0 AS revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity >= 1 AND l_quantity <= 30)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30 AND l_quantity >= 10 AND l_quantity <= 40)
""",
    doc="TPC-H Q19 shape: disjunctive multi-table predicates — Catalyst "
    "splits the OR across join sides where possible.",
)
def q19_disjunctive(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    rev = cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))
    cond = (
        (F.col("p_brand") == "Brand#1")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 30)
    ) | (
        (F.col("p_brand") == "Brand#2")
        & F.col("p_size").between(10, 30)
        & F.col("l_quantity").between(10, 40)
    )
    return (
        # part scales with SF — threshold/AQE decide, no pin
        li.join(p, li.l_partkey == p.p_partkey)
        .where(cond)
        .agg((F.sum(rev) / F.lit(10000.0)).alias("revenue"))
    )


@register(
    "q4_order_priority",
    oracle="""
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_cnt
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority
""",
    doc="TPC-H Q4 shape: correlated EXISTS with an extra-column condition "
    "— plans as a left-semi join carrying the l_shipdate > o_orderdate "
    "predicate.",
)
def q4_order_priority(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    return (
        o.join(
            li,
            (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_cnt"))
    )


@register(
    "q17_small_qty_revenue",
    oracle="""
SELECT CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) / 100.0 / 7.0
       AS avg_yearly
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN (SELECT l_partkey AS pk, 0.2 * avg(l_quantity) AS qty_thresh
      FROM lineitem GROUP BY l_partkey) t ON t.pk = l_partkey
WHERE p_brand = 'Brand#1' AND l_quantity < qty_thresh
""",
    doc="TPC-H Q17 shape: correlated scalar subquery (per-part average "
    "quantity threshold) decorrelated into an aggregate + join. The "
    "threshold is double math over exact integer sums — identical in both "
    "engines, so the boundary comparison is deterministic.",
)
def q17_small_qty_revenue(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#1")
    thresh = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("qty_thresh")
    )
    return (
        # part scales with SF — threshold/AQE decide, no pin
        li.join(p, li.l_partkey == p.p_partkey)
        .join(thresh, li.l_partkey == thresh.pk)
        .where(F.col("l_quantity") < F.col("qty_thresh"))
        .agg(
            (F.sum(cents("l_extendedprice")) / F.lit(100.0) / F.lit(7.0)).alias(
                "avg_yearly"
            )
        )
    )


@register(
    "w_cumulative_revenue",
    oracle="""
SELECT strftime(d, '%Y-%m-%d %H:%M:%S.%f') AS d, daily,
       CAST(sum(daily_e2) OVER (ORDER BY d
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) / 100.0
       AS cumulative
FROM (SELECT o_orderdate AS d,
             CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) / 100.0 AS daily,
             CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS daily_e2
      FROM orders GROUP BY o_orderdate)
""",
    doc="Running-total window: cumulative revenue over order dates — "
    "ordered window over the PRE-AGGREGATED daily series (one row per "
    "date), so the unpartitioned window is small by construction; exact "
    "via integer cents inside the window sum.",
)
def w_cumulative_revenue(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("d")).agg(
        (F.sum(cents("o_totalprice")) / F.lit(100.0)).alias("daily"),
        F.sum(cents("o_totalprice")).alias("daily_e2"),
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return daily.select(
        F.date_format("d", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("d"),
        "daily",
        (F.sum("daily_e2").over(w) / F.lit(100.0)).alias("cumulative"),
    )


@register(
    "w_sliding_counts",
    oracle="""
SELECT strftime(ws, '%Y-%m-%d %H:%M:%S.%f') AS win_start, CAST(count(*) AS BIGINT) AS cnt
FROM (
  SELECT to_timestamp(CAST(floor(epoch(ts)/300) AS BIGINT)*300) AS ws FROM events
  UNION ALL
  SELECT to_timestamp(CAST(floor(epoch(ts)/300) AS BIGINT)*300) - INTERVAL 300 SECOND AS ws
  FROM events)
GROUP BY ws
""",
    doc="Sliding-window counts (10 min window, 5 min slide) verified in "
    "batch: length = 2×slide means every event lands in EXACTLY two "
    "epoch-aligned windows, so the oracle is two shifted tumbling "
    "bucketings unioned — the same assignment window() computes. The "
    "identical builder runs streaming with a watermark "
    "(streaming/pipeline.sliding_window_counts).",
)
def w_sliding_counts(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    w = F.window("ts", "10 minutes", "5 minutes")
    return ev.groupBy(w.alias("win")).agg(
        F.count(F.lit(1)).alias("cnt")
    ).select(
        F.date_format("win.start", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("win_start"),
        "cnt",
    )


@register(
    "w_session_windows",
    oracle="""
WITH o AS (
  SELECT user_id, ts,
    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
          OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL 30 MINUTE
         THEN 1 ELSE 0 END AS new_s
  FROM events WHERE user_id % 10 = 0),
 s AS (SELECT user_id, ts,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS sid
       FROM o)
SELECT user_id,
  strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
  strftime(max(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S.%f') AS session_end,
  CAST(count(*) AS BIGINT) AS n_events
FROM s GROUP BY user_id, sid
""",
    doc="Gap-based sessionization verified in batch: session_window "
    "(30 min gap) vs the classic lag/cumulative-sum SQL sessionizer. "
    "Boundary semantics matched exactly: a gap of precisely 30 min "
    "STARTS a new session (Spark merges only while ts < prev + gap); "
    "session_end = last event + gap on both engines. Streaming runs the "
    "same builder with a watermark (pipeline.session_window_counts).",
)
def w_session_windows(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").where(F.col("user_id") % 10 == 0)
    sw = F.session_window("ts", "30 minutes")
    return (
        ev.groupBy("user_id", sw.alias("win"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format("win.start", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "session_start"
            ),
            F.date_format("win.end", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "session_end"
            ),
            "n_events",
        )
    )


@register(
    "j7_intersect_except",
    oracle="""
(SELECT user_id FROM events WHERE event_type = 'click'
 INTERSECT
 SELECT user_id FROM events WHERE event_type = 'purchase')
EXCEPT
SELECT user_id FROM events WHERE event_type = 'error'
""",
    doc="Set-operation surface: users who clicked AND purchased but never "
    "errored — INTERSECT then EXCEPT with distinct semantics. Spark plans "
    "these as left-semi / left-anti aggregated joins; inputs are "
    "pre-distinct key sets, so the shuffles carry keys only.",
)
def j7_intersect_except(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")

    def users_of(t: str):
        return ev.where(F.col("event_type") == t).select("user_id")

    return (
        users_of("click")
        .intersect(users_of("purchase"))
        .subtract(users_of("error"))
    )


@register(
    "w_moving_avg",
    oracle="""
SELECT event_id, user_id,
  round(avg(value) OVER (PARTITION BY user_id ORDER BY event_id
        ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS mov_avg
FROM events WHERE user_id % 20 = 0
""",
    doc="Bounded ROWS-frame moving average (3-event trailing mean per "
    "user, ordered by the unique event id so frame contents are "
    "deterministic). Both engines average the same ≤3 doubles in the "
    "same order — identical IEEE results, rounded for safety.",
)
def w_moving_avg(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").where(F.col("user_id") % 20 == 0)
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(-2, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.avg("value").over(w), 6).alias("mov_avg"),
    )


@register(
    "w_window_zoo",
    oracle="""
SELECT event_id, event_type,
  lag(event_type) OVER w AS prev_type,
  lead(event_type) OVER w AS next_type,
  CAST(ntile(4) OVER w AS INTEGER) AS quartile,
  round(percent_rank() OVER w, 6) AS pr
FROM events WHERE user_id % 25 = 0
WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
""",
    doc="Navigation/distribution window functions over one spec: "
    "lag/lead neighbors, ntile quartiles, percent_rank — all "
    "deterministic because the ordering key (event_id) is unique within "
    "each partition.",
)
def w_window_zoo(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").where(F.col("user_id") % 25 == 0)
    w = Window.partitionBy("user_id").orderBy("event_id")
    return ev.select(
        "event_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
        F.lead("event_type").over(w).alias("next_type"),
        F.ntile(4).over(w).cast("int").alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pr"),
    )


@register(
    "a_unpivot_measures",
    oracle="""
SELECT l_orderkey, l_linenumber, metric, val
FROM (SELECT l_orderkey, l_linenumber,
             CAST(l_quantity AS DOUBLE) AS qty,
             CAST(l_extendedprice AS DOUBLE) AS price,
             CAST(l_discount AS DOUBLE) AS disc,
             CAST(l_tax AS DOUBLE) AS tax
      FROM lineitem WHERE l_orderkey % 500 = 0)
UNPIVOT (val FOR metric IN (qty, price, disc, tax))
""",
    doc="UNPIVOT (wide measures → long rows): the melt shape feature "
    "pipelines use before per-metric aggregation — a generated "
    "projection+explode, no shuffle at all.",
)
def a_unpivot_measures(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_orderkey") % 500 == 0)
    wide = li.select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("double").alias("qty"),
        F.col("l_extendedprice").cast("double").alias("price"),
        F.col("l_discount").cast("double").alias("disc"),
        F.col("l_tax").cast("double").alias("tax"),
    )
    return wide.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["qty", "price", "disc", "tax"],
        "metric",
        "val",
    )


@register(
    "t_string_funcs",
    oracle="""
SELECT upper(substr(event_type, 1, 3)) AS code,
       concat(event_type, ':', CAST(user_id AS VARCHAR)) AS tag,
       CAST(length(props) AS INTEGER) AS props_len,
       CAST(count(*) AS BIGINT) AS cnt
FROM events
WHERE starts_with(event_type, 's') OR contains(event_type, 'err')
GROUP BY 1, 2, 3
""",
    doc="Scalar string-function inventory (§2.10): upper/substr/concat/"
    "length/starts_with/contains fused into one grouped projection.",
)
def t_string_funcs(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (
        ev.where(
            F.col("event_type").startswith("s") | F.col("event_type").contains("err")
        )
        .groupBy(
            F.upper(F.substring("event_type", 1, 3)).alias("code"),
            F.concat_ws(":", "event_type", F.col("user_id").cast("string")).alias("tag"),
            F.length("props").alias("props_len"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@register(
    "j6_asof_join",
    oracle="""
SELECT p.event_id, p.user_id, strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts,
       strftime(s.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_asof
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') s
  ON p.user_id = s.user_id AND s.ts <= p.ts
""",
    doc="As-of join — an operator Spark's join menu lacks, composed from "
    "union + forward-fill window (operators/asof.py): each purchase gets "
    "the user's most recent signup-or-earlier timestamp. Oracle uses "
    "DuckDB's native ASOF LEFT JOIN.",
)
def j6_asof_join(spark, sf_dir):
    from logvision_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    signups = ev.where(F.col("event_type") == "signup").select("user_id", "ts")
    joined = asof_join(purchases, signups, key="user_id")
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    return joined.select(
        "event_id",
        "user_id",
        F.date_format("ts", fmt).alias("ts"),
        F.date_format("ts_asof", fmt).alias("ts_asof"),
    )


def _events_stream(spark, sf_dir):
    """File-source stream over the events table, normalized to a
    session-zone timestamp like sources/readers.load_table does. The
    testdata generator has produced two physical types across rounds —
    TIMESTAMP(NANOS) (read as raw long via the legacy fallback, integer
    DIV 1000 truncating to micros exactly like DuckDB) and
    TIMESTAMP(MICROS, NTZ) — so the declared stream schema follows a
    one-time batch-footer sniff of the actual file.

    Handles both physical layouts of the table: a single file named
    events.parquet (the testdata generator's) is picked out of sf_dir
    with a pathGlobFilter; a DIRECTORY events.parquet/ of part-files
    (what any Spark write produces) is streamed directly — the glob
    filter matches LEAF file names, so pointing it at the directory
    layout would silently produce an empty stream."""
    import os

    from pyspark.sql import types as T

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw_ts = spark.read.parquet(f"{sf_dir}/events.parquet").schema["ts"].dataType
    nanos = isinstance(raw_ts, T.LongType)
    ts_decl = "long" if nanos else "timestamp_ntz"
    schema = (
        f"event_id long, ts {ts_decl}, user_id long, event_type string, "
        "value double, props string"
    )
    reader = spark.readStream.schema(schema)
    if os.path.isdir(os.path.join(sf_dir, "events.parquet")):
        src = reader.parquet(f"{sf_dir}/events.parquet")
    else:
        src = reader.option("pathGlobFilter", "events.parquet").parquet(sf_dir)
    if nanos:
        # integer DIV truncates exactly; a double division of int64 nanos
        # (~1.8e18 > 2^53) silently drifts by a few micros
        return src.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
    return src.withColumn("ts", F.col("ts").cast("timestamp"))


def _run_stream_to_memory(
    df,
    prefix: str,
    output_mode: str,
    rocksdb: bool = True,
    name: str | None = None,
    checkpoint: str | None = None,
    stop: bool = False,
    changelog: bool = False,
):
    """Run a streaming DataFrame to a memory sink under AvailableNow and
    block until drained; returns the memory table name. One place owns
    the query lifecycle for every stream_* entry: the r6 RocksDB
    migration had to edit eight identical copies of this block, and a
    missed copy would silently run on the default provider while the
    entry's doc claims RocksDB (review finding). ``rocksdb=False`` is
    for stateless queries (stream-static joins keep no state store).
    ``name``/``checkpoint`` pin identity across restarts for recovery
    entries; ``stop`` ends the query so a restart can reuse both;
    ``changelog`` enables RocksDB changelog checkpointing (per-batch
    delta uploads instead of full snapshots — the production knob for
    large state; see pipeline.rocksdb_state_store).

    The writer itself is pipeline.start_counter_query — one module owns
    the memory-sink recipe (review finding: this helper had re-inlined
    it). A drain TIMEOUT raises instead of returning a partly-filled
    table: awaitTermination(t) returns False on timeout, and silently
    treating that as drained would surface as an oracle hash mismatch
    misdiagnosed as a correctness bug (review finding)."""
    import tempfile
    import uuid

    from logvision_spark.streaming.pipeline import (
        rocksdb_state_store,
        start_counter_query,
    )

    spark = df.sparkSession
    name = name or f"{prefix}_{uuid.uuid4().hex[:8]}"
    checkpoint = checkpoint or tempfile.mkdtemp(prefix="lv_ckpt_")

    def _start_and_drain():
        q = start_counter_query(
            df,
            name,
            checkpoint_dir=checkpoint,
            output_mode=output_mode,
            available_now=True,
        )
        try:
            if not q.awaitTermination(300):
                raise TimeoutError(
                    f"streaming entry {name!r} did not drain within 300s"
                )
        finally:
            if stop or q.isActive:
                q.stop()

    if changelog and not rocksdb:
        # silently running WITHOUT the changelog path an entry's doc
        # claims is the exact misconfiguration class this helper was
        # centralized to prevent (review finding)
        raise ValueError("changelog=True requires rocksdb=True")
    if rocksdb:
        with rocksdb_state_store(spark, changelog=changelog):
            _start_and_drain()
    else:
        _start_and_drain()
    return name


@register(
    "stream_dedup_distinct_props",
    oracle="SELECT DISTINCT props FROM events",
    doc="Streaming exact dedup, batch-verified: "
    "dropDuplicatesWithinWatermark over the content column keeps exactly "
    "the first occurrence per distinct value (100 survivors from 10k "
    "rows at sf0.01); the survivor SET must equal DISTINCT — the "
    "training-pipeline dedup op as a correctness gate, not just a "
    "behavior test. Runs on the RocksDB state store (r6): dedup state "
    "is one entry per distinct content hash, the cardinality class "
    "that outgrows the default in-heap provider first.",
)
def stream_dedup_distinct_props(spark, sf_dir):
    from logvision_spark.operators.dedup import streaming_exact_dedup

    src = _events_stream(spark, sf_dir)
    deduped = streaming_exact_dedup(
        src, content_col="props", ts_col="ts", watermark="7 days"
    ).select("props")
    name = _run_stream_to_memory(deduped, "stream_dedup", "append")
    return spark.table(name)


@register(
    "stream_a7_count_by_type",
    oracle="SELECT event_type, CAST(count(*) AS BIGINT) AS cnt FROM events GROUP BY event_type",
    doc="Streaming path, batch-verified: the same counter via Structured "
    "Streaming (file source → update-state groupBy → AvailableNow → memory "
    "sink). Accumulated StateStore state must hash-match the batch SQL "
    "oracle — the zincrby-equivalence property as a correctness gate.",
)
def stream_a7_count_by_type(spark, sf_dir):
    # the file streaming source requires a directory: _events_stream
    # globs the sf_dir down to the events table and types ts for us
    src = _events_stream(spark, sf_dir)
    agg = src.groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt"))
    name = _run_stream_to_memory(agg, "stream_a7", "complete")
    return spark.table(name)


def _event_counter_oracle() -> str:
    """The DuckDB mirror of `_event_counter_specs` — one batch
    aggregation per counter over the WHOLE events table, shared by
    every multiplexed-KV entry so the two sides of the spec/oracle
    contract can only drift together."""
    return (
        "SELECT 'user' AS counter, CAST(user_id AS VARCHAR) AS member, "
        "CAST(count(*) AS BIGINT) AS total FROM events GROUP BY user_id "
        "UNION ALL SELECT 'type', event_type, CAST(count(*) AS BIGINT) "
        "FROM events GROUP BY event_type "
        "UNION ALL SELECT 'datetime', "
        "strftime(date_trunc('second', ts), '%Y-%m-%d %H:%M:%S'), "
        "CAST(count(*) AS BIGINT) FROM events GROUP BY 2 "
        "UNION ALL SELECT 'totals', 'line_cnt', CAST(count(*) AS BIGINT) "
        "FROM events "
        "UNION ALL SELECT 'totals', 'size_bytes', "
        "CAST(sum(length(props)) AS BIGINT) FROM events "
        "UNION ALL SELECT 'totals', 'value_cents', "
        "CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) FROM events"
    )


@register(
    "stream_counter_multiplex",
    oracle=_event_counter_oracle(),
    doc="THE production counter topology (r7 VERDICT item 1; SURVEY.md "
    "§3.1 made physical): the ENTIRE counter catalog — two key "
    "counters, the per-second time series, and three integral totals — "
    "through ONE stateless append-mode foreachBatch over ONE stream, "
    "computed per micro-batch as a single melt + ONE hash aggregation "
    "(one source scan + one shuffle per trigger, regardless of catalog "
    "size) and merged into the zincrby-equivalent KV store, replay-"
    "fenced by batch_id. The events copy lands as 4 parquet files "
    "streamed one per trigger, so the driver row checks the CROSS-"
    "TRIGGER merge: accumulated KV state must hash-match one batch "
    "aggregation over everything (the Redis-equivalence property, "
    "SURVEY.md §5.2). Replaces the reference's 11 foreachRDD passes "
    "per batch (streaming.scala:176-186) AND our own one-query-per-"
    "view fan-out (the r7 audit's remaining scale gap); per-trigger "
    "plan shape pinned in tests/test_streaming_plan_quality.py, "
    "fan-out A/B in experiments/measure_counter_multiplex.py.",
)
def stream_counter_multiplex(spark, sf_dir):
    return _merged_event_counters(spark, sf_dir).to_df(spark)


def _event_counter_specs():
    """The events-table counter catalog as melt specs — two key
    counters, the per-second time series, and three integral totals —
    shared by every multiplexed-KV entry (state dump, board read,
    backfill cutover) so they all verify the SAME catalog against the
    same DuckDB aggregation shapes."""
    from logvision_spark.streaming.multiplex import CounterSpec

    return [
        CounterSpec("user", F.col("user_id")),
        CounterSpec("type", F.col("event_type")),
        CounterSpec(
            "datetime",
            F.date_format(
                F.date_trunc("second", F.col("ts")), "yyyy-MM-dd HH:mm:ss"
            ),
        ),
        CounterSpec("totals", F.lit("line_cnt")),
        CounterSpec("totals", F.lit("size_bytes"), weight=F.length("props")),
        CounterSpec("totals", F.lit("value_cents"), weight=cents("value")),
    ]


def _merged_event_counters(spark, sf_dir):
    """Run THE production counter topology over the events table and
    return the merged KVCounterStore: events landed as 4 parquet files
    streamed one per trigger through ONE multiplexed foreachBatch
    (melt + one hash agg per micro-batch), deltas merged under the
    high-water batch_id fence. Shared by the state-dump entry
    (stream_counter_multiplex) and the board-read entry
    (stream_board_top_users) so both driver rows check the SAME
    cross-trigger merge through different serving reads."""
    import shutil
    import tempfile

    from logvision_spark.streaming.multiplex import (
        KVCounterStore,
        start_multiplexed_counter_sink,
    )

    # land the events table as 4 files so AvailableNow + one-file
    # triggers exercises a real multi-batch KV merge, not a single pass
    d = tempfile.mkdtemp(prefix="lv_mux_")
    try:
        ev = _t(spark, sf_dir, "events")
        ev.repartition(4).write.mode("overwrite").parquet(f"{d}/events")
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{d}/events")
        )
        specs = _event_counter_specs()
        store = KVCounterStore()
        q = start_multiplexed_counter_sink(
            stream,
            specs,
            store.merge,
            checkpoint_dir=f"{d}/ckpt",
            available_now=True,
        )
        try:
            if not q.awaitTermination(300):
                raise TimeoutError(
                    "multiplexed counter sink did not drain within 300s"
                )
        finally:
            if q.isActive:
                q.stop()
        if store.high_water_batch_id < 1:
            # a single mega-batch would silently skip the cross-trigger
            # merge these entries exist to verify
            raise AssertionError("expected >=2 micro-batches in the merge")
        return store
    finally:
        shutil.rmtree(d, ignore_errors=True)


@register(
    "stream_board_top_users",
    oracle=(
        "SELECT CAST(user_id AS VARCHAR) AS member, "
        "CAST(count(*) AS BIGINT) AS total FROM events GROUP BY user_id "
        "ORDER BY total DESC, member IS NULL, member LIMIT 10"
    ),
    doc="THE serving loop end-to-end, driver-checked (r8 VERDICT item "
    "3's catalog row): the same multiplexed topology as "
    "stream_counter_multiplex — events as 4 files, one per trigger, "
    "melt + one hash agg per micro-batch, high-water-fenced KV merge — "
    "read back through the `zrevrange` BOARD read (the reference's "
    "flask/app.py top-N panels over Redis ZSETs): top-10 members of "
    "the user counter by accumulated total, ties broken member-asc "
    "NULL-last, matching every ORDER BY..LIMIT tie-break in the "
    "catalog. The oracle recomputes the board as one batch top-k over "
    "everything streamed, so this row pins ingest → multiplexed merge "
    "→ serving read, not just the state dump.",
)
def stream_board_top_users(spark, sf_dir):
    store = _merged_event_counters(spark, sf_dir)
    return spark.createDataFrame(
        store.zrevrange("user", 10), "member string, total long"
    )


@register(
    "stream_backfill_cutover",
    oracle=_event_counter_oracle(),
    doc="The ARCHIVE→LIVE cutover every real deployment of the counter "
    "topology runs first, driver-checked (r9 VERDICT item 2): the even-"
    "event_id half of the table is the archive — ONE batch melt applied "
    "via KVCounterStore.backfill BEFORE the live stream attaches, "
    "outside any checkpoint's replay fence (backfill ENFORCES that "
    "ordering since r10: it raises once live merges have begun, because "
    "nothing fences a late backfill against double-counting files the "
    "stream also read — the reference's standing zincrby flaw, "
    "streaming.scala:163). The odd half then lands as 2 files streamed "
    "one per trigger through the fenced multiplexed sink into the SAME "
    "store; the live query's batch ids start at 0 and must not be "
    "fenced by the backfill. The oracle is one batch aggregation over "
    "ALL events, so a lost tranche, a doubled tranche, or a fence "
    "misfire on either side hash-mismatches. Same specs both sides "
    "(_event_counter_specs) — the batch/streaming equivalence the "
    "multiplex module docstring promises, as a driver row.",
)
def stream_backfill_cutover(spark, sf_dir):
    import shutil
    import tempfile

    from logvision_spark.streaming.multiplex import (
        KVCounterStore,
        melted_counter_deltas,
        start_multiplexed_counter_sink,
    )

    d = tempfile.mkdtemp(prefix="lv_cutover_")
    try:
        ev = _t(spark, sf_dir, "events")
        specs = _event_counter_specs()
        store = KVCounterStore()
        # archive tranche FIRST: one batch melt, fence untouched.
        # event_id is a non-null row id, so even/odd is a total,
        # disjoint split — archive + live = the oracle's whole table.
        store.backfill(
            melted_counter_deltas(
                ev.where(F.col("event_id") % 2 == 0), specs
            )
        )
        if store.high_water_batch_id != -1:
            raise AssertionError("backfill must not advance the fence")
        # live tranche: 2 files, one per trigger, through the fenced sink
        ev.where(F.col("event_id") % 2 != 0).repartition(2).write.mode(
            "overwrite"
        ).parquet(f"{d}/live")
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{d}/live")
        )
        q = start_multiplexed_counter_sink(
            stream,
            specs,
            store.merge,
            checkpoint_dir=f"{d}/ckpt",
            available_now=True,
        )
        try:
            if not q.awaitTermination(300):
                raise TimeoutError(
                    "cutover live sink did not drain within 300s"
                )
        finally:
            if q.isActive:
                q.stop()
        if store.high_water_batch_id < 1:
            # the live side must contribute >=2 micro-batches or the
            # cross-trigger half of the cutover went unexercised
            raise AssertionError("expected >=2 live micro-batches")
        return store.to_df(spark)
    finally:
        shutil.rmtree(d, ignore_errors=True)


@register(
    "stream_recovery_counts",
    oracle="SELECT event_type, CAST(count(*) AS BIGINT) AS cnt FROM events GROUP BY event_type",
    doc="EXACTLY-ONCE CHECKPOINT RECOVERY, driver-checked (the "
    "reference's at-least-once zincrby gap, SURVEY.md §2.9 / "
    "streaming.scala sink path): half the events table lands, a "
    "checkpointed AvailableNow counter runs to completion and STOPS; "
    "the other half lands while the query is down; the query restarts "
    "from the SAME checkpoint. The resumed state must equal one batch "
    "pass over everything — the offset log must skip the already-"
    "committed files (no double counting) and pick up only the new "
    "ones. The oracle is the plain batch aggregate, so any duplicate "
    "or lost replay hash-mismatches. Same property as "
    "tests/test_streaming_recovery.py, phrased as a catalog entry so "
    "the driver sees the exactly-once story. Runs on the RocksDB "
    "state store (r6) with CHANGELOG checkpointing (r7: per-batch "
    "delta uploads instead of full snapshots — the production mode "
    "for large state), so the restart also proves state reload from "
    "the checkpoint's snapshot+changelog replay path, not just the "
    "full-snapshot path.",
)
def stream_recovery_counts(spark, sf_dir):
    import tempfile
    import uuid

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    events = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "event_type"
    )
    land = tempfile.mkdtemp(prefix="lv_recovery_in_")
    ckpt = tempfile.mkdtemp(prefix="lv_recovery_ckpt_")
    name = f"stream_recovery_{uuid.uuid4().hex[:8]}"

    def run_to_completion():
        src = spark.readStream.schema("event_id long, event_type string").parquet(
            land
        )
        agg = src.groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt"))
        # recovery ALSO exercises RocksDB snapshot/changelog reload: the
        # restarted query must rebuild its state from the checkpoint's
        # RocksDB artifacts, not JVM memory
        _run_stream_to_memory(
            agg, "stream_recovery", "complete",
            name=name, checkpoint=ckpt, stop=True, changelog=True,
        )

    # phase 1: first half arrives, query runs to completion and stops
    events.where(F.pmod(F.col("event_id"), F.lit(2)) == 0).write.mode(
        "append"
    ).parquet(land)
    run_to_completion()
    # phase 2: second half lands while the query is DOWN; restart from
    # the same checkpoint — committed files must not be re-counted
    events.where(F.pmod(F.col("event_id"), F.lit(2)) == 1).write.mode(
        "append"
    ).parquet(land)
    run_to_completion()
    return spark.table(name)


@register(
    "stream_sketch_daily_users",
    oracle="""
SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS sketch_ok
FROM events GROUP BY 1
""",
    doc="STREAMING mergeable sketches: per-day HyperLogLog state "
    "(hll_sketch_agg) accumulated across 4 forced micro-batches "
    "(maxFilesPerTrigger=1 over a 4-file landing dir) in complete "
    "mode — the binary sketch buffer itself is the StateStore value, "
    "merged batch-over-batch exactly like the batch hll_union_agg "
    "path (sketch_hll_mergeable_daily) merges partials across "
    "partitions. Each day's final estimate must land within 3×rsd of "
    "the batch-exact distinct count. This is the bounded-memory "
    "streaming distinct the reference's Redis sets can't give: state "
    "per day is ~4 KB regardless of user count, and the same sketch "
    "bytes could be emitted for later cross-window union.",
)
def stream_sketch_daily_users(spark, sf_dir):
    import tempfile

    ev = _t(spark, sf_dir, "events").select("ts", "user_id")
    land = tempfile.mkdtemp(prefix="lv_sketch_in_")
    ev.repartition(4).write.mode("append").parquet(land)
    src = (
        spark.readStream.schema("ts timestamp, user_id long")
        .option("maxFilesPerTrigger", "1")
        .parquet(land)
    )
    agg = src.groupBy(F.to_date("ts").alias("day")).agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("_est")
    )
    name = _run_stream_to_memory(agg, "stream_sketch", "complete")
    est = spark.table(name)
    exact = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    band = _HLL_3SIGMA_BAND
    return exact.join(est, "day").select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "exact_users",
        (
            F.abs(F.col("_est") - F.col("exact_users"))
            / F.col("exact_users")
            <= band
        ).alias("sketch_ok"),
    )


@register(
    "stream_custom_state_totals",
    oracle="""
SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM events GROUP BY user_id
""",
    doc="CUSTOM STATEFUL operator, driver-checked (§2.9's "
    "applyInPandasWithState row promoted from a pytest behavior test "
    "to an oracle gate): per-user (count, integer-cents) GroupState "
    "accumulated across 4 forced micro-batches (maxFilesPerTrigger=1) "
    "on the RocksDB store, update-mode cumulative emission; the FINAL "
    "row per key (monotone accumulators → max per key) must equal the "
    "batch aggregate EXACTLY. Cents are rounded JVM-side before the "
    "Arrow boundary, so cross-batch accumulation is integer-exact "
    "independent of batch split and summation order — the discipline "
    "that makes arbitrary Python state oracle-comparable at all "
    "(streaming/stateful.user_totals_apws; same contract as the "
    "env-gated stateful-v2 twin user_totals_tws).",
)
def stream_custom_state_totals(spark, sf_dir):
    import tempfile

    from logvision_spark.streaming.stateful import user_totals_apws

    ev = _t(spark, sf_dir, "events").select("user_id", "value")
    land = tempfile.mkdtemp(prefix="lv_apws_in_")
    ev.repartition(4).write.mode("append").parquet(land)
    src = (
        spark.readStream.schema("user_id long, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(land)
    )
    out = user_totals_apws(src)
    name = _run_stream_to_memory(out, "stream_apws", "update")
    # final row per key = the one with max n_events (the row COUNT is
    # strictly increasing across triggers, so it identifies the last
    # emission even if value_cents itself is non-monotone — max over
    # value_cents would silently assume non-negative values, review
    # finding); value_cents rides along via max_by
    return (
        spark.table(name)
        .groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max_by("value_cents", "n_events").alias("value_cents"),
        )
    )


# DuckDB expression for the 32-bit SimHash vote/pack over a hash list `hl`:
# bit i is set when strictly more shingle hashes have bit i set than not
# (vote sum = 2·ones − len > 0) — mirrors operators/dedup.simhash exactly.
_DUCK_SIMHASH_BITS = " + ".join(
    f"CASE WHEN 2*len(list_filter(hl, h -> ((h >> {i}) & 1) = 1)) - len(hl) > 0 "
    f"THEN CAST({1 << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
    for i in range(32)
)


@register(
    "dedup_simhash",
    oracle="""
WITH toks AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS w
              FROM documents),
hs AS (SELECT doc_id, list_transform(w, g -> """
    + _DUCK_POLYHASH.format(col="g")
    + """) AS hl FROM toks)
SELECT doc_id, """
    + _DUCK_SIMHASH_BITS
    + """ AS simhash32 FROM hs
""",
    doc="SimHash fingerprint (32-bit, unigram shingles, portable "
    "polynomial hash): one long per doc — the cheapest near-dup key at "
    "scale (compare via hamming distance / prefix bands). Verified "
    "value-exact cross-engine bit by bit. Zero-shuffle Arrow "
    "formulation (r18): the fingerprint is a pure per-row function of "
    "the distinct unigrams, so one vectorized mapInArrow pass replaces "
    "explode + 32-conditional-sum aggregate + exchange.",
)
def dedup_simhash(spark, sf_dir):
    from logvision_spark.operators.dedup import simhash_rows

    d = _t(spark, sf_dir, "documents")
    return simhash_rows(d, bits=32)


@register(
    "dedup_drop_list",
    oracle=_DUCK_SHINGLE_PAIR_CTES + """
SELECT DISTINCT doc_b AS doc_id
FROM common JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
WHERE c / (x.n + y.n - c) >= 0.5
""",
    doc="End-to-end near-dup dedup decision: MinHash-LSH candidates "
    "(xxhash64 fast path, 8 single-row bands) → exact-Jaccard "
    "verification → keep-lowest-id drop list. Oracle is the EXACT "
    "all-true-pairs drop list: at 8 bands a Jaccard-0.9 pair is missed "
    "with p=1e-8 (fixture pairs are all ≥0.9), so the LSH pipeline must "
    "reproduce the exact answer. The entry SAID 16 bands through r4, but "
    "a seed-list wrap made bands 8-15 exact duplicates of 0-7 — every "
    "green row and timing was produced by these 8 effective bands, so 8 "
    "is the honest, measured-sufficient setting now that wrapping "
    "raises (dedup.MINHASH_SEEDS); dial bands up for real recall "
    "margin at lower thresholds. At 100 TB the same plan holds — "
    "banded shuffle carries (band, id), verification touches "
    "candidates only. The signature and verify passes share the "
    "catalog-owned persisted (doc_id, shingle) cache "
    "(_shared_shingles): cold pays the cache write, every warm run "
    "rides it — the measured-2× caller-owned lifecycle the operator "
    "docstring prescribes.",
)
def dedup_drop_list(spark, sf_dir):
    from logvision_spark.operators.dedup import near_dup_drop_list

    d = _t(spark, sf_dir, "documents")
    return near_dup_drop_list(
        d,
        threshold=0.5,
        num_hashes=8,
        bands=8,
        fast=True,
        shingles=_shared_shingles(spark, sf_dir),
        shingles_hashed=True,
    )


@register(
    "dedup_drop_list_16band",
    oracle=_DUCK_SHINGLE_PAIR_CTES + """
SELECT DISTINCT doc_b AS doc_id
FROM common JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
WHERE c / (x.n + y.n - c) >= 0.5
""",
    doc="The drop list at 16 REAL single-row bands — possible for the "
    "first time since the r5 seed-wrap fix (32 distinct permutation "
    "seeds; 'bands 8-15' were previously byte-duplicates of 0-7 and "
    "wrapping now raises). Doubling bands doubles the banded-shuffle "
    "volume and candidate-union width but halves the miss probability "
    "exponent: a Jaccard-s pair is missed with (1-s)^16 vs (1-s)^8 — "
    "at s=0.5 that is 1.5e-5 vs 3.9e-3, the recall margin to buy when "
    "thresholds drop or docs shrink. Same exact-all-pairs oracle as "
    "dedup_drop_list: both settings must reproduce the exact answer "
    "at fixture scale; the measured 500k-doc cost/recall A/B lives in "
    "ARCHITECTURE.md.",
)
def dedup_drop_list_16band(spark, sf_dir):
    from logvision_spark.operators.dedup import near_dup_drop_list

    d = _t(spark, sf_dir, "documents")
    return near_dup_drop_list(
        d,
        threshold=0.5,
        num_hashes=16,
        bands=16,
        fast=True,
        shingles=_shared_shingles(spark, sf_dir),
        shingles_hashed=True,
    )


@register(
    "ivf_topk_vec0",
    oracle="SELECT TRUE AS recall_ok",
    doc="IVF-flat ANN route as a driver-checked RECALL-FLOOR property "
    "(VERDICT r1 #8): KMeans(16, seed=42) quantizer, probe the 15 nearest "
    "cells, exact cosine re-rank; the IVF top-10 must agree with the "
    "brute-force top-10 on ≥7 of 10 ids WITH bit-identical rounded scores "
    "(the intersection join keys on (id, score)). A recall floor rather "
    "than an exact-set oracle because KMeans cell boundaries shift with "
    "partitioning across sessions — observed min-probe for full recall is "
    "12, so 15 probes leave margin; the property still fails if "
    "assignment, probing, or re-ranking is wrong. Synthetic uniform "
    "embeddings have no cluster structure (IVF degenerates toward scan "
    "here); real corpora probe 1-4 cells of thousands.",
)
def ivf_topk_vec0(spark, sf_dir):
    from logvision_spark.operators.similarity import brute_force_topk, ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    base = emb.where(F.col("vec_id") != 0)
    model = _ivf_model(base, sf_dir, "ne0", n_cells=16, seed=42)
    ivf = ivf_topk(base, q, k=10, n_cells=16, n_probe=15, seed=42, model=model)
    exact = brute_force_topk(base, q, k=10)
    hits = ivf.join(exact, ["vec_id", "cos_sim"])
    return hits.agg((F.count(F.lit(1)) >= 7).alias("recall_ok"))


# Fitted IVF coarse quantizers, one per (sf_dir, base-subset, params):
# the quantizer is trained ONCE offline and shared by every query in
# production (similarity.fit_ivf docstring) — the per-process memo makes
# the catalog entries reflect that serving shape instead of refitting a
# KMeans (≈20 driver-scheduled jobs of pure overhead on fixture-sized
# corpora) on every invocation. Keyed per subset so each gate trains on
# exactly the base it queries.
_IVF_MODELS: dict[tuple, object] = {}


def _ivf_model(base: DataFrame, sf_dir: str, tag: str, n_cells: int, seed: int):
    """Memoized quantizer. The key carries the SESSION and a fingerprint
    of the embeddings parquet — the same staleness treatment the shingle
    cache got (review finding): without them a restarted session served
    a model bound to a dead JVM, and an in-place regeneration compared
    brute-force over NEW vectors against a quantizer fit on OLD ones."""
    from logvision_spark.operators.similarity import fit_ivf

    fingerprint = _table_fingerprint(sf_dir, "embeddings")
    key = (
        base.sparkSession,
        sf_dir,
        fingerprint,
        tag,
        n_cells,
        seed,
    )
    if key not in _IVF_MODELS:
        # Evict only STALE entries (dead session or regenerated parquet).
        # A blanket clear() evicted live sibling tags (ne0 vs ge3), so
        # alternating entries refit KMeans on every call — the exact
        # overhead this memo exists to avoid.
        for k in list(_IVF_MODELS):
            if k[0] is not base.sparkSession or (
                k[1] == sf_dir and k[2] != fingerprint
            ):
                del _IVF_MODELS[k]
        _IVF_MODELS[key] = fit_ivf(base, n_cells=n_cells, seed=seed)
    return _IVF_MODELS[key]


@register(
    "ivf_topk_batch",
    oracle="SELECT CAST(range AS BIGINT) AS q_id, TRUE AS recall_ok FROM range(3)",
    doc="IVF-flat ANN for a query BATCH (operators/similarity."
    "ivf_topk_batch — the production serving shape): base vectors "
    "cell-assigned by the KMeans(16, seed=42) quantizer, each of the 3 "
    "query vectors picks its 15 nearest cells via a window rank over "
    "the broadcast centroid table, candidates come from an equi-join on "
    "cell, exact cosine re-rank per query — no per-query loop, no "
    ".first(), one corpus pass for the whole batch. Driver-checked as a "
    "per-query RECALL-FLOOR property like ivf_topk_vec0: each query's "
    "IVF top-10 must agree with its brute-force top-10 on ≥7 of 10 "
    "(id, rounded-score) pairs; a missing q_id row (recall < 7) fails "
    "the row-count gate. 15-of-16 probes leave the same margin the "
    "single-query entry uses (KMeans cell boundaries shift with "
    "partitioning across sessions; observed min-probe for full recall "
    "is 12). The IVF-top-k ∩ exact-top-k intersection comes from "
    "similarity.ivf_recall_table — ONE shared corpus scan scores every "
    "(query, vector) pair once and both ranks (probed-only and "
    "full-base) read that table (r18 verdict item 5; previously the "
    "operator branch and a brute-force branch each scanned and scored "
    "the base, then sort-merge-joined their top-k sets). Row-identity "
    "of the harness with ivf_topk_batch(...)⋈brute-force is pinned by "
    "tests/test_extensions.py::test_ivf_recall_table_equals_operator_join, "
    "so the production operator stays the thing being checked. At "
    "scale the assignment is a stored column (similarity.assign_cells "
    "at write time + cell_col= at probe time — 2x measured at 500k "
    "vectors, asserted row-identical).",
)
def ivf_topk_batch_recall(spark, sf_dir):
    from logvision_spark.operators.similarity import ivf_recall_table

    emb = _t(spark, sf_dir, "embeddings")
    qs = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe")
    )
    base = emb.where(F.col("vec_id") >= 3)
    model = _ivf_model(base, sf_dir, "ge3", n_cells=16, seed=42)
    hits = ivf_recall_table(
        base, qs, k=10, n_cells=16, n_probe=15, seed=42, model=model
    )
    return hits.groupBy("q_id").agg((F.count(F.lit(1)) >= 7).alias("recall_ok"))


@register(
    "mm_decode_meta",
    oracle="""
SELECT doc_id AS asset_id,
  CAST(16 + ascii(substr(text, 1, 1)) % 64 AS INTEGER) AS width,
  CAST(16 + ascii(substr(text, len(text), 1)) % 64 AS INTEGER) AS height,
  CAST(3 AS INTEGER) AS channels,
  TRUE AS decode_ok
FROM documents
""",
    doc="Multimodal decode plumbing, driver-checked: documents.text bytes "
    "stand in as opaque image payloads (UTF-8 encode — fixture text is "
    "all-ASCII, so byte k == ascii(char k)); zero-copy Arrow mapInArrow decodes "
    "payload → (width, height, channels) via the deterministic fake codec "
    "(first/last payload byte). The oracle replays the codec arithmetic in "
    "SQL — proving the Arrow-batch schema contract end to end. Real "
    "PIL/ffmpeg decode swaps into the same stub (multimodal.py).",
)
def mm_decode_meta(spark, sf_dir):
    from logvision_spark.operators.multimodal import decode_images

    d = _t(spark, sf_dir, "documents")
    assets = d.select(
        F.col("doc_id").alias("asset_id"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
    )
    return decode_images(assets)


@register(
    "mm_decode_real",
    oracle="""
SELECT doc_id AS asset_id,
  CASE WHEN doc_id % 10 = 7 THEN NULL
       ELSE CAST(16 + doc_id % 64 AS INTEGER) END AS width,
  CASE WHEN doc_id % 10 = 7 THEN NULL
       ELSE CAST(16 + (doc_id * 7) % 64 AS INTEGER) END AS height,
  CASE WHEN doc_id % 10 = 7 THEN NULL
       WHEN doc_id % 10 = 5 THEN CAST(1 AS INTEGER)
       ELSE CAST(3 AS INTEGER) END AS channels,
  doc_id % 10 <> 7 AS decode_ok
FROM documents
""",
    doc="REAL image decode end-to-end, no media library, THREE formats "
    "in one corpus: per doc_id the payload is a genuine 24-bpp BMP "
    "(multimodal.bmp_payload — 54-byte fixed-offset LE header), a "
    "binary PPM (P6, ASCII variable-offset header, 3 channels — doc_id "
    "% 10 = 3) or a binary PGM (P5, 1 channel — doc_id % 10 = 5), all "
    "synthesized JVM-side with doc_id-derived dims and text bytes as "
    "raster, decoded by decode_images(use_fake=False): BMP/farbfeld "
    "gather vectorized from Arrow buffers, netpbm rows are magic-gated "
    "vectorized then header-scanned per matching row. Every 10th doc "
    "ships headerless bytes instead, pinning the corrupt-payload "
    "contract (decode_ok=False, NULL dims). Oracle replays the dim "
    "arithmetic; the byte round-trip (compose header → parse header) "
    "across both header families is what the Spark side proves.",
)
def mm_decode_real(spark, sf_dir):
    from logvision_spark.operators.multimodal import (
        bmp_payload,
        decode_images,
        pnm_payload,
    )

    d = _t(spark, sf_dir, "documents")
    w = (F.lit(16) + F.pmod(F.col("doc_id"), F.lit(64))).cast("int")
    h = (F.lit(16) + F.pmod(F.col("doc_id") * 7, F.lit(64))).cast("int")
    px = F.encode(F.col("text"), "UTF-8")
    m = F.pmod(F.col("doc_id"), F.lit(10))
    assets = d.select(
        F.col("doc_id").alias("asset_id"),
        F.when(m == 7, px)  # headerless bytes: the corrupt contract
        .when(m == 3, pnm_payload(w, h, px))  # PPM: 3 channels
        .when(m == 5, pnm_payload(w, h, px, gray=True))  # PGM: 1 channel
        .otherwise(bmp_payload(w, h, px))
        .alias("payload"),
    )
    return decode_images(assets, use_fake=False)


def _bmp_assets(spark, sf_dir):
    """The synthesized 24-bpp BMP asset table shared by the real-codec
    entries (mm_resize_real, mm_features_real): dims derive from doc_id,
    pixel area is rpad(text) to EXACTLY stride*height bytes (w % 4 == 0
    so stride = 3w; fixture text is all-ASCII), and every 10th doc ships
    headerless bytes — the corrupt-payload contract. ONE definition: the
    dims rule previously lived in four places (two entries x Column
    exprs + embedded SQL string) and a drift in any one of them silently
    desynchronizes payload size from header dims (review finding)."""
    from logvision_spark.operators.multimodal import bmp_payload

    d = _t(spark, sf_dir, "documents")
    w = (F.lit(4) * (F.lit(1) + F.pmod(F.col("doc_id"), F.lit(8)))).cast("int")
    h = (F.lit(1) + F.pmod(F.col("doc_id"), F.lit(5))).cast("int")
    px = F.encode(
        F.expr("rpad(text, (4 * (1 + doc_id % 8)) * (1 + doc_id % 5) * 3, 'x')"),
        "UTF-8",
    )
    return d.select(
        F.col("doc_id").alias("asset_id"),
        F.when(
            F.pmod(F.col("doc_id"), F.lit(10)) == 7, F.encode(F.col("text"), "UTF-8")
        )
        .otherwise(bmp_payload(w, h, px))
        .alias("payload"),
    )


@register(
    "mm_resize_real",
    oracle="""
SELECT doc_id AS asset_id,
  CASE WHEN doc_id % 10 = 7 THEN NULL ELSE CAST(8 AS INTEGER) END AS width,
  CASE WHEN doc_id % 10 = 7 THEN NULL ELSE CAST(8 AS INTEGER) END AS height,
  CASE WHEN doc_id % 10 = 7 THEN NULL ELSE CAST(246 AS BIGINT) END AS out_bytes,
  doc_id % 10 <> 7 AS resize_ok
FROM documents
""",
    doc="REAL pixel-level resize end-to-end, no media library: 24-bpp "
    "BMPs with doc_id-derived dims (w ∈ {4..32} multiples of 4, "
    "h ∈ {1..5}) and a full rpad-exact pixel area are synthesized "
    "JVM-side, then nearest-neighbor-resized to 8×8 by "
    "resize_images(use_fake=False) — bottom-up rows, 4-byte padding, "
    "BGR gather all real (pixel-exactness vs an independent numpy "
    "reference is pinned in tests/test_multimodal_properties.py). "
    "Emits the reconstructed geometry + output byte length "
    "(54 + 8 rows × 24-byte stride = 246). Every 10th doc ships "
    "headerless bytes: NULL row, pinning the failure contract.",
)
def mm_resize_real(spark, sf_dir):
    from logvision_spark.operators.multimodal import resize_images

    out = resize_images(_bmp_assets(spark, sf_dir), 8, 8, use_fake=False)
    return out.select(
        "asset_id",
        "width",
        "height",
        F.length("payload").cast("long").alias("out_bytes"),
        F.col("payload").isNotNull().alias("resize_ok"),
    )


@register(
    "mm_features_real",
    oracle="""
WITH a AS (
  SELECT doc_id,
         rpad(text, CAST((4 * (1 + doc_id % 8)) * (1 + doc_id % 5) * 3
                    AS INTEGER), 'x') AS px
  FROM documents WHERE doc_id % 10 <> 7
),
c AS (SELECT doc_id, unnest(string_split(px, '')) AS ch FROM a)
SELECT doc_id AS asset_id, CAST(ascii(ch) // 4 AS INTEGER) AS bucket,
       CAST(count(*) AS BIGINT) AS cnt
FROM c GROUP BY 1, 2
""",
    doc="REAL pixel-level feature extraction end-to-end, no media "
    "library: the same synthesized 24-bpp BMPs as mm_resize_real run "
    "through pixel_histograms — intensity histogram over the ACTUAL "
    "decoded pixel area (header and 4-byte row padding excluded; "
    "bucket = intensity*64/256) as sparse integer rows, which hash "
    "bit-for-bit cross-engine (the oracle rebuilds the counts from the "
    "same rpad-exact pixel bytes; fixture text is all-ASCII so byte ≡ "
    "ascii(char)). Every 10th doc ships headerless bytes and emits no "
    "rows — the failure contract. The normalized float embedding "
    "(extract_features) remains the similarity-pipeline surface; this "
    "primitive is its driver-checkable integer core.",
)
def mm_features_real(spark, sf_dir):
    from logvision_spark.operators.multimodal import pixel_histograms

    return pixel_histograms(_bmp_assets(spark, sf_dir), dim=64)


@register(
    "mm_frame_sample",
    oracle="""
WITH a AS (SELECT doc_id AS asset_id,
                  1000 + (doc_id % 90) * 100 AS dur
           FROM documents)
SELECT asset_id,
  CAST(ts / 500 AS INTEGER) AS frame_idx,
  CAST(ts AS BIGINT) AS frame_ts_ms
FROM a, unnest(generate_series(0, dur - 1, 500)) AS t(ts)
""",
    doc="Video frame-sampling plumbing, driver-checked: synthetic "
    "per-asset duration (derived from doc_id), 500 ms sampling grid, 1:N "
    "row expansion through mapInPandas. The oracle is the same grid via "
    "generate_series — pins the row-expansion contract (frame extraction "
    "itself is the stubbed codec call).",
)
def mm_frame_sample(spark, sf_dir):
    from logvision_spark.operators.multimodal import sample_frames

    d = _t(spark, sf_dir, "documents")
    assets = d.select(
        F.col("doc_id").alias("asset_id"),
        (F.lit(1000) + (F.col("doc_id") % 90) * 100).cast("long").alias("duration_ms"),
    )
    return sample_frames(assets, every_ms=500)


@register(
    "text_tfidf_top_terms",
    oracle="""
WITH terms AS (SELECT doc_id, t.term
               FROM documents, unnest(string_split(lower(text), ' ')) AS t(term)
               WHERE t.term <> ''),
tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       FROM terms GROUP BY doc_id, term),
dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents)
SELECT tf.doc_id, tf.term,
       round(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf
FROM tf JOIN dfq USING (term), nd
ORDER BY tfidf DESC, doc_id, term
LIMIT 20
""",
    doc="TF-IDF top terms (tf · ln(N/df), top-20 with unique tie-break): "
    "completes the TF-IDF pair started by text_term_doc_freq. Document "
    "frequency is a count WINDOW over term on the tf table — ONE shuffle "
    "of tf by term, no self-derived join (a tf⋈dfreq join re-computes "
    "the whole explode+tf subtree for the dfreq branch: Catalyst does "
    "not reuse the exchange across the two aggregation branches — "
    "measured 2× slower warm and 6× cold at 50k docs, identical "
    "output). Skew exposure is unchanged: both forms key the full tf "
    "table by term. N comes from a 1-row aggregate crossJoin (no "
    "driver-side count action).",
)
def text_tfidf_top_terms(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    terms = d.select(
        "doc_id", F.explode(F.split(F.lower(F.col("text")), " ")).alias("term")
    ).where(F.col("term") != "")
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    nd = d.agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        tf.withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("term")))
        .crossJoin(F.broadcast(nd))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 6
            ).alias("tfidf"),
        )
        .orderBy(F.desc("tfidf"), F.asc("doc_id"), F.asc("term"))
        .limit(20)
    )


@register(
    "j8_range_join_incidents",
    oracle="""
SELECT i.event_id AS incident_id, CAST(count(*) AS BIGINT) AS hit_cnt
FROM (SELECT event_id, ts FROM events WHERE event_type = 'error') i
JOIN events e ON e.ts >= i.ts AND e.ts < i.ts + INTERVAL 60 SECOND
GROUP BY incident_id
""",
    doc="Range (point-in-interval) join: events falling in the 60 s "
    "window after each error event, counted per incident. Spark plans a "
    "bare inequality join as a nested-loop cartesian — "
    "operators/joins.range_interval_join instead explodes intervals to "
    "coarse time buckets and equi-joins on the bucket id (work bounded "
    "by true temporal overlap, shuffle keyed by uniformly-distributed "
    "time). Oracle is the direct inequality join (DuckDB IEJoin).",
)
def j8_range_join_incidents(spark, sf_dir):
    from logvision_spark.operators.joins import range_interval_join

    ev = _t(spark, sf_dir, "events")
    incidents = ev.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("incident_id"),
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 60 SECONDS")).alias("end_ts"),
    )
    pts = ev.select("ts")
    matched = range_interval_join(
        pts, incidents, "ts", "start_ts", "end_ts", bucket_seconds=60
    )
    return matched.groupBy("incident_id").agg(F.count(F.lit(1)).alias("hit_cnt"))


@register(
    "j6_asof_forward",
    oracle="""
SELECT p.event_id, p.user_id, strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts,
       strftime(s.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_asof
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') s
  ON p.user_id = s.user_id AND s.ts >= p.ts
""",
    doc="Forward as-of join (direction='forward'): each purchase gets the "
    "user's EARLIEST signup at-or-after it — the mirror of j6_asof_join, "
    "same union + fill-window formulation sorted descending. Oracle is "
    "DuckDB's native ASOF with the >= comparator.",
)
def j6_asof_forward(spark, sf_dir):
    from logvision_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    signups = ev.where(F.col("event_type") == "signup").select("user_id", "ts")
    joined = asof_join(purchases, signups, key="user_id", direction="forward")
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    return joined.select(
        "event_id",
        "user_id",
        F.date_format("ts", fmt).alias("ts"),
        F.date_format("ts_asof", fmt).alias("ts_asof"),
    )


@register(
    "j6_asof_nearest",
    oracle="""
SELECT p.event_id, p.user_id, strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts,
       strftime((SELECT s.ts FROM events s
                 WHERE s.event_type = 'signup' AND s.user_id = p.user_id
                 ORDER BY abs(epoch_us(s.ts) - epoch_us(p.ts)), s.ts
                 LIMIT 1), '%Y-%m-%d %H:%M:%S.%f') AS ts_asof
FROM events p WHERE p.event_type = 'purchase'
""",
    doc="Nearest as-of join (direction='nearest'): each purchase gets the "
    "signup closest in time, either side, ties to the earlier row. One "
    "shuffle, two per-partition sorts — deliberately: collapsing to one "
    "ascending sort needs an unbounded-FOLLOWING frame for the forward "
    "fill, which Spark evaluates non-incrementally (O(m²) per key; "
    "measured 232 s at a 40 k-row key, asof.py r6 note). DuckDB has no "
    "nearest ASOF — the oracle is a correlated min-|Δt| subquery.",
)
def j6_asof_nearest(spark, sf_dir):
    from logvision_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    signups = ev.where(F.col("event_type") == "signup").select("user_id", "ts")
    joined = asof_join(purchases, signups, key="user_id", direction="nearest")
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    return joined.select(
        "event_id",
        "user_id",
        F.date_format("ts", fmt).alias("ts"),
        F.date_format("ts_asof", fmt).alias("ts_asof"),
    )


@register(
    "j6_asof_bucketed",
    oracle="""
SELECT p.event_id, p.user_id, strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts,
       strftime(s.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_asof
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') s
  ON p.user_id = s.user_id AND s.ts <= p.ts
""",
    doc="Hot-key as-of join (operators/asof.asof_join_bucketed): the "
    "fill window runs per (key, 1-hour bucket) with a boundary carry-in "
    "(per-bucket max partial agg → one-row-per-bucket running last), "
    "so a hyperactive key costs #buckets instead of serializing its "
    "whole history through one task — the mitigation asof.py's own "
    "scale note prescribes. Same DuckDB ASOF oracle as j6_asof_join: "
    "bucketing must be invisible in the results.",
)
def j6_asof_bucketed(spark, sf_dir):
    from logvision_spark.operators.asof import asof_join_bucketed

    ev = _t(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    signups = ev.where(F.col("event_type") == "signup").select("user_id", "ts")
    joined = asof_join_bucketed(purchases, signups, key="user_id")
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    return joined.select(
        "event_id",
        "user_id",
        F.date_format("ts", fmt).alias("ts"),
        F.date_format("ts_asof", fmt).alias("ts_asof"),
    )


@register(
    "j6_asof_bucketed_nearest",
    oracle="""
SELECT p.event_id, p.user_id, strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts,
       strftime((SELECT s.ts FROM events s
                 WHERE s.event_type = 'signup' AND s.user_id = p.user_id
                 ORDER BY abs(epoch_us(s.ts) - epoch_us(p.ts)), s.ts
                 LIMIT 1), '%Y-%m-%d %H:%M:%S.%f') AS ts_asof
FROM events p WHERE p.event_type = 'purchase'
""",
    doc="Hot-key NEAREST as-of join (operators/asof.asof_join_bucketed "
    "direction='nearest', new r7): both fill windows run per (key, "
    "1-hour bucket) with symmetric boundary carry-ins — backward: "
    "per-bucket max + running last over earlier buckets injected at "
    "the bucket start; forward: per-bucket min + running last over a "
    "DESCENDING bucket sort (closest later bucket) injected at the "
    "bucket end. The carries travel in separate pack columns so each "
    "fill only sees its own direction. nearest is the direction that "
    "costs TWO per-key sorts in the plain form, so a hyperactive key "
    "hits the one-task ceiling twice — this is its mitigation. Both "
    "fills stay unbounded-PRECEDING (plan-tested). Same correlated "
    "min-|dt| DuckDB oracle as j6_asof_nearest: bucketing must be "
    "invisible in the results.",
)
def j6_asof_bucketed_nearest(spark, sf_dir):
    from logvision_spark.operators.asof import asof_join_bucketed

    ev = _t(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    signups = ev.where(F.col("event_type") == "signup").select("user_id", "ts")
    joined = asof_join_bucketed(
        purchases, signups, key="user_id", direction="nearest"
    )
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    return joined.select(
        "event_id",
        "user_id",
        F.date_format("ts", fmt).alias("ts"),
        F.date_format("ts_asof", fmt).alias("ts_asof"),
    )


@register(
    "a3_count_by_user_salted",
    oracle="SELECT user_id, CAST(count(*) AS BIGINT) AS cnt "
    "FROM events GROUP BY user_id",
    doc="A3 through the generic two-phase salted aggregation "
    "(operators/skew.salted_agg): phase 1 groups by (key, salt) so a "
    "Zipf-hot key spreads over 16 reducers, phase 2 merges partials by "
    "key. Must be value-identical to the plain groupBy (which the a3 "
    "oracle also checks) — pinning that salting never changes results, "
    "only the shuffle layout.",
)
def a3_count_by_user_salted(spark, sf_dir):
    from logvision_spark.operators.skew import salted_agg

    ev = _t(spark, sf_dir, "events")
    out = salted_agg(ev, "user_id", F.count(F.lit(1)), F.sum("_partial"))
    return out.withColumnRenamed("merged", "cnt")


@register(
    "stream_w_tumbling_counts",
    oracle="""
SELECT strftime(to_timestamp(CAST(floor(epoch(ts)/600) AS BIGINT)*600),
                '%Y-%m-%d %H:%M:%S.%f') AS win_start,
       CAST(count(*) AS BIGINT) AS cnt
FROM events GROUP BY 1
""",
    doc="Event-time tumbling windows on the STREAMING path, batch-verified: "
    "file source → watermark → window(ts, 10 min) count → AvailableNow → "
    "memory sink; the accumulated window state must hash-match the batch "
    "epoch-aligned bucketing. Complements stream_a7 (keyed running "
    "counts) with the windowed-state operator.",
)
def stream_w_tumbling_counts(spark, sf_dir):
    src = _events_stream(spark, sf_dir)
    agg = (
        src.withWatermark("ts", "1 minute")
        .groupBy(F.window("ts", "10 minutes").alias("win"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.date_format("win.start", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "win_start"
            ),
            "cnt",
        )
    )
    name = _run_stream_to_memory(agg, "stream_wt", "complete")
    return spark.table(name)


@register(
    "mm_feature_stats",
    oracle="""
WITH codes AS (SELECT doc_id,
                      list_transform(string_split_regex(text, ''),
                                     c -> ascii(c) % 64) AS bins
               FROM documents),
cnts AS (SELECT doc_id, b AS bin, CAST(count(*) AS BIGINT) AS c
         FROM codes, unnest(bins) AS t(b) GROUP BY doc_id, b),
nz AS (SELECT doc_id, CAST(count(*) AS INTEGER) AS nnz FROM cnts GROUP BY doc_id),
am AS (SELECT doc_id, CAST(bin AS INTEGER) AS argmax_bin FROM (
         SELECT doc_id, bin,
                row_number() OVER (PARTITION BY doc_id
                                   ORDER BY c DESC, bin ASC) AS rn
         FROM cnts) WHERE rn = 1)
SELECT nz.doc_id AS asset_id, nnz, argmax_bin
FROM nz JOIN am ON nz.doc_id = am.doc_id
""",
    doc="Multimodal feature-extraction plumbing, driver-checked: text "
    "bytes as opaque payloads → zero-copy Arrow mapInArrow byte-histogram "
    "embedding (the deterministic fake model, multimodal.py) → integer "
    "stats derived FROM the emitted array<float> (nonzero bins; argmax "
    "bin, ties to lowest). The oracle recomputes both from raw bytes in "
    "SQL, so the whole payload→vector→stats path must agree exactly.",
)
def mm_feature_stats(spark, sf_dir):
    from logvision_spark.operators.multimodal import extract_features

    d = _t(spark, sf_dir, "documents")
    assets = d.select(
        F.col("doc_id").alias("asset_id"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
    )
    feats = extract_features(assets, dim=64)
    return feats.select(
        "asset_id",
        F.size(F.filter("feature", lambda x: x > 0)).alias("nnz"),
        (F.array_position("feature", F.array_max("feature")) - 1)
        .cast("int")
        .alias("argmax_bin"),
    )


@register(
    "dedup_clusters",
    oracle="""
WITH RECURSIVE
toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(w)-1),
        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS s FROM toks),
sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
common AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS c
           FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
p AS (SELECT doc_a, doc_b
      FROM common JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
      WHERE c / (x.n + y.n - c) >= 0.5),
e AS (SELECT doc_a AS src, doc_b AS dst FROM p
      UNION SELECT doc_b, doc_a FROM p),
reach AS (SELECT doc_id AS id, doc_id AS r FROM documents
          UNION
          SELECT reach.id, e.dst FROM reach JOIN e ON reach.r = e.src)
SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id
FROM reach GROUP BY id
""",
    doc="Near-dup clustering as CONNECTED COMPONENTS "
    "(operators/dedup.connected_components) over the exact Jaccard≥0.5 "
    "pair graph: every doc labeled with the smallest id reachable "
    "through near-dup edges; keep cluster representatives "
    "(cluster_id == doc_id) to dedup without the greedy rule's "
    "chain-over-dropping. Edge sets up to driver_finish_max_edges "
    "finish with driver union-find; larger ones run the distributed "
    "large-star/small-star fixpoint. Driver-checked against DuckDB's "
    "recursive-CTE transitive closure.",
)
def dedup_clusters(spark, sf_dir):
    from logvision_spark.operators.dedup import connected_components, ngram_jaccard_pairs

    d = _t(spark, sf_dir, "documents")
    # same persisted hashed shingle cache the drop-list entries share —
    # the steady-state layout for every dedup job over one corpus (r18)
    pairs = ngram_jaccard_pairs(
        d,
        threshold=0.5,
        shingles=_shared_shingles(spark, sf_dir),
        shingles_hashed=True,
    ).select("doc_a", "doc_b")
    return connected_components(pairs, d.select("doc_id"))


@register(
    "stream_j_interval_join",
    oracle="""
SELECT p.event_id AS p_id, e.event_id AS e_id
FROM events p JOIN events e
  ON e.user_id = p.user_id
 AND e.ts >= p.ts AND e.ts <= p.ts + INTERVAL 300 SECOND
WHERE p.event_type = 'purchase' AND e.event_type = 'error'
""",
    doc="STREAM-STREAM interval join, batch-verified: purchases and "
    "errors as two live streams over the same source, joined on user "
    "within 5 minutes after the purchase; watermarks on both sides bound "
    "the join state (the 100 TB requirement — without them state grows "
    "forever). Inner-join matches emit as found under AvailableNow; the "
    "emitted set must hash-match the batch interval join.",
)
def stream_j_interval_join(spark, sf_dir):
    purch = (
        _events_stream(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("p_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "10 minutes")
    )
    errs = (
        _events_stream(spark, sf_dir)
        .where(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("e_id"),
            F.col("user_id").alias("e_user"),
            F.col("ts").alias("e_ts"),
        )
        .withWatermark("e_ts", "10 minutes")
    )
    joined = purch.join(
        errs,
        (F.col("p_user") == F.col("e_user"))
        & (F.col("e_ts") >= F.col("p_ts"))
        & (F.col("e_ts") <= F.col("p_ts") + F.expr("INTERVAL 300 SECONDS")),
        "inner",
    ).select("p_id", "e_id")
    name = _run_stream_to_memory(joined, "stream_ssj", "append")
    return spark.table(name)


@register(
    "sketch_accuracy_props",
    oracle="""
SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS hll_ok,
       round(quantile_cont(value, 0.5), 6) AS exact_p50,
       TRUE AS tdigest_ok
FROM events
""",
    doc="Sketch operators as driver-checked accuracy properties: "
    "HyperLogLog++ distinct count must land within 3×rsd of the exact "
    "count (rsd is the STANDARD DEVIATION of the estimator's relative "
    "error, so a 1×rsd band would reject ~1/3 of all datasets — the "
    "three-sigma band is the guarantee HLL actually makes; rsd=0.02 "
    "keeps the absolute band at 6%), and approx_percentile's median "
    "within 1% relative of the exact interpolated median — both "
    "sketches are deterministic given the data, and both exact "
    "references are recomputed by the oracle. At 100 TB the sketches "
    "ARE the production path (mergeable, bounded-memory partials); the "
    "exact aggregates exist to pin them. The 1×rsd fragility was found "
    "by running this mirror at sf0.1: rsd=0.05 landed 1400/1500 = "
    "6.7% off, a routine 1.3σ draw.",
)
def sketch_accuracy_props(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    rsd = 0.02
    agg = ev.agg(
        F.countDistinct("user_id").alias("exact_users"),
        F.approx_count_distinct("user_id", rsd).alias("_hll"),
        F.expr("percentile(value, 0.5D)").alias("_p50"),
        F.expr("approx_percentile(value, 0.5D, 10000)").alias("_ap50"),
    )
    return agg.select(
        "exact_users",
        (
            F.abs(F.col("_hll") - F.col("exact_users"))
            / F.col("exact_users")
            <= 3 * rsd
        ).alias("hll_ok"),
        F.round("_p50", 6).alias("exact_p50"),
        (F.abs(F.col("_ap50") - F.col("_p50")) / F.col("_p50") <= 0.01).alias(
            "tdigest_ok"
        ),
    )


def _sketch_hll_mergeable_daily(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    band = _HLL_3SIGMA_BAND
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    merged = daily.agg(
        F.count(F.lit(1)).alias("n_days"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("_est"),
    )
    exact = ev.agg(F.countDistinct("user_id").alias("exact_users"))
    # pin OK: crossJoin of two single-row aggregates
    return merged.crossJoin(exact).select(
        "n_days",
        "exact_users",
        (
            F.abs(F.col("_est") - F.col("exact_users"))
            / F.col("exact_users")
            <= band
        ).alias("merged_ok"),
    )


register(
    "sketch_hll_mergeable_daily",
    oracle="""
SELECT CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS merged_ok
FROM events
""",
    doc="MERGEABLE sketches — the dimension sketch_accuracy_props "
    "doesn't exercise: per-day HyperLogLog sketches "
    "(hll_sketch_agg, DataSketches binary form) unioned with "
    "hll_union_agg into a global distinct estimate, checked within "
    "3×rsd of the exact count. This is the 100 TB dashboard pattern: "
    "daily partials are small, persistable, and re-aggregate in "
    "O(days × 2^lgK) regardless of row count — re-scanning 100 TB to "
    "answer 'distinct users last quarter' is exactly what sketch "
    "reuse avoids. Both stages are JVM declarative aggregates with "
    "map-side partials; the final union touches n_days rows.",
)(_sketch_hll_mergeable_daily)


@register(
    "a_user_trend_slope",
    oracle="""
WITH s AS (SELECT user_id, value,
                  epoch_us(ts) / 1000000.0 / 86400.0 AS x_days
           FROM events)
SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
       round(regr_slope(value, x_days), 6) AS slope_per_day
FROM s GROUP BY user_id
""",
    doc="Per-entity model fit via Arrow grouped-map (applyInPandas): "
    "least-squares slope of value over event time per user, in "
    "value/day. The template for per-group science beyond SQL closed "
    "forms — each group arrives as one pandas frame, shuffled once by "
    "key; verified EXACTLY against DuckDB's regr_slope (centered days, "
    "two-pass covariance, round 6 — the FP noise floor never reaches "
    "the compare). For this particular fit the pure-JVM regr_slope "
    "built-in is the production path; the grouped map is the escape "
    "hatch it validates.",
)
def a_user_trend_slope(spark, sf_dir):
    from logvision_spark.operators.aggregations import grouped_trend_slope

    return grouped_trend_slope(_t(spark, sf_dir, "events"))


@register(
    "a_user_trend_slope_builtin",
    oracle="""
WITH s AS (SELECT user_id, value,
                  epoch_us(ts) / 1000000.0 / 86400.0 AS x_days
           FROM events)
SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
       round(regr_slope(value, x_days), 6) AS slope_per_day
FROM s GROUP BY user_id
""",
    doc="The pure-JVM production path for the per-user trend fit the "
    "grouped-map entry above validates: ``F.regr_slope`` is a built-in "
    "declarative aggregate — one shuffle on the group key with map-side "
    "partial aggregation, whole-stage codegen end to end, no Arrow "
    "transfer and no Python on the path. Same oracle as "
    "a_user_trend_slope, so the driver pins that escape hatch and "
    "built-in agree bit-for-bit at round-6. At 100 TB this is the shape "
    "to prefer whenever the fit has a closed form: partial co-moments "
    "combine associatively, so skew and group count stop mattering.",
)
def a_user_trend_slope_builtin(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    x_days = F.col("ts").cast("double") / F.lit(86400.0)
    return ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.regr_slope(F.col("value"), x_days), 6).alias(
            "slope_per_day"
        ),
    )


@register(
    "stream_j_left_outer",
    oracle="""
SELECT p.event_id AS p_id,
       strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS p_ts,
       e.event_id AS e_id
FROM events p LEFT JOIN events e
  ON e.user_id = p.user_id AND e.event_type = 'error'
 AND e.ts >= p.ts AND e.ts <= p.ts + INTERVAL 300 SECOND
WHERE p.event_type = 'purchase'
  AND p.ts <= (SELECT max(ts) - INTERVAL 1 DAY FROM events)
""",
    doc="STREAM-STREAM LEFT OUTER join with watermark-driven null "
    "emission: purchases that saw no error within 5 minutes surface "
    "(p_id, NULL) only when the global watermark passes p_ts+300s and "
    "the state row is evicted — the semantics that make outer joins "
    "bounded-state at 100 TB. Batch-verified on the time range the "
    "watermark has provably closed (cutoff = max event time - 1 day, "
    "far beyond the 10 min delay): there the streamed output must "
    "equal the batch LEFT JOIN exactly, matched and unmatched rows "
    "alike.",
)
def stream_j_left_outer(spark, sf_dir):
    cutoff = (
        _t(spark, sf_dir, "events")
        .agg((F.max("ts") - F.expr("INTERVAL 1 DAY")).alias("c"))
        .first()["c"]
    )
    purch = (
        _events_stream(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("p_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "10 minutes")
    )
    errs = (
        _events_stream(spark, sf_dir)
        .where(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("e_id"),
            F.col("user_id").alias("e_user"),
            F.col("ts").alias("e_ts"),
        )
        .withWatermark("e_ts", "10 minutes")
    )
    joined = purch.join(
        errs,
        (F.col("p_user") == F.col("e_user"))
        & (F.col("e_ts") >= F.col("p_ts"))
        & (F.col("e_ts") <= F.col("p_ts") + F.expr("INTERVAL 300 SECONDS")),
        "leftOuter",
    ).select("p_id", "p_ts", "e_id")
    name = _run_stream_to_memory(joined, "stream_ssloj", "append")
    return (
        spark.table(name)
        .where(F.col("p_ts") <= F.lit(cutoff))
        .select(
            "p_id",
            F.date_format("p_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("p_ts"),
            "e_id",
        )
    )


@register(
    "corpus_quality_funnel",
    oracle="""
WITH h AS (
  SELECT text, len(string_split(text, ' ')) AS token_cnt,
    len(list_filter(string_split(text, ' '),
        t -> lower(t) IN ('the','and','of','to','in','is','that','it','was','for'))) AS en_hits,
    len(list_filter(string_split(text, ' '),
        t -> lower(t) IN ('der','die','das','und','ist','nicht','ein','mit','auf','zu'))) AS de_hits,
    len(list_filter(string_split(text, ' '),
        t -> lower(t) IN ('el','la','de','que','y','en','un','por','con','para'))) AS es_hits,
    len(list_filter(string_split(text, ' '),
        t -> lower(t) IN ('le','la','les','de','et','est','un','une','dans','pour'))) AS fr_hits
  FROM documents),
f AS (
  SELECT text, token_cnt, en_hits, de_hits, es_hits, fr_hits,
         en_hits * 1.0 / token_cnt AS sw_ratio
  FROM h),
g AS (
  SELECT text,
    (en_hits > 0 AND en_hits >= greatest(en_hits, de_hits, es_hits, fr_hits)) AS is_en,
    (token_cnt >= 20 AND sw_ratio >= 0.05) AS is_quality
  FROM f)
SELECT stage, n FROM (
  SELECT 's0_total' AS stage, CAST(count(*) AS BIGINT) AS n FROM g
  UNION ALL
  SELECT 's1_lang_en', CAST(count(*) FILTER (is_en) AS BIGINT) FROM g
  UNION ALL
  SELECT 's2_quality', CAST(count(*) FILTER (is_en AND is_quality) AS BIGINT) FROM g
  UNION ALL
  SELECT 's3_unique', CAST(count(DISTINCT CASE WHEN is_en AND is_quality
                                               THEN text END) AS BIGINT) FROM g)
""",
    doc="End-to-end corpus curation funnel — the user story the text ops "
    "exist for: total docs → language-ID'd English → quality-thresholded "
    "(token count, stopword ratio) → exact-deduped survivors, as ONE "
    "single-pass conditional aggregation (no per-stage rescans: every "
    "stage is a count/countDistinct over the same projection, then "
    "unpivoted to (stage, n) rows). At 100 TB this is one scan + one "
    "1-row-per-stage result.",
)
def corpus_quality_funnel(spark, sf_dir):
    from logvision_spark.operators.text import lang_id, quality_features

    d = quality_features(lang_id(_t(spark, sf_dir, "documents")))
    is_en = F.col("pred_lang") == "en"
    is_q = (F.col("token_cnt") >= 20) & (F.col("stopword_ratio") >= 0.05)
    agg = d.agg(
        F.count(F.lit(1)).alias("s0_total"),
        F.count(F.when(is_en, 1)).alias("s1_lang_en"),
        F.count(F.when(is_en & is_q, 1)).alias("s2_quality"),
        # distinct over the 64-bit content hash, not the document text:
        # the distinct's shuffle carries 8 bytes/doc instead of the
        # payload (guide §2.3 — shuffle keys, not payloads). Count-
        # identical short of an xxhash64 collision among the quality
        # tier (p ~ n²/2⁶⁵), the same accepted stance as exact_dedup's
        # production content hash (r18).
        F.countDistinct(
            F.when(is_en & is_q, F.xxhash64(F.col("text")))
        ).alias("s3_unique"),
    )
    return agg.select(
        F.expr(
            "stack(4, 's0_total', s0_total, 's1_lang_en', s1_lang_en, "
            "'s2_quality', s2_quality, 's3_unique', s3_unique) AS (stage, n)"
        )
    )


@register(
    "pack_token_bins",
    oracle="""
WITH s AS (SELECT doc_id, doc_id % 8 AS shard,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
           FROM documents)
SELECT doc_id, shard, n_tok,
       CAST(floor(coalesce(sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            / 512.0) AS BIGINT) AS bin_in_shard
FROM s
""",
    doc="Training-batch sequence packing: docs assigned to 512-token bins "
    "by exclusive prefix sum of token counts within pmod(doc_id, 8) "
    "shards (operators/text.pack_token_bins) — the 'pack documents into "
    "fixed-token training rows' pipeline step. Per-shard windows keep "
    "the cumulative sum parallel (a single global ordered window "
    "serializes onto one task at 100 TB); integer-exact math both "
    "engines.",
)
def pack_token_bins_q(spark, sf_dir):
    from logvision_spark.operators.text import pack_token_bins

    return pack_token_bins(_t(spark, sf_dir, "documents"), budget=512, num_shards=8)


@register(
    "sim_topk_batch",
    oracle="""
WITH q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings WHERE vec_id < 5)
SELECT q.q_id, e.vec_id, round(
  list_sum(list_transform(range(1, len(e.embedding)+1),
           i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)))
  / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
   * sqrt(list_sum(list_transform(q.qe, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))),
  6) AS cos_sim
FROM embeddings e, q
WHERE e.vec_id >= 5
QUALIFY row_number() OVER (PARTITION BY q.q_id
                           ORDER BY cos_sim DESC, e.vec_id) <= 3
""",
    doc="BATCHED similarity search: top-3 neighbors for a whole query "
    "set in one pass (query batch broadcast — 5 vectors, constant "
    "cardinality, so the pin is safe at any SF; corpus scanned ONCE for "
    "all queries, ranked per-query by windowed row_number on the "
    "rounded score with id tie-break). The shape that amortizes scan "
    "cost when serving many probes — per-query TakeOrdered loops rescan "
    "the corpus N times.",
)
def sim_topk_batch(spark, sf_dir):
    from logvision_spark.operators.similarity import cosine_cols

    emb = _t(spark, sf_dir, "embeddings")
    qs = F.broadcast(
        emb.where(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe")
        )
    )
    data = emb.where(F.col("vec_id") >= 5)
    scored = data.crossJoin(qs).select(
        "q_id",
        "vec_id",
        F.round(cosine_cols("embedding", "qe"), 6).alias("cos_sim"),
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .drop("rn")
    )


@register(
    "ts_gap_fill",
    oracle="""
WITH b AS (SELECT date_trunc('minute', ts) AS minute,
                  CAST(count(*) AS BIGINT) AS cnt
           FROM events WHERE event_type = 'purchase' GROUP BY 1),
spine AS (SELECT unnest(generate_series(
            (SELECT min(minute) FROM b),
            (SELECT max(minute) FROM b),
            INTERVAL 1 MINUTE)) AS minute)
SELECT strftime(spine.minute, '%Y-%m-%d %H:%M:%S') AS minute,
       coalesce(b.cnt, CAST(0 AS BIGINT)) AS cnt,
       (b.minute IS NULL) AS gap_filled
FROM spine LEFT JOIN b ON spine.minute = b.minute
""",
    doc="Time-series gap fill: per-minute purchase counts joined onto a "
    "dense minute spine (sequence() of the observed range, exploded), "
    "absent minutes filled with 0 and flagged — the densification step "
    "before any rolling-window model. The spine generates from ONE "
    "aggregated (min,max) row and the join is on the minute key; at "
    "100 TB the spine stays tiny while the counts aggregate "
    "map-side.",
)
def ts_gap_fill(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    b = ev.groupBy(F.date_trunc("minute", "ts").alias("minute")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    spine = (
        b.agg(F.min("minute").alias("lo"), F.max("minute").alias("hi"))
        .select(
            F.explode(
                F.sequence("lo", "hi", F.expr("INTERVAL 1 MINUTE"))
            ).alias("minute")
        )
    )
    return spine.join(b, "minute", "left").select(
        F.date_format("minute", "yyyy-MM-dd HH:mm:ss").alias("minute"),
        F.coalesce(F.col("cnt"), F.lit(0).cast("long")).alias("cnt"),
        F.col("cnt").isNull().alias("gap_filled"),
    )


@register(
    "decontam_ngram_overlap",
    oracle="""
WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
sh AS (SELECT doc_id, source,
              unnest(list_distinct(list_transform(range(1, len(w)-6),
                i -> list_aggregate(w[i:i+7], 'string_agg', ' ')))) AS s
       FROM toks WHERE len(w) >= 8),
ev AS (SELECT DISTINCT s FROM sh WHERE source = 'src0')
SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_hits
FROM (SELECT DISTINCT doc_id, s FROM sh WHERE source <> 'src0') c
JOIN ev ON c.s = ev.s
GROUP BY c.doc_id
""",
    doc="Benchmark decontamination (operators/dedup.cross_corpus_overlap): "
    "corpus docs sharing any 8-gram with the eval set (source='src0' "
    "standing in) are flagged with their overlap count — the eval-leak "
    "screen every training corpus runs. Both sides reduce to DISTINCT "
    "shingles before the join (shingle keys move, not documents); a "
    "real constant-size eval set broadcasts via the threshold/AQE, "
    "deliberately not pinned.",
)
def decontam_ngram_overlap(spark, sf_dir):
    from logvision_spark.operators.dedup import cross_corpus_overlap

    d = _t(spark, sf_dir, "documents")
    return cross_corpus_overlap(
        d.where(F.col("source") != "src0"),
        d.where(F.col("source") == "src0"),
        n=8,
    )


@register(
    "emb_int8_quantize",
    oracle="""
WITH v AS (SELECT vec_id,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
           FROM embeddings),
m AS (SELECT vec_id, e, list_min(e) AS mn, list_max(e) AS mx,
             list_max(e) - list_min(e) AS rng
      FROM v)
SELECT vec_id, round(mn, 6) AS vmin, round(mx, 6) AS vmax,
       CASE WHEN rng > 0 THEN round(
         list_sum(list_transform(e,
           x -> abs(x - (mn + floor((x - mn) * 255.0 / rng) * rng / 255.0))))
         / len(e), 6)
       ELSE 0.0 END AS mae
FROM m
""",
    doc="Embedding int8 scalar quantization report "
    "(operators/similarity.int8_quantization_report): per-vector "
    "min/max/range, floor-based 0..255 codes, and the mean absolute "
    "reconstruction error — the 4× storage-compression step of an "
    "embedding pipeline, value-exact across engines because floor "
    "avoids rounding-mode divergence. One JVM-HOF projection pass, no "
    "shuffle.",
)
def emb_int8_quantize(spark, sf_dir):
    from logvision_spark.operators.similarity import int8_quantization_report

    return int8_quantization_report(_t(spark, sf_dir, "embeddings"))


@register(
    "corpus_stratified_sample",
    oracle="""
SELECT lang, CAST(count(*) AS BIGINT) AS total,
       CAST(count(*) FILTER (doc_id % 10 <
         CASE WHEN lang = 'en' THEN 8 ELSE 3 END) AS BIGINT) AS kept
FROM documents GROUP BY lang
""",
    doc="Deterministic stratified downsampling: per-language keep rates "
    "(80% en, 30% otherwise — the 'rebalance the language mix' curation "
    "step) decided by pmod(doc_id, 10), NOT sampleBy — reproducible "
    "across engines, runs, and partitionings, and auditable (this query "
    "IS the audit: kept vs total per stratum in one pass). sampleBy's "
    "seed+partitioning dependence makes corpus snapshots unverifiable.",
)
def corpus_stratified_sample(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    rate = F.when(F.col("lang") == "en", 8).otherwise(3)
    kept = F.pmod(F.col("doc_id"), F.lit(10)) < rate
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("total"),
        F.count(F.when(kept, 1)).alias("kept"),
    )


@register(
    "a_latest_event_per_user",
    oracle="""
SELECT user_id,
       arg_max(event_id, strftime(ts, '%Y-%m-%d %H:%M:%S.%f') || '|'
               || lpad(CAST(event_id AS VARCHAR), 12, '0')) AS last_event_id,
       strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS last_ts,
       arg_max(event_type, strftime(ts, '%Y-%m-%d %H:%M:%S.%f') || '|'
               || lpad(CAST(event_id AS VARCHAR), 12, '0')) AS last_type
FROM events GROUP BY user_id
""",
    doc="CDC latest-wins compaction: one row per key carrying the most "
    "recent event's columns (max_by / arg_max with a deterministic "
    "(ts, event_id) tie-break) — the upsert-to-snapshot step of a "
    "change-feed pipeline, as ONE hash aggregation: no window, no sort, "
    "no self-join; partial aggregation keeps only each partition's "
    "current winner, so the shuffle carries one candidate row per "
    "(partition, key) at any scale.",
)
def a_latest_event_per_user(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    # deterministic total order: (ts, event_id) packed into one sortable
    # string so both engines break ts ties identically
    order = F.concat_ws(
        "|",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    return ev.groupBy("user_id").agg(
        F.max_by("event_id", order).alias("last_event_id"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("last_ts"),
        F.max_by("event_type", order).alias("last_type"),
    )


@register(
    "text_chunk_windows",
    oracle="""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS w,
                  len(string_split(text, ' ')) AS n
           FROM documents),
s AS (SELECT doc_id, w, n, unnest(range(0, n, 24)) AS st FROM t)
SELECT doc_id, CAST(st / 24 AS BIGINT) AS chunk_id,
       CAST(least(32, n - st) AS INTEGER) AS n_tokens,
       list_aggregate(w[st+1 : st+32], 'string_agg', ' ') AS chunk_text
FROM s
""",
    doc="Document chunking for embedding/RAG pipelines "
    "(operators/text.chunk_windows): overlapping 32-token windows every "
    "24 tokens (8-token overlap), emitted as (doc_id, chunk_id, "
    "n_tokens, chunk_text). Sequence-explode + array-slice, all "
    "JVM-side; output cardinality is ceil(n/stride) per doc — "
    "predictable from token stats before running.",
)
def text_chunk_windows(spark, sf_dir):
    from logvision_spark.operators.text import chunk_windows

    return chunk_windows(
        _t(spark, sf_dir, "documents"), size=32, stride=24
    )


@register(
    "j_salted_skew_join",
    oracle="""
SELECT e.event_id, e.user_id, n.n_name
FROM events e JOIN nation n ON e.user_id % 25 = n.n_nationkey
WHERE e.event_type = 'purchase'
""",
    doc="Skew-safe salted join (operators/skew.salted_skew_join), "
    "driver-checked to be row-identical to the plain join: the big side "
    "salts each row into one of 8 buckets deterministically "
    "(pmod(xxhash64(row), 8)), the dimension replicates once per salt, "
    "and the join key becomes (key, salt) — a Zipf-hot key spreads over "
    "8 reducers instead of pinning one. The manual fallback for when "
    "AQE's runtime skew split can't apply; correctness must not depend "
    "on which path runs.",
)
def j_salted_skew_join(spark, sf_dir):
    from logvision_spark.operators.skew import salted_skew_join

    ev = (
        _t(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            F.pmod(F.col("user_id"), F.lit(25)).alias("nkey"),
        )
    )
    nat = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nkey"), "n_name"
    )
    return salted_skew_join(ev, nat, key="nkey", salt_buckets=8).select(
        "event_id", "user_id", "n_name"
    )


@register(
    "layout_zorder_key",
    oracle="""
SELECT event_id,
       CAST(list_sum(list_transform(range(0, 16),
         i -> ((((user_id % 65536) >> i) & 1) << (2*i))
            + ((((CAST(epoch(date_trunc('second', ts)) AS BIGINT) % 65536) >> i) & 1)
               << (2*i+1))
       )) AS BIGINT) AS zkey
FROM events
""",
    doc="Z-order (Morton) layout key (sources/writers.zorder_key): "
    "interleave user_id and epoch-second low bits so range-partitioning "
    "by the key gives BOTH columns per-file min/max locality — the "
    "data-skipping layout a 100 TB table applies once at ingest "
    "(write_zordered) so later point/range filters on either dimension "
    "prune whole files. Key computed as 32 static shift/mask terms, "
    "integer-exact on both engines.",
)
def layout_zorder_key(spark, sf_dir):
    from logvision_spark.sources.writers import zorder_key

    ev = _t(spark, sf_dir, "events")
    a = F.pmod(F.col("user_id"), F.lit(65536))
    b = F.pmod(F.unix_timestamp(F.date_trunc("second", F.col("ts"))), F.lit(65536))
    return ev.select("event_id", zorder_key(a, b, bits=16).alias("zkey"))


@register(
    "profile_columns",
    oracle="""
SELECT col, null_cnt, distinct_cnt FROM (
  SELECT 'user_id' AS col,
         CAST(count(*) FILTER (user_id IS NULL) AS BIGINT) AS null_cnt,
         CAST(count(DISTINCT user_id) AS BIGINT) AS distinct_cnt FROM events
  UNION ALL
  SELECT 'event_type', CAST(count(*) FILTER (event_type IS NULL) AS BIGINT),
         CAST(count(DISTINCT event_type) AS BIGINT) FROM events
  UNION ALL
  SELECT 'value', CAST(count(*) FILTER (value IS NULL) AS BIGINT),
         CAST(count(DISTINCT value) AS BIGINT) FROM events
  UNION ALL
  SELECT 'props', CAST(count(*) FILTER (props IS NULL) AS BIGINT),
         CAST(count(DISTINCT props) AS BIGINT) FROM events)
""",
    doc="Data profiling — the observability pass a pipeline runs before "
    "trusting a new drop: per-column null and distinct counts in ONE "
    "aggregation (Catalyst plans multi-column distinct via a single "
    "Expand, not N rescans), unpivoted to (col, null_cnt, distinct_cnt) "
    "rows. Exact distincts here for the oracle; at 100 TB swap in "
    "approx_count_distinct per the distinct_count operator's escape "
    "hatch.",
)
def profile_columns(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    cols = ["user_id", "event_type", "value", "props"]
    agg = ev.agg(
        *[
            F.count(F.when(F.col(c).isNull(), 1)).alias(f"n_{c}")
            for c in cols
        ],
        *[F.countDistinct(F.col(c)).alias(f"d_{c}") for c in cols],
    )
    pairs = ", ".join(f"'{c}', n_{c}, d_{c}" for c in cols)
    return agg.select(
        F.expr(f"stack({len(cols)}, {pairs}) AS (col, null_cnt, distinct_cnt)")
    )


@register(
    "dq_expectations",
    oracle="""
SELECT rule, violations FROM (
  SELECT 'value_non_negative' AS rule,
         CAST(count(*) FILTER (value < 0) AS BIGINT) AS violations FROM events
  UNION ALL
  SELECT 'ts_not_null', CAST(count(*) FILTER (ts IS NULL) AS BIGINT) FROM events
  UNION ALL
  SELECT 'known_event_type', CAST(count(*) FILTER (event_type NOT IN
    ('view','click','purchase','error','login')) AS BIGINT) FROM events
  UNION ALL
  SELECT 'user_nation_exists', CAST(count(*) AS BIGINT) FROM events e
  WHERE NOT EXISTS (SELECT 1 FROM nation n
                    WHERE n.n_nationkey = e.user_id % 25))
""",
    doc="Data-quality expectations — declarative constraint validation "
    "(value ranges, non-null, domain membership, referential integrity) "
    "evaluated as violation COUNTS per rule: the in-row rules fold into "
    "one conditional-aggregation scan; the referential rule is one "
    "anti-join against the dimension (broadcast-size here; at scale the "
    "anti-join shuffles on the key like any join). The gate a pipeline "
    "runs per batch before publishing.",
)
def dq_expectations(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    known = ["view", "click", "purchase", "error", "login"]
    row_rules = ev.agg(
        F.count(F.when(F.col("value") < 0, 1)).alias("value_non_negative"),
        F.count(F.when(F.col("ts").isNull(), 1)).alias("ts_not_null"),
        F.count(F.when(~F.col("event_type").isin(known), 1)).alias(
            "known_event_type"
        ),
    ).select(
        F.expr(
            "stack(3, 'value_non_negative', value_non_negative, "
            "'ts_not_null', ts_not_null, "
            "'known_event_type', known_event_type) AS (rule, violations)"
        )
    )
    nat = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nkey")
    )
    orphans = (
        ev.select(F.pmod(F.col("user_id"), F.lit(25)).alias("nkey"))
        .join(nat, "nkey", "left_anti")
        .agg(F.count(F.lit(1)).alias("violations"))
        .select(F.lit("user_nation_exists").alias("rule"), "violations")
    )
    return row_rules.unionByName(orphans)


@register(
    "stream_j_static_enrich",
    oracle="""
SELECT e.event_id, n.n_name
FROM events e JOIN nation n ON e.user_id % 25 = n.n_nationkey
WHERE e.event_type = 'purchase'
""",
    doc="STREAM-STATIC enrichment join, batch-verified: the live event "
    "stream joins a static dimension snapshot (re-read per micro-batch, "
    "broadcast under the threshold) — the standard streaming enrichment "
    "shape, stateless unlike stream-stream joins: no watermark, no join "
    "state, so it costs a broadcast probe per batch at any scale.",
)
def stream_j_static_enrich(spark, sf_dir):
    src = (
        _events_stream(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .select(
            "event_id", F.pmod(F.col("user_id"), F.lit(25)).alias("nkey")
        )
    )
    nat = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nkey"), "n_name"
    )
    joined = src.join(nat, "nkey").select("event_id", "n_name")
    # stream-static join keeps no state store → no RocksDB needed
    name = _run_stream_to_memory(joined, "stream_static", "append", rocksdb=False)
    return spark.table(name)


@register(
    "a_conversion_funnel",
    oracle="""
WITH v AS (SELECT user_id, min(ts) AS t1 FROM events
           WHERE event_type = 'view' GROUP BY user_id),
c AS (SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.t1
      WHERE e.event_type = 'click' GROUP BY e.user_id),
p AS (SELECT e.user_id, min(e.ts) AS t3
      FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.t2
      WHERE e.event_type = 'purchase' GROUP BY e.user_id)
SELECT step, n FROM (
  SELECT 's1_view' AS step, CAST(count(*) AS BIGINT) AS n FROM v
  UNION ALL SELECT 's2_click_after_view', CAST(count(*) AS BIGINT) FROM c
  UNION ALL SELECT 's3_purchase_after_click', CAST(count(*) AS BIGINT) FROM p)
""",
    doc="ORDERED conversion funnel: users who viewed, then clicked "
    "strictly after their first view, then purchased strictly after "
    "that first qualifying click — the event-sequence analysis a plain "
    "groupBy can't express (order matters, not just presence). The "
    "stages chain through LEFT joins carrying every viewer to the "
    "final frame, so all three step counts come from ONE subtree "
    "(count(*) / count(t2) / count(t3)) — each stage computed exactly "
    "once. The r7 rework: the previous version counted each stage "
    "DataFrame separately, recomputing its predecessors (6 scans of "
    "events in the executed plan; now 3, one per event type). A "
    "one-scan stacked-range-window form was measured SLOWER at "
    "20M rows (3.96 s vs 1.58 s): it shuffles every raw event row, "
    "while this form shuffles map-side-combined per-user view minima "
    "plus the clicks/purchases — the join-chain's shuffle volume "
    "wins over its extra scans, and the scans prune to three "
    "columns with a pushed type filter.",
)
def a_conversion_funnel(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    cl = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("_cu"), F.col("ts").alias("_cts")
    )
    # left joins keep every viewer; a missing/NULL-anchored stage
    # yields NULL (NULL > t1 never matches — same as the oracle's
    # inner-join chain dropping the user from later stages only)
    vc = (
        v.join(
            cl,
            (v["user_id"] == cl["_cu"]) & (cl["_cts"] > v["t1"]),
            "left",
        )
        .groupBy("user_id")
        .agg(F.min("_cts").alias("t2"))
    )
    pu = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("_pu"), F.col("ts").alias("_pts")
    )
    vcp = (
        vc.join(
            pu,
            (vc["user_id"] == pu["_pu"]) & (pu["_pts"] > vc["t2"]),
            "left",
        )
        .groupBy("user_id")
        .agg(F.min("t2").alias("t2"), F.min("_pts").alias("t3"))
    )
    totals = vcp.agg(
        F.count(F.lit(1)).alias("s1"),
        F.count("t2").alias("s2"),
        F.count("t3").alias("s3"),
    )
    return totals.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("s1_view").alias("step"), F.col("s1").alias("n")
                ),
                F.struct(
                    F.lit("s2_click_after_view").alias("step"),
                    F.col("s2").alias("n"),
                ),
                F.struct(
                    F.lit("s3_purchase_after_click").alias("step"),
                    F.col("s3").alias("n"),
                ),
            )
        ).alias("_e")
    ).select(F.col("_e.step").alias("step"), F.col("_e.n").cast("long").alias("n"))


@register(
    "a_weekly_retention",
    oracle="""
WITH uw AS (SELECT DISTINCT user_id,
                   date_trunc('week', ts) AS wk FROM events),
c AS (SELECT user_id, min(wk) AS cohort FROM uw GROUP BY user_id)
SELECT strftime(c.cohort, '%Y-%m-%d') AS cohort_week,
       CAST(date_diff('week', c.cohort, uw.wk) AS BIGINT) AS week_offset,
       CAST(count(*) AS BIGINT) AS n_users
FROM uw JOIN c ON uw.user_id = c.user_id
GROUP BY 1, 2
""",
    doc="Cohort retention: users grouped by first-active week, counted "
    "in each later week they return — the (cohort_week, week_offset, "
    "n_users) triangle every activation dashboard draws. One distinct "
    "pass to (user, week), a keyed min for the cohort anchor, and a "
    "co-partitioned join back (same user_id key, no second shuffle of "
    "the big side); Monday-anchored weeks on both engines.",
)
def a_weekly_retention(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    uw = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("wk")
    ).distinct()
    c = uw.groupBy("user_id").agg(F.min("wk").alias("cohort"))
    return (
        uw.join(c, "user_id")
        .groupBy(
            F.date_format("cohort", "yyyy-MM-dd").alias("cohort_week"),
            (
                F.datediff(F.col("wk"), F.col("cohort")) / 7
            ).cast("long").alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@register(
    "a_value_decile_histogram",
    oracle="""
WITH b AS (SELECT quantile_cont(value, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS q
           FROM events),
e AS (SELECT value, q FROM events, b)
SELECT bucket_id, CAST(count(*) AS BIGINT) AS cnt FROM (
  SELECT CASE
    WHEN value <= q[1] THEN 0 WHEN value <= q[2] THEN 1
    WHEN value <= q[3] THEN 2 WHEN value <= q[4] THEN 3
    WHEN value <= q[5] THEN 4 WHEN value <= q[6] THEN 5
    WHEN value <= q[7] THEN 6 WHEN value <= q[8] THEN 7
    WHEN value <= q[9] THEN 8 ELSE 9 END AS bucket_id
  FROM e)
GROUP BY bucket_id
""",
    doc="Equi-depth decile histogram of `value`: exact interpolated "
    "decile boundaries (one aggregation), then one conditional-bucket "
    "counting pass — NOT a global ntile window, which would sort the "
    "whole table on one task at scale. The boundaries row is a 1-row "
    "cross join (broadcast for free); at 100 TB swap the exact "
    "percentile for approx_percentile and keep the same two-pass "
    "shape.",
)
def a_value_decile_histogram(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    qs = [i / 10 for i in range(1, 10)]
    b = ev.agg(
        F.expr(
            "percentile(value, array(0.1D,0.2D,0.3D,0.4D,0.5D,0.6D,0.7D,0.8D,0.9D))"
        ).alias("q")
    )
    e = ev.select("value").crossJoin(b)
    bucket = F.lit(9)
    for i in range(len(qs) - 1, -1, -1):
        bucket = F.when(
            F.col("value") <= F.col("q")[i], F.lit(i)
        ).otherwise(bucket)
    return (
        e.select(bucket.alias("bucket_id"))
        .groupBy("bucket_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@register(
    "a_value_decile_histogram_approx",
    oracle="""
SELECT CAST(b AS INTEGER) AS bucket_id, TRUE AS in_band,
       (SELECT CAST(count(*) AS BIGINT) FROM events) AS n_total
FROM (SELECT unnest(range(10)) AS b)
""",
    doc="The exact entry's own 100 TB swap, driver-checked as a "
    "tolerance property (like sketch_accuracy_props): decile boundaries "
    "from approx_percentile (KLL-style mergeable sketch, accuracy "
    "10000 ⇒ rank error ≤ 0.01% of N) instead of the sort-heavy exact "
    "interpolated percentile; same two-pass shape (1-row broadcast "
    "boundary cross join → conditional-bucket count). Emits per-bucket "
    "|cnt − N/10| / N ≤ 1% (measured max deviation 0.02% at all three "
    "fixtures — 50× margin; the sketch is deterministic given the "
    "data) plus the exact total, which pins that no rows are dropped "
    "or double-bucketed. The exact sibling stays registered as the "
    "small-data path.",
)
def a_value_decile_histogram_approx(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    b = ev.agg(
        F.expr(
            "approx_percentile(value, "
            "array(0.1D,0.2D,0.3D,0.4D,0.5D,0.6D,0.7D,0.8D,0.9D), 10000)"
        ).alias("q")
    )
    e = ev.select("value").crossJoin(b)  # 1-row boundary frame: pin OK
    # bucket CASE and band projection as single F.expr parses (r18,
    # guide §5: the nested when() chain alone was ~585 py4j round trips
    # per build). Flat CASE = first-match, identical to the nested
    # otherwise() chain (NULL value matches no arm -> ELSE 9, as before);
    # 0.01D keeps the double literal (bare 0.01 parses as DECIMAL).
    bucket = F.expr(
        "CASE "
        + " ".join(f"WHEN value <= q[{i}] THEN {i}" for i in range(9))
        + " ELSE 9 END"
    )
    counts = (
        e.select(bucket.alias("bucket_id"))
        .groupBy("bucket_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # 10-row frame: the empty window is over the bucket counts, not data
    filled = (
        ev.sparkSession.range(10)
        .select(F.col("id").cast("int").alias("bucket_id"))
        .join(counts, "bucket_id", "left")
        .select("bucket_id", F.coalesce("cnt", F.lit(0)).alias("cnt"))
    )
    return filled.selectExpr(
        "bucket_id",
        "(abs(cnt - sum(cnt) OVER () / 10) / sum(cnt) OVER ()) <= 0.01D "
        "AS in_band",
        "sum(cnt) OVER () AS n_total",
    )


@register(
    "sketch_freq_items",
    oracle="""
WITH t AS (SELECT event_type, CAST(count(*) AS BIGINT) AS cnt,
                  CAST(count(*) AS DOUBLE) / (SELECT count(*) FROM events) AS frac
           FROM events GROUP BY event_type)
SELECT event_type, cnt, TRUE AS in_sketch FROM t WHERE frac > 0.05
""",
    doc="Frequent-items sketch as a driver-checked GUARANTEE: "
    "df.stat.freqItems (Karp-Papadimitriou-Shenker streaming counters, "
    "mergeable partials, bounded memory) must contain every item whose "
    "true frequency exceeds the support — the sketch's one hard "
    "promise, which holds REGARDLESS of partitioning even though the "
    "sketch's false-positive extras don't. The query returns the exact "
    "frequent set with its per-item membership flag, so any missed item "
    "fails the hash compare.",
)
def sketch_freq_items(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    items = ev.stat.freqItems(["event_type"], support=0.05).collect()[0][0]
    total = ev.count()
    t = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt"))
    return t.where(F.col("cnt") / F.lit(float(total)) > 0.05).select(
        "event_type",
        "cnt",
        F.col("event_type").isin([str(i) for i in items]).alias("in_sketch"),
    )


@register(
    "privacy_pseudonymize",
    oracle="""
SELECT sha256('pepper:' || CAST(user_id AS VARCHAR)) AS pseudonym,
       CAST(count(*) AS BIGINT) AS n_events
FROM events GROUP BY 1
""",
    doc="Pseudonymization for privacy-preserving analytics: user ids "
    "replaced by a peppered SHA-256 digest — deterministic (joins and "
    "counts still work on the pseudonym) but not reversible without the "
    "pepper. Counts per pseudonym must equal counts per raw id, and the "
    "digest must agree byte-for-byte across engines. Pure JVM hash in "
    "the projection; the pepper would come from a secret store, never "
    "the query text, in production.",
)
def privacy_pseudonymize(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    pseud = F.sha2(
        F.concat(F.lit("pepper:"), F.col("user_id").cast("string")), 256
    )
    return ev.groupBy(pseud.alias("pseudonym")).agg(
        F.count(F.lit(1)).alias("n_events")
    )


@register(
    "stream_w_append_finalized",
    oracle="""
WITH m AS (SELECT epoch(max(ts)) - 86400 AS cut FROM events),
w AS (SELECT CAST(floor(epoch(ts)/600) AS BIGINT)*600 AS ws FROM events)
SELECT strftime(to_timestamp(ws), '%Y-%m-%d %H:%M:%S.%f') AS win_start,
       CAST(count(*) AS BIGINT) AS cnt
FROM w, m
GROUP BY ws, m.cut
HAVING ws + 600 <= m.cut
""",
    doc="APPEND-mode windowed aggregation, batch-verified: with append "
    "output a window emits exactly once, only after the watermark "
    "closes it — the write-once contract downstream exactly-once sinks "
    "rely on (update mode re-emits, append never does). Verified on "
    "windows provably closed (window end ≤ max ts - 1 day, far past "
    "the 10-min delay): the emitted set must equal the batch bucketing "
    "of those windows exactly.",
)
def stream_w_append_finalized(spark, sf_dir):
    cutoff = (
        _t(spark, sf_dir, "events")
        .agg((F.max("ts") - F.expr("INTERVAL 1 DAY")).alias("c"))
        .first()["c"]
    )
    src = _events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    win = (
        src.groupBy(F.window("ts", "10 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.col("w.start").alias("ws"),
            F.col("w.end").alias("we"),
            "cnt",
        )
    )
    name = _run_stream_to_memory(win, "stream_append", "append")
    return (
        spark.table(name)
        .where(F.col("we") <= F.lit(cutoff))
        .select(
            F.date_format("ws", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("win_start"),
            "cnt",
        )
    )


@register(
    "stream_w_session",
    oracle="""
WITH m AS (SELECT max(ts) - INTERVAL 1 DAY AS cut FROM events),
 o AS (
  SELECT user_id, ts,
    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
          OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL 30 MINUTE
         THEN 1 ELSE 0 END AS new_s
  FROM events WHERE user_id % 10 = 0),
 s AS (SELECT user_id, ts,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS sid
       FROM o)
SELECT user_id,
  strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
  strftime(max(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S.%f') AS session_end,
  CAST(count(*) AS BIGINT) AS n_events
FROM s, m GROUP BY user_id, sid, m.cut
HAVING max(ts) + INTERVAL 30 MINUTE <= m.cut
""",
    doc="SESSION WINDOWS on the STREAMING path, batch-verified (r7 — "
    "the one stateful window class the nine r6 stream entries did not "
    "drive: session_window keeps MERGING state per (key, open "
    "session), a different state layout from tumbling windows or "
    "dedup): file source → watermark → session_window(30 min gap) "
    "count per user → APPEND mode (a session emits exactly once, "
    "after the watermark closes it) → AvailableNow → memory sink, on "
    "the RocksDB state store. Verified on sessions provably closed "
    "(session_end <= max ts - 1 day, far past the 10-min delay): the "
    "emitted set must equal the batch lag/cumsum sessionizer — the "
    "same oracle as w_session_windows plus the finalized cutoff, so "
    "the streaming merge state and the batch window agree row-for-row "
    "(gap boundary semantics included: a gap of exactly 30 min starts "
    "a new session on both engines).",
)
def stream_w_session(spark, sf_dir):
    cutoff = (
        _t(spark, sf_dir, "events")
        .agg((F.max("ts") - F.expr("INTERVAL 1 DAY")).alias("c"))
        .first()["c"]
    )
    src = (
        _events_stream(spark, sf_dir)
        .where(F.col("user_id") % 10 == 0)
        .withWatermark("ts", "10 minutes")
    )
    sess = (
        src.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("ss"),
            F.col("w.end").alias("se"),
            "n_events",
        )
    )
    name = _run_stream_to_memory(sess, "stream_session", "append")
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    return (
        spark.table(name)
        .where(F.col("se") <= F.lit(cutoff))
        .select(
            "user_id",
            F.date_format("ss", fmt).alias("session_start"),
            F.date_format("se", fmt).alias("session_end"),
            "n_events",
        )
    )


@register(
    "mm_partition_packing",
    oracle="""
WITH s AS (SELECT doc_id AS asset_id, doc_id % 8 AS shard,
                  CAST(length(text) AS BIGINT) AS n_bytes
           FROM documents)
SELECT asset_id, shard, n_bytes,
       CAST(floor(coalesce(sum(n_bytes) OVER (PARTITION BY shard
              ORDER BY asset_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            / 4096.0) AS BIGINT) AS bin_in_shard
FROM s
""",
    doc="Multimodal payload packing "
    "(operators/multimodal.pack_assets_by_bytes): opaque assets "
    "assigned to ~4 KB byte-budget bins by per-shard exclusive prefix "
    "sums — repartitioning by (shard, bin) then bounds every "
    "Arrow decode batch's memory footprint regardless of asset "
    "size skew. Text length stands in for payload bytes in the "
    "fixture; integer-exact on both engines.",
)
def mm_partition_packing(spark, sf_dir):
    from logvision_spark.operators.multimodal import pack_assets_by_bytes

    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("asset_id"),
        F.length("text").alias("n_bytes"),
    )
    return pack_assets_by_bytes(d, budget=4096, num_shards=8)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: e.builder for name, e in CATALOG.items()}


def oracle_sql() -> dict[str, str]:
    return {name: e.oracle for name, e in CATALOG.items() if e.oracle is not None}
