"""Micro-batch plan-shape tests for the streaming pipelines.

The batch-side plan audit (test_plan_quality.py) cannot see streaming
plans: the stream entries execute their query on build and return only
the drained memory table. These tests capture the LAST micro-batch's
query execution via StreamingQuery.explainInternal while the query is
still active and pin the same 100 TB guarantees there: no Python
evaluation nodes, ONE scan of the source per micro-batch, and the
stateful operator actually present (so the check cannot pass vacuously
on a de-statefulized plan).
"""

from __future__ import annotations

import pytest

from logvision_spark.parser import parse_access_log
from logvision_spark.streaming.pipeline import (
    counter_views,
    session_window_counts,
    sliding_window_counts,
)

LINES = [
    '10.0.0.1 - - [10/Oct/2020:13:55:{s:02d} +0000] '
    '"GET /p{i} HTTP/1.1" 200 123'.format(s=s, i=i)
    for i, s in enumerate([0, 1, 2, 7, 8, 21, 22, 40, 41, 59])
]


@pytest.fixture(scope="module")
def log_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("plan_logs")
    for i, line in enumerate(LINES):
        (d / f"f{i}.log").write_text(line + "\n")
    return str(d)


def _explain_internal(q) -> str:
    """Full explain of the last micro-batch via the (private)
    `StreamingQuery._jsq.explainInternal` — there is no public PySpark
    API for the EXTENDED streaming explain. Version-guarded: if a
    PySpark upgrade moves the internal, skip rather than fail the
    suite on an API shim (r7 ADVICE)."""
    try:
        return q._jsq.explainInternal(True)
    except AttributeError:  # pragma: no cover - future-PySpark guard
        pytest.skip("StreamingQuery._jsq.explainInternal unavailable")


def _physical(plan: str) -> str:
    """The '== Physical Plan ==' section of an extended explain — scan
    counting over the full output would also match the same node names
    in the analyzed/optimized sections (r7 ADVICE)."""
    marker = "== Physical Plan =="
    assert marker in plan, plan[:500]
    return plan.split(marker, 1)[1]


def _microbatch_plan(spark, df, name, mode, tmp_path) -> str:
    """Run the streaming df to a memory sink and return the LAST
    micro-batch's full explain (analyzed/optimized/physical) captured
    while the query is active — explainInternal on a terminated query
    has no execution to print."""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
        .start()
    )
    try:
        q.processAllAvailable()
        return _explain_internal(q)
    finally:
        q.stop()


def _assert_jvm_side_single_scan(plan: str) -> None:
    from tests.plan_utils import assert_no_python_eval

    phys = _physical(plan)
    assert_no_python_eval(phys)
    # at most one scan of the file source per micro-batch physical plan —
    # the LAST batch can legitimately be a NO-DATA batch (watermark-
    # advance emit for append-mode stateful ops) whose plan scans
    # nothing, so ==1 flakes on timing; the double-scan regression this
    # guards against still trips <=1
    assert phys.count("Scan text") <= 1, phys[:1500]


def test_counter_view_microbatch_plan(spark, log_dir, tmp_path):
    stream = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", 4)
        .load(log_dir)
    )
    host = counter_views(parse_access_log(stream))["host"]
    plan = _microbatch_plan(spark, host, "plan_counter", "complete", tmp_path)
    _assert_jvm_side_single_scan(plan)
    assert "StateStore" in plan, plan[:1500]  # running count is stateful


def test_sliding_window_microbatch_plan(spark, log_dir, tmp_path):
    stream = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", 4)
        .load(log_dir)
    )
    sw = sliding_window_counts(parse_access_log(stream))
    plan = _microbatch_plan(spark, sw, "plan_slide", "update", tmp_path)
    _assert_jvm_side_single_scan(plan)
    assert "StateStore" in plan, plan[:1500]


def test_multiplexed_counter_catalog_one_scan_per_trigger(
    spark, log_dir, tmp_path
):
    """THE N-counter aggregate-cost pin (r7 VERDICT item 1): the ENTIRE
    11-counter catalog through ONE streaming query; every trigger's
    delta job is ONE scan of the micro-batch + ONE shuffle, no Python —
    asserted on the EXECUTED plan captured inside the foreachBatch hook.
    The melt is built once per query, into the streaming plan: its
    explode shows up as the one Generate of the streaming micro-batch
    plan, and the per-trigger delta job only aggregates. The old
    fan-out topology costs N source scans + N parses per trigger for
    the same catalog (A/B: experiments/measure_counter_multiplex.py)."""
    from logvision_spark.streaming.multiplex import (
        log_counter_specs,
        start_multiplexed_counter_sink,
    )

    stream = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", 4)
        .load(log_dir)
    )
    from tests.plan_utils import assert_no_python_eval, final_plan

    specs = log_counter_specs()
    trigger_plans: list[str] = []

    def _capture(deltas, batch_id):
        # the sink hands write_batch the ALREADY-melted deltas
        deltas.collect()
        trigger_plans.append(final_plan(deltas))

    before = len(spark.streams.active)
    q = start_multiplexed_counter_sink(
        parse_access_log(stream),
        specs,
        _capture,
        checkpoint_dir=str(tmp_path / "ckpt_mux"),
    )
    try:
        # one query serves the whole catalog (the fan-out needed N)
        assert len(spark.streams.active) == before + 1
        q.processAllAvailable()
        stream_plan = _explain_internal(q)
    finally:
        q.stop()

    # the source scan + parse happen ONCE, in the streaming micro-batch
    # plan; foreachBatch hands the hook a LogicalRDD over that batch's
    # already-computed rows, so the delta job re-scans NOTHING
    assert _physical(stream_plan).count("Scan text") <= 1
    # the melt's explode runs once, in the streaming micro-batch plan
    assert _physical(stream_plan).count("Generate") == 1, stream_plan[:3000]
    assert len(trigger_plans) >= 2  # 10 files / 4 per trigger
    for plan in trigger_plans:
        assert_no_python_eval(plan)
        # ...and never again inside the per-trigger delta job
        assert plan.count("Generate") == 0, plan[:1500]
        assert plan.count("Scan text") == 0, plan[:1500]
        assert plan.count("Scan ExistingRDD") == 1, plan[:1500]
        assert plan.count("Exchange hashpartitioning") <= 1, plan[:1500]
        assert "partial_sum" in plan, plan[:1500]


def test_session_window_microbatch_plan(spark, log_dir, tmp_path):
    stream = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", 4)
        .load(log_dir)
    )
    sess = session_window_counts(parse_access_log(stream), gap="30 seconds")
    plan = _microbatch_plan(spark, sess, "plan_sess", "append", tmp_path)
    _assert_jvm_side_single_scan(plan)
    # merging session state runs through the sessionization store
    assert "SessionWindowStateStore" in plan or "StateStore" in plan, plan[:1500]
