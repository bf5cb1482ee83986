"""Multiplexed counter sink: equivalence, replay fencing, plan shape.

The contract under test (SURVEY.md §3.1, VERDICT r7 item 1): the WHOLE
counter catalog through ONE stateless foreachBatch query — merged KV
state must equal one batch aggregation over the concatenated input (the
Redis-equivalence property, SURVEY.md §5.2), the inner per-batch delta
job must be one scan with no Python in the row path, and a replayed
batch_id must not double-count.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from logvision_spark.parser import parse_access_log
from logvision_spark.streaming.multiplex import (
    KVCounterStore,
    log_counter_specs,
    melted_counter_deltas,
    start_multiplexed_counter_sink,
)
from logvision_spark.streaming.pipeline import counter_views

# Mixed corpus: '-' placeholder fields (kept as literal strings by the
# parser), a NULL-bytes line ('-' in a NUMERIC field -> NULL), one
# malformed line (counts toward totals only), and one method-only
# request line whose OPTIONAL url/protocol groups parse to NULL members
# (the parser's actual NULL-member source).
LINES = [
    '10.0.0.1 - alice [10/Oct/2020:13:55:00 +0000] "GET /a HTTP/1.1" 200 100',
    '10.0.0.1 - - [10/Oct/2020:13:55:00 +0000] "GET /a HTTP/1.1" 200 250',
    '10.0.0.2 - alice [10/Oct/2020:13:55:01 +0000] "POST /b HTTP/1.0" 404 -',
    '10.0.0.2 - bob [10/Oct/2020:13:55:02 +0000] "GET /a HTTP/1.1" 500 7',
    "this line is garbage",
    '10.0.0.3 - - [10/Oct/2020:13:55:02 +0000] "HEAD /c HTTP/1.1" 200 0',
    '10.0.0.9 - carol [10/Oct/2020:13:55:03 +0000] "PING" 200 5',
]


@pytest.fixture(scope="module")
def parsed(spark):
    return parse_access_log(
        spark.createDataFrame([(x,) for x in LINES], "value string")
    )


def _as_map(df):
    return {
        (r["counter"], r["member"]): r["delta"] for r in df.collect()
    }


class _StubDeltas:
    """Spark-free deltas for the store: merge() and backfill() only call
    collect(). ``delta=None`` makes collect() fail like a lost executor."""

    def __init__(self, delta=1):
        self.delta = delta

    def collect(self):
        if self.delta is None:
            raise RuntimeError("executor lost")
        return [
            {"counter": "totals", "member": "line_cnt", "delta": self.delta}
        ]


def test_melt_rejects_empty_specs(spark, parsed):
    """An empty catalog is a caller bug — clear ValueError, not the
    opaque analysis failure F.array() with zero columns produces."""
    with pytest.raises(ValueError, match="non-empty"):
        melted_counter_deltas(parsed, [])


def test_sink_rejects_empty_specs_before_start(spark, tmp_path):
    """The empty-catalog ValueError is raised at the call, before any
    query starts — not on the first trigger inside foreachBatch."""
    stream = spark.readStream.format("text").load(str(tmp_path))
    before = {q.id for q in spark.streams.active}
    with pytest.raises(ValueError, match="non-empty"):
        start_multiplexed_counter_sink(
            parse_access_log(stream),
            [],
            KVCounterStore().merge,
            checkpoint_dir=str(tmp_path / "ckpt"),
        )
    assert {q.id for q in spark.streams.active} == before


def test_melt_matches_counter_views_per_key(spark, parsed):
    """Every per-key counter in the melt ≡ the same key's counter_views
    groupBy — including the NULL-member group (username '-')."""
    melted = _as_map(melted_counter_deltas(parsed, log_counter_specs()))
    views = counter_views(parsed)
    for key in ("host", "rfc931", "username", "req_method", "url",
                "protocol", "status_code"):
        expect = {
            (key, None if r["member"] is None else str(r["member"])): r["cnt"]
            for r in views[key].collect()
        }
        got = {k: v for k, v in melted.items() if k[0] == key}
        assert got == expect, key


def test_melt_matches_counter_views_datetime_and_totals(spark, parsed):
    melted = _as_map(melted_counter_deltas(parsed, log_counter_specs()))
    views = counter_views(parsed)
    expect_dt = {
        ("datetime", r["second"].strftime("%Y-%m-%d %H:%M:%S")): r["cnt"]
        for r in views["datetime"].collect()
    }
    assert {k: v for k, v in melted.items() if k[0] == "datetime"} == expect_dt
    tot = views["totals"].collect()[0]
    assert melted[("totals", "line_cnt")] == tot["line_cnt"]
    # integral units in the melt; counter_views divides at aggregation
    assert melted[("totals", "size_bytes")] / 1024.0 == pytest.approx(
        tot["size_kb"]
    )
    assert melted[("totals", "traffic_bytes")] / 1048576.0 == pytest.approx(
        tot["traffic_mb"]
    )


def test_melt_single_scan_no_python(spark, parsed):
    """The whole-catalog delta job: ONE scan of the input, no Python
    eval nodes — the executed plan, not the logical one (r7 lesson)."""
    from tests.plan_utils import assert_no_python_eval, final_plan

    deltas = melted_counter_deltas(parsed, log_counter_specs())
    deltas.collect()
    plan = final_plan(deltas)
    assert_no_python_eval(plan)
    # exactly one leaf scan and one exchange (the single counter
    # shuffle, partial-aggregated map-side) for the ENTIRE 11-counter
    # catalog — the whole point of the melt
    assert plan.count("Scan ExistingRDD") == 1, plan
    assert plan.count("Exchange hashpartitioning") <= 1, plan
    assert "partial_sum" in plan, plan  # map-side combine before the shuffle


def test_streaming_multiplex_equals_batch(spark, tmp_path):
    """Redis-equivalence: N micro-batches merged into the KV store ≡ one
    batch melt over the concatenated input, through a real streaming
    query (one file per trigger)."""
    d = tmp_path / "logs"
    d.mkdir()
    for i, line in enumerate(LINES):
        (d / f"f{i}.log").write_text(line + "\n")
    stream = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", 1)
        .load(str(d))
    )
    store = KVCounterStore()
    specs = log_counter_specs()
    q = start_multiplexed_counter_sink(
        parse_access_log(stream),
        specs,
        store.merge,
        checkpoint_dir=str(tmp_path / "ckpt"),
        available_now=True,
    )
    try:
        assert q.awaitTermination(120), "multiplex sink did not drain"
    finally:
        # a failed drain must not leak an active query into the shared
        # session (review finding)
        if q.isActive:
            q.stop()
    assert store.high_water_batch_id >= 1, "expected multiple micro-batches"

    batch = parse_access_log(spark.read.text(str(d)))
    expect = _as_map(melted_counter_deltas(batch, specs))
    assert store.snapshot() == expect
    assert store.zscore("host", "10.0.0.1") == 2
    # zrange-all read path: NULL members are legal store state (the
    # method-only "PING" line parses url/protocol to NULL) and must not
    # crash the sort (the None < str TypeError the review reproduced)
    assert store.zscore("url", None) == 1
    out = store.to_df(spark)
    assert out.where(
        (F.col("counter") == "url") & F.col("member").isNull()
    ).collect()[0]["total"] == 1
    assert out.count() == len(expect)


def test_multiplex_checkpoint_recovery(spark, tmp_path):
    """Exactly-once across a kill/restart: half the corpus lands, the
    sink drains and STOPS; the other half lands; a NEW query restarts
    from the SAME checkpoint into the SAME store. The offset log must
    skip the committed files (no double count) and pick up only the
    new ones — the KV analog of stream_recovery_counts, plus the
    batch_id fence guarding any redelivered batch."""
    d = tmp_path / "rlogs"
    d.mkdir()
    half = len(LINES) // 2
    for i, line in enumerate(LINES[:half]):
        (d / f"f{i}.log").write_text(line + "\n")

    specs = log_counter_specs()
    store = KVCounterStore()
    ck = str(tmp_path / "rckpt")

    def _drain():
        q = start_multiplexed_counter_sink(
            parse_access_log(
                spark.readStream.format("text")
                .option("maxFilesPerTrigger", 1)
                .load(str(d))
            ),
            specs,
            store.merge,
            checkpoint_dir=ck,
            available_now=True,
        )
        try:
            assert q.awaitTermination(120), "did not drain"
        finally:
            if q.isActive:
                q.stop()

    _drain()
    after_half = store.zscore("totals", "line_cnt")
    assert after_half == half
    for i, line in enumerate(LINES[half:]):
        (d / f"g{i}.log").write_text(line + "\n")
    _drain()  # restart: same checkpoint, same store

    batch = parse_access_log(spark.read.text(str(d)))
    expect = _as_map(melted_counter_deltas(batch, specs))
    assert store.snapshot() == expect  # nothing lost, nothing doubled


def test_backfill_then_live_cutover(spark, tmp_path):
    """The archive→live cutover the module docstring promises: backfill
    the KV store with ONE batch melt over the archive (outside any
    fence domain — a checkpoint's batch_ids belong to the streaming
    writer only), then attach the live multiplexed stream over NEW
    files. The live query's batch ids start at 0 and must NOT be
    fenced by the backfill; final state ≡ one batch aggregation over
    archive + live together."""
    archive = tmp_path / "archive"
    live = tmp_path / "live"
    archive.mkdir()
    live.mkdir()
    half = len(LINES) // 2
    for i, line in enumerate(LINES[:half]):
        (archive / f"a{i}.log").write_text(line + "\n")
    for i, line in enumerate(LINES[half:]):
        (live / f"l{i}.log").write_text(line + "\n")

    specs = log_counter_specs()
    store = KVCounterStore()
    store.backfill(
        melted_counter_deltas(
            parse_access_log(spark.read.text(str(archive))), specs
        )
    )
    assert store.high_water_batch_id == -1  # fence untouched by backfill

    q = start_multiplexed_counter_sink(
        parse_access_log(
            spark.readStream.format("text")
            .option("maxFilesPerTrigger", 1)
            .load(str(live))
        ),
        specs,
        store.merge,
        checkpoint_dir=str(tmp_path / "bckpt"),
        available_now=True,
    )
    try:
        assert q.awaitTermination(120), "live sink did not drain"
    finally:
        if q.isActive:
            q.stop()
    assert store.high_water_batch_id >= 1  # live batches all applied

    both = parse_access_log(
        spark.read.text([str(archive), str(live)])
    )
    assert store.snapshot() == _as_map(melted_counter_deltas(both, specs))


def test_forced_second_tranche_after_live_stream(spark, tmp_path):
    """The one legitimate force=True use, driven END-TO-END through a
    real streaming query (the property test pins it over fakes): archive
    tranche 1 backfilled, the live stream attached and drained over its
    own directory, then a SECOND archive tranche — files the stream
    provably does not watch — force-backfilled late. Final state must
    equal ONE batch aggregation over all three corpora, and the fence
    must still read the live high-water mark (a forced backfill never
    touches it, so a later live restart from the same checkpoint stays
    correctly fenced)."""
    archive1 = tmp_path / "tranche1"
    live = tmp_path / "live"
    archive2 = tmp_path / "tranche2"
    for d in (archive1, live, archive2):
        d.mkdir()
    for i, line in enumerate(LINES[:2]):
        (archive1 / f"a{i}.log").write_text(line + "\n")
    for i, line in enumerate(LINES[2:5]):
        (live / f"l{i}.log").write_text(line + "\n")
    for i, line in enumerate(LINES[5:]):
        (archive2 / f"b{i}.log").write_text(line + "\n")

    specs = log_counter_specs()
    store = KVCounterStore()
    store.backfill(
        melted_counter_deltas(
            parse_access_log(spark.read.text(str(archive1))), specs
        )
    )

    q = start_multiplexed_counter_sink(
        parse_access_log(
            spark.readStream.format("text")
            .option("maxFilesPerTrigger", 1)
            .load(str(live))
        ),
        specs,
        store.merge,
        checkpoint_dir=str(tmp_path / "fckpt"),
        available_now=True,
    )
    try:
        assert q.awaitTermination(120), "live sink did not drain"
    finally:
        if q.isActive:
            q.stop()
    live_high_water = store.high_water_batch_id
    assert live_high_water >= 1

    # live has begun: the second tranche must be refused unforced...
    tranche2 = melted_counter_deltas(
        parse_access_log(spark.read.text(str(archive2))), specs
    )
    with pytest.raises(RuntimeError, match="BEFORE attaching"):
        store.backfill(tranche2)
    # ...and applied under the explicit override, leaving the fence alone
    store.backfill(tranche2, force=True)
    assert store.high_water_batch_id == live_high_water

    everything = parse_access_log(
        spark.read.text([str(archive1), str(live), str(archive2)])
    )
    assert store.snapshot() == _as_map(
        melted_counter_deltas(everything, specs)
    )


def test_backfill_refuses_after_live_merges(spark, parsed):
    """The cutover ORDER is enforced, not just documented (r9 verdict):
    once live merges have begun, an unfenced backfill of files the
    stream may also have read would silently double-count — backfill()
    must raise. force=True is the explicit operator override for a
    provably-disjoint late tranche, and applies without touching the
    fence."""
    specs = log_counter_specs()
    deltas = melted_counter_deltas(parsed, specs)
    store = KVCounterStore()
    store.merge(deltas, 0)  # live stream attached: merges have begun
    after_live = store.snapshot()
    with pytest.raises(RuntimeError, match="BEFORE attaching"):
        store.backfill(deltas)
    assert store.snapshot() == after_live  # refused atomically, no partial apply
    store.backfill(deltas, force=True)  # explicit override still works
    assert store.zscore("totals", "line_cnt") == 2 * after_live[
        ("totals", "line_cnt")
    ]
    assert store.high_water_batch_id == 0  # fence untouched either way


def test_fence_survives_engine_redelivery(spark, tmp_path):
    """THE production failure the fence exists for, driven through the
    REAL engine (not simulated merge calls): the KV write for batch 1
    succeeds but the sink hook dies BEFORE the checkpoint commit — the
    exact window where the reference's zincrby double-counts — so on
    restart Structured Streaming redelivers the SAME batch_id and the
    high-water fence must discard it while later batches proceed."""
    d = tmp_path / "xlogs"
    d.mkdir()
    for i, line in enumerate(LINES):
        (d / f"f{i}.log").write_text(line + "\n")

    specs = log_counter_specs()
    store = KVCounterStore()
    ck = str(tmp_path / "xckpt")
    crash_once = {"armed": True}
    delivered: list[int] = []

    def hook(deltas, batch_id):
        delivered.append(batch_id)
        store.merge(deltas, batch_id)  # KV write lands...
        if crash_once["armed"] and batch_id == 1:
            crash_once["armed"] = False
            # ...then the process dies before the offset-log commit
            raise RuntimeError("crash after KV write, before commit")

    def _run():
        return start_multiplexed_counter_sink(
            parse_access_log(
                spark.readStream.format("text")
                .option("maxFilesPerTrigger", 1)
                .load(str(d))
            ),
            specs,
            hook,
            checkpoint_dir=ck,
            available_now=True,
        )

    q = _run()
    with pytest.raises(Exception, match="crash after KV write"):
        q.awaitTermination(120)
    assert store.high_water_batch_id == 1  # batch 1 WAS applied

    q2 = _run()  # restart: engine redelivers batch 1 (uncommitted)
    try:
        assert q2.awaitTermination(120), "restarted sink did not drain"
    finally:
        if q2.isActive:
            q2.stop()

    # the engine really did redeliver batch 1 (else the fence assert
    # below would be vacuously true — batch 1 was applied pre-crash)
    assert delivered.count(1) == 2, delivered
    batch = parse_access_log(spark.read.text(str(d)))
    expect = _as_map(melted_counter_deltas(batch, specs))
    assert store.snapshot() == expect  # redelivery fenced, tail applied
    stats = store.stats()
    assert stats["merges_applied"] == len(set(delivered)) == len(LINES)
    assert stats["replays_fenced"] == 1


def test_zrevrange_board_read(spark, parsed):
    """The zrevrange top-k board read over accumulated state: ordered by
    total desc, deterministic tie-break on member, NULL member last."""
    store = KVCounterStore()
    store.merge(melted_counter_deltas(parsed, log_counter_specs()), 0)
    hosts = store.zrevrange("host", 2)
    assert hosts == [("10.0.0.1", 2), ("10.0.0.2", 2)]  # tie -> member asc
    urls = store.zrevrange("url", 10)
    assert urls[0] == ("/a", 3)
    assert urls[-1] == (None, 1)  # NULL member sorts last within ties
    assert store.zrevrange("nope", 3) == []


def test_replay_fence(spark, parsed):
    store = KVCounterStore()
    deltas = melted_counter_deltas(parsed, log_counter_specs())
    store.merge(deltas, 0)
    once = store.snapshot()
    store.merge(deltas, 0)  # replayed batch: must be a no-op
    assert store.snapshot() == once
    store.merge(deltas, 1)  # a NEW batch id merges additively
    assert store.zscore("totals", "line_cnt") == 2 * once[
        ("totals", "line_cnt")
    ]
    twice = store.snapshot()
    store.merge(deltas, 0)  # id BELOW the high-water mark: also fenced
    assert store.snapshot() == twice
    assert store.high_water_batch_id == 1


def test_store_stats_count_merges_replays_and_backfills(spark, parsed):
    """stats() counts exactly what the write path did: a backfill, two
    applied merges, a forced redelivery of the same batch_id and one id
    below the fence (both dropped), and a refused backfill (not
    counted)."""
    deltas = melted_counter_deltas(parsed, log_counter_specs())
    n_rows = deltas.count()
    store = KVCounterStore()
    assert store.stats() == {
        "merges_applied": 0,
        "replays_fenced": 0,
        "rows_merged": 0,
        "backfills": 0,
    }
    store.backfill(deltas)
    store.merge(deltas, 0)
    store.merge(deltas, 0)  # forced redelivery of batch 0
    store.merge(deltas, 1)
    store.merge(deltas, 0)  # below the high-water mark
    with pytest.raises(RuntimeError):
        store.backfill(deltas)
    assert store.stats() == {
        "merges_applied": 2,
        "replays_fenced": 2,
        "rows_merged": 2 * n_rows,
        "backfills": 1,
    }
    # a restored store counts its own writes only
    assert KVCounterStore.restore(*store.persist_state()).stats() == {
        "merges_applied": 0,
        "replays_fenced": 0,
        "rows_merged": 0,
        "backfills": 0,
    }


def test_store_stats_consistent_under_concurrent_merges():
    """Racing writers with overlapping batch_ids: every merge call is
    counted exactly once, as applied or as fenced, and the row count
    matches the applied merges (a lost update would break either)."""
    import sys
    import threading

    store = KVCounterStore()
    calls_per_thread, n_threads = 200, 8
    barrier = threading.Barrier(n_threads)

    def _writer():
        barrier.wait()
        for batch_id in range(calls_per_thread):
            store.merge(_StubDeltas(), batch_id)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=_writer) for _ in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    stats = store.stats()
    assert stats["merges_applied"] + stats["replays_fenced"] == (
        calls_per_thread * n_threads
    )
    assert stats["rows_merged"] == stats["merges_applied"]
    assert store.zscore("totals", "line_cnt") == stats["merges_applied"]
    assert store.high_water_batch_id == calls_per_thread - 1


@pytest.mark.parametrize("failing_batch", [0, 3], ids=["first", "later"])
def test_merge_crash_in_collect_leaves_store_unchanged(failing_batch):
    """The crash window between merge()'s fence check and the fence
    advance: the delta job dies inside ``collect()``. The store must be
    exactly as before the call (no totals, no fence move, no stats), the
    engine's redelivery of that batch_id must then apply exactly once,
    and an unforced backfill must already be refused — merge raised the
    live-begun flag before the collect, so this holds even when the
    failing batch was the first and the high-water mark is still -1."""
    store = KVCounterStore()
    for batch_id in range(failing_batch):
        store.merge(_StubDeltas(1), batch_id)
    before = (store.high_water_batch_id, store.snapshot(), store.stats())

    with pytest.raises(RuntimeError, match="executor lost"):
        store.merge(_StubDeltas(None), failing_batch)
    assert (
        store.high_water_batch_id, store.snapshot(), store.stats()
    ) == before
    with pytest.raises(RuntimeError, match="live merges have begun"):
        store.backfill(_StubDeltas(100))

    store.merge(_StubDeltas(5), failing_batch)  # the engine's redelivery
    store.merge(_StubDeltas(5), failing_batch)  # a second redelivery: fenced
    assert store.high_water_batch_id == failing_batch
    assert store.zscore("totals", "line_cnt") == failing_batch + 5
    assert store.stats() == {
        "merges_applied": failing_batch + 1,
        "replays_fenced": 1,
        "rows_merged": failing_batch + 1,
        "backfills": 0,
    }
