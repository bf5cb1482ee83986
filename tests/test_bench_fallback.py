"""Wiring tests for bench.main()'s two assembly paths.

main() is the one code path the suite never executed end-to-end (it
spawns five JVMs), and it has produced three ADVICE/review findings
across rounds — the stitched per-metric parse max (r11), the
truthiness winner filter that treated 0 rows/s as missing (r12), and
the assert that would abort instead of falling back (r12). Every heavy
piece is stubbable, so these tests pin the wiring itself: which child's
figures land on which line key, how the fallback engages, and what the
sidecar records. The sidecar write is redirected to tmp_path — the repo
root's committed BENCH_DETAIL.json is round evidence and must not be
overwritten by a unit test.
"""

import json
import sys

import pytest

import bench


class _FakeSpark:
    def stop(self):
        pass


def _stub_engine(monkeypatch, tmp_path):
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", str(tmp_path / "sf0.1"))
    monkeypatch.setattr(sys, "argv", ["bench.py"])
    monkeypatch.setattr(bench, "_get_spark", lambda: _FakeSpark())
    monkeypatch.setattr(bench, "_warm_up", lambda spark, sf_dir: 0.1)
    monkeypatch.setattr(
        bench, "_time_set",
        lambda spark, sf_dir, names: {n: 0.5 for n in names},
    )
    monkeypatch.setattr(
        bench, "_bench_parse_throughput",
        lambda spark, n_rows=400_000: 0,  # 0 rows/s: legitimate, not missing
    )
    monkeypatch.setattr(bench, "_calibrate", lambda iters=10_000_000: 0.9)
    monkeypatch.setattr(
        bench, "_calibrate_mt",
        lambda iters=10_000_000, workers=None: 1.0,
    )
    # redirect the sidecar via bench's own helper, not os.path.dirname
    # process-wide (r13 ADVICE: patching the shared os module only
    # worked because every heavy piece was stubbed)
    monkeypatch.setattr(
        bench, "_sidecar_path",
        lambda: str(tmp_path / "BENCH_DETAIL.json"),
    )


def _last_json_line(capsys):
    out = capsys.readouterr().out.strip().splitlines()
    return json.loads([l for l in out if l.startswith("{")][-1])


def test_no_parse_metric_routes_into_single_jvm_fallback(
    monkeypatch, tmp_path, capsys
):
    """Both parse children returning without the primary metric must
    raise RuntimeError (not assert — stripped under -O) and land in the
    except tuple, producing the single-JVM fallback line, never an
    abort (r12 ADVICE)."""
    _stub_engine(monkeypatch, tmp_path)
    monkeypatch.setattr(bench, "_spawn", lambda which, sf_dir: {})

    bench.main()
    line = _last_json_line(capsys)
    assert line["isolated_jvms"] is False
    assert line["qmin_sidecar"] is False
    assert line["min_totals"] is None
    # the fallback measures its own calib and treats 0 rows/s as a value
    assert line["calib_sec"] == 0.9
    assert line["parse_rows_per_sec"] == 0
    assert line["value"] == round(0.5 * len(bench.CORE), 4)

    detail = json.loads((tmp_path / "BENCH_DETAIL.json").read_text())
    assert detail["calib_secs"] == {"single_jvm": 0.9}
    assert detail["queries_min"] is None
    assert detail["parse_jvm_passes"] is None
    assert detail["calib_retry"] is None  # no retry path in the fallback
    assert detail["python"] == sys.version  # interpreter-drift audit key


def test_isolated_path_wires_each_child_to_its_line_keys(
    monkeypatch, tmp_path, capsys
):
    """The success path: winner-JVM parse pair is coherent (both
    figures from the JVM with the higher primary — including a 0-value
    primary being PRESENT, r12 ADVICE), the line's calib_sec is the
    CORE child's, qmin is the per-query min over both in-JVM passes,
    and the sidecar records every child's calib."""
    _stub_engine(monkeypatch, tmp_path)

    def fake_spawn(which, sf_dir):
        if which == "parse":
            # first call wins on the primary; second is the 0-valued
            # pass that the truthiness filter used to drop
            fake_spawn.parse_calls += 1
            if fake_spawn.parse_calls == 1:
                return {
                    "parse_rows_per_sec": 100,
                    "parse_rows_per_sec_4m": 7,
                    "calib_sec": 1.1,
                }
            return {
                "parse_rows_per_sec": 0,
                "parse_rows_per_sec_4m": 999,  # must NOT be stitched in
                "calib_sec": 1.2,
            }
        names = {
            "core": bench.CORE,
            "new": bench.NEW,
            "r4": bench.R4 + bench.R5 + bench.R6 + bench.R7,
        }[which]
        base = {"core": 0.4, "new": 0.6, "r4": 0.8}[which]
        return {
            "queries": {n: base for n in names},
            "queries_pass2": {n: base / 2 for n in names},
            "shingle_cache_build_sec": 0.05,
            "calib_sec": {"core": 0.91, "new": 0.92, "r4": 0.93}[which],
        }

    fake_spawn.parse_calls = 0
    monkeypatch.setattr(bench, "_spawn", fake_spawn)

    bench.main()
    line = _last_json_line(capsys)
    assert line["isolated_jvms"] is True
    # coherent winner pair: both metrics from JVM 1, no per-metric max
    assert line["parse_rows_per_sec"] == 100
    assert line["parse_rows_per_sec_4m"] == 7
    # the line's calib is the CORE child's, not parse/new/r4's
    assert line["calib_sec"] == 0.91
    assert line["qmin_sidecar"] is True
    # min over both in-JVM passes: pass2 is half of pass1 here
    assert line["min_totals"]["core"] == round(0.2 * len(bench.CORE), 4)
    assert line["value"] == round(0.4 * len(bench.CORE), 4)

    detail = json.loads((tmp_path / "BENCH_DETAIL.json").read_text())
    assert detail["calib_secs"] == {"core": 0.91, "new": 0.92, "r4": 0.93}
    assert [p["calib_sec"] for p in detail["parse_jvm_passes"]] == [1.1, 1.2]
    assert detail["queries_min"]["q1_pricing_summary"] == 0.2
    # calibs within 1.15x of the floor: the retry gate must NOT fire
    assert detail["calib_retry"] is None
    # the sidecar is output only: no key a later run would read back
    assert set(detail) == {
        "queries_pass2", "queries_min", "sf", "isolated_jvms",
        "shingle_cache_build_sec", "shingle_cache_build_sec_per_child",
        "calib_secs", "calib_mt_secs", "cold", "sys_pct",
        "sys_storm_children", "calib_mt_workers", "calib_retry",
        "python", "parse_jvm_passes",
    }


def test_zero_rows_per_sec_parse_pass_is_not_missing(
    monkeypatch, tmp_path, capsys
):
    """Both parse JVMs legitimately reporting 0 rows/s must publish 0,
    not trip the no-metric guard into the fallback (the exact r12
    ADVICE distinction: absent vs zero)."""
    _stub_engine(monkeypatch, tmp_path)

    def fake_spawn(which, sf_dir):
        if which == "parse":
            return {
                "parse_rows_per_sec": 0,
                "parse_rows_per_sec_4m": 0,
                "calib_sec": 1.0,
            }
        names = {
            "core": bench.CORE,
            "new": bench.NEW,
            "r4": bench.R4 + bench.R5 + bench.R6 + bench.R7,
        }[which]
        return {
            "queries": {n: 0.5 for n in names},
            "queries_pass2": {n: 0.5 for n in names},
            "shingle_cache_build_sec": None,
            "calib_sec": 0.9,
        }

    monkeypatch.setattr(bench, "_spawn", fake_spawn)
    bench.main()
    line = _last_json_line(capsys)
    assert line["isolated_jvms"] is True  # no fallback engaged
    assert line["parse_rows_per_sec"] == 0


def _retry_spawn(monkeypatch, calibs, retry_result, calibs_mt=None):
    """fake _spawn: parse children are flat; each query child reports
    the given calib (and, when ``calibs_mt`` is given, the N-process
    companion reading) with pass1=1.0 / pass2=0.9 per query; a SECOND
    spawn of the same child returns ``retry_result`` (or raises it).
    Records every (which) call for spawn-count assertions."""
    names_of = {
        "core": bench.CORE,
        "new": bench.NEW,
        "r4": bench.R4 + bench.R5 + bench.R6 + bench.R7,
    }

    calls = []

    def fake_spawn(which, sf_dir):
        calls.append(which)
        if which == "parse":
            return {"parse_rows_per_sec": 100,
                    "parse_rows_per_sec_4m": 7, "calib_sec": 1.0}
        if calls.count(which) > 1:  # the respawn
            if isinstance(retry_result, Exception):
                raise retry_result
            return retry_result(which)
        out = {
            "queries": {n: 1.0 for n in names_of[which]},
            "queries_pass2": {n: 0.9 for n in names_of[which]},
            "shingle_cache_build_sec": 0.05,
            "calib_sec": calibs[which],
        }
        if calibs_mt is not None:
            out["calib_sec_mt"] = calibs_mt[which]
        return out

    monkeypatch.setattr(bench, "_spawn", fake_spawn)
    return calls


def test_inflated_calib_respawns_worst_child_once_and_merges_mins(
    monkeypatch, tmp_path, capsys
):
    """A child whose calib exceeds 1.15x the round's fastest child ran
    in a slower box window that min-of-two-passes-in-one-JVM cannot
    defend against (r13: the r4 child read 1.28 vs the core child's
    0.946 and both its passes sat inside the window). The gate must
    respawn exactly that child once, fold the respawn's per-query mins
    into queries_min/min_totals, keep the ORIGINAL pass-1 map on the
    line (round-over-round comparability), and record the whole retry
    in the sidecar (r13 verdict item 2)."""
    _stub_engine(monkeypatch, tmp_path)

    def retry_result(which):
        names = bench.R4 + bench.R5 + bench.R6 + bench.R7
        return {
            "queries": {n: 0.5 for n in names},
            "queries_pass2": {n: 0.6 for n in names},
            "shingle_cache_build_sec": 0.05,
            "calib_sec": 0.91,
        }

    calls = _retry_spawn(
        monkeypatch,
        {"core": 0.90, "new": 0.92, "r4": 1.30},  # 1.30/0.90 = 1.44 > 1.15
        retry_result,
    )

    bench.main()
    line = _last_json_line(capsys)
    assert line["isolated_jvms"] is True
    # exactly one extra JVM, and it is the worst child
    assert calls.count("r4") == 2
    assert calls.count("core") == 1 and calls.count("new") == 1
    # line pass-1 figures stay the ORIGINAL child's (comparability)...
    assert line["queries"]["mm_decode_real"] == 1.0
    assert line["r4_total"] == round(1.0 * len(bench.R4), 4)
    # ...while the stable min comparator absorbs the respawn's mins
    assert line["min_totals"]["r4"] == round(0.5 * len(bench.R4), 4)
    assert line["min_totals"]["core"] == round(0.9 * len(bench.CORE), 4)

    detail = json.loads((tmp_path / "BENCH_DETAIL.json").read_text())
    assert detail["queries_min"]["mm_decode_real"] == 0.5
    assert detail["queries_min"]["q1_pricing_summary"] == 0.9
    retry = detail["calib_retry"]
    assert retry["child"] == "r4"
    assert retry["calib_sec_first"] == 1.30
    assert retry["calib_floor"] == 0.90
    assert retry["calib_sec_retry"] == 0.91
    assert retry["queries"]["mm_decode_real"] == 0.5


def test_retry_targets_only_the_single_worst_child(
    monkeypatch, tmp_path, capsys
):
    """Two children over the gate: still at most ONE respawn — the
    worst offender — so the bound stays +1 JVM per round."""
    _stub_engine(monkeypatch, tmp_path)
    calls = _retry_spawn(
        monkeypatch,
        {"core": 1.50, "new": 1.40, "r4": 0.90},
        lambda which: {
            "queries": {n: 0.5 for n in bench.CORE},
            "queries_pass2": {n: 0.5 for n in bench.CORE},
            "shingle_cache_build_sec": 0.05,
            "calib_sec": 0.91,
        },
    )
    bench.main()
    line = _last_json_line(capsys)
    assert calls.count("core") == 2  # the worst
    assert calls.count("new") == 1  # over the gate but not the worst
    assert calls.count("r4") == 1
    assert line["min_totals"]["core"] == round(0.5 * len(bench.CORE), 4)
    detail = json.loads((tmp_path / "BENCH_DETAIL.json").read_text())
    assert detail["calib_retry"]["child"] == "core"


@pytest.mark.parametrize(
    "calibs, note",
    [
        ({"core": 0.90, "new": 0.92, "r4": None}, "missing calib for r4"),
        # corrupt probe values (zero, bool) count as missing too
        ({"core": 0.95, "new": 0.0, "r4": True},
         "missing calib for new,r4"),
    ],
    ids=["none", "zero_and_bool"],
)
def test_missing_child_calib_is_recorded_not_silently_ungated(
    monkeypatch, tmp_path, capsys, calibs, note
):
    """A child that reports no usable calib_sec (None, or a corrupt 0 or
    bool that _calib_ok rejects) escapes the ratio gate by
    construction; it must trigger nothing and the sidecar must say so
    (r14 ADVICE: a null probe reading was invisible in the round's
    evidence)."""
    _stub_engine(monkeypatch, tmp_path)
    calls = _retry_spawn(
        monkeypatch, calibs, RuntimeError("must not be spawned")
    )
    bench.main()
    # no retry — nothing usable to compare
    assert [calls.count(k) for k in ("core", "new", "r4")] == [1, 1, 1]
    detail = json.loads((tmp_path / "BENCH_DETAIL.json").read_text())
    assert detail["calib_retry"] == {"skipped": note}


def test_missing_calib_rides_alongside_a_fired_retry(
    monkeypatch, tmp_path, capsys
):
    """When the gate DOES fire and another child's calib is missing,
    both facts land in the same sidecar record."""
    _stub_engine(monkeypatch, tmp_path)

    def retry_result(which):
        names = bench.R4 + bench.R5 + bench.R6 + bench.R7
        return {
            "queries": {n: 0.5 for n in names},
            "queries_pass2": {n: 0.5 for n in names},
            "shingle_cache_build_sec": 0.05,
            "calib_sec": 0.91,
        }

    _retry_spawn(
        monkeypatch,
        {"core": 0.90, "new": None, "r4": 1.30},
        retry_result,
    )
    bench.main()
    detail = json.loads((tmp_path / "BENCH_DETAIL.json").read_text())
    retry = detail["calib_retry"]
    assert retry["child"] == "r4"
    assert retry["trigger"] == ["same_round"]
    assert retry["missing_calib"] == ["new"]


@pytest.mark.parametrize(
    "doc",
    [
        "[]",  # valid JSON, wrong shape: a list
        '"x"',  # a bare string
        '{"python": null}',  # no interpreter match
        None,  # placeholder: filled per-case below with sys.version
        # well-formed, this interpreter, a healthy floor every child
        # below reads >1.35x over
        pytest.param(
            json.dumps(
                {
                    "python": sys.version,
                    "calib_secs": {"core": 0.90, "new": 0.95, "r4": 0.93},
                }
            ),
            id="well_formed",
        ),
    ],
)
def test_wrong_shape_prior_sidecar_disables_anchor_not_the_bench(
    monkeypatch, tmp_path, capsys, doc
):
    """A BENCH_DETAIL.json left by an earlier run is output only, never
    an input: whatever its shape — a list, a scalar, calib_secs not a
    dict, or a well-formed sidecar from this interpreter with a healthier
    floor — the run neither raises on it nor respawns a child over it.
    The retry gate compares only the children of the same run."""
    _stub_engine(monkeypatch, tmp_path)
    if doc is None:
        doc = json.dumps(
            {
                "python": sys.version,
                "calib_secs": [1, 2],  # not a dict
                "calib_retry": "yes",  # not a dict
            }
        )
    (tmp_path / "BENCH_DETAIL.json").write_text(doc)
    calls = _retry_spawn(
        monkeypatch,
        {"core": 1.30, "new": 1.25, "r4": 1.22},  # uniform inflation
        RuntimeError("must not be spawned"),
    )
    bench.main()  # must not raise
    line = _last_json_line(capsys)
    assert line["isolated_jvms"] is True
    # only the same-round gate, which uniform inflation keeps quiet
    assert [calls.count(k) for k in ("core", "new", "r4")] == [1, 1, 1]
    detail = json.loads((tmp_path / "BENCH_DETAIL.json").read_text())
    assert detail["calib_retry"] is None


def test_retry_spawn_failure_keeps_original_figures(
    monkeypatch, tmp_path, capsys
):
    """The respawn dying must NOT route into the single-JVM fallback —
    a full result already exists. Original figures publish; the sidecar
    records the trigger calibs plus the error."""
    _stub_engine(monkeypatch, tmp_path)
    _retry_spawn(
        monkeypatch,
        {"core": 0.90, "new": 0.92, "r4": 1.30},
        RuntimeError("respawn died"),
    )
    bench.main()
    line = _last_json_line(capsys)
    assert line["isolated_jvms"] is True  # no fallback
    assert line["min_totals"]["r4"] == round(
        0.9 * len(bench.R4), 4
    )  # original passes' min
    detail = json.loads((tmp_path / "BENCH_DETAIL.json").read_text())
    retry = detail["calib_retry"]
    assert retry["child"] == "r4"
    assert "respawn died" in retry["error"]
    assert "calib_sec_retry" not in retry


def test_mt_probe_fires_retry_when_single_thread_probe_reads_healthy(
    monkeypatch, tmp_path, capsys
):
    """The r15 blind spot, stubbed exactly (r15 verdict item 2): every
    child's 1-THREAD probe reads healthy and tight (0.90-0.92, inside
    1.15x of the same-round floor) — the configuration that let r15's
    "new" child publish ~1.5-2.7x-inflated mins while probing 1.166.
    The N-PROCESS companion sees what the 32-thread stages see: the new
    child reads 1.60 vs the same-round mt floor 0.95. The retry must
    fire on exactly that child, record BOTH probes and the mt trigger,
    and fold the respawn in."""
    _stub_engine(monkeypatch, tmp_path)

    def retry_result(which):
        return {
            "queries": {n: 0.4 for n in bench.NEW},
            "queries_pass2": {n: 0.4 for n in bench.NEW},
            "shingle_cache_build_sec": 0.05,
            "calib_sec": 0.90,
            "calib_sec_mt": 0.95,
        }

    calls = _retry_spawn(
        monkeypatch,
        {"core": 0.90, "new": 0.91, "r4": 0.92},  # 1-thread: all healthy
        retry_result,
        calibs_mt={"core": 0.95, "new": 1.60, "r4": 0.97},
    )
    bench.main()
    assert calls.count("new") == 2  # fired despite a healthy 1-thread probe
    assert calls.count("core") == 1 and calls.count("r4") == 1

    detail = json.loads((tmp_path / "BENCH_DETAIL.json").read_text())
    # both probes recorded per child
    assert detail["calib_secs"] == {"core": 0.90, "new": 0.91, "r4": 0.92}
    assert detail["calib_mt_secs"] == {
        "core": 0.95, "new": 1.60, "r4": 0.97,
    }
    retry = detail["calib_retry"]
    assert retry["child"] == "new"
    assert retry["calib_sec_first"] == 0.91  # the healthy-looking probe
    assert retry["calib_sec_mt_first"] == 1.60  # the one that saw the load
    assert retry["calib_floor_mt"] == 0.95
    # only the mt gate tripped — the 1-thread gate stayed silent
    assert retry["trigger"] == ["same_round_mt"]
    assert retry["calib_sec_retry"] == 0.90
    assert retry["calib_sec_mt_retry"] == 0.95
    # the respawn's mins folded in as usual
    assert detail["queries_min"]["a11_value_sum_faithful"] == 0.4
    # the line carries the CORE child's mt reading
    line = _last_json_line(capsys)
    assert line["calib_sec_mt"] == 0.95


def test_mt_readings_absent_keep_the_single_thread_gate_intact(
    monkeypatch, tmp_path, capsys
):
    """Children that report no mt reading (probe returned null — e.g. a
    sandbox without multiprocessing) must leave the 1-thread gate
    exactly as before and record the nulls in the sidecar, never a
    spurious trigger off an empty mt floor."""
    _stub_engine(monkeypatch, tmp_path)
    calls = _retry_spawn(
        monkeypatch,
        {"core": 0.90, "new": 0.92, "r4": 1.30},  # st gate fires on r4
        lambda which: {
            "queries": {n: 0.5 for n in bench.R4 + bench.R5
                        + bench.R6 + bench.R7},
            "queries_pass2": {n: 0.5 for n in bench.R4 + bench.R5
                              + bench.R6 + bench.R7},
            "shingle_cache_build_sec": 0.05,
            "calib_sec": 0.91,
        },
    )
    bench.main()
    assert calls.count("r4") == 2
    detail = json.loads((tmp_path / "BENCH_DETAIL.json").read_text())
    assert detail["calib_mt_secs"] == {
        "core": None, "new": None, "r4": None,
    }
    assert detail["calib_retry"]["trigger"] == ["same_round"]
    assert _last_json_line(capsys)["calib_sec_mt"] is None


def test_glitch_readings_rejected_by_calib_ok_everywhere():
    """A timer-glitch reading below _CALIB_SANITY_MIN must be unusable:
    accepted, it would become the run's floor and make every healthy
    child look over the retry ratio (r17 review)."""
    assert not bench._calib_ok(0.2)
    assert not bench._calib_ok(bench._CALIB_SANITY_MIN / 2)
    assert bench._calib_ok(bench._CALIB_SANITY_MIN)
    assert bench._calib_ok(1.08)


def test_calibrate_mt_smoke():
    """The real N-process probe returns a positive wall time on this
    platform (fork-capable Linux) at a tiny fixed work size."""
    sec = bench._calibrate_mt(iters=50_000, workers=2)
    assert isinstance(sec, float) and sec > 0


if __name__ == "__main__":  # pragma: no cover
    pytest.main([__file__, "-q"])
