"""The record-only /proc/stat sys% storm flag (r17 verdict item 2).

Kernel sys-time storms inflate identical plans 30-56% on this box
while BOTH spin probes read healthy (spins don't allocate —
experiments/measure_shuffle_sys_storms.py), so bench brackets every
child JVM with a /proc/stat snapshot and records the kernel share of
the window in the sidecar. Strictly evidence: these tests also pin
that NO gate, retry, or line key consumes the readings.
"""

import json
import types

import bench
from tests.test_bench_fallback import _stub_engine, _last_json_line


def test_sys_pct_between_is_the_storm_campaign_formula():
    """system-jiffies share of the window, the exact formula
    measure_shuffle_sys_storms.py published its quiet/storm bands
    with — sidecar readings must compare against those directly."""
    before = [0, 0, 0, 0]
    after = [70, 0, 30, 100]  # user nice system idle
    assert bench._sys_pct_between(before, after) == 15.0
    # degenerate windows degrade to None, never divide-by-zero
    assert bench._sys_pct_between(before, before) is None
    assert bench._sys_pct_between(None, after) is None
    assert bench._sys_pct_between(before, None) is None
    # truncated snapshot (no system field) is unusable
    assert bench._sys_pct_between([1, 2], [5, 6]) is None

def test_spawn_attaches_parent_measured_sys_pct(monkeypatch):
    """_spawn brackets the child with /proc/stat and attaches the
    kernel share to the child's parsed result; a box without
    /proc/stat (snapshot None) attaches nothing rather than a null."""
    snaps = iter([[0, 0, 0, 0], [50, 0, 50, 100]])
    monkeypatch.setattr(
        bench, "_proc_cpu_jiffies", lambda: next(snaps, None)
    )
    monkeypatch.setattr(
        bench.subprocess, "run",
        lambda *a, **k: types.SimpleNamespace(
            stdout='{"calib_sec": 1.0}\n', stderr="", returncode=0
        ),
    )
    out = bench._spawn("core", "/nonexistent")
    assert out["calib_sec"] == 1.0
    assert out["sys_pct"] == 25.0

    monkeypatch.setattr(bench, "_proc_cpu_jiffies", lambda: None)
    out = bench._spawn("core", "/nonexistent")
    assert "sys_pct" not in out

def test_sidecar_records_sys_pct_and_flags_storm_child(
    monkeypatch, tmp_path, capsys
):
    """The sidecar carries every child's sys% plus a visible
    sys_storm_children list for readings at/over the 25% band split;
    the printed line carries NEITHER (record-only — the driver's
    2000-char tail and the no-new-gating scope both forbid it), and
    the calib retry gate stays quiet regardless of storm readings."""
    _stub_engine(monkeypatch, tmp_path)

    def fake_spawn(which, sf_dir):
        if which == "parse":
            return {
                "parse_rows_per_sec": 100,
                "parse_rows_per_sec_4m": 7,
                "calib_sec": 0.9,
                "sys_pct": 4.2,
            }
        names = {
            "core": bench.CORE,
            "new": bench.NEW,
            "r4": bench.R4 + bench.R5 + bench.R6 + bench.R7,
        }[which]
        return {
            "queries": {n: 0.5 for n in names},
            "queries_pass2": {n: 0.25 for n in names},
            "shingle_cache_build_sec": 0.05,
            "calib_sec": 0.9,
            "calib_sec_mt": 1.5,
            # core child ran inside a storm window; others quiet
            "sys_pct": {"core": 41.7, "new": 3.9, "r4": 11.0}[which],
        }

    monkeypatch.setattr(bench, "_spawn", fake_spawn)
    bench.main()

    detail = json.loads((tmp_path / "BENCH_DETAIL.json").read_text())
    assert detail["sys_pct"] == {
        "core": 41.7, "new": 3.9, "r4": 11.0,
        "parse1": 4.2, "parse2": 4.2,
    }
    assert detail["sys_storm_children"] == ["core"]
    # record-only: a 41.7% storm reading must not have tripped the
    # calib retry (identical healthy calibs everywhere)
    assert detail["calib_retry"] is None
    line = _last_json_line(capsys)
    assert "sys_pct" not in line
    assert "sys_storm_children" not in line

def test_quiet_round_flags_nothing(monkeypatch, tmp_path, capsys):
    """All-quiet children produce an empty flag (null, matching the
    sidecar's null-means-nothing-to-report convention)."""
    _stub_engine(monkeypatch, tmp_path)

    def fake_spawn(which, sf_dir):
        if which == "parse":
            return {"parse_rows_per_sec": 100,
                    "parse_rows_per_sec_4m": 7, "calib_sec": 0.9}
        names = {
            "core": bench.CORE,
            "new": bench.NEW,
            "r4": bench.R4 + bench.R5 + bench.R6 + bench.R7,
        }[which]
        return {
            "queries": {n: 0.5 for n in names},
            "queries_pass2": {n: 0.25 for n in names},
            "calib_sec": 0.9,
            "sys_pct": 5.0,
        }

    monkeypatch.setattr(bench, "_spawn", fake_spawn)
    bench.main()
    detail = json.loads((tmp_path / "BENCH_DETAIL.json").read_text())
    assert detail["sys_storm_children"] is None
    assert detail["sys_pct"]["core"] == 5.0
    # parse children without the bracket (e.g. stubbed/non-Linux)
    # record null, not a crash
    assert detail["sys_pct"]["parse1"] is None

def test_sub_floor_calib_reading_warns_visibly_once(
    monkeypatch, capsys
):
    """r17 ADVICE: a positive reading under _CALIB_SANITY_MIN is how a
    genuinely-fast box looks — discarding it silently disables the
    retry gate with no signal. One stderr warning per process, pointing
    at the spin size; zero/negative/bool garbage stays silent (that's
    corruption, not speed)."""
    monkeypatch.setattr(bench, "_SUB_FLOOR_WARNED", False)
    assert bench._calib_ok(0.2) is False
    assert "resize the spin" in capsys.readouterr().err
    # latched: a second sub-floor reading does not spam
    assert bench._calib_ok(0.3) is False
    assert capsys.readouterr().err == ""
    # corrupt readings never warn
    monkeypatch.setattr(bench, "_SUB_FLOOR_WARNED", False)
    assert bench._calib_ok(0) is False
    assert bench._calib_ok(-1.0) is False
    assert bench._calib_ok(True) is False
    assert capsys.readouterr().err == ""
    # healthy reading unaffected
    assert bench._calib_ok(0.9) is True
