"""The driver parses bench.py's headline JSON from the LAST 2000 chars
of stdout — a line that outgrows that window records parsed=null. Pin
the budget with BOTH bounds the line must respect:

- the HARD window (2000 chars): a line built from every benched query
  name at fully pessimistic value widths (9999.9999 s per query — wider
  than the 1800 s child timeout allows a query to reach) must fit, or
  a run's numbers silently void;
- the SOFT budget (1900 chars, where bench.py warns on stderr): the
  same line at realistic-worst widths (999.9999 s per query — the
  whole core set runs in ~8 s at sf0.1, and a 17-minute single query
  already means the run is broken) must stay under it.

The line comes from bench._headline_line, the same function main()
prints, so the simulated key set cannot drift from the real one.
"""

import json

import bench

KEYS = [
    "metric", "value", "unit", "queries",
    "new_total", "r4_total", "r5_total", "r6_total", "r7_total",
    "sf", "parse_rows_per_sec", "parse_rows_per_sec_4m", "isolated_jvms",
    "calib_sec", "calib_sec_mt", "qmin_sidecar", "min_totals",
]


def _line(query_sec: float) -> str:
    names = bench.CORE + bench.NEW + bench.R4 + bench.R5 + bench.R6 + bench.R7
    assert len(names) == len(set(names)), "duplicate bench entries"
    return bench._headline_line(
        value=9999.9999,
        queries={n: query_sec for n in names},
        new_total=9999.9999,
        r4_total=9999.9999,
        r5_total=9999.9999,
        r6_total=9999.9999,
        r7_total=9999.9999,
        sf=0.1,
        parse_rows_per_sec=9_999_999,
        parse_rows_per_sec_4m=9_999_999,
        isolated_jvms=True,
        calib_sec=9999.9999,
        calib_sec_mt=9999.9999,
        min_totals={
            s: 9999.9999 for s in ("core", "new", "r4", "r5", "r6", "r7")
        },
    )


def test_headline_json_line_keeps_its_key_set():
    assert list(json.loads(_line(1.0))) == KEYS


def test_headline_json_line_fits_driver_tail_window():
    pessimistic = len(_line(9999.9999))
    assert pessimistic < 2000, (
        f"bench JSON line can overflow the driver's 2000-char stdout "
        f"tail: {pessimistic} — a run would record parsed=null"
    )
    realistic = len(_line(999.9999))
    assert realistic < 1900, (
        f"bench JSON line soft budget blown: {realistic} — trim the "
        f"line or displace an entry before adding to it"
    )
