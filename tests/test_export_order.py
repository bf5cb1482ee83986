"""The driver-export ordering contract: `queries()`/`oracle_sql()` list
(1) entries the external checker has never sampled (no key in any
CORRECTNESS_r*.json at the repo root), then (2) entries whose latest
driver row was not green, then (3) green entries rotated stalest-first —
keeping every registered entry exactly once and names aligned with their
oracles. The mechanism both accumulates driver-green coverage under a
bounded per-round sample AND keeps re-surfacing old rows for re-checks
(no entry is pinned out of the sampled prefix indefinitely)."""

from __future__ import annotations

import glob
import json
import os
import re

from logvision_spark import catalog

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _reports() -> dict[int, dict]:
    out = {}
    for path in glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json")):
        rnd = int(re.search(r"r(\d+)", os.path.basename(path)).group(1))
        with open(path) as f:
            out[rnd] = json.load(f)
    return out


def _history() -> dict[str, tuple[int, bool]]:
    hist: dict[str, tuple[int, bool]] = {}
    for rnd in sorted(_reports()):
        for name, row in _reports()[rnd].items():
            green = row.get("err") is None and not any(
                row.get(k) is False
                for k in ("rows_match", "schema_match", "hash_match")
            )
            hist[name] = (rnd, green)
    return hist


def test_export_is_a_permutation_of_the_catalog():
    exported = list(catalog.queries())
    assert sorted(exported) == sorted(catalog.CATALOG)
    oracles = catalog.oracle_sql()
    assert set(oracles) == {
        n for n, e in catalog.CATALOG.items() if e.oracle is not None
    }
    # oracle export follows the same order as the query export
    assert list(oracles) == [n for n in exported if n in oracles]


def test_never_sampled_entries_export_first():
    checked = set(_history())
    exported = list(catalog.queries())
    first_seen = next(
        (i for i, n in enumerate(exported) if n in checked), len(exported)
    )
    # after the first previously-verified entry, no fresh entry follows
    assert all(n in checked for n in exported[first_seen:])
    # and every fresh entry sits before that boundary
    assert all(n not in checked for n in exported[:first_seen])


def test_not_green_precede_green_and_green_rotate_stalest_first():
    hist = _history()
    if not hist:  # fresh clone: registration order
        assert list(catalog.queries()) == list(catalog.CATALOG)
        return
    exported = list(catalog.queries())
    tail = [n for n in exported if n in hist]
    greens = [hist[n][1] for n in tail]
    # all not-green entries sit before the first green entry
    first_green = greens.index(True) if True in greens else len(tail)
    assert all(g for g in greens[first_green:])
    # green entries rotate stalest-first: last-sampled rounds are
    # non-decreasing across the whole green segment
    rounds = [hist[n][0] for n in tail[first_green:]]
    assert rounds == sorted(rounds)


def test_checked_names_come_from_reports_on_disk():
    assert catalog._driver_checked_names() == frozenset(_history())
    # and the module's history agrees with an independent parse
    assert catalog._driver_history() == _history()
