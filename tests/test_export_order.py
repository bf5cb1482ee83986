"""The driver-export ordering contract: `queries()`/`oracle_sql()` list
every registered entry exactly once, in registration order, with names
aligned with their oracles."""

from __future__ import annotations

from logvision_spark import catalog


def test_export_is_a_permutation_of_the_catalog():
    exported = list(catalog.queries())
    assert exported == list(catalog.CATALOG)
    oracles = catalog.oracle_sql()
    assert set(oracles) == {
        n for n, e in catalog.CATALOG.items() if e.oracle is not None
    }
    # oracle export follows the same order as the query export
    assert list(oracles) == [n for n in exported if n in oracles]
