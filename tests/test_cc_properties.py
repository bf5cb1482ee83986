"""Property-based connected-components tests: on random pair graphs the
driver union-find path and the distributed large-star/small-star loop
must agree with each other AND with an independent pure-Python BFS
reference — guards the size-adaptive hybrid
(operators/dedup.connected_components) on shapes richer than the
fixture corpus produces (chains, cycles, multi-edges, self-contained
cliques, all-singleton graphs)."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from logvision_spark.operators.dedup import connected_components

N_NODES = 10

edges_strategy = st.lists(
    st.tuples(st.integers(0, N_NODES - 1), st.integers(0, N_NODES - 1)),
    min_size=0,
    max_size=12,
)


def _reference_labels(edges: list[tuple[int, int]]) -> dict[int, int]:
    adj: dict[int, set[int]] = {i: set() for i in range(N_NODES)}
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    label: dict[int, int] = {}
    for start in range(N_NODES):
        if start in label:
            continue
        comp = {start}
        while True:  # closure: expand until stable
            grown = set(comp)
            for n in comp:
                grown |= adj[n]
            if grown == comp:
                break
            comp = grown
        m = min(comp)
        for n in comp:
            label[n] = m
    return label


@settings(max_examples=8, deadline=None)
@given(edges=edges_strategy)
def test_both_cc_paths_match_reference(spark, edges):
    ids = spark.createDataFrame([(i,) for i in range(N_NODES)], ["doc_id"])
    # drop self-loops the way the pair producers do (doc_a < doc_b)
    pairs_rows = [(min(a, b), max(a, b)) for a, b in edges if a != b]
    expected = _reference_labels([(a, b) for a, b in pairs_rows])
    if pairs_rows:
        pairs = spark.createDataFrame(pairs_rows, ["doc_a", "doc_b"])
    else:
        pairs = spark.createDataFrame([], "doc_a long, doc_b long")

    driver = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(pairs, ids).collect()
    }
    assert driver == expected

    dist = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(
            pairs, ids, driver_finish_max_edges=0
        ).collect()
    }
    assert dist == expected


def test_star_converges_on_long_chain(spark):
    """The shape the star variant exists for: a path graph of diameter
    n-1, where min-label propagation needs ~n rounds but alternating
    stars need O(log^2 n)."""
    n = 40
    ids = spark.createDataFrame([(i,) for i in range(n)], ["doc_id"])
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], ["doc_a", "doc_b"]
    )
    out = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(
            pairs, ids, driver_finish_max_edges=0, max_iter=12
        ).collect()
    }
    assert out == {i: 0 for i in range(n)}
