"""Connected components (operators/graph.py): both paths of
``connected_components`` against a union-find oracle, and the
logarithmic-rounds property of the star path — a 60-node path must
converge well inside the star algorithm's round budget.

The driver path runs at the module's cut-over; ``CC_DRIVER_MAX_EDGES``
patched to 0 forces the star path on every non-empty edge set, and a
cut-over of 4 splits the generated edge lists between the two paths.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from imperio_patitas_etl_spark.operators import graph
from imperio_patitas_etl_spark.operators.graph import connected_components_star

NODES = range(10)

# NULL endpoints and self-loops carry no connectivity; lists repeat edges
_node = st.one_of(st.none(), st.integers(min_value=0, max_value=9))
_edge = st.tuples(_node, _node)


def _union_find_labels(nodes, edges):
    parent = {i: i for i in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        if a is not None and b is not None:
            parent[find(a)] = find(b)
    comp_min = {}
    for i in nodes:
        r = find(i)
        comp_min[r] = min(comp_min.get(r, i), i)
    return {i: comp_min[find(i)] for i in nodes}


def _labels(spark, edges, nodes=NODES):
    """Every node's label from ``connected_components``, checking its
    contract on the way: one row per labeled node, none labels itself."""
    e = spark.createDataFrame(edges, "doc_a long, doc_b long")
    rows = [tuple(r) for r in graph.connected_components(e).collect()]
    labels = dict(rows)
    assert len(labels) == len(rows)
    assert all(doc != cluster for doc, cluster in rows)
    return {i: labels.get(i, i) for i in nodes}


@pytest.fixture(params=["driver", "cutover", "star"])
def cc_path(request, monkeypatch):
    cut = {"driver": graph.CC_DRIVER_MAX_EDGES, "cutover": 4, "star": 0}
    monkeypatch.setattr(graph, "CC_DRIVER_MAX_EDGES", cut[request.param])
    return request.param


def test_cc_chain_pair_singletons(spark, cc_path):
    # 1-2-3 is a chain (the minimum is two hops from 3), 5-6 a pair,
    # 4 and 7 never appear in an edge.
    edges = [(2, 1), (2, 3), (5, 6)]
    assert _labels(spark, edges, range(1, 8)) == {
        1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 5, 7: 7,
    }


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(edges=st.lists(_edge, max_size=14))
@example(edges=[(1, None), (None, 2), (None, None), (3, 3), (1, 2), (2, 1), (1, 2)])
def test_cc_matches_union_find(spark, cc_path, edges):
    assert _labels(spark, edges) == _union_find_labels(NODES, edges)


def test_star_cc_long_path_converges_logarithmically(spark):
    """A 60-node path has diameter 59; star contraction collapses it in
    O(log n) rounds."""
    n = 60
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    out = connected_components_star(edges)
    labels = {r.doc_id: r.cluster_id for r in out.collect()}
    assert labels == {i: 0 for i in range(1, n)}
