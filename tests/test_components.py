"""Connected components: distributed min-label propagation vs union-find."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from aiotcvectordb_spark.operators.components import connected_components


def _union_find(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def _run(spark, edges):
    df = spark.createDataFrame(edges, "src: long, dst: long")
    return {r.node: r.component for r in connected_components(df).collect()}


def test_chain_collapses_to_one_component(spark):
    """The case one-pass bucket domination gets wrong: a chain a-b-c-d
    where consecutive pairs share buckets but ends don't."""
    got = _run(spark, [(1, 2), (2, 3), (3, 4), (10, 11)])
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_only_edge_nodes_returned(spark):
    got = _run(spark, [(5, 7)])
    assert got == {5: 5, 7: 5}


def test_unconverged_raises(spark):
    df = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "src: long, dst: long"
    )
    # local_finish_edges=0 forces pure-distributed iteration (the
    # bounded union-find finish would otherwise solve any small graph
    # in round 0 without ever iterating).
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, max_iter=1, local_finish_edges=0)


edges_st = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=30),
        st.integers(min_value=0, max_value=30),
    ).filter(lambda e: e[0] != e[1]),
    min_size=1,
    max_size=40,
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(edges=edges_st)
def test_components_match_union_find(spark, edges):
    assert _run(spark, edges) == _union_find(edges)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(edges=edges_st)
def test_distributed_path_matches_union_find(spark, edges):
    """The pure star-contraction path (what runs at 100 TB, where the
    parent forest never fits under the local-finish cap) must agree
    with exact union-find too."""
    df = spark.createDataFrame(edges, "src: long, dst: long")
    got = {
        r.node: r.component
        for r in connected_components(df, local_finish_edges=0).collect()
    }
    assert got == _union_find(edges)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(edges=edges_st)
def test_star_round_feeds_frozen_star_test_distinct_oriented_edges(spark, edges):
    """_mark_frozen_stars' degree-local star test is exact only on a
    distinct, (a > b)-oriented edge list; one large-star + small-star
    round must always produce one."""
    from aiotcvectordb_spark.operators.components import _large_star, _small_star

    df = spark.createDataFrame(edges, "a: long, b: long")
    out = [(r.a, r.b) for r in _small_star(_large_star(df)).collect()]
    assert len(out) == len(set(out))
    assert all(a > b for a, b in out)


def test_zigzag_chain_converges_fast(spark):
    """Adversarial id/topology correlation: a path whose ids zigzag
    (1-100-2-99-3-98...) defeats label pointer-jumping but star
    contraction stays O(log n)."""
    ids = []
    lo, hi = 1, 100
    for i in range(50):
        ids.extend([lo + i, hi - i])
    path = list(zip(ids, ids[1:]))
    df = spark.createDataFrame(path, "src: long, dst: long")
    got = {
        r.node: r.component
        for r in connected_components(
            df, local_finish_edges=0, max_iter=12
        ).collect()
    }
    assert got == _union_find(path)
