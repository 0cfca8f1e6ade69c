"""Graph analytics operators vs pure-Python references."""

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from opencypher_datalayer_spark.operators import components, graph_algorithms
from opencypher_datalayer_spark.operators.graph_algorithms import (
    PR_DAMPING_DEN,
    PR_DAMPING_NUM,
    PR_SCALE,
    pagerank_fixedpoint,
    triangle_count,
)


_LONG_EDGES = "src: long, dst: long"


def _edges_df(spark, edges):
    return spark.createDataFrame(edges, _LONG_EDGES)


def test_triangle_k4(spark):
    # complete graph on 4 vertices: C(4,3) = 4 triangles, robust to
    # duplicate and reversed edges
    k4 = [(a, b) for a in range(4) for b in range(4) if a != b]
    assert triangle_count(_edges_df(spark, k4)).collect()[0]["n_triangles"] == 4


def test_triangle_square_none(spark):
    square = [(0, 1), (1, 2), (2, 3), (3, 0)]
    assert triangle_count(_edges_df(spark, square)).collect()[0]["n_triangles"] == 0


def _py_pagerank(edges, n_iter):
    verts = sorted({u for u, _ in edges} | {v for _, v in edges})
    deg = {}
    for u, _ in edges:
        deg[u] = deg.get(u, 0) + 1
    teleport = (PR_DAMPING_DEN - PR_DAMPING_NUM) * PR_SCALE // PR_DAMPING_DEN
    rank = {v: PR_SCALE for v in verts}
    for _ in range(n_iter):
        contribs = {v: 0 for v in verts}
        for u, v in edges:
            contribs[v] += rank[u] // deg[u]
        rank = {
            v: teleport + (contribs[v] * PR_DAMPING_NUM) // PR_DAMPING_DEN for v in verts
        }
    return rank


def test_pagerank_matches_reference_recurrence(spark):
    # star + chain + a sink with multiple in-edges
    edges = [(1, 2), (1, 3), (2, 3), (3, 4), (4, 1), (5, 3)]
    got = {
        r["id"]: r["rank"]
        for r in pagerank_fixedpoint(_edges_df(spark, edges), n_iter=6).collect()
    }
    assert got == _py_pagerank(edges, 6)


def test_pagerank_dangling_and_no_inedge(spark):
    # node 3 dangles (no out-edges); node 1 has no in-edges
    edges = [(1, 2), (2, 3)]
    got = {
        r["id"]: r["rank"]
        for r in pagerank_fixedpoint(_edges_df(spark, edges), n_iter=4).collect()
    }
    assert got == _py_pagerank(edges, 4)
    teleport = (PR_DAMPING_DEN - PR_DAMPING_NUM) * PR_SCALE // PR_DAMPING_DEN
    assert got[1] == teleport  # teleport-only


def _ranks(df, n_iter):
    return {r["id"]: r["rank"] for r in pagerank_fixedpoint(df, n_iter=n_iter).collect()}


# a small vertex range, so random edge lists carry self-loops, duplicate
# edges and dangling vertices (no out-edges) in most examples
_pr_edges = st.lists(st.tuples(st.integers(0, 6), st.integers(0, 6)), max_size=16)


@settings(
    # each example runs the distributed loop (~1-2 s); the explicit
    # examples cover the listed edge cases on every run
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(edges=_pr_edges, str_ids=st.booleans(), n_iter=st.integers(1, 3))
@example(edges=[], str_ids=False, n_iter=2)
@example(edges=[], str_ids=True, n_iter=1)
@example(edges=[(0, 0), (0, 1), (0, 1), (1, 2), (3, 2)], str_ids=True, n_iter=3)
@example(edges=[(5, 5)], str_ids=False, n_iter=2)
def test_pagerank_driver_and_distributed_paths_agree(spark, edges, str_ids, n_iter):
    """Under the driver budget PageRank runs the integer recurrence in
    numpy; with a budget of 0 it runs the distributed loop. Both give
    the same integers as the pure-Python recurrence, for int and string
    ids alike."""
    if str_ids:
        edges = [(f"v{a}", f"v{b}") for a, b in edges]
    df = spark.createDataFrame(edges, "src string, dst string" if str_ids else _LONG_EDGES)
    calls = []
    driver_pagerank = graph_algorithms._driver_pagerank
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(
            graph_algorithms,
            "_driver_pagerank",
            lambda *a: calls.append(1) or driver_pagerank(*a),
        )
        on_driver = _ranks(df, n_iter)
        assert calls == [1]
        mp.setattr(components, "DRIVER_CC_MEM_BUDGET", 0)
        distributed = _ranks(df, n_iter)
        assert calls == [1]
    assert on_driver == distributed == _py_pagerank(edges, n_iter)


def test_pagerank_under_budget_job_count_is_pinned(spark):
    """Under the driver budget PageRank is one limited Arrow pull and a
    driver-built frame; the distributed loop takes 13 jobs on this
    graph. Counted in a job group of its own, like the merge's pin."""
    edges = [(i % 50, (i * 7 + 3) % 50) for i in range(400)]
    df = spark.createDataFrame(edges, _LONG_EDGES).repartition(4).localCheckpoint()
    sc = spark.sparkContext
    group = "pagerank-job-count"
    sc.setJobGroup(group, "pagerank_fixedpoint job count")
    try:
        got = _ranks(df, 4)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs <= 2, jobs
    assert got == _py_pagerank(edges, 4)


def test_bfs_chain_and_bound(spark):
    from opencypher_datalayer_spark.operators.graph_algorithms import bfs_distances

    # 0 -> 1 -> 2 -> 3 -> 4, plus a disconnected 9 -> 10
    chain = [(0, 1), (1, 2), (2, 3), (3, 4), (9, 10)]
    got = {
        r["id"]: r["dist"]
        for r in bfs_distances(_edges_df(spark, chain), 0, max_hops=3).collect()
    }
    assert got == {0: 0, 1: 1, 2: 2, 3: 3}  # 4 is beyond the bound; 9/10 unreachable


def test_bfs_cycle_terminates_min_distance(spark):
    from opencypher_datalayer_spark.operators.graph_algorithms import bfs_distances

    # cycle 0-1-2 plus shortcut 0 -> 2: dist(2) is 1, not 2
    cyc = [(0, 1), (1, 2), (2, 0), (0, 2)]
    got = {
        r["id"]: r["dist"]
        for r in bfs_distances(_edges_df(spark, cyc), 0, max_hops=5).collect()
    }
    assert got == {0: 0, 1: 1, 2: 1}


def test_bfs_isolated_source(spark):
    from opencypher_datalayer_spark.operators.graph_algorithms import bfs_distances

    rows = bfs_distances(_edges_df(spark, [(5, 6)]), 99, max_hops=2).collect()
    assert [(r["id"], r["dist"]) for r in rows] == [(99, 0)]


def _sym(edges):
    return edges + [(b, a) for a, b in edges]


def test_lpa_two_cliques_bridge(spark):
    """Two triangles joined by one bridge edge converge to two DISTINCT
    communities (hand-traced fixed point of the synchronous min-label
    schedule: A = {0,1,2} -> 0; the bridge leaks node 2's seed label
    into B = {10,11,12} -> 2, still disjoint from A's)."""
    from opencypher_datalayer_spark.operators.graph_algorithms import label_propagation

    tri_a = [(0, 1), (1, 2), (0, 2)]
    tri_b = [(10, 11), (11, 12), (10, 12)]
    bridge = [(2, 10)]
    labels = {
        r["id"]: r["label"]
        for r in label_propagation(
            _edges_df(spark, _sym(tri_a + tri_b + bridge)), n_iter=4
        ).collect()
    }
    assert labels[0] == labels[1] == labels[2] == 0
    assert labels[10] == labels[11] == labels[12] == 2


def test_lpa_deterministic_tiebreak(spark):
    """A node with two equally frequent neighbor labels adopts the
    smaller one — and a re-run returns the identical assignment."""
    from opencypher_datalayer_spark.operators.graph_algorithms import label_propagation

    # after one round the hub sees labels {1, 2} once each -> min wins
    star = [(5, 1), (5, 2)]
    df = _edges_df(spark, _sym(star))
    first = sorted(tuple(r) for r in label_propagation(df, n_iter=1).collect())
    second = sorted(tuple(r) for r in label_propagation(df, n_iter=1).collect())
    assert first == second
    labels = dict(first)
    assert labels[5] == 1  # tie between 1 and 2 -> min
    # leaves simultaneously adopt the hub's seed label
    assert labels[1] == labels[2] == 5
