"""Connected components operator: correctness on crafted graphs against
a pure-Python BFS reference."""

from collections import deque

from opencypher_datalayer_spark.operators.components import connected_components


def _bfs_components(edges):
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    out = {}
    for start in adj:
        if start in out:
            continue
        seen = {start}
        q = deque([start])
        while q:
            u = q.popleft()
            for v in adj[u]:
                if v not in seen:
                    seen.add(v)
                    q.append(v)
        comp = min(seen)
        for u in seen:
            out[u] = comp
    return out


def _run(spark, edges):
    df = spark.createDataFrame(edges, "src: long, dst: long")
    expected = _bfs_components(edges)
    # driver union-find path and distributed label-propagation path must
    # produce identical results
    for threshold in (100_000, 0):
        got = {
            r["id"]: r["comp"]
            for r in connected_components(df, driver_threshold=threshold).collect()
        }
        assert got == expected, f"threshold={threshold}"


def test_two_components_and_cycle(spark):
    _run(spark, [(1, 2), (2, 3), (3, 1), (10, 11)])


def test_long_chain_pointer_jumping(spark):
    # a 40-node chain converges within max_iter only via pointer jumping
    _run(spark, [(i, i + 1) for i in range(1, 41)])


def test_self_loop_and_duplicates(spark):
    _run(spark, [(5, 5), (5, 6), (6, 5), (5, 6), (7, 8)])


def test_star_and_reversed_ids(spark):
    # min id at the leaf side; labels must flow against edge direction too
    _run(spark, [(100, 1), (100, 2), (100, 3)])


def test_over_budget_job_count_is_pinned(spark):
    """Over budget, the limited pull is dropped and the distributed loop
    runs on a checkpoint of the edge list; the call's Spark job count is
    pinned so a change to the gate or the loop shows up here. The
    checkpoint computes the edge subtree a second time (a ROADMAP known
    defect): a fix lowers this pin."""
    edges = [(i, i + 1) for i in range(1, 41)]
    df = spark.createDataFrame(edges, "src: long, dst: long")
    sc = spark.sparkContext
    group = "cc-over-budget-job-count"
    sc.setJobGroup(group, "connected_components over budget")
    try:
        got = {r["id"]: r["comp"] for r in connected_components(df, driver_threshold=5).collect()}
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert got == _bfs_components(edges)
    assert jobs <= 73, jobs
