"""The analytics pass: whole-graph jobs over the served snapshot, each
checked against the pure-Python :class:`egdm.GraphModel`.

A pass runs, in order, fixed-point PageRank and connected components
over the ``knows`` relation (``operators.graph_algorithms`` and
``operators.components``), then a Cypher write round trip
(``plans.cypher_write``): upsert one ``City`` node per city and read the
cities back through ``plans.run_cypher``. The write round trip works on
the in-memory snapshot and commits nothing, so the served graph is
unchanged.
"""

from __future__ import annotations

import time

from perfbench import egdm

PAGERANK_ITERATIONS = 2

Q_CITIES = "MATCH (c:City) RETURN c.name AS city ORDER BY city"
UPSERT_CITY = (
    "UNWIND $items AS item MERGE (n {gid: item.gid}) "
    "WITH n, item OPTIONAL MATCH (n)-[r]->() DELETE r "
    "SET n:City SET n = item"
)
QUERIES = ("pagerank", "components", "cypher_write")


def city_gid(city: str) -> str:
    return f"{egdm.BASE}cities/{city}"


# -- expected results ---------------------------------------------------------


def knows_edges(model: egdm.GraphModel) -> list[tuple[str, str]]:
    return [(s, d) for s, out in model.edges.items() for r, d in out if r == "knows"]


def expected_pagerank(edges: list[tuple[str, str]], n_iter: int) -> dict[str, int]:
    """``operators.graph_algorithms.pagerank_fixedpoint`` in plain
    integers: every vertex of the edge list starts at SCALE; each round a
    vertex gets the teleport term plus 85% of the floor-divided rank its
    in-neighbours send."""
    from opencypher_datalayer_spark.operators.graph_algorithms import (
        PR_DAMPING_DEN,
        PR_DAMPING_NUM,
        PR_SCALE,
    )

    verts = {v for e in edges for v in e}
    deg: dict[str, int] = {}
    for u, _ in edges:
        deg[u] = deg.get(u, 0) + 1
    teleport = (PR_DAMPING_DEN - PR_DAMPING_NUM) * PR_SCALE // PR_DAMPING_DEN
    rank = dict.fromkeys(verts, PR_SCALE)
    for _ in range(n_iter):
        contrib: dict[str, int] = {}
        for u, v in edges:
            contrib[v] = contrib.get(v, 0) + rank[u] // deg[u]
        rank = {v: teleport + contrib.get(v, 0) * PR_DAMPING_NUM // PR_DAMPING_DEN for v in verts}
    return rank


def expected_components(edges: list[tuple[str, str]]) -> dict[str, str]:
    """Minimum vertex id reachable from each vertex of a non-loop edge,
    the graph taken as undirected."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        if u == v:
            continue
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        a, b = find(u), find(v)
        if a != b:
            parent[max(a, b)] = min(a, b)
    return {x: find(x) for x in parent}


# -- the pass -------------------------------------------------------------------


class Pass:
    """One timed analytics pass over ``layer.store``; ``times`` holds each
    query's wall time, ``wall`` their sum and ``failures`` every check
    that did not hold."""

    def __init__(self, layer, model: egdm.GraphModel):
        self.layer, self.model = layer, model
        self.times: dict[str, float] = {}
        self.failures: list[str] = []
        self.checks = 0
        self.wall = 0.0

    def run(self) -> None:
        from opencypher_datalayer_spark.benchqueries.memo import clear_memo_caches

        edges = knows_edges(self.model)
        for name in QUERIES:
            clear_memo_caches()
            t0 = time.perf_counter()
            got = getattr(self, name)()
            dt = time.perf_counter() - t0
            self.times[name] = dt
            self.wall += dt
            self.checks += 1
            want = getattr(self, "want_" + name)(edges)
            if got != want:
                self.failures.append(f"analytics {name}: result differs from the model")

    def _knows(self):
        from pyspark.sql import functions as F

        return self.layer.store.edges.where(F.col("rel_type") == "knows").select("src", "dst")

    def pagerank(self) -> dict[str, int]:
        from opencypher_datalayer_spark.operators.graph_algorithms import pagerank_fixedpoint

        rows = pagerank_fixedpoint(self._knows(), n_iter=PAGERANK_ITERATIONS).collect()
        return {r["id"]: r["rank"] for r in rows}

    def want_pagerank(self, edges):
        return expected_pagerank(edges, PAGERANK_ITERATIONS)

    def components(self) -> dict[str, str]:
        from opencypher_datalayer_spark.operators.components import connected_components

        return {r["id"]: r["comp"] for r in connected_components(self._knows()).collect()}

    def want_components(self, edges):
        return expected_components(edges)

    def cypher_write(self) -> list[str]:
        from opencypher_datalayer_spark.plans import run_cypher, run_cypher_write

        cities = [{"gid": city_gid(c), "name": c, "source": "perfbench"} for c in egdm.CITIES]
        store = run_cypher_write(self.layer.store, UPSERT_CITY, {"items": cities})
        return [r["city"] for r in run_cypher(store, Q_CITIES).collect()]

    def want_cypher_write(self, edges):
        return sorted(egdm.CITIES)
