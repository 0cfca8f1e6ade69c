"""Graph analytics operators — the 'GraphX role' of this engine
(BASELINE.json north star), realized as DataFrame joins/aggregations
(GraphX has no PySpark binding; its analytics role maps onto motif
joins + iterative joins, SURVEY §1.4).

Determinism discipline: PageRank runs in *integer fixed-point*
(ranks scaled by 1e9, contributions use integer floor division), so
every engine computing the same iteration count gets bit-identical
ranks — float accumulation order never enters. That is what makes a
full value-level DuckDB oracle possible for an iterative algorithm.

Size-gated plans: PageRank, like ``components.connected_components``,
picks its physical plan by the graph's size (Pregelix's argument, in its
smallest form). One limited Arrow pull (``components.pull_or_checkpoint``)
both checks the edge count against a cap and collects the edges. The
cap (:func:`pagerank_driver_cap`) is the lower of two measured bounds:
the driver memory budget over the measured peak driver bytes per edge
(``DRIVER_CC_MEM_BUDGET / DRIVER_PR_EDGE_BYTES``) and the largest graph
at which the driver plan was timed faster than the distributed loop
(``DRIVER_PR_MAX_EDGES``). A graph under the cap is solved in numpy on
the driver in one Spark job, a larger one by the distributed join loop.
Both plans compute the same integers. The other operators here always
run distributed.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from opencypher_datalayer_spark.operators import components

if TYPE_CHECKING:
    import pyarrow as pa

# 1e9 fixed-point: total rank mass is n_nodes * SCALE and the damping
# step multiplies a node's in-mass by 85 before dividing — 1e9 keeps
# that product inside int64 up to ~1e8 nodes (drop SCALE further, or go
# decimal, beyond that).
PR_SCALE = 1_000_000_000
PR_DAMPING_NUM = 85  # damping 0.85 as an exact integer ratio
PR_DAMPING_DEN = 100
PR_TELEPORT = (PR_DAMPING_DEN - PR_DAMPING_NUM) * PR_SCALE // PR_DAMPING_DEN
# Driver-path model of PageRank (`scripts/bench_cc_rss.py --pagerank`,
# table in SCALE.md §cc-handover; string gids, nodes ~= 0.55x edges,
# 4 cores). Memory: peak driver RSS grows at ~175 B per directed edge
# (179 / 171 B at 1M / 4M edges), rounded up to 300 B because each node
# carries its gid in the Arrow id column and ~4 int64 cells, so a
# node-heavy graph (a chain: nodes ~= edges) costs more per edge; the
# path shares CC's budget, DRIVER_CC_MEM_BUDGET. Time: the driver plan
# beat the distributed loop at every size timed, up to 8M edges (1.9x,
# 2.7x and 3.4x faster at 1M, 4M and 8M edges for 2 iterations), so
# the cap stops there until a larger graph is timed.
DRIVER_PR_EDGE_BYTES = 300
DRIVER_PR_MAX_EDGES = 8_000_000


def pagerank_driver_cap() -> int:
    """Max directed edges admitted to PageRank's driver path: the lower
    of the memory bound and the timed range."""
    return min(components.DRIVER_CC_MEM_BUDGET // DRIVER_PR_EDGE_BYTES, DRIVER_PR_MAX_EDGES)


def triangle_count(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Global triangle count over the undirected simple graph induced by
    the edge list, via degree-ordered orientation (compact-forward):
    every edge points from its (degree, id)-smaller endpoint to the
    larger, so each triangle contributes exactly one wedge at its
    lowest-degree vertex. Wedge volume is then sum(out_deg^2) with
    out-degree bounded by ~sqrt(2m) — on hub-heavy graphs orders of
    magnitude below the naive sum(deg^2) (measured 9.5s -> see bench on
    the co-supply graph).
    """
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .dropDuplicates()
    )
    deg = (
        und.select(F.col("a").alias("v"))
        .union(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("d"))
    )
    da = deg.select(F.col("v").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("v").alias("b"), F.col("d").alias("db"))
    ranked = und.join(da, "a").join(db, "b")
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = ranked.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("lo"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("hi"),
        F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("hi_d"),
    ).localCheckpoint()
    w1 = oriented.select(F.col("lo").alias("x"), F.col("hi").alias("y"), F.col("hi_d").alias("yd"))
    # shuffle_hash on one side of each join: the checkpointed oriented
    # frame has no size stats, so the planner would sort-merge (and
    # sort both sides of) both joins; a per-partition hash build skips
    # the sorts (guide §3.1; measured 1.66 -> 1.47 s min-of-4 at sf0.1,
    # identical count). Scale-safe: the build side is partition-local
    # and AQE's skew handling covers shuffled-hash joins too.
    w2 = oriented.select(
        F.col("lo").alias("x"), F.col("hi").alias("z"), F.col("hi_d").alias("zd")
    ).hint("shuffle_hash")
    # one wedge per unordered {y,z}: order by the same (degree, id) rank
    wedges = w1.join(w2, ["x"]).where(
        (F.col("yd") < F.col("zd"))
        | ((F.col("yd") == F.col("zd")) & (F.col("y") < F.col("z")))
    )
    closing = oriented.select(F.col("lo").alias("y"), F.col("hi").alias("z")).hint(
        "shuffle_hash"
    )
    return wedges.join(closing, ["y", "z"]).agg(F.count("*").alias("n_triangles"))


def pagerank_fixedpoint(
    edges: DataFrame,
    n_iter: int = 10,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """PageRank over the directed edge list, integer fixed-point.

    Per iteration (all integer arithmetic, deterministic):
      contrib(v)   = floor(rank(u) / out_degree(u)) summed over in-edges
      rank'(v)     = floor((1-d)*SCALE) + floor(d * contribs / 100)
    Dangling-node mass is dropped (standard simplified variant) and
    nodes with no in-edges hold the teleport term only. Duplicate edges
    count: each adds to its source's out-degree and carries a share.

    Returns (id, rank) with rank still in fixed-point scale; ``id`` has
    the type of ``src``.

    The physical plan is chosen by the graph's size. The ``(src, dst)``
    list is pulled to the driver in one limited Arrow collect
    (``components.pull_or_checkpoint``) while it has at most
    :func:`pagerank_driver_cap` edges: the memory bound ``edges x
    DRIVER_PR_EDGE_BYTES <= DRIVER_CC_MEM_BUDGET``, and no more than the
    ``DRIVER_PR_MAX_EDGES`` up to which the driver plan was timed faster.
    There the recurrence runs in numpy on int64 (:func:`_driver_pagerank`)
    and the result is a driver-built frame: one Spark job, where the
    distributed loop runs 12 for two iterations on the served graph.
    A budget of 0 sends every graph to the distributed loop.

    Over the cap the pulled rows are dropped, the edge list is
    checkpointed and the loop runs in Spark: each iteration is one
    shuffle join edges x ranks + one aggregation, driver-side control
    flow with the lineage n_iter joins deep. The annotated edge list
    and the vertex set are pre-partitioned on their join keys ONCE —
    across iterations the (large) edge side never moves again, only the
    rank frame shuffles (measured 1.8 s -> 1.5 s at sf0.1; the gap
    widens with edge-to-vertex ratio).
    """
    pairs = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    cap = pagerank_driver_cap()
    rows, pairs = components.pull_or_checkpoint(pairs, cap)
    if rows is not None:
        return _driver_pagerank(pairs, rows, n_iter)
    verts = (
        pairs.select(F.col("u").alias("id"))
        .union(pairs.select(F.col("v").alias("id")))
        .dropDuplicates()
        .repartition("id")
        .localCheckpoint()
    )
    out_deg = pairs.groupBy(F.col("u")).agg(F.count("*").alias("deg"))
    # edge list annotated with source out-degree, reused every round
    ed = pairs.join(out_deg, "u").repartition("u").localCheckpoint()

    ranks = verts.withColumn("rank", F.lit(PR_SCALE).cast("bigint"))
    for _ in range(n_iter):
        # shuffle_hash on the per-round rank/contrib frames: same
        # rationale and measurement discipline as label_propagation —
        # skips the per-round sorts of the pre-partitioned edge frame
        # and the rank shuffle (scale-safe; broadcast would ship O(V))
        contribs = (
            ed.join(ranks.withColumnRenamed("id", "u").hint("shuffle_hash"), "u")
            # `div`: true int64 division — `/` would detour through
            # doubles and lose exactness past 2^53
            .select("v", F.expr("rank div deg").alias("c"))
            .groupBy("v")
            .agg(F.sum("c").alias("contribs"))
        )
        ranks = verts.join(
            contribs.withColumnRenamed("v", "id").hint("shuffle_hash"), "id", "left"
        ).select(
            "id",
            (
                F.lit(PR_TELEPORT)
                + F.expr(
                    f"(coalesce(contribs, 0L) * {PR_DAMPING_NUM}) div {PR_DAMPING_DEN}"
                )
            ).alias("rank"),
        )
        # no per-iteration checkpoint: it would erase the output
        # partitioning (forcing a fresh shuffle every round) and the
        # lineage is only n_iter joins deep — shallow for typical
        # iteration counts. Checkpoint outside if n_iter is large.
    return ranks


def _driver_pagerank(pairs: DataFrame, rows: pa.Table, n_iter: int) -> DataFrame:
    """The fixed-point recurrence over the collected ``(u, v)`` table, in
    numpy on int64 — the same integers as the distributed loop. Ids map
    to dense indexes in Arrow (``pc.unique`` + ``pc.index_in``, hash
    passes in C++, so string gids never become Python objects); the
    out-degree is a ``bincount`` and each round's contributions an
    ``np.add.at`` (float ``bincount`` weights would lose exactness past
    2^53). ``pairs`` supplies the session and the id type only."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    spark = pairs.sparkSession
    schema = f"id {pairs.schema['u'].dataType.simpleString()}, rank bigint"
    if rows.num_rows == 0:
        return spark.createDataFrame([], schema)
    m = rows.num_rows
    u_col, v_col = rows.column("u"), rows.column("v")
    both = pa.chunked_array(u_col.chunks + v_col.chunks, type=u_col.type)
    ids = pc.unique(both)
    inv = pc.index_in(both, value_set=ids).to_numpy()
    u, v = inv[:m], inv[m:]
    deg_u = np.bincount(u)[u]
    rank = np.full(len(ids), PR_SCALE, dtype=np.int64)
    for _ in range(n_iter):
        contribs = np.zeros(len(ids), dtype=np.int64)
        np.add.at(contribs, v, rank[u] // deg_u)
        rank = PR_TELEPORT + contribs * PR_DAMPING_NUM // PR_DAMPING_DEN
    return spark.createDataFrame(pa.table({"id": ids, "rank": rank}), schema)


def label_propagation(
    edges: DataFrame,
    n_iter: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Synchronous label-propagation community detection over the
    undirected graph induced by the edge list (pass a symmetrized list;
    this function uses rows as directed neighbor pairs).

    Initial label = own id. Each round, every node simultaneously
    adopts the most frequent label among its neighbors, ties broken by
    the smallest label; isolated nodes keep their label. The synchronous
    schedule plus the total tie-break order makes the result a pure
    function of the graph — no RNG, no visit order — which is what
    allows a value-level oracle for a community algorithm.

    Each round is one shuffle join (labels onto the neighbor-partitioned
    edge frame — the edge side is pre-partitioned on the join key ONCE,
    so only the small labels frame moves per round) and a two-level
    aggregation whose mode-pick is a ``min_by`` over the total order
    (-count, label): an ordinary partial-aggregatable aggregate instead
    of a window sort (measured 1.8 s -> 0.9 s at sf0.1, identical
    results). Negating the count (always numeric) rather than the label
    keeps the pick valid for string node ids; ties are impossible inside
    the min_by group — the label is part of the grouping key below it —
    so the pick is total.
    Lineage stays shallow (n_iter joins); cut outside if n_iter is
    large.
    """
    verts = (
        edges.select(F.col(src).alias("id"))
        .union(edges.select(F.col(dst).alias("id")))
        .dropDuplicates()
        .localCheckpoint()
    )
    nbrs = (
        edges.select(F.col(src).alias("id"), F.col(dst).alias("nbr"))
        .repartition("nbr")
        .localCheckpoint()
    )
    labels = verts.withColumn("label", F.col("id"))
    for _ in range(n_iter):
        # shuffle_hash on the (small, per-round) label frames: the
        # planner's default for these stats-less iterative frames is
        # sort-merge, which re-sorts the pre-partitioned nbr frame AND
        # the label shuffle every round; a per-partition hash build of
        # the vertex-sized side skips both sorts (guide §3.1 — the
        # scale-safe choice; broadcast would ship O(V) rows). Measured
        # 3.50 -> 3.28 s min-of-5 at sf0.1, identical labels.
        picked = (
            nbrs.join(
                labels.select(F.col("id").alias("nbr"), F.col("label")).hint(
                    "shuffle_hash"
                ),
                "nbr",
            )
            .groupBy("id", "label")
            .agg(F.count("*").alias("c"))
            .groupBy("id")
            .agg(
                F.min_by(
                    "label", F.struct((-F.col("c")).alias("nc"), F.col("label"))
                ).alias("label")
            )
        )
        labels = (
            verts.join(
                picked.withColumnRenamed("label", "new_label").hint("shuffle_hash"),
                "id",
                "left",
            )
            .select("id", F.coalesce(F.col("new_label"), F.col("id")).alias("label"))
        )
    return labels


def bfs_distances(
    edges: DataFrame,
    source: object,
    max_hops: int,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Single-source BFS hop distances over the directed edge list,
    bounded at ``max_hops`` (pass a symmetrized edge list for
    undirected semantics).

    Frontier-expansion BFS as iterative DataFrame joins: each round
    joins the current frontier to the edge list and anti-joins the
    settled set, so a node's distance is fixed the first time it is
    reached — exactly min-hop distance. The frontier is lineage-cut
    per round (its size is data-dependent); the settled set is a union
    of the per-round frontiers. Each round is one equi-join on the edge
    key + one anti-join — at cluster scale both are shuffle-partitioned
    on the node id, and a small frontier broadcasts under AQE.

    Returns (id, dist) for every node within ``max_hops`` of
    ``source``, including (source, 0).
    """
    # literal seed (not a vertex-set filter): an isolated source still
    # reports distance 0, matching the oracle's VALUES anchor
    spark = edges.sparkSession
    frontier = spark.range(1).select(
        F.lit(source).cast(edges.schema[src].dataType).alias("id"),
        F.lit(0).alias("dist"),
    )
    settled = frontier
    # persist the projected edge list: every hop is its OWN action (the
    # frontier checkpoint), so without a shared materialization the edge
    # derivation (often an expensive projection, e.g. the co-supply
    # self-join) would recompute once per hop. Partitioned on the join
    # key so each hop shuffles only the (small) frontier, never the edge
    # table. Unpersisted before returning — the result depends only on
    # the checkpointed frontiers.
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("id"))
        .dropDuplicates()
        .repartition("u")
        .persist()
    )
    try:
        for hop in range(1, max_hops + 1):
            nxt = (
                frontier.withColumnRenamed("id", "u")
                .select("u")
                .join(e, "u")
                .select("id")
                .dropDuplicates()
                .join(settled, "id", "left_anti")
                .withColumn("dist", F.lit(hop))
                .localCheckpoint()
            )
            if nxt.isEmpty():
                break
            settled = settled.unionByName(nxt)
            frontier = nxt
    finally:
        e.unpersist()
    return settled
