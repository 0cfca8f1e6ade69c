"""Partition-invariance: every deterministic operator must return the
IDENTICAL result no matter how the input is partitioned or ordered.

This is the local stand-in for the cluster property that matters at
100 TB: a result that shifts when parallelism, split packing, or row
arrival order changes is not reproducible on a real cluster at all.
The operators under test claim determinism by construction (integer
fixed-point arithmetic, total tie-break orders, commutative
aggregates) — these tests make the claim falsifiable by feeding the
same data through adversarial layouts: a single partition, a prime
partition count (round-robin scatter), and a shuffled row order.
"""

import random

import pytest
from pyspark.sql import functions as F


def _edges_df(spark, edges):
    return spark.createDataFrame(edges, "src: long, dst: long")


def _random_edges(n_nodes=60, n_edges=150, seed=11):
    rng = random.Random(seed)
    seen = set()
    while len(seen) < n_edges:
        a, b = rng.randrange(n_nodes), rng.randrange(n_nodes)
        if a != b:
            seen.add((a, b))
    return sorted(seen)


def _layouts(df):
    return [
        df.repartition(1),
        df.repartition(13),
        df.orderBy(F.md5(F.concat_ws("|", *df.columns))).repartition(5),
    ]


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_label_propagation_invariant(spark):
    from opencypher_datalayer_spark.operators.graph_algorithms import label_propagation

    base = _edges_df(spark, _random_edges())
    sym_cols = lambda d: d.unionByName(  # noqa: E731
        d.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    results = [_rows(label_propagation(sym_cols(d), n_iter=3)) for d in _layouts(base)]
    assert results[0] == results[1] == results[2]


def test_pagerank_fixedpoint_invariant(spark, monkeypatch):
    from opencypher_datalayer_spark.operators import components
    from opencypher_datalayer_spark.operators.graph_algorithms import pagerank_fixedpoint

    base = _edges_df(spark, _random_edges(seed=23))
    on_driver = _rows(pagerank_fixedpoint(base, n_iter=4))
    # a budget of 0 keeps the graph off the driver: the layouts reach
    # the distributed loop's joins and aggregations
    monkeypatch.setattr(components, "DRIVER_CC_MEM_BUDGET", 0)
    results = [_rows(pagerank_fixedpoint(d, n_iter=4)) for d in _layouts(base)]
    assert results[0] == results[1] == results[2] == on_driver


def test_triangle_count_invariant(spark):
    from opencypher_datalayer_spark.operators.graph_algorithms import triangle_count

    base = _edges_df(spark, _random_edges(seed=37))
    results = [
        triangle_count(d).collect()[0]["n_triangles"] for d in _layouts(base)
    ]
    assert results[0] == results[1] == results[2]


def test_bfs_distances_invariant(spark):
    from opencypher_datalayer_spark.operators.graph_algorithms import bfs_distances

    base = _edges_df(spark, _random_edges(seed=41))
    results = [_rows(bfs_distances(d, 0, max_hops=4)) for d in _layouts(base)]
    assert results[0] == results[1] == results[2]


def test_connected_components_invariant(spark):
    from opencypher_datalayer_spark.operators.components import connected_components

    pairs = spark.createDataFrame(
        [(a, b) for a, b in _random_edges(n_nodes=40, n_edges=50, seed=53)],
        "id_a: long, id_b: long",
    )
    results = [
        _rows(connected_components(d, "id_a", "id_b")) for d in _layouts(pairs)
    ]
    assert results[0] == results[1] == results[2]


def test_chunking_invariant(spark, sf_dir):
    """chunk_transform is pure column expressions — chunk set identical
    under any layout of the documents input."""
    from opencypher_datalayer_spark.benchqueries.text import chunk_transform
    from opencypher_datalayer_spark.sources.tables import load_table

    docs = load_table(spark, "documents", sf_dir).limit(200)
    results = [_rows(chunk_transform(d)) for d in _layouts(docs)]
    assert results[0] == results[1] == results[2]
