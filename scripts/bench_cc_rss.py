"""Driver-RSS measurement for the graph operators' driver paths
(VERDICT r6 #2): collect N-edge frames through the Arrow driver path
and record peak RSS delta + wall time, so the driver/distributed
handover threshold is derived from a measured bytes-per-edge figure
against a memory budget — not a fixed edge count.

Usage: python scripts/bench_cc_rss.py [--pagerank] [edge_counts ...]
Default: connected components over long ids (bytes per symmetrized
edge). ``--pagerank``: fixed-point PageRank over string gids of the
served graph's shape (``http://data.sample.org/people/<n>``), bytes per
directed edge, at 2 and 5 iterations (the served pass's and
``g_pagerank``'s counts); each size and count also runs the distributed
loop (driver budget forced to 0) so the two plans' wall times can be
set side by side. Every run sums the ranks, so each plan computes all
of them. Each run is a fresh subprocess so ru_maxrss (a high-water
mark) is not polluted by earlier sizes; ``warm_s`` is a second call in
the same process. Prints one JSON line per run.
"""

import json
import os
import resource
import subprocess
import sys
import time

sys.path.insert(0, ".")


GID_PREFIX = "http://data.sample.org/people/"


def _child(n_edges: int, op: str, n_iter: int) -> None:
    from pyspark.sql import functions as F

    from opencypher_datalayer_spark.operators import components, graph_algorithms
    from opencypher_datalayer_spark.session import get_spark

    sys.path.insert(0, os.path.join(os.path.dirname(__file__)))
    from bench_cc import edge_frame

    spark = get_spark(app_name="cc_rss")
    edges = edge_frame(spark, n_edges)
    pagerank = op != "components"
    if pagerank:
        edges = edges.select(
            *(F.concat(F.lit(GID_PREFIX), F.col(c).cast("string")).alias(c) for c in ("src", "dst"))
        ).localCheckpoint()
    n_real = edges.count()
    if op == "pagerank":
        # admit the graph whatever the cap: the run measures where the
        # driver plan stops paying
        graph_algorithms.pagerank_driver_cap = lambda: n_real
    elif op == "pagerank-distributed":
        components.DRIVER_CC_MEM_BUDGET = 0

    def run() -> int:
        if pagerank:
            out = graph_algorithms.pagerank_fixedpoint(edges, n_iter=n_iter)
            return out.agg(F.count("*"), F.sum("rank")).collect()[0][0]
        # threshold counts SYMMETRIZED deduped edges (~2x the input frame)
        return components.connected_components(edges, driver_threshold=2 * n_real + 1).count()

    rss0 = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss * 1024
    t0 = time.perf_counter()
    n_out = run()
    wall = time.perf_counter() - t0
    rss1 = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss * 1024
    t0 = time.perf_counter()
    run()
    warm = time.perf_counter() - t0
    print(
        json.dumps(
            {
                "op": op,
                "n_iter": n_iter if pagerank else None,
                "n_edges": n_real,
                "n_nodes": n_out,
                "wall_s": round(wall, 2),
                "warm_s": round(warm, 2),
                "rss_delta_bytes": rss1 - rss0,
                "bytes_per_edge": round((rss1 - rss0) / max(n_real, 1), 1),
                "rss_peak_bytes": rss1,
            }
        ),
        flush=True,
    )


def main() -> None:
    if os.environ.get("_CC_RSS_CHILD"):
        _child(
            int(os.environ["_CC_RSS_CHILD"]),
            os.environ["_CC_RSS_OP"],
            int(os.environ["_CC_RSS_ITER"]),
        )
        return
    args = sys.argv[1:]
    pagerank = "--pagerank" in args
    sizes = [int(a) for a in args if a != "--pagerank"] or (
        [250_000, 1_000_000, 4_000_000, 8_000_000]
        if pagerank
        else [2_000_000, 4_000_000, 8_000_000]
    )
    runs = (
        [(op, it) for it in (2, 5) for op in ("pagerank", "pagerank-distributed")]
        if pagerank
        else [("components", 0)]
    )
    for n in sizes:
        for op, it in runs:
            env = dict(os.environ, _CC_RSS_CHILD=str(n), _CC_RSS_OP=op, _CC_RSS_ITER=str(it))
            subprocess.run([sys.executable, __file__], env=env, check=True)


if __name__ == "__main__":
    main()
