"""Write-path scale rehearsal (VERDICT r7 #4): fullsync + incremental +
tombstone waves through ``merge_commit``, at store sizes the query
registry never exercises.

Measures, per store size:

- bulk full-commit cost (the ``cy_write_roundtrip``-shape cost at
  1M-entity batches: the >MERGE_MAX_BATCH_ROWS fallback path);
- pruned-MERGE commit latency and the number of data files REWRITTEN
  vs carried forward as hard links (st_nlink distinguishes them);
- manifest size growth (entries and bytes) across merge waves;
- tombstone-wave cost (detach semantics touch edge files by dst);
- compaction cost and the post-compact merge latency (does OPTIMIZE
  restore pruning selectivity?).

Prints one JSON line per measurement and a summary for SCALE.md
§write-rehearsal.

Usage:
    python scripts/bench_write_scale.py [--nodes 10000000] \
        [--waves 5] [--batch 10000]
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from opencypher_datalayer_spark.session import get_spark
from opencypher_datalayer_spark.storage import open_storage
from opencypher_datalayer_spark.store import GraphStore

NS = "urn:wr"


def gen_entities(spark: SparkSession, start: int, n: int, total: int) -> DataFrame:
    """Entity batch built natively in Spark (no driver dict funnel):
    chain graph, ENTITY_SCHEMA-compatible columns."""
    gid = F.concat(F.lit(f"{NS}/n"), F.lpad(F.col("id").cast("string"), 9, "0"))
    nxt = F.concat(
        F.lit(f"{NS}/n"),
        F.lpad(((F.col("id") + 1) % F.lit(total)).cast("string"), 9, "0"),
    )
    return spark.range(start, start + n).select(
        gid.alias("id"),
        F.create_map(
            F.lit(f"{NS}/name"), F.concat(F.lit("p"), F.col("id").cast("string"))
        ).alias("props"),
        F.create_map(F.lit(f"{NS}/next"), F.array(nxt)).alias("refs"),
        F.lit(False).alias("deleted"),
        F.col("id").alias("_seq"),
    )


def gen_tombstones(spark: SparkSession, ids: list[int]) -> DataFrame:
    gid = F.concat(F.lit(f"{NS}/n"), F.lpad(F.col("id").cast("string"), 9, "0"))
    return (
        spark.createDataFrame([(i,) for i in ids], "id long")
        .select(
            gid.alias("id"),
            F.create_map().cast("map<string,string>").alias("props"),
            F.create_map().cast("map<string,array<string>>").alias("refs"),
            F.lit(True).alias("deleted"),
            F.col("id").alias("_seq"),
        )
    )


def file_stats(storage, v: int) -> dict:
    """(files, rewritten, linked, bytes) of version v's data files plus
    manifest entry count and bytes."""
    vdir = storage._version_dir(v)
    files = glob.glob(os.path.join(vdir, "**", "*.parquet"), recursive=True)
    rewritten = sum(1 for p in files if os.stat(p).st_nlink == 1)
    total_bytes = sum(os.stat(p).st_size for p in files)
    man_path = os.path.join(vdir, "MANIFEST.json")
    man_bytes = os.stat(man_path).st_size if os.path.exists(man_path) else 0
    n_entries = 0
    if man_bytes:
        with open(man_path) as f:
            man = json.load(f)
        n_entries = sum(len(v) for v in man.values())
    return {
        "files": len(files),
        "rewritten": rewritten,
        "linked": len(files) - rewritten,
        "data_mb": round(total_bytes / 1e6, 1),
        "manifest_entries": n_entries,
        "manifest_kb": round(man_bytes / 1e3, 1),
    }


def emit(rec: dict) -> None:
    print(json.dumps(rec), flush=True)


def rehearse(spark: SparkSession, n_nodes: int, waves: int,
             batch_rows: int, buckets: int, root_base: str) -> None:
    root = os.path.join(root_base, "store")
    shutil.rmtree(root, ignore_errors=True)
    storage = open_storage(root)

    # -- bulk load: the fullsync / >MERGE_MAX fallback path -------------
    t0 = time.perf_counter()
    bulk = gen_entities(spark, 0, n_nodes, n_nodes)
    store = GraphStore.empty(spark).apply_batch(bulk, "P", "wr")
    v = storage.commit(store, cluster_buckets=buckets)
    bulk_s = time.perf_counter() - t0
    emit({"phase": "bulk_load", "nodes": n_nodes,
          "sec": round(bulk_s, 1), **file_stats(storage, v)})

    # -- incremental pruned-MERGE waves ---------------------------------
    for w in range(waves):
        # a sync batch updates a contiguous recent-key slice plus a few
        # scattered keys (the worst realistic pruning shape)
        lo = (w * 7919 * batch_rows) % max(n_nodes - batch_rows, 1)
        batch = gen_entities(spark, lo, batch_rows, n_nodes)
        t0 = time.perf_counter()
        v = storage.merge_commit(spark, batch, "P", "wr")
        sec = time.perf_counter() - t0
        emit({"phase": "merge_wave", "wave": w,
              "batch_rows": batch_rows, "sec": round(sec, 2),
              **file_stats(storage, v)})

    # -- 1M-entity batch: the >MERGE_MAX_BATCH_ROWS full-commit fallback
    # (the cy_write_roundtrip shape at bulk-sync size) ------------------
    big = min(1_000_000, n_nodes)
    batch = gen_entities(spark, n_nodes // 4, big, n_nodes)
    t0 = time.perf_counter()
    v = storage.merge_commit(spark, batch, "P", "wr")
    emit({"phase": "bulk_merge_fallback", "batch_rows": big,
          "sec": round(time.perf_counter() - t0, 1), **file_stats(storage, v)})

    # -- tombstone wave --------------------------------------------------
    dead = [(i * 104729) % n_nodes for i in range(min(batch_rows, 1000))]
    batch = gen_tombstones(spark, sorted(set(dead)))
    t0 = time.perf_counter()
    v = storage.merge_commit(spark, batch, "P", "wr")
    emit({"phase": "tombstone_wave",
          "batch_rows": len(set(dead)),
          "sec": round(time.perf_counter() - t0, 2), **file_stats(storage, v)})

    # -- compaction + post-compact merge ---------------------------------
    t0 = time.perf_counter()
    v = storage.compact(spark, cluster_buckets=buckets)
    emit({"phase": "compact",
          "sec": round(time.perf_counter() - t0, 1), **file_stats(storage, v)})
    batch = gen_entities(spark, n_nodes // 2, batch_rows, n_nodes)
    t0 = time.perf_counter()
    v = storage.merge_commit(spark, batch, "P", "wr")
    emit({"phase": "merge_after_compact",
          "batch_rows": batch_rows,
          "sec": round(time.perf_counter() - t0, 2), **file_stats(storage, v)})

    shutil.rmtree(root, ignore_errors=True)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--nodes", type=int, default=10_000_000)
    ap.add_argument("--waves", type=int, default=5)
    ap.add_argument("--batch", type=int, default=10_000)
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--root", default="")
    args = ap.parse_args()
    spark = get_spark(app_name="write_rehearsal")
    root_base = args.root or tempfile.mkdtemp(prefix="write_rehearsal_")
    rehearse(spark, args.nodes, args.waves, args.batch, args.buckets, root_base)
    shutil.rmtree(root_base, ignore_errors=True)


if __name__ == "__main__":
    main()
