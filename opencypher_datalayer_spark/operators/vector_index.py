"""Cell-partitioned IVF vector index with a partition-pruned probe scan.

The registry's :func:`~..benchqueries.similarity.sim_ivf_topk` computes
the cell assignment inline and joins probe cells against the full
assignment frame — at toy scale the join's build side is the whole
corpus, and SCALE.md's "what a 100x run would hit" list flags exactly
that: the candidate frame grows with the corpus and wants coarse-cell
pruning pushed into the parquet SCAN, not applied after it.

This module is that storage path, on the r8 TRAINED coarse quantizer
(``operators/ivf_codebook.py`` — k-means over exact integer arithmetic,
``ASSIGN_A``-way boundary replication, measured per-scale nprobe):

- :func:`build_ivf_index` trains the codebook driver-side, assigns
  every vector to its ``ASSIGN_A`` nearest cells via the Arrow-batched
  scorer (no corpus-sized shuffle), and writes the corpus
  hive-partitioned by ``cell`` (``.write.partitionBy("cell")``), plus
  the integer centroid codebook. Partition directories ARE the storage
  manifest: Spark's partition discovery maps cell -> file set with no
  extra metadata store.
- :func:`ivf_pruned_topk` ranks each query's ``nprobe`` nearest cells
  driver-side against the (tiny) codebook, collects the admitted cell
  set — bounded by ``min(n_query * nprobe, k_cells)`` ints, never
  corpus-sized — and probes with
  ``read.parquet(index).where(cell IN admitted)``: Catalyst turns the
  IN-list on the partition column into static partition pruning, so
  files in non-admitted cells are never opened.  The plan-audit test
  pins this by counting scanned files.

At 100 TB the probe cost becomes (admitted cells / k_cells) of the
corpus instead of all of it — a measured 9.6% at the sf10 rehearsal
(recall@5 >= 0.9), FALLING as the corpus grows (SCALE.md §recall) —
and the pruning happens before any I/O.

Result parity: output is row-identical to ``sim_ivf_topk`` (same
quantizer, scoring, rounding, tie-breaks, boundary-replication dedup),
so the existing DuckDB oracle ``SIM_IVF_TOPK_SQL`` value-checks this
path too.

Reference anchor: the reference delegates all retrieval to Neo4j
(``neo4j.go:238-284`` transactions; no vector surface) — this operator
family is part of the engine's training-data-pipeline extension, not a
reference port.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from opencypher_datalayer_spark.functions.localframe import local_df
from opencypher_datalayer_spark.functions.pushdown import isin_keys
from opencypher_datalayer_spark.operators.ivf_codebook import (
    ASSIGN_A,
    assign_cells,
    ivf_nprobe,
    top_cells,
    train_ivf,
    train_stride,
    vq_expr,
)

# -- SQ8 storage codes (FAISS IVF-SQ8 shape) ----------------------------
#
# Cell partitions store an int8 code per dimension alongside the raw
# vector; the probe's candidate scan reads ONLY (vec_id, code[, payload])
# — parquet column pruning skips the 8-byte/dim raw column entirely, so
# scan bytes drop ~8x — ranks by the exact INTEGER code dot product,
# keeps IVF_RERANK candidates per query, and reranks just those with
# exact float cosine fetched by a bounded ``vec_id IN (...)`` predicate
# (row groups are written sorted by vec_id within each cell, so the IN
# list prunes at the parquet footer). The quantizer is symmetric
# per-dimension: ``code_d = clip(floor(x_d / s_d + 0.5), -127, 127)``
# with ``s_d = maxabs_d / 127`` trained over the indexed corpus and
# FROZEN with the codebook — extensions encode with the stored scales
# (clipping out-of-range values), compaction retrains both. Every step
# is engine-portable integer/IEEE arithmetic, so the DuckDB oracles
# reproduce the shortlist bit-for-bit.

SQ8_CLIP = 127
IVF_RERANK = 20  # coded-shortlist size per query (exact-cosine reranked)

# Fixed-point grid for the per-dimension dot weights (below): 2^20 keeps
# the weighted dot exact in int64 (|code| <= 127 both sides, so the dot
# magnitude is <= 127^2 * 2^20 * dim ~ 2^44 at dim=256) while resolving
# relative scale differences to ~1e-6 — far finer than the rank margins
# the 20-candidate rerank absorbs.
SQ8_WEIGHT_GRID = 1 << 20


def sq8_dot_weights(scales: list[float]) -> np.ndarray:
    """Integer per-dimension weights ``W_d ~ s_d^2`` (normalized to the
    ``SQ8_WEIGHT_GRID`` fixed-point grid) for the stage-1 coded dot.

    The SQ8 decode of a stored code is ``x_d ~ code_d * s_d``, so the
    decoded dot product is ``sum_d codeX_d * codeQ_d * s_d^2`` — the
    RAW code dot ``sum_d codeX_d * codeQ_d`` silently reweights every
    dimension by ``1/s_d^2`` and degrades the shortlist on corpora with
    heterogeneous per-dimension ranges (FAISS decodes by ``s_d`` before
    any distance). Quantizing ``s_d^2`` onto an integer grid keeps the
    weighted dot EXACT int64 arithmetic — order-free, bit-reproducible
    in the DuckDB oracle — instead of a float dot whose accumulation
    order differs between numpy BLAS and SQL aggregation. Every float
    op here (square, divide, grid multiply, +0.5, floor) is a single
    IEEE operation in a fixed order, mirrored verbatim by the oracle's
    ``iw`` CTE."""
    s = np.asarray(scales, dtype=np.float64)
    s2 = s * s
    smax2 = float(s2.max()) if s2.size else 0.0
    if smax2 <= 0.0:
        return np.ones(s.size, dtype=np.int64)
    return np.floor(s2 / smax2 * float(SQ8_WEIGHT_GRID) + 0.5).astype(np.int64)


def sq8_scales_of(emb: DataFrame, v: str = "v") -> list[float]:
    """Per-dimension symmetric SQ8 scales ``maxabs_d / 127`` over a
    vector frame — one tiny aggregate, collected (dim doubles)."""
    rows = (
        emb.select(F.posexplode(v).alias("pos", "x"))
        .groupBy("pos")
        .agg(F.max(F.abs(F.col("x"))).alias("mx"))
        .agg(F.array_sort(F.collect_list(F.struct("pos", "mx"))).alias("ps"))
        .select(
            F.transform("ps", lambda s: s["mx"] / F.lit(float(SQ8_CLIP))).alias(
                "scales"
            )
        )
        .collect()
    )
    return [float(x) for x in rows[0]["scales"]] if rows else []


def sq8_code_expr(v_col, scales: list[float]):
    """``array<tinyint>`` SQ8 code of a double-array column under the
    frozen ``scales`` (embedded as a literal array — dim doubles). The
    clip only fires for extension-time vectors outside the trained
    range; build-time codes are within ±127 by construction."""
    sarr = F.array(*[F.lit(float(s)) for s in scales])
    return F.zip_with(
        v_col,
        sarr,
        lambda x, s: F.least(
            F.greatest(
                F.when(s > F.lit(0.0), F.floor(x / s + F.lit(0.5))).otherwise(
                    F.lit(0).cast("bigint")
                ),
                F.lit(-SQ8_CLIP).cast("bigint"),
            ),
            F.lit(SQ8_CLIP).cast("bigint"),
        ).cast("tinyint"),
    )


def write_scales(spark: SparkSession, index_dir: str, scales: list[float]) -> None:
    local_df(
        spark, [(list(map(float, scales)),)], "scales array<double>", n_slices=1
    ).write.mode("overwrite").parquet(os.path.join(index_dir, "scales"))


def read_scales(spark: SparkSession, index_dir: str) -> list[float]:
    """The index's frozen SQ8 scales. Doubles round-trip parquet
    exactly, so extension/probe encoding decisions reproduce the
    build's bit-for-bit.

    A standing index persisted before the SQ8 layout (no ``scales/``
    dir) gets a clear migration instruction instead of a raw parquet
    path error: ``compact_ivf_index`` retrains the quantizer over the
    stored vectors and rewrites the index in the current layout (bench
    artifacts are already protected by the ``_IVF_LAYOUT`` key bump;
    this guards long-lived streaming indexes under a stable key)."""
    sdir = os.path.join(index_dir, "scales")
    if not os.path.isdir(sdir):
        raise RuntimeError(
            f"pre-SQ8 IVF index at {index_dir!r} (no scales/ dir): run "
            "compact_ivf_index once to migrate — it retrains the "
            "quantizer over the standing vectors and rewrites the "
            "index in the coded layout"
        )
    # driver-side pyarrow read (r13): a one-row frame on the artifact
    # store's posix tree — a Spark read+collect here cost 2 scheduler
    # jobs per call, and the streaming extension path calls it every
    # epoch (the index_meta / _driver_stats_corpus idiom). pyarrow's
    # dataset discovery skips '_'-prefixed files (_SUCCESS).
    import pyarrow.parquet as pq

    rows = pq.read_table(sdir).to_pylist()
    return [float(x) for x in rows[0]["scales"]] if rows else []


def build_ivf_index(
    spark: SparkSession,
    embeddings: DataFrame,
    index_dir: str,
    codebook: tuple | None = None,
    scales: list[float] | None = None,
) -> None:
    """Write ``embeddings`` (``vec_id``, ``embedding array<float>``) as a
    cell-partitioned trained-IVF index under ``index_dir``.

    Layout::

        index_dir/centroids/   K rows: cell, cq (array<long>)
        index_dir/scales/      1 row: scales (array<double>) — frozen
                               per-dim SQ8 quantizer, maxabs_d / 127
        index_dir/vectors/     cell=<i>/...: vec_id, v, nrm,
                               code (array<tinyint>) (ASSIGN_A rows per
                               vector — boundary replication; row groups
                               vec_id-sorted for the rerank's IN fetch)

    One shuffle total: training is the exact integer k-means over the
    ``vec_id % s == 0`` sample (driver matmul below
    TRAIN_DRIVER_MAX_SCORES, Arrow-batched executor partial sums
    above — identical results either way), assignment is
    an Arrow-batched projection (codebook in the UDF closure), then the
    write repartitions by ``cell`` so each partition directory is
    written by the executors that own its rows (no driver funnel).
    """
    from opencypher_datalayer_spark.benchqueries.similarity import _norm, _vec

    # every column besides vec_id/embedding rides along as PAYLOAD
    # (e.g. a label/lang column): stored inside each cell partition so
    # a FILTERED probe (ivf_pruned_topk's match_cols) pushes its
    # predicate into the pruned scan instead of joining the corpus back
    extras = [c for c in embeddings.columns if c not in ("vec_id", "embedding")]
    emb = embeddings.select(
        "vec_id", *extras, _vec().alias("v"), _norm(_vec()).alias("nrm")
    )
    _write_ivf_vnrm(spark, emb, index_dir, codebook, scales)


def _write_ivf_vnrm(
    spark: SparkSession,
    emb: DataFrame,
    index_dir: str,
    codebook: tuple | None = None,
    scales: list[float] | None = None,
) -> None:
    """Index-write body over a pre-shaped ``(vec_id, v, nrm)`` frame —
    shared by :func:`build_ivf_index` (fresh corpus) and
    :func:`compact_ivf_index` (re-derives the frame from the standing
    index's own vectors, so the stored doubles round-trip untouched)."""
    from opencypher_datalayer_spark.operators.ivf_codebook import k_cells_for
    from opencypher_datalayer_spark.operators.scale import rebalance_rows

    if codebook is not None:
        # reuse a codebook trained by the caller (e.g. similarity's
        # memoized _ivf_codebook) — training twice per build was the
        # r8 bench's biggest avoidable cost
        n, ids, cq = codebook
        # the quantize+assign stage is an Arrow mapInPandas whose
        # parallelism is the CALLER's partitioning — a single-file
        # parquet scan would run the whole corpus on one core
        # (measured: a 500k-vector build 470 s unbalanced vs 125 s
        # balanced). Per-row work ~ K cells x dim flops.
        emb = rebalance_rows(emb, n, work_per_row=len(ids) * 32)
    else:
        n = emb.count()
        emb = rebalance_rows(emb, n, work_per_row=k_cells_for(n) * 32)
        s = train_stride(n)
        sample_df = emb.select("vec_id", vq_expr().alias("vq"))
        if s > 1:
            sample_df = sample_df.where(F.col("vec_id") % s == 0)
        ids, cq = train_ivf(sample_df, n)
    local_df(
        spark,
        [(int(c), [int(x) for x in row]) for c, row in zip(ids, cq)],
        "cell long, cq array<long>",
        n_slices=1,
    ).write.mode("overwrite").parquet(os.path.join(index_dir, "centroids"))
    # SQ8 scales train over the SAME corpus as the codebook and freeze
    # with it (extensions reuse them; compact retrains) — one cheap
    # max-abs aggregate next to the k-means pass. A caller-provided
    # quantizer (codebook+scales) is reused verbatim — "extension ==
    # rebuild" holds exactly when BOTH halves are frozen.
    if scales is None:
        scales = sq8_scales_of(emb)
    write_scales(spark, index_dir, scales)

    vq_df = emb.withColumn("vq", vq_expr())  # payload columns ride along
    assign = assign_cells(vq_df, ids, cq, ASSIGN_A).withColumn(
        # storage codes: computed JVM-side AFTER assignment (pure column
        # expr per replica beats shipping int8 arrays through Arrow)
        "code",
        sq8_code_expr(F.col("v"), scales),
    )
    # Task count for the dynamic-partition write: each reducer opens one
    # parquet writer per cell it owns, and writer open/close (~5-15 ms)
    # dominates at small scale — measured at sf0.1 (12k rows, 352
    # cells): 8-16 tasks ~1.6 s vs 32 tasks 2.5 s vs 1 task 6.1 s. Scale
    # the count with the row volume (~50k rows per write task) so big
    # builds still use the whole pool; `cell` stays the hash key so each
    # directory is written by exactly one task (one file per cell).
    cores = spark.sparkContext.defaultParallelism
    tasks = max(16, min(cores, (n * ASSIGN_A) // 50_000))
    (
        assign.repartition(tasks, "cell")
        # vec_id-ordered row groups: the rerank's bounded `vec_id IN`
        # fetch prunes at the parquet footer instead of scanning the
        # admitted cells' raw vectors end-to-end
        .sortWithinPartitions("cell", "vec_id")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(os.path.join(index_dir, "vectors"))
    )


def read_codebook(spark: SparkSession, index_dir: str) -> tuple[np.ndarray, np.ndarray]:
    """``(cell_ids, centroids)`` of a committed index. The centroids
    are EXACT integers (stored ``array<long>``), so loading reproduces
    the trained int-valued float64 arrays bit-for-bit — assignment and
    probe ranking decisions are identical to the training session's."""
    # driver-side pyarrow read (r13): K rows of ints on the artifact
    # store's posix tree — the Spark read+sort+collect cost 2-4
    # scheduler jobs per call, paid on every probe cold-start and every
    # streaming extension epoch (twice: the rebalance hint and the
    # frozen-quantizer read inside build(tmp)). Stable argsort keeps
    # the exact (cell-ordered) layout the Spark orderBy produced.
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(index_dir, "centroids"), columns=["cell", "cq"])
    cells = np.asarray(t.column("cell").to_numpy(zero_copy_only=False), dtype=np.int64)
    order = np.argsort(cells, kind="stable")
    ids = cells[order]
    cq = np.array(t.column("cq").to_pylist(), dtype=np.float64)[order]
    return ids, cq


def index_meta(index_dir: str) -> dict:
    """meta.json of a committed index version ({} if absent)."""
    import json

    try:
        with open(os.path.join(index_dir, "meta.json")) as f:
            return json.load(f)
    except OSError:
        return {}


def extend_ivf_index(
    spark: SparkSession,
    store,
    kind: str,
    key: tuple,
    embeddings_new: DataFrame,
    meta_extra: dict | None = None,
    n_rows: int | None = None,
) -> str:
    """Append NEW vectors (``vec_id`` disjoint from the standing index
    — the caller's contract) as a new committed artifact version
    WITHOUT retraining — FAISS ``add()`` semantics: the standing
    codebook assigns each new vector to its ``ASSIGN_A`` nearest
    existing cells, the prior version's files are hard-linked
    (``ArtifactStore.commit_extension``), and only the delta parquet is
    appended into the touched ``cell=`` partition directories. Probe
    results over the extended index are bit-identical to an index
    built fresh over the full corpus WITH THE SAME CODEBOOK
    (assignment is a deterministic function of (vector, codebook);
    pinned by ``tests/test_standing_artifacts.py``).

    What extension deliberately does NOT do is re-center: as the
    extended fraction grows, cell populations drift from the trained
    balance and the measured nprobe/recall operating points
    (``ivf_codebook.NPROBE_STEPS``) slowly lose calibration —
    :func:`compact_ivf_index` is the periodic retrain, the same
    maintenance cadence as the n-gram corpus artifact's compact.

    ``meta_extra`` merges extra keys into meta.json atomically with
    the data commit — e.g. the streaming ingest sink's ``last_epoch``
    replay marker, which must never be observable without the epoch's
    vectors (or vice versa). ``n_rows`` is the batch's exact row count
    when the caller already knows it (the streaming sink derives it
    driver-side) — it removes the one count job this path otherwise
    pays per epoch; rows must carry unique ``vec_id``s (the existing
    disjointness contract) for the count to be the corpus delta."""
    import json

    cur = store.current_dir(kind, key)
    if cur is None:
        raise FileNotFoundError(f"no committed version to extend: {kind} {key!r}")
    from opencypher_datalayer_spark.benchqueries.similarity import _norm, _vec

    from opencypher_datalayer_spark.operators.scale import rebalance_rows

    # len(ids) here is only the rebalance work heuristic — the ACTUAL
    # assignment quantizer is re-read inside build(tmp) below, so a CAS
    # retry derives from the relinked winner's codebook, not this one
    ids_hint, _ = read_codebook(spark, cur)
    extras = [c for c in embeddings_new.columns if c not in ("vec_id", "embedding")]
    emb = embeddings_new.select(
        "vec_id", *extras, _vec().alias("v"), _norm(_vec()).alias("nrm")
    )
    nb = emb.count() if n_rows is None else int(n_rows)
    # same single-partition trap as the build (see _write_ivf_vnrm)
    emb = rebalance_rows(emb, nb, work_per_row=len(ids_hint) * 32)
    cores = spark.sparkContext.defaultParallelism
    # floor of 16 write tasks, same as the full build (measured there:
    # 1 task = 6.1 s vs 16 tasks = 1.6 s at 352 cells — the dynamic-
    # partition write opens one file per touched cell and a micro-batch
    # touches most cells, so a single task serializes ~350 file opens;
    # `cell` stays the hash key so each dir still gets exactly one file)
    tasks = max(16, min(cores, (nb * ASSIGN_A) // 50_000))

    def build(tmp: str) -> None:
        # FROZEN quantizer, read FROM THE TMP TREE (a hard-linked copy
        # of the version this attempt extends): the standing codebook
        # assigns, the standing SQ8 scales encode (out-of-range values
        # clip to ±127) — the extended index is bit-identical to a
        # rebuild with the same codebook+scales; compact retrains both.
        # Reading from tmp (not the pre-race base) matters on a CAS
        # retry: if this extension lost to a concurrent
        # compact_ivf_index, the relinked winner carries a RETRAINED
        # codebook and scales — appending rows assigned by the retired
        # quantizer would put them in wrong cells with codes on the
        # wrong scale grid, silently corrupting probe results.
        ids, cq = read_codebook(spark, tmp)
        scales = read_scales(spark, tmp)
        assign = assign_cells(
            emb.withColumn("vq", vq_expr()), ids, cq, ASSIGN_A
        ).withColumn("code", sq8_code_expr(F.col("v"), scales))
        (
            assign.repartition(tasks, "cell")
            .sortWithinPartitions("cell", "vec_id")
            .write.mode("append")
            .partitionBy("cell")
            .parquet(os.path.join(tmp, "vectors"))
        )
        meta_p = os.path.join(tmp, "meta.json")
        meta = {}
        if os.path.exists(meta_p):
            with open(meta_p) as f:
                meta = json.load(f)
            # REMOVE before rewriting: the path is a hard link into the
            # prior committed version — opening it 'w' would truncate
            # the shared inode and corrupt the old version in place.
            os.remove(meta_p)
        if meta or meta_extra:
            meta["n_corpus"] = int(meta.get("n_corpus", 0)) + int(nb)
            # last_epoch merges MONOTONICALLY: on a CAS retry the tmp is
            # relinked from the winner, whose marker may already be past
            # this writer's epoch — overwriting would reopen the winner's
            # committed replay window (bm25_index._merged_meta's rule)
            base_epoch = meta.get("last_epoch")
            meta.update(meta_extra or {})
            if base_epoch is not None and "last_epoch" in (meta_extra or {}):
                meta["last_epoch"] = max(
                    int(base_epoch), int(meta_extra["last_epoch"])
                )
            with open(meta_p, "w") as f:
                json.dump(meta, f)

    return store.commit_extension(kind, key, build)


# Measured drift boundary (scripts/recall_drift_rehearsal.py; SCALE.md
# §recall-drift): growth factor (corpus size / size the codebook was
# trained on) past which the frozen-codebook probe's recall@5 can no
# longer be trusted at the committed nprobe operating points.
COMPACT_GROWTH_FACTOR = 3.0


def needs_compact(spark: SparkSession, index_dir: str) -> dict:
    """Advisory compact signal for a standing IVF index version: how far
    the frozen-codebook extension chain has grown the corpus past the
    size the codebook was trained on, and whether that growth crossed
    the measured recall-drift boundary (``COMPACT_GROWTH_FACTOR``).

    Answering costs two bounded reads: ``meta.json`` and the K-row
    centroids parquet (only when the meta lacks ``n_trained`` — indexes
    built before r10 — where the trained corpus size is inverted from
    ``k_cells_for``; and only when it lacks ``n_corpus``, a count over
    the vectors' parquet footers). Returns ``{"growth", "cells_trained",
    "cells_target", "compact_due"}`` — the streaming ingest sink
    surfaces this per epoch so a deployment schedules the retrain
    instead of discovering the drift in its recall metrics."""
    from opencypher_datalayer_spark.operators.ivf_codebook import (
        IVF_K_MULT,
        k_cells_for,
    )

    meta = index_meta(index_dir)
    k_trained = spark.read.parquet(os.path.join(index_dir, "centroids")).count()
    n_corpus = meta.get("n_corpus")
    if n_corpus is None:
        n_corpus = (
            spark.read.parquet(os.path.join(index_dir, "vectors")).count() // ASSIGN_A
        )
    n_trained = meta.get("n_trained")
    if n_trained is None:
        # pre-r10 meta: invert k_cells_for (K = IVF_K_MULT * isqrt(n)
        # above the 8-cell floor; at the floor the index is toy-sized
        # and the growth signal is moot)
        n_trained = max(1, (k_trained // IVF_K_MULT) ** 2)
    growth = n_corpus / max(int(n_trained), 1)
    return {
        "growth": round(growth, 3),
        "cells_trained": int(k_trained),
        "cells_target": k_cells_for(int(n_corpus)),
        "compact_due": growth >= COMPACT_GROWTH_FACTOR,
    }


def compact_ivf_index(
    spark: SparkSession, store, kind: str, key: tuple, retries: int = 5
) -> str:
    """Retrain the codebook over the CURRENT corpus (standing + every
    extension) and rebuild the index as a new committed version —
    restores the cell balance and nprobe calibration that extensions
    let drift. One pass over the stored vectors; the boundary replicas
    collapse to one row per ``vec_id`` first (replicas are identical
    payloads), and the stored ``(v, nrm)`` doubles round-trip untouched
    so re-assignment sees exactly the original arithmetic. Old versions
    are reclaimed by ``store.sweep``.

    Publishes via ``store.commit_if_current`` — the rebuild is derived
    from a READ of the base version, so an extension committed between
    the read and the publish must not be erased (its vectors and its
    ``last_epoch`` replay marker would vanish); on conflict the compact
    re-reads the grown corpus and retrains over it."""
    import json

    from opencypher_datalayer_spark.operators.artifacts import ExtensionConflict

    for _ in range(retries + 1):
        base = store.current_version(kind, key)
        if base is None:
            raise FileNotFoundError(f"no committed version to compact: {kind} {key!r}")
        cur = store.current_dir(kind, key)
        vec = (
            spark.read.parquet(os.path.join(cur, "vectors"))
            # payload columns (if any) ride along; cell and the SQ8
            # code are DERIVED columns — re-derived by the rebuild's
            # retrained codebook and scales
            .drop("cell", "code", "arank")
            .dropDuplicates(["vec_id"])
            .localCheckpoint()  # decouple from the files sweep may reclaim
        )
        n = vec.count()
        # non-count meta keys carry over (e.g. the streaming sink's
        # last_epoch replay marker — compacting mid-stream must not
        # reopen the replay window)
        meta = index_meta(cur)
        meta["n_corpus"] = int(n)
        meta["n_trained"] = int(n)  # retrained here — resets the drift clock

        def build(tmp: str) -> None:
            _write_ivf_vnrm(spark, vec, tmp, codebook=None)
            with open(os.path.join(tmp, "meta.json"), "w") as f:
                json.dump(meta, f)

        try:
            return store.commit_if_current(kind, key, build, base)
        except ExtensionConflict:
            continue  # an extender won: retrain over the grown corpus
    raise ExtensionConflict(
        f"compact of {kind} {key!r} lost {retries + 1} consecutive publish races"
    )


def _coded_topk_kernel(
    qids: list,
    qmat: "np.ndarray",
    qcells: dict,
    qmatch: dict,
    match_cols: tuple,
    rerank: int,
):
    """Arrow-batched stage-1 scorer: per batch, ONE numpy int64 matmul
    of the batch's codes against the query-code matrix (exact integer
    dots — no accumulation-order concern), per-query admitted-cell and
    payload-match masks applied vectorized, in-batch (q, c) dedupe of
    boundary replicas, then a per-batch top-``rerank`` per query so the
    exchange carries batches x queries x rerank rows. Sound for the
    global top-``rerank``: a batch's distinct pairs are a subset of the
    global pairs, so any globally-kept pair is within its own batch's
    top-``rerank`` under the same (dot desc, c_id asc) order."""

    def fn(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            codes = np.stack(pdf["cc"].to_numpy()).astype(np.int64)
            dots = codes @ qmat.T  # rows x queries, exact int64
            cells = pdf["cell"].to_numpy()
            cids = pdf["c_id"].to_numpy()
            outs = []
            for j, q in enumerate(qids):
                mask = np.isin(cells, list(qcells[q])) & (cids != q)
                for c in match_cols:
                    mask &= pdf[f"c_{c}"].to_numpy() == qmatch[q][c]
                if not mask.any():
                    continue
                sub = pd.DataFrame(
                    {
                        "q_id": q,
                        "c_id": cids[mask],
                        "cell": cells[mask],
                        "approx_dot": dots[mask, j],
                    }
                )
                outs.append(
                    sub.sort_values(
                        ["approx_dot", "c_id"], ascending=[False, True]
                    )
                    .drop_duplicates(subset=["c_id"])  # in-batch replicas
                    .head(rerank)
                )
            if outs:
                yield pd.concat(outs)

    return fn


def coded_candidate_scan(
    spark: SparkSession, index_dir: str, admitted: list, match_cols: tuple = ()
) -> DataFrame:
    """The probe's stage-1 candidate scan: admitted-cell PARTITION
    pruning plus COLUMN pruning to ``(vec_id, cell, code[, payload])``
    — the 8-byte/dim raw vectors never leave the parquet footer here
    (the scan's ReadSchema is pinned by ``tests/test_vector_index``)."""
    return (
        spark.read.parquet(os.path.join(index_dir, "vectors"))
        .where(F.col("cell").isin(admitted))  # static partition pruning
        .select(
            F.col("vec_id").alias("c_id"),
            F.col("cell"),
            F.col("code").alias("cc"),
            *[F.col(c).alias(f"c_{c}") for c in match_cols],
        )
    )


def ivf_pruned_topk(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    topk: int = 5,
    nprobe: int | None = None,
    codebook: tuple | None = None,
    match_cols: tuple = (),
    rerank: int | None = None,
    coded: bool = True,
) -> DataFrame:
    """Top-``topk`` cosine neighbors for ``queries`` (``q_id``, ``qv``
    array<double>, ``qn``) against a :func:`build_ivf_index` index,
    scanning ONLY the partition directories of admitted cells.

    ``coded=False`` skips the SQ8 two-stage entirely: the admitted
    cells' RAW vectors are scanned once and scored with exact cosine —
    8x the stage-1 bytes, but recall equals the cell-admission recall
    by construction. This is the measured plan for corpora whose top-k
    tail sits at NOISE-tier cosine gaps, where the coded shortlist's
    ~±0.04 dot noise would need a rerank budget in the thousands
    (SCALE.md §ivf-sq8-d256: at d=256, coded rerank ~5000 for 0.89
    while the float scan hits 0.938 at the same nprobe).

    FILTERED probe: ``match_cols`` names index payload columns (stored
    per-vector at build/extend time) that must EQUAL the query's column
    of the same name — e.g. ``match_cols=("label",)`` answers "nearest
    neighbors within my class". The payload rides the pruned scan, so
    the match evaluates on the scanned row at the probe join — the
    corpus is never joined back to fetch metadata (a CONSTANT
    predicate, e.g. ``lang='en'``, can instead be applied by the
    caller on ``vectors`` and pushes into the scan). Callers should
    WIDEN ``nprobe`` for filtered probes — a
    predicate keeping a fraction of each cell starves top-k otherwise;
    ``ivf_codebook.ivf_filtered_nprobe`` is the measured rule at ~0.1
    selectivity (recall floor held at every rehearsed scale).

    Probe-cell ranking runs driver-side in numpy against the collected
    codebook (K x d ints — bounded, ~1 MB at K ~ 2000) with the exact
    integer arithmetic of the oracle's probes CTE; the admitted-cell
    set (<= n_queries * nprobe ints) is the one driver round-trip that
    turns runtime knowledge into static partition pruning at the scan.

    Two-stage SQ8 probe (the FAISS IVF-SQ8 shape):

    1. **Coded scan** — the admitted cells are scanned reading ONLY
       ``(vec_id, code[, payload])``: parquet column pruning skips the
       8-byte/dim raw vectors, so stage-1 scan bytes are ~1/8 of a
       float probe. Candidates rank by the exact INTEGER
       scale-weighted code dot (:func:`sq8_dot_weights` — the decoded
       dot ``sum codeX*codeQ*s_d^2`` on a fixed-point grid, faithful
       on heterogeneous per-dim ranges) against the query's code
       (quantized engine-side with the index's frozen scales);
       boundary-replicated duplicates drop
       on (q_id, c_id) (identical codes), an Arrow-batched map-side
       partial top-``IVF_RERANK`` bounds the exchange, and a window
       keeps the per-query shortlist.
    2. **Exact rerank** — the shortlist (<= n_queries x IVF_RERANK
       ids, one bounded driver collect) fetches raw vectors via
       ``vec_id IN (...)`` over the admitted cells: row groups are
       vec_id-sorted at write, so the IN list prunes at the parquet
       footer instead of re-reading the cells' raw column end-to-end.
       Exact 6dp-rounded cosine ranks the final top-``topk``.
    """
    from pyspark.sql import Window

    from opencypher_datalayer_spark.benchqueries.similarity import _dot

    if codebook is not None:
        # warm-path: the caller (index builder / long-lived service)
        # already holds the trained codebook — skip the centroids read.
        # The parquet fallback below stays the cold-start path and is
        # what test_vector_index exercises.
        _, ids, cq = codebook
        ids = np.asarray(ids, dtype=np.int64)
        cq = np.asarray(cq, dtype=np.float64)
    else:
        ids, cq = read_codebook(spark, index_dir)

    # quantize the queries engine-side (same vq expression as the index
    # build), rank cells driver-side: bounded by the query-set size
    qrows = (
        queries.select(
            "q_id",
            vq_expr(v="qv", nrm="qn").alias("vq"),
        )
        .orderBy("q_id")
        .toPandas()
    )
    if nprobe is None:
        n_corpus = spark.read.parquet(os.path.join(index_dir, "vectors")).count() // ASSIGN_A
        nprobe = ivf_nprobe(n_corpus)
    qv = np.stack(qrows["vq"].to_numpy()).astype(np.float64)
    cells = top_cells(qv, ids, cq, nprobe)
    probe_pairs = [
        (int(q), int(c)) for q, row in zip(qrows["q_id"], cells) for c in row
    ]
    scales = read_scales(spark, index_dir)
    # rerank is the coded stage's resolution budget: IVF_RERANK holds
    # the recall floor when neighbor gaps dominate the SQ8 dot noise
    # (the bench corpora; planted family tiers at any d). On corpora
    # whose top-k tail sits at NOISE-tier cosine gaps the budget must
    # widen by measurement — SCALE.md §ivf-sq8-d256: at d=256 the
    # committed 20 recalls 0.45 of an all-noise top-5 and 0.89 needs
    # ~5000, at which point the float probe inside the admitted cells
    # is the better plan. Exposed so deployments pin the measured value.
    rerank = IVF_RERANK if rerank is None else int(rerank)
    admitted = sorted({c for _, c in probe_pairs})
    vectors_path = os.path.join(index_dir, "vectors")

    if not coded:
        # FLOAT probe (the noise-tier plan, docstring above): one exact
        # scan of the admitted cells — per-query cell admission and the
        # payload match evaluate at the broadcast probe join, exactly
        # the inline sim_ivf_topk shape over the pruned partitions, so
        # its row-identical oracle applies.
        from pyspark.sql import Window as _W

        probes_df = local_df(spark, probe_pairs, "q_id long, cell long")
        candf = spark.read.parquet(vectors_path).where(
            F.col("cell").isin(admitted)
        ).select(
            F.col("vec_id").alias("c_id"),
            "cell",
            F.col("v").alias("cv2"),
            F.col("nrm").alias("cn2"),
            *[F.col(c).alias(f"c_{c}") for c in match_cols],
        )
        # two SEPARATE broadcasts (ADVICE r12): the (q_id, cell) admit
        # pairs (pure ints) gate the scan first, then each query VECTOR
        # joins in exactly once by q_id — the fused probes-join-queries
        # side duplicated every query vector nprobe times, growing that
        # broadcast as n_queries x nprobe x dim at the production
        # operating point (nprobe ~344, d=256)
        joined = (
            F.broadcast(probes_df)
            .join(candf, "cell")
            .join(
                F.broadcast(queries.select("q_id", "qv", "qn", *match_cols)),
                "q_id",
            )
            .where(F.col("q_id") != F.col("c_id"))
        )
        for c in match_cols:
            joined = joined.where(F.col(c) == F.col(f"c_{c}"))
        cosf = F.round(
            _dot(F.col("qv"), F.col("cv2")) / (F.col("qn") * F.col("cn2")), 6
        )
        wf = _W.partitionBy("q_id").orderBy(
            F.col("cosine").desc(), F.col("c_id").asc()
        )
        return (
            joined.withColumn("cosine", cosf)
            .select("q_id", "c_id", "cosine")
            .dropDuplicates(["q_id", "c_id"])  # boundary replicas
            .withColumn("rk", F.row_number().over(wf))
            .where(F.col("rk") <= topk)
            .select("q_id", "c_id", "cosine", "rk")
            .orderBy("q_id", "rk")
        )

    # -- stage 1: coded shortlist over the pruned scan -------------------
    # Query codes + match values are ENGINE-computed (identical IEEE
    # decisions to the stored codes / the oracle) and collected — a
    # bounded frame (the query set). The scoring kernel is an
    # Arrow-batched numpy int64 matmul per batch (the sim_sq8_matmul /
    # vector-ingest kernel idiom): exact integer dots, ~10-50x the
    # throughput of an interpreted per-element fold, with the per-query
    # admitted-cell masks and payload match applied vectorized and a
    # per-batch top-IVF_RERANK bounding the exchange.
    q_local = (
        queries.withColumn("qc", sq8_code_expr(F.col("qv"), scales))
        .select("q_id", "qc", *match_cols)
        .collect()
    )
    if not q_local:
        return spark.createDataFrame(
            [], "q_id bigint, c_id bigint, cosine double, rk int"
        )
    qids_l = [int(r.q_id) for r in q_local]
    # stage-1 ranks by the DECODED dot: the query codes are pre-scaled
    # by the integer s_d^2 weights (one driver-side multiply), so the
    # kernel's int64 matmul computes sum(codeX * codeQ * W_d) — exact,
    # and faithful to the quantizer's geometry on heterogeneous dims
    qmat = np.stack(
        [np.asarray(r.qc, dtype=np.int64) for r in q_local]
    ) * sq8_dot_weights(scales)
    qcells = {int(q): set() for q in qids_l}
    for q, c in probe_pairs:
        if q in qcells:
            qcells[q].add(c)
    qmatch = {int(r.q_id): {c: r[c] for c in match_cols} for r in q_local}
    cand = coded_candidate_scan(spark, index_dir, admitted, match_cols)
    slim = cand.mapInPandas(
        _coded_topk_kernel(qids_l, qmat, qcells, qmatch, match_cols, rerank),
        "q_id bigint, c_id bigint, cell bigint, approx_dot bigint",
    )
    wa = Window.partitionBy("q_id").orderBy(
        F.col("approx_dot").desc(), F.col("c_id").asc()
    )
    # the shortlist is <= n_queries x IVF_RERANK rows: collect it once
    # (ONE stage-1 job) and re-inject as a local frame — cheaper than
    # checkpoint-and-reuse, and it hands stage 2 its literal IN lists
    short_rows = (
        slim.dropDuplicates(["q_id", "c_id"])  # cross-batch boundary replicas
        .withColumn("ark", F.row_number().over(wa))
        .where(F.col("ark") <= rerank)
        .select("q_id", "c_id", "cell")
        .collect()
    )
    if not short_rows:
        return spark.createDataFrame(
            [], "q_id bigint, c_id bigint, cosine double, rk int"
        )
    shortlist = local_df(
        spark,
        [(int(r.q_id), int(r.c_id)) for r in short_rows],
        "q_id long, c_id long",
    )
    short_ids = sorted({int(r.c_id) for r in short_rows})
    # each shortlist row knows the CELL it was scored in, so the rerank
    # opens only those cells' files (<= shortlist size), not the whole
    # admitted set — at sf10 that is ~200 partition dirs down from 764
    short_cells = sorted({int(r.cell) for r in short_rows})

    # -- stage 2: exact rerank of the bounded shortlist ------------------
    raw = (
        spark.read.parquet(vectors_path)
        .where(F.col("cell").isin(short_cells))
        # footer-pruned point fetch; one parsed In() with int64 literals
        # (narrower literals cast the column and defeat the pushdown;
        # per-literal Column construction costs a py4j trip per id —
        # functions/pushdown.py has the measurements)
        .where(isin_keys("vec_id", short_ids))
        .select(
            F.col("vec_id").alias("c_id"),
            F.col("v").alias("cv2"),
            F.col("nrm").alias("cn2"),
        )
        .dropDuplicates(["c_id"])  # boundary replicas: identical payloads
    )
    cos = F.round(_dot(F.col("qv"), F.col("cv2")) / (F.col("qn") * F.col("cn2")), 6)
    wk = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("c_id").asc())
    return (
        raw.join(F.broadcast(shortlist), "c_id")
        .join(F.broadcast(queries.select("q_id", "qv", "qn")), "q_id")
        .withColumn("cosine", cos)
        .withColumn("rk", F.row_number().over(wk))
        .where(F.col("rk") <= topk)
        .select("q_id", "c_id", "cosine", "rk")
        .orderBy("q_id", "rk")
    )


# -- serving-tier auto-selection (VERDICT r12 next #5) -------------------
#
# SCALE.md §ivf-sq8-d256 measured the split: the coded SQ8 two-stage
# holds the 0.9 recall floor at rerank=20 on STRUCTURED tiers (planted
# families, cos gaps >> the ~±0.04 coded-dot noise) but needs rerank in
# the thousands on NOISE tiers (~0.005 gaps), where the float probe of
# the admitted cells is the better plan. r12 shipped the knobs
# (rerank=, coded=False); this makes tier selection a MEASURED call
# instead of the caller's guess: calibrate once per index version
# (offline — the ground-truth scan is a deliberate full pass, the
# analog of compact), serve with the returned plan.

IVF_TIER_SAMPLE = 64  # self-query sample for calibration
IVF_TIER_RERANK_MAX = 640  # widest coded shortlist worth paying before
# the float probe wins outright (SCALE.md: the noise tier needed ~5000)
# calibration ladder: the committed operating point first, then two
# measured widenings — read at call time so deployments (and tests)
# can pin their own budget ladder
IVF_TIER_RERANK_STEPS = (IVF_RERANK, IVF_RERANK * 8, IVF_TIER_RERANK_MAX)
_TIER_PLAN_MEMO: dict = {}

# registered so bench.py's clear_memo_caches() wipes it before every
# timed run — no timed path calls ivf_serving_plan today, but the first
# one that does must re-pay the calibration, never hit a memo
from opencypher_datalayer_spark.benchqueries.memo import (  # noqa: E402
    register_memo_cache as _register_memo_cache,
)

_register_memo_cache(_TIER_PLAN_MEMO)


def ivf_serving_plan(
    spark: SparkSession,
    index_dir: str,
    topk: int = 5,
    floor: float = 0.9,
    sample: int = IVF_TIER_SAMPLE,
    match_cols: tuple = (),
) -> dict:
    """Measure the index's gap class and return the serving plan:
    ``{"coded": bool, "rerank": int | None, "nprobe": int, ...}`` plus
    the measured recalls behind the choice.

    Procedure (all MEASURED, nothing assumed): ``sample`` corpus
    vectors become self-queries; one exact full scan yields their true
    top-``topk`` (the offline ground-truth cost — run this like
    compaction, not per query); then (1) the float probe steps nprobe
    x1/x2/x4/x8 from the size rule until ADMISSION recall (which the
    float probe equals by construction) clears ``floor``, and (2) the
    coded two-stage at that nprobe steps rerank 20/160/640 until it
    clears ``floor`` — first hit wins (coded = fewer scan bytes); if
    none does, the plan is the float probe (the noise-tier verdict).
    Results memoized per (index_dir, topk, floor) — version dirs are
    immutable."""
    from pyspark.sql import Window

    from opencypher_datalayer_spark.benchqueries.similarity import _dot

    memo_key = (index_dir, int(topk), float(floor), int(sample))
    if memo_key in _TIER_PLAN_MEMO:
        return _TIER_PLAN_MEMO[memo_key]

    vectors = (
        spark.read.parquet(os.path.join(index_dir, "vectors"))
        .select("vec_id", "v", "nrm")
        .dropDuplicates(["vec_id"])
    )
    qdf = (
        vectors.orderBy("vec_id")
        .limit(int(sample))
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("v").alias("qv"),
            F.col("nrm").alias("qn"),
        )
        .localCheckpoint()
    )
    # ground truth: exact cosine top-k by full scan (self excluded),
    # same (cosine DESC, c_id ASC) 6dp tie rule as every probe
    cos = F.round(_dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), 6)
    wk = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("c_id").asc())
    truth_rows = (
        vectors.select(
            F.col("vec_id").alias("c_id"),
            F.col("v").alias("cv"),
            F.col("nrm").alias("cn"),
        )
        .crossJoin(F.broadcast(qdf))
        .where(F.col("q_id") != F.col("c_id"))
        .withColumn("cosine", cos)
        .withColumn("rk", F.row_number().over(wk))
        .where(F.col("rk") <= topk)
        .select("q_id", "c_id")
        .collect()
    )
    truth: dict = {}
    for r in truth_rows:
        truth.setdefault(int(r.q_id), set()).add(int(r.c_id))
    n_true = sum(len(v) for v in truth.values())

    def recall(df: DataFrame) -> float:
        hits = sum(
            1 for r in df.collect() if int(r.c_id) in truth.get(int(r.q_id), ())
        )
        return hits / n_true if n_true else 1.0

    ids, _cq = read_codebook(spark, index_dir)
    n_corpus = vectors.count()
    base_np = ivf_nprobe(int(n_corpus))
    plan = {"topk": int(topk), "floor": float(floor), "steps": []}
    nprobe, admit = base_np, 0.0
    for mult in (1, 2, 4, 8):
        nprobe = min(base_np * mult, len(ids))
        admit = recall(
            ivf_pruned_topk(
                spark, index_dir, qdf, topk=topk, nprobe=nprobe,
                coded=False, match_cols=match_cols,
            )
        )
        plan["steps"].append({"nprobe": nprobe, "float_recall": round(admit, 4)})
        if admit >= floor or nprobe >= len(ids):
            break
    for rr in IVF_TIER_RERANK_STEPS:
        if rr >= n_corpus:
            # a coded stage reranking >= the corpus re-reads everything
            # the float probe reads PLUS the coded scan — strictly more
            # work, never the right plan
            continue
        cr = recall(
            ivf_pruned_topk(
                spark, index_dir, qdf, topk=topk, nprobe=nprobe,
                rerank=rr, coded=True, match_cols=match_cols,
            )
        )
        plan["steps"].append({"nprobe": nprobe, "rerank": rr, "coded_recall": round(cr, 4)})
        if cr >= floor:
            plan.update(coded=True, rerank=rr, nprobe=nprobe, measured_recall=round(cr, 4))
            break
    else:
        # noise tier: no affordable coded budget orders the gaps — serve
        # the exact float scan of the admitted cells
        plan.update(coded=False, rerank=None, nprobe=nprobe, measured_recall=round(admit, 4))
    _TIER_PLAN_MEMO[memo_key] = plan
    return plan


def ivf_auto_topk(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    topk: int = 5,
    match_cols: tuple = (),
    plan: dict | None = None,
) -> DataFrame:
    """:func:`ivf_pruned_topk` behind the measured serving plan: the
    calibrated (coded, rerank, nprobe) choice of
    :func:`ivf_serving_plan` — family-tier corpora get the coded SQ8
    two-stage, noise-tier corpora the float probe, both meeting the
    calibration floor by measurement."""
    plan = plan or ivf_serving_plan(spark, index_dir, topk=topk, match_cols=match_cols)
    return ivf_pruned_topk(
        spark,
        index_dir,
        queries,
        topk=topk,
        nprobe=plan["nprobe"],
        rerank=plan["rerank"],
        coded=plan["coded"],
        match_cols=match_cols,
    )
