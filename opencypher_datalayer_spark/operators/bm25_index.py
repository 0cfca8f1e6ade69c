"""Standing BM25 inverted-index artifact: bucket-partitioned postings
plus corpus statistics, probed by the lexical-retrieval family.

Retrieval is the one LLM-pipeline shape the engine lacked: given a
query (a bag of terms — here a whole document, the "find documents
like this one" curation/RAG probe), rank the corpus by Okapi BM25.
The corpus-side derivation (postings, document frequencies, document
lengths, corpus size) is exactly the build-once/probe-per-batch shape
of the dedup/ANN artifacts, so it lives in the same store:

- ``postings/`` — one row per (doc, term): ``(tok, doc_id, tf, dl)``,
  written ``partitionBy(bucket)`` where ``bucket = pmod(xxhash64(tok),
  N_BUCKETS)``. A probe knows its query terms' buckets up front, so the
  scan is PARTITION-PRUNED to those buckets (the IVF-cell idiom applied
  to lexical search); ``dl`` is denormalized onto the row so the probe
  never joins a doc-length table.
- ``stats/`` — ``(tok, df)`` per term, same bucket partitioning. Rows
  are DELTAS: an extension appends the batch's per-term df counts and
  the probe sums df across generations for just the (broadcast-tiny)
  query vocabulary — df is additive across disjoint doc batches, so
  extension is exact, never approximate.
- ``corpus/`` — ``(n_docs, sum_dl)`` delta rows, summed at probe time
  (two scalars; bounded by the number of extensions).

Extension is O(batch): append the batch's postings/stats/corpus rows
through ``ArtifactStore.commit_extension`` (hard-linked base + CAS
publish). Unlike the n-gram corpus there is no ranking to go stale —
df deltas SUM to the exact grown-corpus value — so ``compact`` is pure
housekeeping (merge the stats/corpus generations to keep the probe-side
delta aggregation flat); :func:`needs_compact` is a generation-count
advisory, not a quality trigger.

Scoring (the registry's pinned point, mirrored term-for-term by the
DuckDB oracles): ``score(q,d) = sum over shared terms of idf(t) *
sat(t,d)`` with the RATIONAL idf ``(N - df + 0.5)/(df + 0.5) + 1`` —
the argument of the textbook BM25 log, kept log-free for the same
reason ``textkit.tfidf_topk`` is: every factor is then a
correctly-rounded IEEE op on exact operands, so any engine computes
the identical double (libm ``log`` drifts by ulps across engines).
``sat = tf*(k1+1) / (tf + k1*((1-b) + b*(dl/avgdl)))`` is textbook.
Per-term scores are floored onto an integer 1e-9 grid and SUMMED AS
INT64 — order-independent, so the grouped aggregation hash-matches
bit-for-bit regardless of partial-aggregation order. Callers that
want the log idf pass ``idf="log"`` (rank quality; not oracle-pinned).

Reference anchor: no analog — the reference delegates persistence and
querying to Neo4j (``layer.go:257-265``); this module is part of the
engine's training-data-pipeline extension.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from opencypher_datalayer_spark.functions.pushdown import isin_keys
from opencypher_datalayer_spark.operators.textkit import tokens

N_BUCKETS = 32  # postings/stats partition count; probes prune to the query's buckets
K1 = 1.2
B = 0.75
SCALE = 1_000_000_000  # per-term integer score grid (1e-9)
# query-vocabulary size up to which the probe pushes `tok IN (terms)`
# into the postings/stats scans (row-group pruning over the tok-sorted
# layout); a larger vocabulary falls back to bucket pruning + the join
TOK_PUSHDOWN_MAX = 10_000

POSTINGS = "postings"
STATS = "stats"
CORPUS = "corpus"
BLOCKS = "blocks"

# Block-max granularity: each term's doc_id-sorted posting run is
# chunked every BM25_BLOCK rows and the chunk's (max_tf, min_dl,
# doc_id range) recorded in blocks/. ~page-scale (parquet column
# indexes prune at ~1 MB pages, and the postings rows are ~30 bytes),
# so an admitted-range predicate that survives to the scan actually
# skips I/O, not just rows.
BM25_BLOCK = 4096


def bucket_of(tok) -> F.Column:  # type: ignore[name-defined]
    """Partition bucket of a term — any deterministic hash works (the
    oracle never sees buckets; they only drive Spark-side pruning)."""
    return F.pmod(F.xxhash64(tok), F.lit(N_BUCKETS)).cast("int")


# token explode inflates ~64 rows per ~300-char doc (the text family's
# shared estimate) — the builders re-split ahead of it so a single-row-
# group source doesn't serialize the build on one core (the IVF
# quantize/assign trap, found again here: direct-kernel sf10 build was
# 66.9 s vs 20.0 through the pre-rebalanced registry path)
WORK_TOKENIZE = 64


def postings_for(docs: DataFrame) -> DataFrame:
    """``(bucket, tok, doc_id, tf, dl)`` for a ``(doc_id, text)`` frame.
    Pure per-doc content (tf and dl are functions of one document), so
    extension rows are exactly what a full rebuild would emit."""
    from opencypher_datalayer_spark.operators.scale import rebalance_for_inflation

    docs = rebalance_for_inflation(docs, work_per_row=WORK_TOKENIZE)
    # dl (document length) is size(tokens) — computable BEFORE the
    # explode, so it rides the tf groupBy as a grouping constant
    # instead of a second full shuffle (the old sum(tf) OVER doc_id
    # window; one shuffle saved on every build/extension, measured as
    # real per-epoch cost in st_stream_clean_ingest)
    toks = docs.select("doc_id", tokens(F.col("text")).alias("ts"))
    return (
        toks.select(
            "doc_id",
            F.size("ts").cast("long").alias("dl"),
            F.explode("ts").alias("tok"),
        )
        .groupBy("doc_id", "tok", "dl")
        .agg(F.count("*").alias("tf"))
        .select("doc_id", "tok", "tf", "dl")
        .withColumn("bucket", bucket_of(F.col("tok")))
    )


def stats_for(postings: DataFrame) -> DataFrame:
    """``(bucket, tok, df, max_tf, min_dl)`` — document frequency plus
    the term's impact-bound ingredients. Over a batch's postings these
    are the batch's DELTAS, each associative across disjoint doc
    batches (df sums, max_tf maxes, min_dl mins), so extension stays
    exact. ``max_tf``/``min_dl`` let the probe compute a per-term
    UPPER BOUND on any document's contribution (BM25's ``sat`` is
    increasing in tf and decreasing in dl) — the MaxScore-lite skip in
    :func:`bm25_topk`."""
    return (
        postings.groupBy("tok")
        .agg(
            F.count("*").alias("df"),
            F.max("tf").alias("max_tf"),
            F.min("dl").alias("min_dl"),
        )
        .withColumn("bucket", bucket_of(F.col("tok")))
    )


def blocks_for(postings: DataFrame, block: int | None = None) -> DataFrame:
    """``(bucket, tok, min_doc, max_doc, bmax_tf, bmin_dl)`` — per-term
    BLOCK-level impact-bound ingredients (the BMW refinement of the
    term-level ``stats_for`` bounds): each term's doc_id-sorted posting
    run chunked every ``block`` rows. Like the term stats these are
    associative across disjoint doc batches — an extension appends its
    OWN batch's blocks, whose bounds stay valid per block (ranges may
    overlap the base's; the probe admits the union). One row per
    ~``block`` postings, so the frame is ~1/{BM25_BLOCK} of postings."""
    block = BM25_BLOCK if block is None else block  # call-time module global
    w = Window.partitionBy("tok").orderBy("doc_id")
    return (
        postings.withColumn(
            "blk", F.floor((F.row_number().over(w) - F.lit(1)) / F.lit(block))
        )
        .groupBy("tok", "blk")
        .agg(
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
            F.max("tf").alias("bmax_tf"),
            F.min("dl").alias("bmin_dl"),
        )
        .drop("blk")
        .withColumn("bucket", bucket_of(F.col("tok")))
    )


def corpus_row(docs: DataFrame, post: DataFrame | None = None) -> DataFrame:
    """One ``(n_docs, sum_dl)`` row for a doc batch. ``n_docs`` counts
    ALL docs (token-less documents still raise N in the idf); sum_dl
    counts whitespace tokens. Pass the batch's ``post`` (postings)
    frame to derive sum_dl from it (``sum(tf)`` — token-less docs add
    nothing either way) instead of re-tokenizing the corpus a second
    time; ``n_docs`` is then a tokenize-free count."""
    if post is not None:
        n = docs.select(F.count("*").alias("n_docs"))
        return n.crossJoin(post.select(F.sum("tf").cast("long").alias("sum_dl")))
    from opencypher_datalayer_spark.operators.scale import rebalance_for_inflation

    docs = rebalance_for_inflation(docs, work_per_row=WORK_TOKENIZE)
    return docs.select(
        F.count("*").alias("n_docs"),
        F.sum(F.size(tokens(F.col("text")))).cast("long").alias("sum_dl"),
    )


def index_meta(adir: str) -> dict:
    """The committed version's ``meta.json`` (``{}`` if absent) —
    streaming sinks stamp their replay marker here, atomically with the
    version commit (the IVF index's exactly-once idiom)."""
    try:
        with open(os.path.join(adir, "meta.json")) as f:
            return json.load(f)
    except OSError:
        return {}


def _write_meta(out_dir: str, meta: dict) -> None:
    p = os.path.join(out_dir, "meta.json")
    if os.path.exists(p):  # hard-linked from the base version: never
        os.remove(p)  # rewrite a shared inode in place
    with open(p, "w") as f:
        json.dump(meta, f)


def write_bm25_index(
    docs: DataFrame,
    out_dir: str,
    meta_extra: dict | None = None,
    n_docs: int | None = None,
) -> None:
    """Materialize the index for ``docs`` (``doc_id``, ``text``) under
    an artifact version dir. The tokenize/explode pass runs ONCE — the
    postings write materializes it, and the stats/blocks aggregations
    and corpus row derive from the written parquet's read-back instead
    of re-running the pass per output (a build paid the whole pass
    three times before; the read-back also replaces a localCheckpoint
    job, and at scale a parquet scan of what was just written beats
    re-materializing it to executor-local disk). ``n_docs`` is the
    exact document count INCLUDING token-less docs when the caller
    already knows it (the streaming sink's bootstrap epoch does) — it
    makes the small-corpus driver-side path count-job-free, so a
    bootstrap consumes ``docs`` exactly once (the postings write)."""
    # (tok, doc_id)-sorted row groups: the probe pushes `tok IN (query
    # terms)` into the scan, so parquet footer stats skip every row
    # group holding only other terms' postings — the posting-list
    # locality of a real inverted index, in parquet form. A bootstrap
    # batch with a caller-known count builds them driver-side (one
    # Arrow collect — see BM25_DRIVER_BUILD_*); bigger corpora take
    # the distributed write.
    nd_built = _driver_postings_build(docs, os.path.join(out_dir, POSTINGS), n_docs)
    if nd_built is None:
        postings_for(docs).sortWithinPartitions(
            "bucket", "tok", "doc_id"
        ).write.partitionBy("bucket").parquet(os.path.join(out_dir, POSTINGS))
    if _tree_bytes(os.path.join(out_dir, POSTINGS)) <= EXTEND_DRIVER_STATS_MAX_BYTES:
        # MB-scale corpus (a streaming bootstrap epoch, a test fixture):
        # derive stats/blocks/corpus driver-side with exact pandas int
        # aggregation — one Spark job total instead of four (see
        # EXTEND_DRIVER_STATS_MAX_BYTES; equivalence pinned by
        # tests/test_bm25.py::test_driver_side_*)
        if nd_built is not None:
            nd = nd_built
        else:
            nd = docs.count() if n_docs is None else int(n_docs)
        _driver_stats_corpus(
            os.path.join(out_dir, POSTINGS),
            out_dir,
            nd,
            want_blocks=True,
            fine_blocks=True,
        )
    else:
        post = docs.sparkSession.read.schema(_POSTINGS_SCHEMA).parquet(
            os.path.join(out_dir, POSTINGS)
        )
        stats_for(post).sortWithinPartitions("bucket", "tok").write.partitionBy(
            "bucket"
        ).parquet(os.path.join(out_dir, STATS))
        blocks_for(post).sortWithinPartitions(
            "bucket", "tok", "min_doc"
        ).write.partitionBy("bucket").parquet(os.path.join(out_dir, BLOCKS))
        corpus_row(docs, post).write.parquet(os.path.join(out_dir, CORPUS))
    # generation counters (see generations()/postings_generations()):
    # a fresh build is one corpus row and one postings file chain, so
    # the advisory signal starts at 1 without a job
    _write_meta(
        out_dir,
        {**dict(meta_extra or {}), "generations": 1, "postings_generations": 1},
    )


# Explicit read schemas: a zero-row build (e.g. every document empty)
# writes parquet dirs with no data files, where schema inference fails
# — the graph store's empty-commit lesson, re-found here by the
# Hypothesis model (tests/test_bm25_properties.py).
_POSTINGS_SCHEMA = "tok string, doc_id bigint, tf bigint, dl bigint, bucket int"
_STATS_SCHEMA = "tok string, df bigint, max_tf bigint, min_dl bigint, bucket int"
_CORPUS_SCHEMA = "n_docs bigint, sum_dl bigint"
_BLOCKS_SCHEMA = (
    "tok string, min_doc bigint, max_doc bigint, bmax_tf bigint, "
    "bmin_dl bigint, bucket int"
)


def read_bm25_index(spark: SparkSession, adir: str) -> dict[str, DataFrame]:
    frames = {
        POSTINGS: spark.read.schema(_POSTINGS_SCHEMA).parquet(
            os.path.join(adir, POSTINGS)
        ),
        STATS: spark.read.schema(_STATS_SCHEMA).parquet(os.path.join(adir, STATS)),
        CORPUS: spark.read.schema(_CORPUS_SCHEMA).parquet(os.path.join(adir, CORPUS)),
    }
    # pre-block-max indexes (long-lived streaming keys) have no blocks/
    # dir — the probe degrades to term-level MaxScore bounds
    if os.path.isdir(os.path.join(adir, BLOCKS)):
        frames[BLOCKS] = spark.read.schema(_BLOCKS_SCHEMA).parquet(
            os.path.join(adir, BLOCKS)
        )
    return frames


def _adopt_scratch(scratch: str, dst_roots: list[str]) -> None:
    """Move a scratch write's parquet files into one version-tree dir
    (and hard-link them into any further ones) preserving the bucket
    sub-layout — the append analog without a second Spark write job.
    Spark part- filenames are job-unique, so nothing collides with the
    hard-linked base generations' files."""
    first, rest = dst_roots[0], dst_roots[1:]
    for dp, _, fs in os.walk(scratch):
        rel = os.path.relpath(dp, scratch)
        for f in fs:
            if not f.endswith(".parquet"):
                continue
            src = os.path.join(dp, f)
            for root in rest:
                d = root if rel == "." else os.path.join(root, rel)
                os.makedirs(d, exist_ok=True)
                os.link(src, os.path.join(d, f))
            d = first if rel == "." else os.path.join(first, rel)
            os.makedirs(d, exist_ok=True)
            os.rename(src, os.path.join(d, f))
    shutil.rmtree(scratch)


# Scratch-postings byte size up to which an extension derives its
# stats/blocks/corpus deltas DRIVER-SIDE from the just-written scratch
# parquet (pyarrow read + pandas groupby + pyarrow write — exact int
# aggregation, zero extra Spark jobs) instead of two more Spark write
# jobs. A streaming epoch batch is MB-scale — three distributed jobs
# of fixed ~0.4 s scheduling overhead each were the dominant epoch
# cost in st_stream_clean_ingest; above the cap (a bulk backfill) the
# Spark path runs unchanged.
EXTEND_DRIVER_STATS_MAX_BYTES = 64 * 1024 * 1024

# Batch size gates for the DRIVER-SIDE POSTINGS build (the step past
# driver-side stats: tokenize + tf/dl + bucket computed in Python from
# ONE Arrow collect of the batch, written with pyarrow) — profiled at
# sf0.1 the Spark postings write costs ~5 scheduler jobs / ~1.5 s per
# MB-scale streaming epoch, almost all fixed overhead. The doc gate
# bounds the Python tokenize loop (~1-2 M postings/s), the byte gate
# bounds driver memory; above either, the distributed write runs
# unchanged (the sf10 rehearsal's 125k-doc epochs take that path).
BM25_DRIVER_BUILD_MAX_DOCS = 25_000
BM25_DRIVER_BUILD_MAX_BYTES = 32 * 1024 * 1024

# Java's default \s (what Spark's split sees) is exactly the ASCII set
# [ \t\n\x0B\f\r]; Python's bytes-pattern \s matches the same set, so
# splitting the UTF-8 BYTES reproduces the JVM tokenizer bit-for-bit
# (multi-byte UTF-8 units are all >= 0x80 and can never contain them).
import re as _re

_WS_BYTES = _re.compile(rb"\s+")


def _xxh64_py(data: bytes, seed: int = 42) -> int:
    """Pure-Python XXH64 returning Spark's SIGNED int64 — the exact
    value ``F.xxhash64(string_col)`` computes over the UTF-8 bytes
    (Spark's fixed seed is 42). Differential-pinned against the engine
    over the corpus vocabulary by ``tests/test_bm25.py``; used by the
    driver-side postings build, whose bucket assignment must agree
    with :func:`bucket_of` or probes would prune to the wrong bucket."""
    M = (1 << 64) - 1
    P1, P2, P3 = 0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9
    P4, P5 = 0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5

    def rotl(x: int, r: int) -> int:
        return ((x << r) | (x >> (64 - r))) & M

    n, i = len(data), 0
    if n >= 32:
        v1 = (seed + P1 + P2) & M
        v2 = (seed + P2) & M
        v3 = seed & M
        v4 = (seed - P1) & M
        while i + 32 <= n:
            v1 = (rotl((v1 + int.from_bytes(data[i : i + 8], "little") * P2) & M, 31) * P1) & M
            v2 = (rotl((v2 + int.from_bytes(data[i + 8 : i + 16], "little") * P2) & M, 31) * P1) & M
            v3 = (rotl((v3 + int.from_bytes(data[i + 16 : i + 24], "little") * P2) & M, 31) * P1) & M
            v4 = (rotl((v4 + int.from_bytes(data[i + 24 : i + 32], "little") * P2) & M, 31) * P1) & M
            i += 32
        h = (rotl(v1, 1) + rotl(v2, 7) + rotl(v3, 12) + rotl(v4, 18)) & M
        for v in (v1, v2, v3, v4):
            h ^= (rotl((v * P2) & M, 31) * P1) & M
            h = (h * P1 + P4) & M
    else:
        h = (seed + P5) & M
    h = (h + n) & M
    while i + 8 <= n:
        k = (rotl((int.from_bytes(data[i : i + 8], "little") * P2) & M, 31) * P1) & M
        h = (rotl(h ^ k, 27) * P1 + P4) & M
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i : i + 4], "little") * P1) & M
        h = (rotl(h, 23) * P2 + P3) & M
        i += 4
    while i < n:
        h ^= (data[i] * P5) & M
        h = (rotl(h, 11) * P1) & M
        i += 1
    h ^= h >> 33
    h = (h * P2) & M
    h ^= h >> 29
    h = (h * P3) & M
    h ^= h >> 32
    return h - (1 << 64) if h >= (1 << 63) else h


def _driver_postings_build(docs: DataFrame, scratch: str, n_docs: int | None):
    """Driver-side twin of the batch postings write: tokenize, tf/dl,
    and xxhash64 bucket computed in Python from ONE Arrow collect of
    ``docs``, written as one (tok, doc_id)-sorted parquet file per
    bucket under ``scratch`` — the exact content :func:`postings_for`
    + the sorted dynamic-partition write produce (tokens pinned by the
    bytes-\\s split above, buckets by the ``_xxh64_py`` twin;
    equivalence pinned by ``tests/test_bm25.py``). Returns the batch's
    exact doc count on success, or ``None`` (nothing written) when the
    gates say the batch belongs on the distributed path."""
    if n_docs is None or n_docs > BM25_DRIVER_BUILD_MAX_DOCS:
        return None
    pdf = docs.select("doc_id", "text").toPandas()
    total_bytes = sum(len(t) for t in pdf["text"] if t)
    if total_bytes > BM25_DRIVER_BUILD_MAX_BYTES:
        return None  # caller re-runs the Spark write; rare (gate race)
    import uuid
    from collections import Counter

    import pyarrow as pa
    import pyarrow.parquet as pq

    by_bucket: dict[int, list] = {}
    bucket_cache: dict[bytes, int] = {}
    for doc_id, text in zip(pdf["doc_id"].tolist(), pdf["text"].tolist()):
        toks = [t for t in _WS_BYTES.split((text or "").encode("utf-8")) if t]
        dl = len(toks)
        for t, tf in Counter(toks).items():
            b = bucket_cache.get(t)
            if b is None:
                b = bucket_cache[t] = _xxh64_py(t) % N_BUCKETS
            by_bucket.setdefault(b, []).append((t, int(doc_id), tf, dl))
    os.makedirs(scratch, exist_ok=True)
    ints = pa.int64()
    for b, rows in by_bucket.items():
        rows.sort()  # (tok, doc_id) — the probe's row-group pruning order
        d = os.path.join(scratch, f"bucket={b}")
        os.makedirs(d, exist_ok=True)
        pq.write_table(
            pa.table(
                {
                    "tok": pa.array([r[0].decode("utf-8") for r in rows], pa.string()),
                    "doc_id": pa.array([r[1] for r in rows], ints),
                    "tf": pa.array([r[2] for r in rows], ints),
                    "dl": pa.array([r[3] for r in rows], ints),
                }
            ),
            os.path.join(d, f"part-00000-{uuid.uuid4().hex}-c000.snappy.parquet"),
        )
    return len(pdf)


def _driver_stats_corpus(
    scratch: str,
    tmp: str,
    n_docs: int,
    want_blocks: bool,
    fine_blocks: bool = False,
) -> None:
    """Driver-side twin of the stats+blocks+corpus writes: the same
    per-term (df, max_tf, min_dl) / per-block and batch (n_docs,
    sum_dl) aggregates — integer, hence bit-identical to the Spark
    aggregation — computed with pandas from the written postings and
    written with pyarrow straight into the version tree.

    ``fine_blocks=False`` is the EXTENSION shape: one coarse block per
    term covering the batch's doc_id range, carried as extra columns
    of a single combined file hard-linked into both stats/ and
    blocks/. ``fine_blocks=True`` is the FULL-BUILD shape: blocks
    chunked every ``BM25_BLOCK`` doc_id-sorted postings per term (the
    exact ``blocks_for`` semantics), written as separate files."""
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    def _write(tbl: pa.Table, root: str, name: str, link_roots=()):
        fname = f"part-00000-{uuid.uuid4().hex}-c000.snappy.parquet"
        d = os.path.join(root, name)
        os.makedirs(d, exist_ok=True)
        pq.write_table(tbl, os.path.join(d, fname))
        for lr in link_roots:
            ld = os.path.join(lr, name)
            os.makedirs(ld, exist_ok=True)
            os.link(os.path.join(d, fname), os.path.join(ld, fname))

    block = BM25_BLOCK  # call-time module global (tests shrink it)
    # the relation dirs must EXIST even for a zero-postings corpus
    # (every doc token-less): the readers' explicit schemas handle
    # empty dirs, but a missing stats/ path is an AnalysisException —
    # the zero-row-build lesson, re-found by the Hypothesis model the
    # day this went driver-side
    os.makedirs(os.path.join(tmp, STATS), exist_ok=True)
    if want_blocks:
        os.makedirs(os.path.join(tmp, BLOCKS), exist_ok=True)
    sum_dl = 0
    for name in sorted(os.listdir(scratch)) if os.path.isdir(scratch) else []:
        if not name.startswith("bucket="):
            continue
        bdir = os.path.join(scratch, name)
        pdf = pq.read_table(bdir, columns=["tok", "doc_id", "tf", "dl"]).to_pandas()
        if not len(pdf):
            continue
        sum_dl += int(pdf["tf"].sum())
        g = (
            pdf.groupby("tok", sort=True)
            .agg(
                df=("tf", "size"),
                max_tf=("tf", "max"),
                min_dl=("dl", "min"),
                min_doc=("doc_id", "min"),
                max_doc=("doc_id", "max"),
            )
            .reset_index()
        )
        ints = pa.int64()
        if not fine_blocks:
            _write(
                pa.table(
                    {
                        "tok": pa.array(g["tok"], pa.string()),
                        "df": pa.array(g["df"], ints),
                        "max_tf": pa.array(g["max_tf"], ints),
                        "min_dl": pa.array(g["min_dl"], ints),
                        "bmax_tf": pa.array(g["max_tf"], ints),
                        "bmin_dl": pa.array(g["min_dl"], ints),
                        "min_doc": pa.array(g["min_doc"], ints),
                        "max_doc": pa.array(g["max_doc"], ints),
                    }
                ),
                os.path.join(tmp, STATS),
                name,
                link_roots=[os.path.join(tmp, BLOCKS)] if want_blocks else (),
            )
            continue
        _write(
            pa.table(
                {
                    "tok": pa.array(g["tok"], pa.string()),
                    "df": pa.array(g["df"], ints),
                    "max_tf": pa.array(g["max_tf"], ints),
                    "min_dl": pa.array(g["min_dl"], ints),
                }
            ),
            os.path.join(tmp, STATS),
            name,
        )
        if want_blocks:
            pdf = pdf.sort_values(
                ["tok", "doc_id"], kind="mergesort"
            ).reset_index(drop=True)
            pdf["blk"] = pdf.groupby("tok").cumcount() // block
            b = (
                pdf.groupby(["tok", "blk"], sort=True)
                .agg(
                    min_doc=("doc_id", "min"),
                    max_doc=("doc_id", "max"),
                    bmax_tf=("tf", "max"),
                    bmin_dl=("dl", "min"),
                )
                .reset_index()
                .sort_values(["tok", "min_doc"], kind="mergesort")
            )
            _write(
                pa.table(
                    {
                        "tok": pa.array(b["tok"], pa.string()),
                        "min_doc": pa.array(b["min_doc"], ints),
                        "max_doc": pa.array(b["max_doc"], ints),
                        "bmax_tf": pa.array(b["bmax_tf"], ints),
                        "bmin_dl": pa.array(b["bmin_dl"], ints),
                    }
                ),
                os.path.join(tmp, BLOCKS),
                name,
            )
    crow = pa.table(
        {
            "n_docs": pa.array([int(n_docs)], pa.int64()),
            "sum_dl": pa.array([sum_dl], pa.int64()),
        }
    )
    cdir = os.path.join(tmp, CORPUS)
    os.makedirs(cdir, exist_ok=True)
    pq.write_table(
        crow,
        os.path.join(cdir, f"part-00000-{uuid.uuid4().hex}-c000.snappy.parquet"),
    )


def _tree_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(root)
        for f in fs
    )


def extend_bm25_index(
    spark: SparkSession,
    store,
    kind: str,
    key: tuple,
    docs_new: DataFrame,
    meta_extra: dict | None = None,
    n_docs: int | None = None,
) -> str:
    """Append a NEW batch (doc_ids disjoint from the standing corpus —
    the caller's contract, same as every standing artifact) as a new
    committed version: postings rows are pure per-doc, stats/corpus
    rows are additive deltas the probe sums — content-equivalent to a
    full rebuild over the grown corpus (pinned by
    ``tests/test_bm25.py``). O(batch) per ingest. ``meta_extra``
    merges into the version's ``meta.json`` atomically with the commit
    (streaming replay markers). ``n_docs`` is the batch's document
    count INCLUDING token-less docs when the caller already knows it
    (the streaming sink does) — it saves the one count job the
    driver-side small-batch path otherwise runs."""

    def build(tmp: str) -> None:
        # ONE tokenize pass, materialized as the batch's postings files
        # in a scratch dir whose read-back feeds every derived write —
        # the streaming hot path's JOB COUNT is the cost that matters
        # over an MB-scale epoch batch (profiled in
        # st_stream_clean_ingest): 3 write jobs per epoch now
        # (postings, stats+blocks combined, corpus) where the r12 shape
        # ran 6 (two localCheckpoints, four writes); the scratch files
        # then MOVE into the version tree instead of a second write
        scratch = os.path.join(tmp, "_batch_postings")
        # MB-scale epoch batch with a caller-known count: build the
        # batch postings driver-side from one Arrow collect — the
        # Spark write below costs ~5 scheduler jobs of fixed overhead
        # per streaming epoch (profiled; see BM25_DRIVER_BUILD_*)
        nd_built = _driver_postings_build(docs_new, scratch, n_docs)
        if nd_built is None:
            postings_for(docs_new).sortWithinPartitions(
                "bucket", "tok", "doc_id"
            ).write.partitionBy("bucket").parquet(scratch)
        # blocks coverage must stay COMPLETE to be sound: the batch
        # contributes block rows only when the (hard-linked) base has a
        # blocks dir; a pre-block-max base stays block-less and the
        # probe keeps term-level bounds. Extensions record one coarse
        # block per (tok, batch) covering the batch's full doc_id range
        # (sound: every batch row is covered and the bounds are the
        # batch's max_tf/min_dl; an epoch batch's finer skipping value
        # is negligible).
        want_blocks = os.path.isdir(os.path.join(tmp, BLOCKS))
        if _tree_bytes(scratch) <= EXTEND_DRIVER_STATS_MAX_BYTES:
            # MB-scale batch: derive stats/blocks/corpus driver-side —
            # zero further Spark jobs (see EXTEND_DRIVER_STATS_MAX_BYTES)
            if nd_built is not None:
                nd = nd_built  # the collect's own row count — exact
            else:
                nd = docs_new.count() if n_docs is None else int(n_docs)
            _driver_stats_corpus(scratch, tmp, nd, want_blocks)
        else:
            post = spark.read.schema(_POSTINGS_SCHEMA).parquet(scratch)
            agg = (
                post.groupBy("tok")
                .agg(
                    F.count("*").alias("df"),
                    F.max("tf").alias("max_tf"),
                    F.min("dl").alias("min_dl"),
                    F.min("doc_id").alias("min_doc"),
                    F.max("doc_id").alias("max_doc"),
                )
                .withColumn("bucket", bucket_of(F.col("tok")))
            )
            # stats + blocks from ONE WRITE JOB: every index read is
            # explicit-schema (parquet projects columns), so the batch
            # writes a single combined file per bucket carrying the
            # stats columns AND the block-bound aliases, hard-linked
            # into both dirs (the batch has exactly one block row per
            # term, so the (bucket, tok) sort serves both layouts)
            stats_scratch = os.path.join(tmp, "_batch_stats")
            agg.select(
                "tok",
                "df",
                "max_tf",
                "min_dl",
                F.col("max_tf").alias("bmax_tf"),
                F.col("min_dl").alias("bmin_dl"),
                "min_doc",
                "max_doc",
                "bucket",
            ).sortWithinPartitions("bucket", "tok").write.partitionBy(
                "bucket"
            ).parquet(stats_scratch)
            _adopt_scratch(
                stats_scratch,
                [os.path.join(tmp, STATS)]
                + ([os.path.join(tmp, BLOCKS)] if want_blocks else []),
            )
            corpus_row(docs_new, post).write.mode("append").parquet(
                os.path.join(tmp, CORPUS)
            )
        # append the batch's postings by MOVING the scratch files into
        # the version tree (same filesystem; spark part- names are
        # job-unique, so no collision with the hard-linked base files)
        _adopt_scratch(scratch, [os.path.join(tmp, POSTINGS)])
        # tmp is relinked from the CURRENT version (the CAS winner's on
        # a retry), so its meta carries the up-to-date counter; this
        # extension appends exactly one corpus row on top of it. A
        # pre-counter base stays counter-less (generations() falls back
        # to the corpus count) — upgrading it here would cost the very
        # Spark job the counter exists to avoid.
        base_meta = index_meta(tmp)
        merged = _merged_meta(base_meta, meta_extra)
        for counter in ("generations", "postings_generations"):
            if counter in base_meta:
                merged[counter] = int(base_meta[counter]) + 1
        _write_meta(tmp, merged)

    return store.commit_extension(kind, key, build)


def _merged_meta(base_meta: dict, meta_extra: dict | None) -> dict:
    """Merge extension meta onto the base version's, keeping the
    ``last_epoch`` replay marker MONOTONIC: on a commit_extension CAS
    retry the tmp is relinked from the WINNER's version, whose marker
    may already be past this writer's epoch — a plain dict overwrite
    would move the marker backward and reopen the winner's committed
    replay window (double ingest on stream replay)."""
    merged = {**base_meta, **(meta_extra or {})}
    if "last_epoch" in base_meta and "last_epoch" in (meta_extra or {}):
        merged["last_epoch"] = max(
            int(base_meta["last_epoch"]), int(meta_extra["last_epoch"])
        )
    return merged


def generations(spark: SparkSession, adir: str) -> int:
    """How many stats/corpus delta generations the probe must sum —
    one per extension since the last compact (the corpus frame holds
    exactly one row per build/extend batch).

    O(1) for counter-carrying indexes: build/extend/compact stamp a
    ``generations`` counter into ``meta.json`` (write=1, extend=+1,
    compact resets to 1 — each mutation's delta is exactly one corpus
    row by construction), so the advisory signal is a meta read, never
    a Spark job — the clean-ingest sink polls it per epoch and a
    corpus ``count()`` there serialized a full read+count job into the
    streaming hot path (r12's one bench regression, 14.7 -> 16.3 s).
    Pre-counter indexes (no ``generations`` key) fall back to the
    corpus-frame count."""
    m = index_meta(adir)
    if "generations" in m:
        return int(m["generations"])
    return read_bm25_index(spark, adir)[CORPUS].count()


# Probe-side cost per extension generation: each extension appends a
# file per touched bucket to postings AND stats, so the probe's scans
# open #generations x #buckets files and the df aggregation touches
# #generations x query-vocab rows. MEASURED boundary (r12, fixed ~2.3k
# doc corpus, 5-doc extensions, min-of-4 probes): flat through 16
# generations (2.37 s at gen=1 vs 2.35 s at gen=16), inflecting by 32
# (4.18 s, +78%) as file-open overhead dominates — SCALE.md
# §bm25-generation-drift. df sums stay EXACT at any generation count;
# this is purely a probe-cost trigger.
COMPACT_GENERATIONS = 16


def needs_compact(spark: SparkSession, adir: str) -> bool:
    return generations(spark, adir) >= COMPACT_GENERATIONS


# Postings-side fragmentation boundary: the DEFAULT compact is
# O(stats) and hard-links the postings tree untouched, so postings
# files keep accumulating one-per-touched-bucket-per-extension across
# stats-only compacts. MEASURED (r12 drift corpus): probe flat through
# 16 postings generations, +78% at 32, and merge_postings=True
# recovers 6.21 -> 2.11 s at 128 — so the advisory recommends the
# O(corpus) full merge once the postings-file chain crosses the
# inflection, not on every stats compact.
MERGE_POSTINGS_GENERATIONS = 32


def postings_generations(spark: SparkSession, adir: str) -> int:
    """How many extension generations the POSTINGS tree spans — reset
    only by a ``merge_postings=True`` compact (a stats-only compact
    hard-links the fragmented tree). O(1) via the meta counter;
    pre-counter indexes estimate it by the stats generation count
    (exact unless a legacy stats-only compact already ran — legacy
    degrade, documented)."""
    m = index_meta(adir)
    if "postings_generations" in m:
        return int(m["postings_generations"])
    return generations(spark, adir)


def compact_signal(spark: SparkSession, adir: str) -> dict:
    """Advisory maintenance signal of a standing BM25 index version —
    the measured probe-cost triggers (``COMPACT_GENERATIONS`` for the
    O(stats) delta merge, ``MERGE_POSTINGS_GENERATIONS`` for the
    O(corpus) postings full-merge), shaped like
    ``vector_index.needs_compact``'s dict so streaming sinks surface
    both families uniformly. O(1) for counter-carrying indexes (one
    meta.json read, NO Spark job — the clean-ingest sink refreshes it
    per committed epoch)."""
    g = generations(spark, adir)
    pg = postings_generations(spark, adir)
    return {
        "generations": int(g),
        "generations_boundary": COMPACT_GENERATIONS,
        "compact_due": g >= COMPACT_GENERATIONS,
        "postings_generations": int(pg),
        "postings_generations_boundary": MERGE_POSTINGS_GENERATIONS,
        "merge_postings_due": pg >= MERGE_POSTINGS_GENERATIONS,
    }


def maintain_bm25_index(spark: SparkSession, store, kind: str, key: tuple) -> dict | None:
    """Poll the advisory and run whatever maintenance it recommends —
    the deployment loop's one-call answer (the r12 cliff was measured
    but the full merge was manual opt-in; this wires the trigger).
    Returns the PRE-maintenance signal (None if nothing committed
    yet): ``merge_postings_due`` runs the O(corpus) full merge (which
    also merges stats, so it subsumes ``compact_due``); else
    ``compact_due`` runs the O(stats) delta merge; else no-op."""
    cur = store.current_dir(kind, key)
    if cur is None:
        return None
    sig = compact_signal(spark, cur)
    if sig["merge_postings_due"]:
        compact_bm25_index(spark, store, kind, key, merge_postings=True)
    elif sig["compact_due"]:
        compact_bm25_index(spark, store, kind, key)
    return sig


def compact_bm25_index(
    spark: SparkSession,
    store,
    kind: str,
    key: tuple,
    retries: int = 5,
    merge_postings: bool = False,
) -> str:
    """Merge the stats/corpus delta generations into single rows as a
    new full version. Content-equivalent to the pre-compact index —
    df/corpus sums are associative. Two scale/safety properties:

    - **O(stats), not O(corpus)**: postings content is UNCHANGED by a
      compact (only the delta generations merge), so the base version's
      postings tree is hard-linked into the new version untouched —
      never localCheckpointed or rewritten. Only the (tiny) merged
      stats/ and corpus/ dirs are written.
      ``merge_postings=True`` opts OUT of that property for extension
      chains long enough that postings-file opens dominate the probe
      (SCALE.md §bm25-generation-drift: each extension appends a file
      per touched bucket, and the default compact recovers only the
      stats-side share — 6.0 -> 4.8 s at 128 generations on the drift
      corpus). The merge rewrites postings re-sorted into one file per
      bucket and REBUILDS the block bounds at full BM25_BLOCK
      granularity (extension-coarse blocks get refined back) — an
      O(corpus) pass, the heavyweight periodic maintenance analog of
      ``compact_ivf_index``'s retrain.
    - **CAS publish**: the rewrite is derived from a READ of the base
      version, so it publishes via ``store.commit_if_current`` — an
      extension that commits between the read and the publish raises
      :class:`ExtensionConflict` and compact re-reads the NEW current
      and re-merges (a plain ``commit`` would silently erase the
      extension's postings/stats delta and roll its ``last_epoch``
      replay marker back, double-ingesting on stream replay).
    """
    from opencypher_datalayer_spark.operators.artifacts import (
        ExtensionConflict,
        _link_tree,
    )

    for _ in range(retries + 1):
        base = store.current_version(kind, key)
        if base is None:
            raise FileNotFoundError(f"no committed version to compact: {kind} {key!r}")
        cur = store.current_dir(kind, key)
        frames = read_bm25_index(spark, cur)
        stats = (
            frames[STATS]
            .groupBy("tok")
            .agg(
                F.sum("df").alias("df"),
                F.max("max_tf").alias("max_tf"),
                F.min("min_dl").alias("min_dl"),
            )
            .withColumn("bucket", bucket_of(F.col("tok")))
            .localCheckpoint()  # survive the sweep of the old version
        )
        corpus = (
            frames[CORPUS]
            .agg(F.sum("n_docs").alias("n_docs"), F.sum("sum_dl").alias("sum_dl"))
            .localCheckpoint()
        )
        meta = index_meta(cur)  # carry the replay marker over — compacting
        # mid-stream must never reopen a committed epoch's replay window
        # Counters: stats/corpus deltas merge to single rows either way
        # (generations=1); the postings chain resets only on the full
        # merge — a stats-only compact hard-links the fragmented tree,
        # so its counter carries over (pre-counter base: one corpus
        # count in this offline path upgrades it to a counter).
        pg = 1 if merge_postings else postings_generations(spark, cur)
        meta = {**meta, "generations": 1, "postings_generations": pg}
        post_merged = (
            frames[POSTINGS].localCheckpoint() if merge_postings else None
        )

        def build(tmp: str) -> None:
            if post_merged is not None:
                # full merge: one re-sorted file per bucket + blocks
                # rebuilt at fine granularity from the merged rows
                (
                    post_merged.repartition(N_BUCKETS, "bucket")
                    .sortWithinPartitions("bucket", "tok", "doc_id")
                    .write.partitionBy("bucket")
                    .parquet(os.path.join(tmp, POSTINGS))
                )
                blocks_for(post_merged).sortWithinPartitions(
                    "bucket", "tok", "min_doc"
                ).write.partitionBy("bucket").parquet(os.path.join(tmp, BLOCKS))
            else:
                # postings (and their block bounds) unchanged: share the
                # base version's inodes
                _link_tree(os.path.join(cur, POSTINGS), os.path.join(tmp, POSTINGS))
                if os.path.isdir(os.path.join(cur, BLOCKS)):
                    _link_tree(os.path.join(cur, BLOCKS), os.path.join(tmp, BLOCKS))
            stats.sortWithinPartitions("bucket", "tok").write.partitionBy(
                "bucket"
            ).parquet(os.path.join(tmp, STATS))
            corpus.write.parquet(os.path.join(tmp, CORPUS))
            _write_meta(tmp, meta)

        try:
            return store.commit_if_current(kind, key, build, base)
        except ExtensionConflict:
            continue  # an extender won: re-read the grown index, re-merge
    raise ExtensionConflict(
        f"compact of {kind} {key!r} lost {retries + 1} consecutive publish races"
    )


class _ProbeCtx:
    """Shared probe preamble — the bounded driver round-trips every
    probe variant needs once: the exploded query vocabulary (the
    broadcast side of all joins), its buckets/terms (partition- and
    row-group pruning lists), the index frames, and the summed corpus
    scalars. ``bm25_topk`` builds one and hands it to ``bm25_scores``
    on the small-corpus fallback so no job runs twice."""

    def __init__(self, spark: SparkSession, adir: str, queries: DataFrame):
        from opencypher_datalayer_spark.functions.localframe import local_df

        qt = queries.select(
            "q_id", F.explode(F.array_distinct("toks")).alias("tok")
        ).withColumn("bucket", bucket_of(F.col("tok")))
        # the query vocabulary is bounded by contract (a handful of term
        # lists). Collecting it once turns bucket-level pruning into
        # ROW-GROUP pruning: `tok IN (terms)` pushes to the parquet
        # footers, and the postings/stats row groups are tok-sorted at
        # write, so a probe reads only the query terms' posting runs
        # instead of every term sharing a bucket. Above the pushdown cap
        # (a degenerate mega-query) the IN-list is skipped and the scan
        # degrades to bucket-level pruning + the join.
        #
        # The collected rows then REPLACE the frame: every downstream
        # broadcast/collect of qt re-ran the caller's queries subtree
        # (for the streaming probe that subtree is a corpus join + sort
        # + limit — several jobs per broadcast); a LocalRelation rebuilt
        # from the one collect makes each of those a zero-job scan.
        rows = qt.collect()
        self.qt = local_df(
            spark,
            [(int(r.q_id), r.tok, int(r.bucket)) for r in rows],
            "q_id long, tok string, bucket int",
            n_slices=1,
        )
        self.buckets = sorted({r.bucket for r in rows})  # <= N_BUCKETS
        self.terms = sorted({r.tok for r in rows})
        self.frames = read_bm25_index(spark, adir)
        self.n_docs, self.sum_dl = (
            self.frames[CORPUS].agg(F.sum("n_docs"), F.sum("sum_dl")).collect()[0]
        )

    @property
    def empty(self) -> bool:  # empty or token-less corpus: no matches
        return not self.n_docs or not self.sum_dl

    @property
    def avgdl(self) -> float:
        return float(self.sum_dl) / float(self.n_docs)

    def pruned(self, df: DataFrame, toks: list | None = None) -> DataFrame:
        df = df.where(F.col("bucket").isin(self.buckets))
        use = self.terms if toks is None else toks
        if len(use) <= TOK_PUSHDOWN_MAX:
            df = df.where(F.col("tok").isin(use))
        return df


def bm25_scores(
    spark: SparkSession,
    adir: str,
    queries: DataFrame,
    k1: float = K1,
    b: float = B,
    idf: str = "rational",
    _ctx: _ProbeCtx | None = None,
) -> DataFrame:
    """Score every corpus document sharing a term with each query:
    ``(q_id, doc_id, s_int)`` where ``s_int`` is the int64 1e-9-grid
    BM25 sum (divide by 1e9 for the score; rank on s_int — exact).

    ``queries`` is ``(q_id, toks array<string>)``. Plan shape: the
    query side broadcasts (it is a handful of term lists); the postings
    and stats scans are partition-pruned to the query terms' buckets
    and row-group-pruned to the query terms themselves (see
    :class:`_ProbeCtx`); df joins back broadcast (rows <= query
    vocabulary); the only shuffle is the final (q_id, doc_id)
    aggregation, carrying one int64 per matched term occurrence. A
    query of common terms matches most of the corpus — that density is
    inherent to EXACT score-every-match semantics; :func:`bm25_topk`
    is the skip path when only the top k are wanted."""
    ctx = _ctx or _ProbeCtx(spark, adir, queries)
    if ctx.empty:
        return spark.createDataFrame([], "q_id bigint, doc_id bigint, s_int bigint")
    qt = ctx.qt
    dfs = (
        ctx.pruned(ctx.frames[STATS])
        .join(F.broadcast(qt.select("tok").distinct()), "tok")
        .groupBy("tok")
        .agg(F.sum("df").alias("df"))  # sum delta generations -> exact df
    )
    matched = (
        ctx.pruned(ctx.frames[POSTINGS])
        .join(F.broadcast(qt.select("q_id", "tok")), "tok")
        .join(F.broadcast(dfs), "tok")
    )
    term_i = _ti_expr(
        _idf_expr(float(ctx.n_docs), idf), F.col("tf"), F.col("dl"), ctx.avgdl, k1, b
    )
    return (
        matched.withColumn("ti", term_i)
        .groupBy("q_id", "doc_id")
        .agg(F.sum("ti").alias("s_int"))
    )


def _idf_expr(n_docs: float, idf: str = "rational", df_col=None):
    df_col = F.col("df") if df_col is None else df_col
    if idf == "rational":
        return (F.lit(n_docs) - df_col + F.lit(0.5)) / (df_col + F.lit(0.5)) + F.lit(
            1.0
        )
    if idf == "log":
        return F.log(
            (F.lit(n_docs) - df_col + F.lit(0.5)) / (df_col + F.lit(0.5)) + F.lit(1.0)
        )
    raise ValueError(f"unknown idf variant {idf!r}")


def _ti_expr(idf_col, tf_col, dl_col, avgdl: float, k1: float = K1, b: float = B):
    """Integer-grid per-term contribution — parenthesization mirrored by
    the SQL oracles token-for-token (each op is one correctly-rounded
    IEEE step on identical operands). Passing a term's (max_tf, min_dl)
    instead of a row's (tf, dl) yields the term's UPPER BOUND on any
    row's contribution: ``sat`` is monotonically increasing in tf and
    decreasing in dl, and each IEEE op preserves the ordering."""
    sat = (tf_col * F.lit(1.0 + k1)) / (
        tf_col + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * (dl_col / F.lit(avgdl)))
    )
    return F.floor(idf_col * sat * F.lit(float(SCALE))).cast("long")


# candidate-count estimate up to which the non-essential fetch ALSO
# pushes `doc_id IN (candidates)` into the scan — with the (tok,
# doc_id)-sorted row groups this is the parquet analog of WAND's
# skip-to-candidate, making a hot term's read sublinear in its list
BM25_CAND_PUSHDOWN_MAX = 100_000

# block-max probe caps: bail out of the refinement when the blocks
# collect would be unbounded, when a term admits too many disjoint
# ranges for the predicate to pay off, or when skipping admits most of
# the term's blocks anyway
BM25_BLOCKMAX_COLLECT_CAP = 50_000
BM25_BLOCKMAX_RANGES_MAX = 64
BM25_BLOCKMAX_ADMIT_FRAC = 0.8
# essential-posting volume (in units of BM25_BLOCK rows) below which
# the block phase cannot pay for its own scan+collect job (~0.3 s
# fixed on local[32]): a handful of blocks' worth of rows reads faster
# than the refinement plans
BM25_BLOCKMAX_MIN_BLOCKS = 16


def _ti_py(df: int, tf: int, dl: int, n_docs: float, avgdl: float, k1: float, b: float) -> int:
    """Driver-side twin of ``_ti_expr`` (rational idf): the same IEEE
    doubles through the same single-op sequence, so the value is
    identical to the engine's — used for block upper bounds, whose df
    is the term's AGGREGATED count (a driver dict), not a column. Any
    hypothetical ulp drift is absorbed by the skip rule's spare +1."""
    import math

    idf = (float(n_docs) - df + 0.5) / (df + 0.5) + 1.0
    sat = (tf * (1.0 + k1)) / (tf + k1 * ((1.0 - b) + b * (dl / avgdl)))
    return int(math.floor(idf * sat * float(SCALE)))


def _block_admit_predicate(
    ctx: "_ProbeCtx",
    ess_pairs: list,
    q_terms: dict,
    u_of: dict,
    theta: dict,
    n_docs: float,
    avgdl: float,
    k1: float,
    b: float,
):
    """Block-max (BMW) refinement of the essential candidacy scan.

    For essential term ``t`` of query ``q``, a posting BLOCK ``B`` (a
    doc_id range with recorded ``(bmax_tf, bmin_dl)``) can be skipped
    iff ``ub(B) + slack(q, t) < theta_q`` where ``slack(q, t) =
    sum over q's other terms of (u(t') + 1), plus 1``. Soundness: a
    document whose every essential-term block is skipped has total
    ``<= ub(B_t) + sum_{t' != t}(u(t')) < theta_q`` for any of its
    essential terms ``t`` — strictly below the k-th-best single-term
    score, hence below >= k documents' totals — and a document with
    only non-essential terms is excluded by the term-level MaxScore
    argument. Candidacy is the ONLY thing blocks decide: survivors are
    fully rescored over every query term, so skipped-block
    contributions of real candidates are never lost.

    Returns ``(predicate_or_None, skipped)``: the scan predicate over
    (tok, doc_id) when at least one block is skipped, else (None,
    False). Degrades to (None, False) on block-less legacy indexes,
    oversized block sets, or terms whose admitted ranges would make
    the predicate bigger than the skip."""
    blocks_df = ctx.frames.get(BLOCKS)
    if blocks_df is None or not ess_pairs:
        return None, False
    if sum(df for _, _, df in ess_pairs) < BM25_BLOCKMAX_MIN_BLOCKS * BM25_BLOCK:
        return None, False  # essential lists too short to pay the phase
    # tightest requirement per term across the queries it is essential
    # for: a block must be admitted if ANY such query could need it
    need: dict = {}
    for q, t, _df in ess_pairs:
        slack = sum(u_of[t2][0] + 1 for t2 in q_terms[q] if t2 != t) + 1
        req = theta.get(q, 0) - slack
        need[t] = min(need.get(t, req), req)
    hot = sorted(t for t, r in need.items() if r > 0)
    if not hot:
        return None, False
    brows = (
        ctx.pruned(blocks_df, hot)
        .select("tok", "min_doc", "max_doc", "bmax_tf", "bmin_dl")
        .limit(BM25_BLOCKMAX_COLLECT_CAP + 1)
        .collect()
    )
    if len(brows) > BM25_BLOCKMAX_COLLECT_CAP:
        return None, False
    by_tok: dict = {}
    for r in brows:
        ub = _ti_py(u_of[r.tok][1], int(r.bmax_tf), int(r.bmin_dl), n_docs, avgdl, k1, b)
        by_tok.setdefault(r.tok, []).append((int(r.min_doc), int(r.max_doc), ub))
    conds, skipped = [], False
    for t, _df in {t: d for _, t, d in ess_pairs}.items():
        blist = by_tok.get(t)
        if blist is None or need.get(t, 0) <= 0:
            conds.append(F.col("tok") == F.lit(t))
            continue
        admitted = sorted(
            (lo, hi) for lo, hi, ub in blist if ub >= need[t]
        )
        if len(admitted) == len(blist) or (
            len(blist) > 4
            and len(admitted) / len(blist) > BM25_BLOCKMAX_ADMIT_FRAC
        ):
            conds.append(F.col("tok") == F.lit(t))  # not worth a predicate
            continue
        if not admitted:
            skipped = True
            continue  # no block of t can reach any theta: drop t entirely
        merged = [list(admitted[0])]
        for lo, hi in admitted[1:]:
            if lo <= merged[-1][1] + 1:
                merged[-1][1] = max(merged[-1][1], hi)
            else:
                merged.append([lo, hi])
        if len(merged) > BM25_BLOCKMAX_RANGES_MAX:
            conds.append(F.col("tok") == F.lit(t))
            continue  # reverted to full-admit: excludes nothing, so it
            # must NOT count as a skip (ADVICE r12: skipped=True here
            # sent bm25_topk down the block path with an all-admitting
            # predicate — correct but strictly more work than MaxScore)
        skipped = True
        rng = F.expr(
            " OR ".join(f"doc_id BETWEEN {lo}L AND {hi}L" for lo, hi in merged)
        )
        conds.append((F.col("tok") == F.lit(t)) & rng)
    if not skipped:
        return None, False
    if not conds:
        return F.lit(False), True
    pred = conds[0]
    for c in conds[1:]:
        pred = pred | c
    return pred, True

# corpus size below which bm25_topk serves through the single-job full
# scoring instead: MaxScore's bounds/threshold/skip phases are ~4 extra
# bounded driver round-trips (~0.7 s of fixed job overhead on local[32])
# that only pay for themselves once posting lists are long enough for
# the skipped reads to dominate (measured sf0.1 full-score probe 0.83 s
# vs 1.58 s through the phases; the skip target is the 500k-doc tier)
BM25_MAXSCORE_MIN_DOCS = 50_000


def bm25_topk(
    spark: SparkSession,
    adir: str,
    queries: DataFrame,
    k: int,
    k1: float = K1,
    b: float = B,
    min_docs: int = BM25_MAXSCORE_MIN_DOCS,
) -> DataFrame:
    """Exact top-``k`` BM25 scoring via MaxScore-lite term skipping:
    returns ``(q_id, doc_id, s_int)`` rows whose per-query ranking by
    ``(s_int DESC, doc_id ASC)`` has the SAME first ``k`` rows as
    ranking :func:`bm25_scores`' full output — the classic MaxScore
    guarantee, so the naive-SQL oracles stay valid unchanged. Self
    pairs (``doc_id == q_id``) are excluded (every consumer's
    contract; exclusion must happen BEFORE the threshold phase or a
    query document's own perfect score would inflate the bound).

    Phases (three bounded driver round-trips, every scan bucket- and
    tok-pruned over the sorted layout):

    1. **Bounds** — per query term, an upper bound ``u(t)`` on any
       document's contribution from the stats frame's ``(max_tf,
       min_dl)`` (computed with the exact ``_ti_expr`` ops, so the
       bound is sound on the integer grid).
    2. **Threshold** — each query's SEED term (highest ``u``) has its
       postings scored alone; the k-th largest single-term
       contribution is a sound lower bound ``theta`` on the final k-th
       total score (totals dominate single terms; a subset's k-th
       dominates nothing it shouldn't).
    3. **Skip + rescore** — per query, the maximal low-``u`` suffix
       ``N`` with ``sum(u+1) < theta`` is NON-ESSENTIAL: a document
       containing only ``N`` terms scores ``<= sum(u) < theta`` and can
       never reach the top k (the +1 absorbs the per-term floor
       granularity). Candidates come from the ESSENTIAL terms' postings
       only; the non-essential terms' rows are fetched just for
       candidate documents — with ``doc_id IN (...)`` pushed into the
       scan when the candidate estimate is bounded, so a stop-word-ish
       term's posting list is read at row-group granularity instead of
       end-to-end.
    """
    ctx = _ProbeCtx(spark, adir, queries)
    qt, frames, pruned = ctx.qt, ctx.frames, ctx.pruned
    empty = spark.createDataFrame([], "q_id bigint, doc_id bigint, s_int bigint")
    if ctx.empty:
        return empty
    n_docs, avgdl = ctx.n_docs, ctx.avgdl
    if int(n_docs) < min_docs:  # tiny corpus: skip-phase overhead loses
        return bm25_scores(spark, adir, queries, k1=k1, b=b, _ctx=ctx).where(
            F.col("doc_id") != F.col("q_id")
        )

    # -- phase 1: per-term stats + upper bounds (one tiny scan) ----------
    idf = _idf_expr(float(n_docs))
    stats_q = (
        pruned(frames[STATS])
        .join(F.broadcast(qt.select("tok").distinct()), "tok")
        .groupBy("tok")
        .agg(
            F.sum("df").alias("df"),
            F.max("max_tf").alias("max_tf"),
            F.min("min_dl").alias("min_dl"),
        )
        .withColumn("u", _ti_expr(idf, F.col("max_tf"), F.col("min_dl"), avgdl, k1, b))
        .select("tok", "df", "u")
        .collect()  # bounded: the query vocabulary
    )
    u_of = {r.tok: (int(r.u), int(r.df)) for r in stats_q}
    q_terms: dict = {}
    for r in qt.select("q_id", "tok").distinct().collect():  # bounded: vocab x queries
        if r.tok in u_of:
            q_terms.setdefault(r.q_id, []).append(r.tok)
    if not q_terms:
        return empty

    def _pairs_df(pairs: list) -> DataFrame:
        from opencypher_datalayer_spark.functions.localframe import local_df

        return local_df(spark, pairs, "q_id long, tok string, df long", n_slices=1)

    ti_row = _ti_expr(idf, F.col("tf"), F.col("dl"), avgdl, k1, b)

    # -- phase 2: seed threshold ----------------------------------------
    seeds = {
        q: min(ts, key=lambda t: (-u_of[t][0], t)) for q, ts in q_terms.items()
    }  # highest u, tok-ascending tie-break — deterministic
    seed_pairs = _pairs_df([(int(q), t, u_of[t][1]) for q, t in seeds.items()])
    seed_rows = (
        pruned(frames[POSTINGS], sorted({t for t in seeds.values()}))
        .join(F.broadcast(seed_pairs), "tok")
        .where(F.col("doc_id") != F.col("q_id"))
        .withColumn("ti", ti_row)
    )
    from pyspark.sql import Window

    wk = Window.partitionBy("q_id").orderBy(F.col("ti").desc(), F.col("doc_id").asc())
    theta = {
        r.q_id: int(r.ti)
        for r in seed_rows.withColumn("rk", F.row_number().over(wk))
        .where(F.col("rk") == k)
        .select("q_id", "ti")
        .collect()  # <= one row per query
    }

    # -- phase 3: essential candidates + non-essential fetch -------------
    ess_pairs, non_pairs = [], []
    for q, ts in q_terms.items():
        th = theta.get(q, 0)
        non: list = []
        acc = 0
        if th > 0:
            for t in sorted(ts, key=lambda t: (u_of[t][0], t)):  # u ascending
                if acc + u_of[t][0] + 1 < th:
                    acc += u_of[t][0] + 1
                    non.append(t)
                else:
                    break
        non_set = set(non)
        for t in ts:
            (non_pairs if t in non_set else ess_pairs).append(
                (int(q), t, u_of[t][1])
            )
    # -- phase 3b: block-max (BMW) refinement -----------------------------
    # per-row-group impact bounds let even ESSENTIAL hot terms skip the
    # doc_id ranges whose block bound can't reach theta; survivors are
    # fully rescored, so the top-k guarantee is untouched (soundness
    # argument in _block_admit_predicate's docstring)
    block_pred, blocks_skipped = _block_admit_predicate(
        ctx, ess_pairs, q_terms, u_of, theta, float(n_docs), avgdl, k1, b
    )
    if blocks_skipped:
        cand = (
            pruned(frames[POSTINGS], sorted({t for _, t, _ in ess_pairs}))
            .where(block_pred)
            .join(F.broadcast(_pairs_df(ess_pairs)), "tok")
            .where(F.col("doc_id") != F.col("q_id"))
            .select("q_id", "doc_id")
            .dropDuplicates()
            .localCheckpoint()  # bounded: admitted-block candidates
        )
        all_pairs = ess_pairs + non_pairs
        r_scan = pruned(frames[POSTINGS], sorted({t for _, t, _ in all_pairs}))
        est = sum(df for _, _, df in ess_pairs)
        if est <= BM25_CAND_PUSHDOWN_MAX:
            ids = [r.doc_id for r in cand.select("doc_id").distinct().collect()]
            if not ids:
                return empty
            r_scan = r_scan.where(isin_keys("doc_id", ids))
        rows = (
            r_scan.join(F.broadcast(_pairs_df(all_pairs)), "tok")
            .where(F.col("doc_id") != F.col("q_id"))
            .join(
                F.broadcast(cand) if est <= BM25_CAND_PUSHDOWN_MAX else cand,
                ["q_id", "doc_id"],
            )
            .select("q_id", "doc_id", ti_row.alias("ti"))
        )
        return rows.groupBy("q_id", "doc_id").agg(F.sum("ti").alias("s_int"))

    e_rows = (
        pruned(frames[POSTINGS], sorted({t for _, t, _ in ess_pairs}))
        .join(F.broadcast(_pairs_df(ess_pairs)), "tok")
        .where(F.col("doc_id") != F.col("q_id"))
        .select("q_id", "doc_id", ti_row.alias("ti"))
    )
    if not non_pairs:
        return e_rows.groupBy("q_id", "doc_id").agg(F.sum("ti").alias("s_int"))
    e_rows = e_rows.localCheckpoint()  # reused: rows, candidate set, id list
    cand = e_rows.select("q_id", "doc_id").dropDuplicates()
    n_scan = pruned(frames[POSTINGS], sorted({t for _, t, _ in non_pairs}))
    est = sum(df for _, _, df in ess_pairs)  # candidates <= sum of essential dfs
    if est <= BM25_CAND_PUSHDOWN_MAX:
        ids = [r.doc_id for r in cand.select("doc_id").distinct().collect()]
        if ids:
            # WAND's skip-to-candidate, parquet form: the (tok, doc_id)-
            # sorted row groups prune on BOTH predicates. One parsed
            # In() with int64 literals — narrower literals cast the
            # column and defeat the pushdown, and per-literal Column
            # construction costs 140 s at the 100k cap
            # (functions/pushdown.py has the measurements).
            n_scan = n_scan.where(isin_keys("doc_id", ids))
    n_rows = (
        n_scan.join(F.broadcast(_pairs_df(non_pairs)), "tok")
        .where(F.col("doc_id") != F.col("q_id"))
        .join(F.broadcast(cand) if est <= BM25_CAND_PUSHDOWN_MAX else cand,
              ["q_id", "doc_id"])
        .select("q_id", "doc_id", ti_row.alias("ti"))
    )
    return (
        e_rows.select("q_id", "doc_id", "ti")
        .unionByName(n_rows)
        .groupBy("q_id", "doc_id")
        .agg(F.sum("ti").alias("s_int"))
    )
