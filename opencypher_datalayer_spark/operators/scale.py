"""Scale techniques as reusable operators: bucketed co-located joins.

Skew verdict (measured, not asserted): replication salting is NOT part
of this engine's toolkit, deliberately. Every skewed JOIN in the
codebase is either a broadcast of the small side or is handled by AQE's
runtime skew-join split — ``tests/test_skew.py`` runs the real LSH
band-join shape on a synthetic hot bucket and asserts
``SortMergeJoin(skew=true)`` with split shuffle reads on both sides of
the executed adaptive plan. Salting-by-replication cannot help there
anyway (a self-join has no small side to replicate). Every hot-key
AGGREGATION in the codebase is algebraic (count/sum/min/max), which
Spark partially aggregates map-side before the exchange — a salted
two-phase groupBy would add a shuffle to do the job the partial
aggregate already does. A ``salted_join`` helper existed through round
3, unit-tested but with zero production call sites; it was removed
rather than kept as scale theater. Re-introduce only with a measured
straggler a broadcast/AQE/partial-agg cannot absorb (the candidate
profile: a holistic aggregate — collect_list/percentile — over a
power-law key).

Bucketing is the ahead-of-time answer for a join key used repeatedly:
both tables hash-clustered into the same bucket count at write time, so
every later join on that key is exchange-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def rebalance_for_inflation(
    df: DataFrame, factor: int = 1, work_per_row: int = 1
) -> DataFrame:
    """Defensive re-split ahead of a work-INFLATING stage (shingle
    explode ~30x input bytes; per-vector scoring ~queries x dim flops
    per row).

    A parquet ROW GROUP is Spark's atomic split unit: a file written as
    one giant row group — exactly what pandas/pyarrow defaults produce,
    including this driver's own testdata files — scans as ONE task no
    matter how many byte-range splits the scheduler makes, serializing
    the whole downstream stage on a single core. Measured at the sf10
    rehearsal: one task held the entire 150M-shingle hash stage
    (330+ s of CPU) while 31 cores idled, because documents.parquet was
    500k rows in one row group. AQE cannot help (it only re-plans
    post-shuffle stages), and ``maxPartitionBytes`` cannot split inside
    a row group.

    The fix is a conditional round-robin repartition of the COMPACT
    pre-inflation rows — cheap relative to the inflated work. When the
    scan already yields at least the session's parallelism — any real
    multi-file table at cluster scale — this is a no-op costing one
    (cached) footer metadata lookup, so the shuffle is never paid where
    the layout is healthy.

    The split-count probe reads parquet footers directly instead of
    ``df.rdd.getNumPartitions()``: converting the frame to an RDD costs
    ~0.75 s of driver plan translation per call, which would tax every
    small query; footer reads are milliseconds and cached by file path.

    ``work_per_row`` is the caller's estimate of the downstream
    inflation per input row (shingles x permutations for MinHash,
    queries x dim for a vector scan, ~1 for a plain projection). The
    shuffle is only inserted when ``rows x work_per_row`` clears
    ``MIN_INFLATED_WORK``: a repartition of a 2k-row frame ahead of a
    3M-flop scan costs more in exchange + planning overhead than the
    single-core scan it protects (measured at sf0.1: the unconditional
    round-5 form taxed every small scoring query 0.4-0.8 s while buying
    nothing — the whole stage finishes in well under a second on one
    core). At sf10 (500k docs, 150M-shingle explode) the same gate
    passes by 4 orders of magnitude and the repartition is what keeps
    31 of 32 cores from idling."""
    spark = df.sparkSession
    cores = spark.sparkContext.defaultParallelism
    files = df.inputFiles()
    if not files:
        return df  # non-file source: splits are the upstream's business
    if _effective_splits(files, cores) >= cores:
        return df  # healthy layout: scan already feeds every core
    rows = _total_rows(files)
    if rows * work_per_row < MIN_INFLATED_WORK:
        return df  # stage is cheap even single-core; shuffle not worth it
    # exactly `cores` output partitions measured best: more tasks
    # only add per-task/Arrow-batch overhead once every core is
    # busy (A/B at sf0.1: 32 parts beat 96 on every query)
    return df.repartition(cores * factor)


def rebalance_rows(df: DataFrame, n_rows: int, work_per_row: int = 1) -> DataFrame:
    """:func:`rebalance_for_inflation` for frames that are NOT plain
    file scans (a ``foreachBatch`` micro-batch, a post-shuffle frame)
    where the parquet-footer probe cannot see the split count — the
    caller supplies the row count it already knows (streaming sinks
    count the batch anyway for their broadcast gates). Same work gate,
    same output partitioning. The streaming near-dup filter's sf10
    rehearsal motivated this: a file-source micro-batch arrives as ONE
    file, and the 30x shingle explode then ran 125k docs on a single
    core (73.3 s vs 7.0 s re-split, measured)."""
    if n_rows * work_per_row < MIN_INFLATED_WORK:
        return df
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


def parallel_dedup(df: DataFrame, *cols: str) -> DataFrame:
    """``dropDuplicates`` for a candidate stream whose DOWNSTREAM
    per-row work (the staged verify's boxed ``array_intersect`` per
    candidate) dwarfs its bytes: an explicit fixed-width hash
    repartition on the dedup key feeds the aggregate, so AQE's
    bytes-based coalescing — which sized the sf0.1 199k-pair candidate
    exchange at ONE ~3 MB partition and serialized the whole verify
    stage on a single core (measured 3.9 -> 1.1 s end-to-end) — cannot
    shrink the stage below the session's parallelism. Still a single
    exchange: the aggregate consumes the repartition's clustering.
    The trade is losing the map-side partial aggregation (pre-dedup
    rows all shuffle), bounded because callers' join conditions
    already carry the positional feasibility filters."""
    p = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(p, *cols).dropDuplicates()


# Below this many estimated inflated work units (rows x per-row
# inflation), a single core finishes the stage faster than an exchange
# round-trip costs. 8M units ~ a few hundred ms of vectorized JVM work.
MIN_INFLATED_WORK = 8_000_000


# path -> (mtime_ns, size, num_row_groups, num_rows); keyed by path so a
# rewritten file REPLACES its entry instead of leaking a stale one per
# overwrite (a long-lived service rewrites datasets indefinitely).
_FOOTER_CACHE: dict[str, tuple[int, int, int, int]] = {}


def _footer_stats(path: str) -> tuple[int, int]:
    """(num_row_groups, num_rows) from the parquet footer, cached by
    path and invalidated on (mtime, size) change."""
    import os

    st = os.stat(path)
    hit = _FOOTER_CACHE.get(path)
    if hit is not None and hit[0] == st.st_mtime_ns and hit[1] == st.st_size:
        return hit[2], hit[3]
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    _FOOTER_CACHE[path] = (st.st_mtime_ns, st.st_size, md.num_row_groups, md.num_rows)
    return md.num_row_groups, md.num_rows


def _local_path(uri: str) -> str:
    path = uri[7:] if uri.startswith("file:///") else uri
    return "/" + path.lstrip("/") if not path.startswith("/") else path


def _effective_splits(files: list[str], cap: int) -> int:
    """Row groups summed over the scan's files (row groups are Spark's
    atomic split units, so this bounds achievable scan parallelism).
    Early-exits at ``cap``; non-local/unreadable files count 1 each."""
    total = 0
    for uri in files:
        if total >= cap:
            return total
        try:
            total += _footer_stats(_local_path(uri))[0]
        except OSError:
            total += 1
    return total


def _total_rows(files: list[str]) -> int:
    """Row count summed over the scan's files. Only consulted after the
    split probe found FEWER splits than cores, so ``files`` is small by
    construction (< cores entries with <= a few row groups each) and a
    full pass is cheap; unreadable files contribute 0 (erring toward
    skipping the shuffle)."""
    total = 0
    for uri in files:
        try:
            total += _footer_stats(_local_path(uri))[1]
        except OSError:
            pass
    return total


def write_bucketed(
    df: DataFrame, table: str, key: str, n_buckets: int = 16
) -> None:
    """Persist ``df`` hash-bucketed by ``key``: subsequent joins between
    tables bucketed the same way on the same key run without a shuffle
    exchange (verified in tests/test_scale_ops.py)."""
    (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, key)
        .sortBy(key)
        .format("parquet")
        .saveAsTable(table)
    )
