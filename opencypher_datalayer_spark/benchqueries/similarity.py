"""Similarity search over the ``embeddings`` table (``array<float>``).

Two paths:

- brute-force cosine: exact, O(n*m) — expressed entirely with
  ``zip_with`` / ``aggregate`` column expressions (sequential in-array
  summation, IEEE-deterministic, so it hash-matches DuckDB's list
  lambdas without tolerance);
- random-hyperplane LSH: sign-bit bucket from D deterministic
  hyperplanes (seeded Python constants inlined into both engines) —
  candidate generation becomes a bucket equi-join, the 100 TB path.

Vectors are cast float->double BEFORE any arithmetic: float32 ops would
round differently between engines.
"""

from __future__ import annotations

import os
import random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from opencypher_datalayer_spark.benchqueries import QueryDef
from opencypher_datalayer_spark.benchqueries.memo import register_memo_cache
from opencypher_datalayer_spark.functions.localframe import local_df
from opencypher_datalayer_spark.operators.scale import rebalance_for_inflation
from opencypher_datalayer_spark.sources.tables import load_table

DIM = 64
N_PLANES = 8
_rng = random.Random(7)
# hyperplane components in [-1, 1], rounded so the SQL literals are exact
HYPERPLANES = [[round(_rng.uniform(-1, 1), 6) for _ in range(DIM)] for _ in range(N_PLANES)]

# Candidate generation widens the bucketing ADAPTIVELY with corpus
# size: a fixed 2^8-bucket table makes same-bucket pair volume
# Theta(n^2/256) — measured at the sf10 rehearsal as 92.7M candidate
# pairs from 200k vectors (55 s of cosine evaluation alone). Extra
# planes (same seeded stream, so the first 8 stay the oracle set) keep
# expected bucket occupancy near LSH_TARGET_OCCUPANCY, making candidate
# volume ~linear in corpus size. At <= 2^(8+6) * 64 vectors the plane
# count is the oracle's 8, so every driver- and selfcheck-scale result
# is byte-identical to the static bucketing.
MAX_PLANES = 48
# LSH_BANDS (defined below, near the multiband query) independent
# band slices each need the FULL adaptive width, so the pool holds
# LSH_BANDS * MAX_PLANES planes: slicing ALL_PLANES[k*w:(k+1)*w] with
# w up to MAX_PLANES must never truncate band k>0 to fewer planes than
# band 0 (silently weaker AND-amplification) or to an empty slice
# (ADVICE r6 #2). Same seeded stream — the first MAX_PLANES entries
# are unchanged, so single-band results at every scale are identical.
_N_BANDS_POOL = 2  # keep in sync with LSH_BANDS (asserted below)
_EXTRA_PLANES = [
    [round(_rng.uniform(-1, 1), 6) for _ in range(DIM)]
    for _ in range(_N_BANDS_POOL * MAX_PLANES - N_PLANES)
]
ALL_PLANES = HYPERPLANES + _EXTRA_PLANES
LSH_TARGET_OCCUPANCY = 64


def _band_planes(k: int, w: int) -> list[list[float]]:
    """Band k's disjoint plane slice at width w. Guards the pool-size
    invariant: every band gets exactly w planes."""
    planes = ALL_PLANES[k * w : (k + 1) * w]
    assert len(planes) == w, (
        f"plane pool exhausted: band {k} width {w} needs "
        f"{(k + 1) * w} planes, pool has {len(ALL_PLANES)}"
    )
    return planes


def _emb_rows(sf_dir: str) -> int:
    """Embeddings row count from parquet footers (cached; see
    operators.scale._footer_stats) — drives the adaptive plane count."""
    import glob
    import os

    from opencypher_datalayer_spark.operators.scale import _footer_stats

    path = os.path.join(sf_dir, "embeddings.parquet")
    files = [path] if os.path.isfile(path) else sorted(
        glob.glob(os.path.join(path, "*.parquet"))
    )
    total = 0
    for f in files:
        try:
            total += _footer_stats(f)[1]
        except OSError:
            pass
    return total


def _lsh_n_planes(sf_dir: str) -> int:
    """Planes for candidate generation: enough that expected occupancy
    n / 2^planes stays near LSH_TARGET_OCCUPANCY, never fewer than the
    oracle's N_PLANES, capped at MAX_PLANES."""
    import math

    n = _emb_rows(sf_dir)
    if n <= LSH_TARGET_OCCUPANCY:
        return N_PLANES
    return min(MAX_PLANES, max(N_PLANES, math.ceil(math.log2(n / LSH_TARGET_OCCUPANCY))))

COS_THRESHOLD = 0.4  # synthetic embeddings top out near 0.6 cosine
TOPK = 5
N_QUERY = 10  # first N vec_ids serve as the query set for top-k

# Per-corpus-row inflated work for rebalance_for_inflation's gate:
# every vector-scan family does ~queries x dim (or planes x dim) flops
# per row, so a 2k-row sf0.1 corpus is ~4M units — below the gate, the
# re-split shuffle costs more than the single-core scan; a 500k-row
# sf10 corpus is ~1B units and re-splits.
WORK_VEC_SCAN = 32 * DIM


def _vec(col: str = "embedding") -> F.Column:  # type: ignore[name-defined]
    return F.transform(F.col(col), lambda x: x.cast("double"))


def _dot(a, b) -> F.Column:  # type: ignore[name-defined]
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def _norm(a) -> F.Column:  # type: ignore[name-defined]
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v))


_DUCK_VEC = "list_transform(embedding, x -> CAST(x AS DOUBLE))"
_DUCK_DOT = "list_sum(list_transform(list_zip({a}, {b}), t -> t[1] * t[2]))"
_DUCK_NORM = "sqrt(list_sum(list_transform({a}, x -> x * x)))"


# -- brute-force cosine pairs ------------------------------------------


def sim_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All pairs with cosine >= {COS_THRESHOLD} (rounded to 6dp before the
    threshold so the cut is engine-stable)."""
    emb = rebalance_for_inflation(load_table(spark, "embeddings", sf_dir), work_per_row=WORK_VEC_SCAN).select(
        "vec_id", _vec().alias("v"), (_norm(_vec())).alias("nrm")
    )
    a = emb.select(
        F.col("vec_id").alias("id_a"), F.col("v").alias("va"), F.col("nrm").alias("na")
    )
    b = emb.select(
        F.col("vec_id").alias("id_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb")
    )
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    cos = F.round(_dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6)
    return (
        pairs.withColumn("cosine", cos)
        .where(F.col("cosine") >= COS_THRESHOLD)
        .select("id_a", "id_b", "cosine")
        .orderBy("id_a", "id_b")
    )


SIM_COSINE_PAIRS_SQL = f"""
WITH e AS (
  SELECT vec_id, {_DUCK_VEC} AS v, {_DUCK_NORM.format(a=_DUCK_VEC)} AS nrm
  FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND({_DUCK_DOT.format(a='a.v', b='b.v')} / (a.nrm * b.nrm), 6) AS cosine
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE ROUND({_DUCK_DOT.format(a='a.v', b='b.v')} / (a.nrm * b.nrm), 6) >= {COS_THRESHOLD}
ORDER BY id_a, id_b
"""


# -- brute-force top-k neighbors for a query set ------------------------


def sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-{TOPK} cosine neighbors for the first {N_QUERY} vectors.
    The query side is tiny => broadcast; ranking tie-breaks on id.

    The scoring pass is all-pairs BY DESIGN (this is the labeled exact
    baseline; LSH/IVF/SQ8 are the scale paths) — but the ranking
    exchange is not: a map-side partial top-{TOPK} keeps only each Arrow
    batch's best {TOPK} rows per query, so the window shuffle carries
    batches x queries x {TOPK} slim rows, never corpus x queries."""
    emb = rebalance_for_inflation(load_table(spark, "embeddings", sf_dir), work_per_row=WORK_VEC_SCAN).select(
        "vec_id", _vec().alias("v"), (_norm(_vec())).alias("nrm")
    )
    queries = emb.where(F.col("vec_id") < N_QUERY).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv"), F.col("nrm").alias("qn")
    )
    cand = emb.select(
        F.col("vec_id").alias("c_id"), F.col("v").alias("cv"), F.col("nrm").alias("cn")
    )
    cos = F.round(_dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), 6)
    from pyspark.sql import Window

    scored = (
        F.broadcast(queries)
        .join(cand, F.col("q_id") != F.col("c_id"))
        .withColumn("cosine", cos)
        .select("q_id", "c_id", "cosine")
    )
    slim = scored.mapInPandas(
        _partial_topk("cosine", TOPK), "q_id bigint, c_id bigint, cosine double"
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("c_id").asc())
    return (
        slim.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= TOPK)
        .select("q_id", "c_id", "cosine", "rk")
        .orderBy("q_id", "rk")
    )


SIM_TOPK_SQL = f"""
WITH e AS (
  SELECT vec_id, {_DUCK_VEC} AS v, {_DUCK_NORM.format(a=_DUCK_VEC)} AS nrm
  FROM embeddings),
scored AS (
  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
         ROUND({_DUCK_DOT.format(a='q.v', b='c.v')} / (q.nrm * c.nrm), 6) AS cosine
  FROM e q JOIN e c ON q.vec_id <> c.vec_id
  WHERE q.vec_id < {N_QUERY})
SELECT q_id, c_id, cosine, rk FROM (
  SELECT q_id, c_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id ASC) AS rk
  FROM scored)
WHERE rk <= {TOPK}
ORDER BY q_id, rk
"""


# -- random-hyperplane LSH buckets --------------------------------------


def _plane_literal(p: list[float]) -> F.Column:  # type: ignore[name-defined]
    return F.array(*[F.lit(x) for x in p])


def _bucket_col(planes: list[list[float]]) -> F.Column:  # type: ignore[name-defined]
    """Sign-bit LSH bucket id: bit j = (v . plane_j) > 0, over ``v``."""
    bucket = None
    for j, plane in enumerate(planes):
        bit = F.when(
            _dot(F.col("v"), _plane_literal(plane)) > 0, F.lit(2**j)
        ).otherwise(F.lit(0))
        bucket = bit if bucket is None else (bucket + bit)
    return bucket.cast("bigint")


def sim_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-bit LSH bucket id per vector: bit j = (v . plane_j) > 0.
    Bucketing is the shuffle key for candidate generation at scale."""
    emb = rebalance_for_inflation(load_table(spark, "embeddings", sf_dir), work_per_row=WORK_VEC_SCAN).select("vec_id", _vec().alias("v"))
    return emb.select(
        "vec_id", _bucket_col(HYPERPLANES).alias("bucket")
    ).orderBy("vec_id")


def _duck_lsh_bucket_expr(planes: list | None = None) -> str:
    bits = []
    for j, plane in enumerate(HYPERPLANES if planes is None else planes):
        lit = "[" + ", ".join(f"CAST({x} AS DOUBLE)" for x in plane) + "]"
        bits.append(
            f"(CASE WHEN {_DUCK_DOT.format(a='v', b=lit)} > 0 THEN {2**j} ELSE 0 END)"
        )
    return " + ".join(bits)


SIM_LSH_BUCKETS_SQL = f"""
WITH e AS (SELECT vec_id, {_DUCK_VEC} AS v FROM embeddings)
SELECT vec_id, CAST({_duck_lsh_bucket_expr()} AS BIGINT) AS bucket
FROM e ORDER BY vec_id
"""


def sim_lsh_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN candidate pairs = same LSH bucket (equi-join on bucket), with
    exact cosine computed only on candidates — the scale path where the
    brute-force cross join is replaced by a bucketed shuffle."""
    emb = rebalance_for_inflation(load_table(spark, "embeddings", sf_dir), work_per_row=WORK_VEC_SCAN).select(
        "vec_id", _vec().alias("v"), (_norm(_vec())).alias("nrm")
    )
    # adaptive bucket width (see ALL_PLANES comment): identical to the
    # oracle's 8 planes at oracle scales, wider on big corpora so the
    # same-bucket pair volume stays ~linear in corpus size
    planes = ALL_PLANES[: _lsh_n_planes(sf_dir)]
    bucketed = emb.withColumn("bucket", _bucket_col(planes))
    a = bucketed.select(
        F.col("bucket"), F.col("vec_id").alias("id_a"), F.col("v").alias("va"), F.col("nrm").alias("na")
    )
    b = bucketed.select(
        F.col("bucket"), F.col("vec_id").alias("id_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb")
    )
    cos = F.round(_dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6)
    return (
        a.join(b, ["bucket"])
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", cos)
        .select("bucket", "id_a", "id_b", "cosine")
        .orderBy("bucket", "id_a", "id_b")
    )


SIM_LSH_PAIRS_SQL = f"""
WITH e AS (
  SELECT vec_id, {_DUCK_VEC} AS v, {_DUCK_NORM.format(a=_DUCK_VEC)} AS nrm
  FROM embeddings),
bucketed AS (
  SELECT vec_id, v, nrm, CAST({_duck_lsh_bucket_expr()} AS BIGINT) AS bucket FROM e)
SELECT a.bucket AS bucket, a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND({_DUCK_DOT.format(a='a.v', b='b.v')} / (a.nrm * b.nrm), 6) AS cosine
FROM bucketed a JOIN bucketed b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
ORDER BY bucket, id_a, id_b
"""


# -- multi-band LSH: AND-OR amplified candidate generation --------------

LSH_BANDS = 2
assert LSH_BANDS == _N_BANDS_POOL, "plane pool sized for a different band count"


def sim_lsh_multiband_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AND-OR amplified LSH candidates: {LSH_BANDS} INDEPENDENT bucket
    tables (disjoint plane slices of the same seeded stream), a pair is
    a candidate if it collides in ANY band. For per-plane collision
    probability p = 1 - theta/pi, single-table recall is p^r while the
    multiband union reaches 1 - (1 - p^r)^b — the standard
    amplification that buys recall at a linear (per-band) candidate
    cost instead of the quadratic cost of fewer planes. Each band uses
    the adaptive width (`_lsh_n_planes`), so band volume stays ~linear
    in corpus size; the union dedups on the pair key and rescores with
    exact cosine once per surviving pair.

    Scale shape: b bucket shuffles + one dropDuplicates shuffle + two
    id-joins for the rescore vectors — all equi-joins, no all-pairs."""
    emb = rebalance_for_inflation(
        load_table(spark, "embeddings", sf_dir), work_per_row=WORK_VEC_SCAN
    ).select("vec_id", _vec().alias("v"), _norm(_vec()).alias("nrm"))
    w = _lsh_n_planes(sf_dir)
    cands = None
    for k in range(LSH_BANDS):
        planes = _band_planes(k, w)
        bucketed = emb.withColumn("bucket", _bucket_col(planes))
        a = bucketed.select(F.col("bucket"), F.col("vec_id").alias("id_a"))
        b = bucketed.select(F.col("bucket"), F.col("vec_id").alias("id_b"))
        band = (
            a.join(b, ["bucket"])
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
        )
        cands = band if cands is None else cands.unionByName(band)
    cands = cands.dropDuplicates(["id_a", "id_b"])
    va = emb.select(F.col("vec_id").alias("id_a"), F.col("v").alias("va"), F.col("nrm").alias("na"))
    vb = emb.select(F.col("vec_id").alias("id_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb"))
    cos = F.round(_dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6)
    return (
        cands.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cosine", cos)
        .select("id_a", "id_b", "cosine")
        .orderBy("id_a", "id_b")
    )


def _duck_multiband_sql() -> str:
    bands = []
    for k in range(LSH_BANDS):
        planes = ALL_PLANES[k * N_PLANES : (k + 1) * N_PLANES]
        bands.append(
            f"SELECT a.vec_id AS id_a, b.vec_id AS id_b FROM "
            f"(SELECT vec_id, CAST({_duck_lsh_bucket_expr(planes)} AS BIGINT) AS bucket, v, nrm FROM e) a "
            f"JOIN (SELECT vec_id, CAST({_duck_lsh_bucket_expr(planes)} AS BIGINT) AS bucket, v, nrm FROM e) b "
            f"ON a.bucket = b.bucket AND a.vec_id < b.vec_id"
        )
    union = " UNION ".join(bands)  # UNION (not ALL): dedups the pair key
    return f"""
WITH e AS (
  SELECT vec_id, {_DUCK_VEC} AS v, {_DUCK_NORM.format(a=_DUCK_VEC)} AS nrm
  FROM embeddings),
cands AS ({union})
SELECT c.id_a, c.id_b,
       ROUND({_DUCK_DOT.format(a='x.v', b='y.v')} / (x.nrm * y.nrm), 6) AS cosine
FROM cands c JOIN e x ON c.id_a = x.vec_id JOIN e y ON c.id_b = y.vec_id
ORDER BY id_a, id_b
"""


SIM_LSH_MULTIBAND_SQL = _duck_multiband_sql()


def sim_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{TOPK} of the multi-band LSH candidate path against the
    exact brute-force top-{TOPK} — the eval metric an ANN pipeline ships
    with: for each query, the fraction of its TRUE nearest neighbors
    that the bucketing would have surfaced as candidates (shares a
    bucket with the query in at least one band). Exact division of two
    small ints -> an engine-stable double.

    Scale shape: the exact side is the (bounded, {N_QUERY}-query)
    brute-force baseline; the candidate probe is two broadcast-sized
    joins of the {N_QUERY * TOPK}-row truth frame against the bucketed
    corpus — never an all-pairs join."""
    exact = sim_topk_bruteforce(spark, sf_dir).select("q_id", "c_id")
    emb = rebalance_for_inflation(
        load_table(spark, "embeddings", sf_dir), work_per_row=WORK_VEC_SCAN
    ).select("vec_id", _vec().alias("v"))
    w = _lsh_n_planes(sf_dir)
    hits = None
    for k in range(LSH_BANDS):
        planes = _band_planes(k, w)
        bk = emb.select("vec_id", _bucket_col(planes).alias("bucket"))
        q = bk.select(F.col("vec_id").alias("q_id"), F.col("bucket").alias("qb"))
        c = bk.select(F.col("vec_id").alias("c_id"), F.col("bucket").alias("cb"))
        h = (
            exact.join(q, "q_id")
            .join(c, "c_id")
            .where(F.col("qb") == F.col("cb"))
            .select("q_id", "c_id")
        )
        hits = h if hits is None else hits.unionByName(h)
    hits = hits.dropDuplicates(["q_id", "c_id"]).withColumn("hit", F.lit(1))
    return (
        exact.join(hits, ["q_id", "c_id"], "left")
        .groupBy("q_id")
        .agg((F.count("hit") / F.lit(TOPK)).alias("recall"))
        .orderBy("q_id")
    )


def _duck_ann_recall_sql() -> str:
    band_hits = []
    for k in range(LSH_BANDS):
        planes = ALL_PLANES[k * N_PLANES : (k + 1) * N_PLANES]
        expr = _duck_lsh_bucket_expr(planes)
        band_hits.append(
            f"SELECT t.q_id, t.c_id FROM topk t "
            f"JOIN (SELECT vec_id, CAST({expr} AS BIGINT) AS bucket FROM e) qb ON t.q_id = qb.vec_id "
            f"JOIN (SELECT vec_id, CAST({expr} AS BIGINT) AS bucket FROM e) cb ON t.c_id = cb.vec_id "
            f"AND qb.bucket = cb.bucket"
        )
    union = " UNION ".join(band_hits)
    return f"""
WITH e AS (
  SELECT vec_id, {_DUCK_VEC} AS v, {_DUCK_NORM.format(a=_DUCK_VEC)} AS nrm
  FROM embeddings),
scored AS (
  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
         ROUND({_DUCK_DOT.format(a='q.v', b='c.v')} / (q.nrm * c.nrm), 6) AS cosine
  FROM e q JOIN e c ON q.vec_id <> c.vec_id
  WHERE q.vec_id < {N_QUERY}),
topk AS (
  SELECT q_id, c_id FROM (
    SELECT q_id, c_id,
           ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id ASC) AS rk
    FROM scored)
  WHERE rk <= {TOPK}),
hits AS ({union})
SELECT t.q_id, CAST(COUNT(h.c_id) AS DOUBLE) / {TOPK} AS recall
FROM topk t LEFT JOIN hits h ON t.q_id = h.q_id AND t.c_id = h.c_id
GROUP BY t.q_id
ORDER BY t.q_id
"""


SIM_ANN_RECALL_SQL = _duck_ann_recall_sql()


# -- IVF: inverted-file ANN (trained coarse quantizer -> probe cells) ---

from opencypher_datalayer_spark.benchqueries.memo import (
    register_memo_cache,
    table_fingerprint,
)
from opencypher_datalayer_spark.operators.ivf_codebook import (
    ASSIGN_A,
    IVF_ITERS,
    IVF_K_MULT,
    SCALE_Q,
    TRAIN_CAP,
    assign_cells,
    filtered_nprobe_sql_case,
    ivf_filtered_nprobe,
    ivf_nprobe,
    k_cells_for,
    nprobe_sql_case,
    top_cells,
    train_ivf,
    train_stride,
    vq_expr,
)

# Pinned minimum MEAN recall@TOPK of the IVF answer path. The r8
# trained codebook (k-means, K = IVF_K_MULT * sqrt(n) cells,
# ASSIGN_A-way boundary replication — see operators/ivf_codebook.py)
# meets it at the measured nprobe step table: probe fraction 0.25 at
# n=500, 0.36 at n=2k, 0.096 at n=200k — falling as the corpus grows,
# vs the pre-r8 sample codebook's flat 50% (NPROBE=4 of 8 cells).
# sim_ivf_recall measures this per round; tests/test_ann_recall.py
# pins the floor.
RECALL_FLOOR = 0.9


_CODEBOOK_CACHE: dict = {}
register_memo_cache(_CODEBOOK_CACHE)


def _ivf_codebook(spark: SparkSession, sf_dir: str):
    """(n_corpus, cell_ids, integer centroids) — trained driver-side on
    the deterministic ``vec_id % s == 0`` sample with cross-engine-exact
    integer arithmetic (every decision reproduced bit-for-bit by the
    unrolled Lloyd CTEs in the oracle SQL). Memoized per dataset
    fingerprint; on a memo miss, a committed STANDING index artifact
    (:func:`build_ivf_artifacts`) supplies the codebook without
    retraining — centroids are exact integers, so the parquet
    round-trip reproduces the trained arrays bit-for-bit. Only a truly
    cold corpus trains."""
    key = (sf_dir, table_fingerprint(sf_dir, "embeddings"))
    hit = _CODEBOOK_CACHE.get(key)
    if hit is not None:
        return hit
    loaded = _codebook_from_artifact(spark, sf_dir)
    if loaded is not None:
        _CODEBOOK_CACHE[key] = loaded
        return loaded
    emb = rebalance_for_inflation(
        load_table(spark, "embeddings", sf_dir), work_per_row=WORK_VEC_SCAN
    ).select("vec_id", _vec().alias("v"), _norm(_vec()).alias("nrm"))
    # exact row count from the parquet footers (zero Spark jobs); the
    # oracle's COUNT(*) sees the same number
    import os as _os

    import pyarrow.parquet as _pq

    root = _os.path.join(sf_dir, "embeddings.parquet")
    if _os.path.isdir(root):
        n = sum(
            _pq.ParquetFile(_os.path.join(dp, f)).metadata.num_rows
            for dp, _, fs in _os.walk(root)
            for f in fs
            if f.endswith(".parquet")
        )
    else:
        n = _pq.ParquetFile(root).metadata.num_rows
    s = train_stride(n)
    vq_df = emb.select("vec_id", vq_expr().alias("vq"))
    if s > 1:
        vq_df = vq_df.where(F.col("vec_id") % s == 0)
    ids, cq = train_ivf(vq_df, n)
    # commit the trained codebook as its OWN (tiny: K rows) standing
    # artifact: training is the expensive driver-side pass (~80 s at
    # 200k vectors), and queries that need only the quantizer — the
    # dedup candidate generator, cell stats — were re-training it on
    # every memo-cold call when the full index artifact was absent.
    # Centroids are exact integers, so the parquet round-trip is
    # decision-identical.
    from opencypher_datalayer_spark.functions.localframe import local_df
    from opencypher_datalayer_spark.operators.artifacts import default_store

    def build(tmp: str) -> None:
        import json as _json

        local_df(
            spark,
            [(int(c), [int(x) for x in row]) for c, row in zip(ids, cq)],
            "cell long, cq array<long>",
            n_slices=1,
        ).write.mode("overwrite").parquet(os.path.join(tmp, "centroids"))
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            _json.dump({"n_corpus": int(n)}, f)

    default_store().get_or_build(_IVF_CBK_KIND, _ivf_artifact_key(sf_dir), build)
    _CODEBOOK_CACHE[key] = (n, ids, cq)
    return n, ids, cq


def _ivf_parts(spark: SparkSession, sf_dir: str):
    """(embeddings, (n, ids, cq), multi-assignment frame). The
    assignment carries ``v``/``nrm`` through the Arrow-batched scorer so
    no corpus-sized join or shuffle happens at all — the codebook rides
    along in the UDF closure (<1 MB for K ~ 2000)."""
    emb = rebalance_for_inflation(
        load_table(spark, "embeddings", sf_dir), work_per_row=WORK_VEC_SCAN
    ).select("vec_id", _vec().alias("v"), _norm(_vec()).alias("nrm"))
    n, ids, cq = _ivf_codebook(spark, sf_dir)
    vq_df = emb.select("vec_id", "v", "nrm", vq_expr().alias("vq"))
    assign = assign_cells(vq_df, ids, cq, ASSIGN_A)
    return emb, (n, ids, cq), assign


def _ivf_probe_pairs(
    spark: SparkSession, sf_dir: str, nprobe: int | None = None
) -> list[tuple[int, int]]:
    """(q_id, cell) probe list for the {N_QUERY} query vectors — a
    bounded driver-side numpy ranking against the codebook (N_QUERY x
    nprobe ints), exactly mirroring the oracle's probes CTE. ``nprobe``
    overrides the step table (the filtered probe widens it)."""
    import numpy as np

    emb = rebalance_for_inflation(
        load_table(spark, "embeddings", sf_dir), work_per_row=WORK_VEC_SCAN
    ).select("vec_id", _vec().alias("v"), _norm(_vec()).alias("nrm"))
    n, ids, cq = _ivf_codebook(spark, sf_dir)
    qdf = (
        emb.where(F.col("vec_id") < N_QUERY)
        .select("vec_id", vq_expr().alias("vq"))
        .orderBy("vec_id")
        .toPandas()
    )
    qv = np.stack(qdf["vq"].to_numpy()).astype(np.float64)
    cells = top_cells(qv, ids, cq, ivf_nprobe(n) if nprobe is None else nprobe)
    return [
        (int(q), int(c)) for q, row in zip(qdf["vec_id"], cells) for c in row
    ]


# Shared oracle machinery: the ENTIRE trained pipeline in SQL —
# quantize, deterministic-stride init, IVF_ITERS unrolled Lloyd steps
# on exact integer arithmetic, boundary-replicated final assignment,
# measured-step-table probes. Every decision compares raw doubles of
# the form (int_dot / sqrt(int)) / sqrt(int) with cell-id tie-breaks,
# so numpy/Spark/DuckDB agree bit-for-bit (ivf_codebook.py docstring).
_DUCK_INT_DOT = (
    "CAST(list_sum(list_transform(list_zip({a}, {b}), t -> t[1] * t[2])) AS DOUBLE)"
)
_DUCK_INT_NORM = "sqrt(CAST(list_sum(list_transform({a}, x -> x * x)) AS DOUBLE))"


def _duck_ivf_ctes(
    probe_nprobe_sql: str | None = None, train_where: str | None = None
) -> str:
    """The trained pipeline as CTEs. ``train_where`` restricts the
    TRAINING population (params count + sample) to a vec_id predicate —
    the streaming ingest oracle trains on the bootstrap batch only,
    exactly like the sink; assignment still covers every vector."""
    score_s = (
        f"(({_DUCK_INT_DOT.format(a='s.vq', b='c.cq')}) / s.vn) / c.cn"
    )
    score_t = (
        f"(({_DUCK_INT_DOT.format(a='t.vq', b='c.cq')}) / t.vn) / c.cn"
    )
    parts = [
        f"""e AS (
  SELECT vec_id, {_DUCK_VEC} AS v, {_DUCK_NORM.format(a=_DUCK_VEC)} AS nrm
  FROM embeddings),
vqn AS MATERIALIZED (
  SELECT vec_id, v, nrm, vq, {_DUCK_INT_NORM.format(a='vq')} AS vn FROM (
    SELECT vec_id, v, nrm,
           list_transform(v, x -> CAST(FLOOR(ABS(x / nrm) * {SCALE_Q}.0 + 0.5) AS BIGINT)
                                  * (CASE WHEN x < 0 THEN -1 ELSE 1 END)) AS vq
    FROM e) q0),
params AS (
  SELECT COUNT(*) AS n,
         GREATEST(8, {IVF_K_MULT} * CAST(FLOOR(SQRT(COUNT(*))) AS BIGINT)) AS k,
         CAST(CEIL(COUNT(*) / {TRAIN_CAP}.0) AS BIGINT) AS s
  FROM vqn{f' WHERE {train_where}' if train_where else ''}),
sample AS MATERIALIZED (
  SELECT vq, vn, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS srn
  FROM vqn WHERE vec_id % (SELECT s FROM params) = 0{f' AND {train_where}' if train_where else ''}),
strideq AS (
  SELECT GREATEST(COUNT(*) // (SELECT k FROM params), 1) AS st FROM sample),
centsn0 AS MATERIALIZED (
  SELECT srn // (SELECT st FROM strideq) AS cell, vq AS cq,
         {_DUCK_INT_NORM.format(a='vq')} AS cn
  FROM sample
  WHERE srn % (SELECT st FROM strideq) = 0
    AND srn // (SELECT st FROM strideq) < (SELECT k FROM params)),
dims AS MATERIALIZED (
  SELECT UNNEST(range(1, (SELECT len(vq) FROM vqn LIMIT 1) + 1)) AS j)"""
    ]
    for i in range(1, IVF_ITERS + 1):
        parts.append(
            f"""cells{i} AS MATERIALIZED (
  SELECT cell, vq FROM (
    SELECT s.srn, s.vq, c.cell,
           ROW_NUMBER() OVER (PARTITION BY s.srn
                              ORDER BY {score_s} DESC, c.cell ASC) AS rk
    FROM sample s CROSS JOIN centsn{i - 1} c) z
  WHERE rk = 1),
cs{i} AS (
  SELECT cell, j, SUM(vq[j]) AS sj, COUNT(*) AS cj
  FROM cells{i} CROSS JOIN dims GROUP BY cell, j),
centsn{i} AS MATERIALIZED (
  SELECT cell, cq, {_DUCK_INT_NORM.format(a='cq')} AS cn FROM (
    SELECT cell,
           list(CASE WHEN sj < 0 THEN -((2 * (-sj) + cj) // (2 * cj))
                     ELSE (2 * sj + cj) // (2 * cj) END ORDER BY j) AS cq
    FROM cs{i} GROUP BY cell) z)"""
        )
    parts.append(
        f"""assign AS MATERIALIZED (
  SELECT vec_id, cell FROM (
    SELECT t.vec_id, c.cell,
           ROW_NUMBER() OVER (PARTITION BY t.vec_id
                              ORDER BY {score_t} DESC, c.cell ASC) AS rk
    FROM vqn t CROSS JOIN centsn{IVF_ITERS} c) z
  WHERE rk <= {ASSIGN_A}),
probes AS (
  SELECT q_id, cell FROM (
    SELECT t.vec_id AS q_id, c.cell,
           ROW_NUMBER() OVER (PARTITION BY t.vec_id
                              ORDER BY {score_t} DESC, c.cell ASC) AS rk
    FROM vqn t CROSS JOIN centsn{IVF_ITERS} c
    WHERE t.vec_id < {N_QUERY}) z
  WHERE rk <= (SELECT {probe_nprobe_sql or nprobe_sql_case('n')} FROM params))"""
    )
    return ",\n".join(parts)


_DUCK_IVF_CTES = _duck_ivf_ctes()

# the trained-IVF answer set, ranked: shared tail of topk and recall
_DUCK_IVF_SCORED = f"""scored AS (
  SELECT DISTINCT p.q_id, a.vec_id AS c_id,
         ROUND({_DUCK_DOT.format(a='q.v', b='x.v')} / (q.nrm * x.nrm), 6) AS cosine
  FROM probes p
  JOIN assign a ON p.cell = a.cell AND a.vec_id <> p.q_id
  JOIN e q ON q.vec_id = p.q_id
  JOIN e x ON x.vec_id = a.vec_id)"""


def sim_ivf_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained-IVF cell occupancy (multi-assignment rows) — the
    partition layout the index persists (partitionBy(cell) at scale)."""
    _, _, assign = _ivf_parts(spark, sf_dir)
    return (
        assign.groupBy("cell")
        .agg(F.count("*").alias("n_vectors"), F.min("vec_id").alias("min_vec"))
        .orderBy("cell")
    )


SIM_IVF_CELLS_SQL = f"""
WITH {_DUCK_IVF_CTES}
SELECT cell, COUNT(*) AS n_vectors, MIN(vec_id) AS min_vec
FROM assign GROUP BY cell ORDER BY cell
"""


def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-{TOPK} via the trained IVF probe: each query scores only
    vectors indexed under its nprobe nearest cells — the 100 TB path
    where the scored set is a measured, falling fraction of the corpus
    (SCALE.md §recall) instead of brute-force's full scan. Exact same
    trained quantizer in the oracle => value-level comparable."""
    from pyspark.sql import Window

    emb, (n, _, _), assign = _ivf_parts(spark, sf_dir)
    probes = local_df(
        spark, _ivf_probe_pairs(spark, sf_dir), "q_id long, cell long"
    )
    queries = emb.where(F.col("vec_id") < N_QUERY).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv"), F.col("nrm").alias("qn")
    )
    cand = assign.select(
        F.col("vec_id").alias("c_id"), "cell", F.col("v").alias("cv2"), F.col("nrm").alias("cn2")
    )
    cos = F.round(_dot(F.col("qv"), F.col("cv2")) / (F.col("qn") * F.col("cn2")), 6)
    wk = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("c_id").asc())
    return (
        F.broadcast(probes.join(queries, "q_id"))
        .join(cand, "cell")
        .where(F.col("q_id") != F.col("c_id"))
        .withColumn("cosine", cos)
        .select("q_id", "c_id", "cosine")
        .dropDuplicates(["q_id", "c_id"])  # boundary-replicated candidates
        .withColumn("rk", F.row_number().over(wk))
        .where(F.col("rk") <= TOPK)
        .select("q_id", "c_id", "cosine", "rk")
        .orderBy("q_id", "rk")
    )


SIM_IVF_TOPK_SQL = f"""
WITH {_DUCK_IVF_CTES},
{_DUCK_IVF_SCORED}
SELECT q_id, c_id, cosine, rk FROM (
  SELECT q_id, c_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id ASC) AS rk
  FROM scored)
WHERE rk <= {TOPK}
ORDER BY q_id, rk
"""


# -- SQ8-coded index probe oracle (vector_index _IVF_LAYOUT v3) ----------
#
# The STANDING index stores int8 codes per vector (frozen per-dim scales
# maxabs_d/127 trained with the codebook); the probe ranks candidates by
# the exact INTEGER scale-weighted code dot (sum codeX*codeQ*W_d, W_d =
# s_d^2 on the SQ8_WEIGHT_GRID fixed-point grid — the DECODED dot, so
# heterogeneous per-dim ranges don't skew the shortlist), keeps
# IVF_RERANK per query, and reranks with exact float cosine. These CTEs
# reproduce that pipeline term for term: scale training (max-abs over
# the same corpus), the clip-floor encode, the iw weight grid, the
# integer shortlist with (approx_dot DESC, c_id ASC) tie-breaks, and the
# 6dp-rounded rerank — every step exact integer or single-IEEE-op
# arithmetic in a fixed order, so engines agree bit-for-bit.

from opencypher_datalayer_spark.operators.vector_index import (  # noqa: E402
    IVF_RERANK,
    SQ8_CLIP,
    SQ8_WEIGHT_GRID,
)

_DUCK_SQ8_INDEX_CTES = f"""isc AS (
  SELECT list(mx / {SQ8_CLIP} ORDER BY pos) AS scales FROM (
    SELECT i AS pos, max(abs(v[i])) AS mx
    FROM e, range(1, {DIM} + 1) r(i) GROUP BY i)),
icoded AS MATERIALIZED (
  SELECT vec_id,
         list_transform(range(1, {DIM} + 1),
           i -> CAST(LEAST(GREATEST(CASE WHEN scales[i] > 0
                            THEN floor(v[i] / scales[i] + 0.5)
                            ELSE 0 END, -{SQ8_CLIP}), {SQ8_CLIP}) AS BIGINT)) AS code
  FROM e, isc),
iw AS (
  SELECT CASE WHEN smax2 > 0
              THEN list_transform(scales,
                     s -> CAST(floor(s * s / smax2 * {SQ8_WEIGHT_GRID}.0 + 0.5)
                               AS BIGINT))
              ELSE list_transform(scales, s -> CAST(1 AS BIGINT)) END AS w
  FROM (SELECT scales, list_max(list_transform(scales, s -> s * s)) AS smax2
        FROM isc))"""


def _duck_sq8_probe_tail(label_filtered: bool = False) -> str:
    """approx -> shortlist -> rescored CTEs of the coded probe; the
    filtered variant applies the label equi-join BEFORE the shortlist
    window, exactly like the engine's coded-scan match filter."""
    lbl = (
        "\n  JOIN embeddings lq ON lq.vec_id = p.q_id"
        "\n  JOIN embeddings lx ON lx.vec_id = a.vec_id AND lx.label = lq.label"
        if label_filtered
        else ""
    )
    return f"""approx AS (
  SELECT DISTINCT p.q_id, a.vec_id AS c_id,
         CAST(list_sum(list_transform(list_zip(cq.code, cc.code, iw.w),
                                      t -> t[1] * t[2] * t[3]))
              AS BIGINT) AS approx_dot
  FROM probes p
  JOIN assign a ON p.cell = a.cell AND a.vec_id <> p.q_id
  JOIN icoded cq ON cq.vec_id = p.q_id
  JOIN icoded cc ON cc.vec_id = a.vec_id
  CROSS JOIN iw{lbl}),
shortlist AS (
  SELECT q_id, c_id FROM (
    SELECT q_id, c_id,
           ROW_NUMBER() OVER (PARTITION BY q_id
                              ORDER BY approx_dot DESC, c_id ASC) AS ark
    FROM approx)
  WHERE ark <= {IVF_RERANK}),
rescored AS (
  SELECT s.q_id, s.c_id,
         ROUND({_DUCK_DOT.format(a='q.v', b='x.v')} / (q.nrm * x.nrm), 6) AS cosine
  FROM shortlist s
  JOIN e q ON q.vec_id = s.q_id
  JOIN e x ON x.vec_id = s.c_id)"""


SIM_IVF_PRUNED_SQL = f"""
WITH {_DUCK_IVF_CTES},
{_DUCK_SQ8_INDEX_CTES},
{_duck_sq8_probe_tail()}
SELECT q_id, c_id, cosine, rk FROM (
  SELECT q_id, c_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id ASC) AS rk
  FROM rescored)
WHERE rk <= {TOPK}
ORDER BY q_id, rk
"""


def sim_ivf_float_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{TOPK} through the standing index with ``coded=False`` — one
    exact float scan of the admitted cells, no coded shortlist and no
    rerank budget. The plan SCALE.md §ivf-sq8-d256 ships for corpora
    whose top-k tail sits at noise-tier cosine gaps (where the SQ8
    dot's ~±0.04 noise would need a rerank in the thousands): recall
    equals the cell-admission recall by construction, and the result
    is row-identical to the inline :func:`sim_ivf_topk`, whose oracle
    value-checks this path."""
    from opencypher_datalayer_spark.operators.vector_index import ivf_pruned_topk

    emb = rebalance_for_inflation(
        load_table(spark, "embeddings", sf_dir), work_per_row=WORK_VEC_SCAN
    ).select("vec_id", _vec().alias("v"), _norm(_vec()).alias("nrm"))
    queries = emb.where(F.col("vec_id") < N_QUERY).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv"), F.col("nrm").alias("qn")
    )
    return ivf_pruned_topk(
        spark,
        _ivf_index_dir(spark, sf_dir),
        queries,
        topk=TOPK,
        codebook=_ivf_codebook(spark, sf_dir),
        coded=False,
    )


def sim_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{TOPK} of the PRODUCTION ANN answer path (the
    partition-pruned trained-IVF probe) against the exact brute-force
    top-{TOPK} — the quality number the pipeline is tuned by. Distinct
    from :func:`sim_ann_recall`, which measures the LSH *candidate
    generator*: this one scores the ranked answers a user gets back.
    The committed nprobe step table (operators/ivf_codebook.py) is the
    measured floor-meeting point per scale; tests/test_ann_recall.py
    pins RECALL_FLOOR.

    Scale shape: both sides are {N_QUERY}-query bounded frames
    ({N_QUERY * TOPK} rows each) — the recall join is trivially small;
    all the heavy lifting happens inside the two ranked inputs."""
    exact = sim_topk_bruteforce(spark, sf_dir).select("q_id", "c_id")
    ivf = (
        sim_ivf_pruned_topk(spark, sf_dir)
        .select("q_id", "c_id")
        .withColumn("hit", F.lit(1))
    )
    return (
        exact.join(ivf, ["q_id", "c_id"], "left")
        .groupBy("q_id")
        .agg((F.count("hit") / F.lit(TOPK)).alias("recall"))
        .orderBy("q_id")
    )


SIM_IVF_RECALL_SQL = f"""
WITH {_DUCK_IVF_CTES},
{_DUCK_SQ8_INDEX_CTES},
{_duck_sq8_probe_tail()},
ivf AS (
  SELECT q_id, c_id FROM (
    SELECT q_id, c_id,
           ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id ASC) AS rk
    FROM rescored)
  WHERE rk <= {TOPK}),
exact AS (
  SELECT q_id, c_id FROM (
    SELECT q.vec_id AS q_id, c.vec_id AS c_id,
           ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY ROUND({_DUCK_DOT.format(a='q.v', b='c.v')} / (q.nrm * c.nrm), 6) DESC,
                      c.vec_id ASC) AS rk
    FROM e q JOIN e c ON q.vec_id <> c.vec_id
    WHERE q.vec_id < {N_QUERY})
  WHERE rk <= {TOPK})
SELECT t.q_id, CAST(COUNT(i.c_id) AS DOUBLE) / {TOPK} AS recall
FROM exact t LEFT JOIN ivf i ON t.q_id = i.q_id AND t.c_id = i.c_id
GROUP BY t.q_id
ORDER BY t.q_id
"""



# -- embedding near-dup clustering --------------------------------------

DUP_COS = 0.55  # near-dup threshold for the synthetic embeddings

# Planted-duplicate recall (dedup_embedding_recall): the first N_PLANT
# vectors get a deterministic twin v'_d = v_d + alpha * v_{(d+1) mod D}
# with alpha = 0.15 * (1 + vec_id % 10) — the planted true pairs span
# cosine ~0.55..0.99, the exact range the dedup threshold targets.
DEDUP_PLANT_N = 60
# Measured on those pairs (r11): hyperplane-LSH same-bucket recall is
# 16/54 (sf0.001) and 18/54 (sf0.01) — far below the 0.9 answer-path
# floor — while shared-IVF-cell recall (frozen trained codebook) holds
# it. The dedup candidate generator therefore routes through the IVF
# assignment, not the LSH buckets; tests/test_ann_recall.py pins the
# floor.
DEDUP_EMB_RECALL_FLOOR = 0.9
# Pair-generation replication: candidates share >= 1 of each side's
# top-DEDUP_PAIR_A cells. Candidate volume scales with the SQUARE of
# the replication (rows/cell = A*n/K), and the probe-side ASSIGN_A=6
# spilled the sf10 rehearsal (~800M candidate occurrences); measured
# planted recall per R: R=1 -> 53/54, 52/54; R=2 -> 54/54, 52/54;
# R=3 -> 54/54, 53/54 (sf0.001, sf0.01). R=2 is the smallest setting
# with headroom over the floor at ~1/9 of A=6's pair volume.
DEDUP_PAIR_A = 2


def _planted_twins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, v, nrm, tv, tnrm) for the DEDUP_PLANT_N planted pairs —
    the twin expression is single-IEEE-op-per-term arithmetic mirrored
    token-for-token by the oracle CTE."""
    emb = rebalance_for_inflation(
        load_table(spark, "embeddings", sf_dir), work_per_row=WORK_VEC_SCAN
    ).select("vec_id", _vec().alias("v"), _norm(_vec()).alias("nrm"))
    alpha = F.lit(0.15) * (F.lit(1.0) + (F.col("vec_id") % 10).cast("double"))
    tv = F.transform(
        F.col("v"),
        lambda x, i: x
        + alpha * F.element_at(F.col("v"), ((i + F.lit(1)) % F.lit(DIM)) + F.lit(1)),
    )
    return (
        emb.where(F.col("vec_id") < DEDUP_PLANT_N)
        .select("vec_id", "v", "nrm", tv.alias("tv"))
        .withColumn("tnrm", _norm(F.col("tv")))
    )


def dedup_embedding_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-generator recall of the embedding-dedup path on PLANTED
    duplicates: for each planted (original, twin) pair with exact cosine
    >= {DUP_COS}, does the generator — shared trained-IVF cell among the
    ASSIGN_A assignments, the same candidates ``dedup_embedding_clusters``
    verifies — surface the pair? One row per true pair:
    ``(vec_id, cosine, shared_cell)``; the floor
    ({DEDUP_EMB_RECALL_FLOOR}) is pinned by ``tests/test_ann_recall.py``.
    The twin is assigned under the FROZEN codebook (extension
    semantics), so the oracle reproduces every decision bit-for-bit.
    Both sides assign with DEDUP_PAIR_A — the metric floors the exact
    generator ``dedup_embedding_clusters`` ships, not a wider one."""
    emb, (n, ids, cq), _ = _ivf_parts(spark, sf_dir)
    tw = _planted_twins(spark, sf_dir)
    tq = tw.select("vec_id", vq_expr(v="tv", nrm="tnrm").alias("vq"))
    tassign = assign_cells(tq, ids, cq, DEDUP_PAIR_A).select("vec_id", "cell")
    oassign = assign_cells(
        emb.where(F.col("vec_id") < DEDUP_PLANT_N).withColumn("vq", vq_expr()),
        ids,
        cq,
        DEDUP_PAIR_A,
    ).select("vec_id", "cell")
    hits = (
        tassign.join(oassign, ["vec_id", "cell"])
        .select("vec_id")
        .dropDuplicates()
        .withColumn("hit", F.lit(True))
    )
    cos = F.round(_dot(F.col("v"), F.col("tv")) / (F.col("nrm") * F.col("tnrm")), 6)
    return (
        tw.withColumn("cosine", cos)
        .where(F.col("cosine") >= DUP_COS)
        .join(hits, "vec_id", "left")
        .select(
            "vec_id",
            "cosine",
            F.coalesce(F.col("hit"), F.lit(False)).alias("shared_cell"),
        )
        .orderBy("vec_id")
    )


_DUCK_TWIN_CTES = f"""twin AS (
  SELECT vec_id, v, nrm,
         list_transform(range(1, {DIM} + 1),
           j -> v[j] + (0.15 * (1 + vec_id % 10)) * v[(j % {DIM}) + 1]) AS tv
  FROM e WHERE vec_id < {DEDUP_PLANT_N}),
twinn AS (
  SELECT vec_id, v, nrm, tv, tnrm,
         {_DUCK_INT_NORM.format(a='tvq')} AS tvn, tvq
  FROM (
    SELECT vec_id, v, nrm, tv, tnrm,
           list_transform(tv, x -> CAST(FLOOR(ABS(x / tnrm) * {SCALE_Q}.0 + 0.5) AS BIGINT)
                                   * (CASE WHEN x < 0 THEN -1 ELSE 1 END)) AS tvq
    FROM (SELECT vec_id, v, nrm, tv, {_DUCK_NORM.format(a='tv')} AS tnrm FROM twin) z0) z1),
tassign AS (
  SELECT vec_id, cell FROM (
    SELECT t.vec_id, c.cell,
           ROW_NUMBER() OVER (PARTITION BY t.vec_id
                              ORDER BY (({_DUCK_INT_DOT.format(a='t.tvq', b='c.cq')}) / t.tvn) / c.cn DESC,
                                       c.cell ASC) AS rk
    FROM twinn t CROSS JOIN centsn{IVF_ITERS} c) z
  WHERE rk <= {DEDUP_PAIR_A})"""


# the PAIR-GENERATION assignment (top-DEDUP_PAIR_A cells per vector) —
# narrower than the probe-side `assign` CTE's ASSIGN_A; shared by the
# recall metric and the clusters oracle so both floor/reproduce the
# exact generator the engine ships
_DUCK_PASSIGN_CTE = f"""passign AS MATERIALIZED (
  SELECT vec_id, cell FROM (
    SELECT t.vec_id, c.cell,
           ROW_NUMBER() OVER (PARTITION BY t.vec_id
                              ORDER BY (({_DUCK_INT_DOT.format(a='t.vq', b='c.cq')}) / t.vn) / c.cn DESC,
                                       c.cell ASC) AS rk
    FROM vqn t CROSS JOIN centsn{IVF_ITERS} c) z
  WHERE rk <= {DEDUP_PAIR_A})"""


DEDUP_EMB_RECALL_SQL = f"""
WITH {_DUCK_IVF_CTES},
{_DUCK_PASSIGN_CTE},
{_DUCK_TWIN_CTES},
hits AS (
  SELECT DISTINCT t.vec_id
  FROM tassign t JOIN passign a ON a.vec_id = t.vec_id AND a.cell = t.cell)
SELECT w.vec_id,
       ROUND({_DUCK_DOT.format(a='w.v', b='w.tv')} / (w.nrm * w.tnrm), 6) AS cosine,
       h.vec_id IS NOT NULL AS shared_cell
FROM (SELECT vec_id, v, nrm, tv, {_DUCK_NORM.format(a='tv')} AS tnrm FROM twin) w
LEFT JOIN hits h ON h.vec_id = w.vec_id
WHERE ROUND({_DUCK_DOT.format(a='w.v', b='w.tv')} / (w.nrm * w.tnrm), 6) >= {DUP_COS}
ORDER BY w.vec_id
"""


# Candidate-id cap for the coded pair stage's exact-rescore IN-list
# pushdown (the BM25_CAND_PUSHDOWN_MAX pattern): above it the raw fetch
# degrades to a full-column scan + join instead of a footer-pruned
# point fetch — still correct, never a 100k-literal planning bill.
EMB_RESCORE_PUSHDOWN_MAX = 100_000

# Corpus size below which the pair stage serves through the live
# single-cogroup path instead of the index probe: the probe's extra
# fixed jobs (candidate scan, id collect, rescore join) measured
# +1.0 s at sf0.1's 2k vectors while the probe's savings (no corpus
# re-assignment, coded scan bytes) only matter once the corpus is
# large — the BM25_MAXSCORE_MIN_DOCS idiom. Decision-equivalence of
# the two paths is pinned by tests/test_ann_recall.py.
EMB_PROBE_MIN_CORPUS = 50_000


def _emb_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup ``(doc_a, doc_b)`` pairs (emit-cosine >= {DUP_COS},
    shared top-{DEDUP_PAIR_A} trained-IVF cell) as a PROBE of the
    standing coded index — no corpus re-assignment, no raw-vector scan
    in the candidate stage (VERDICT r11 next #2):

    1. **Coded candidate stage** — the index's cell partitions are
       scanned reading only ``(vec_id, cell, code, nrm)`` with
       ``arank < DEDUP_PAIR_A`` pushed into the scan: the stored
       assignment rank IS the top-{DEDUP_PAIR_A} assignment (top_cells
       ranks with one full stable argsort, so a rank-slice of the
       ASSIGN_A-way index equals the narrower assignment exactly), and
       the 8-byte/dim raw vectors never leave the parquet footer. Per
       cell group, codes DECODE to ``code_d * s_d`` and one float64
       BLAS matmul scores the group; a pair survives only if its
       decoded cosine plus a SOUND quantization bound can reach the
       threshold.

       Bound: with ``x_d = c_d s_d + e_d`` and ``|e_d| <= s_d / 2``
       (round-to-nearest; codes from a same-corpus-trained quantizer
       never clip, because ``s_d = maxabs_d / 127`` puts every
       ``|x_d| / s_d`` at <= 127),

         |x.y - sum(c_x c_y s^2)| <= h_x + h_y + H0,
         h_v = 0.5 * sum_d s_d^2 |c_v,d|,   H0 = 0.25 * sum_d s_d^2,

       so ``cos(x, y) <= (decoded_dot + h_x + h_y + H0) / (n_x n_y)``
       and any pair failing ``round6(ub + margin) >= t`` provably fails
       the emit predicate (round6 is monotone; the margin is the
       blocked-matmul family's f64-rounding allowance). The guard below
       falls back to the live path on an EXTENDED index, whose clipped
       codes would void the bound.

    2. **Exact rescore** — candidates are a bounded set (measured ~2-4x
       the emitted pairs); their raw vectors come back via a
       footer-pruned ``vec_id IN`` fetch (vec_id-sorted row groups) and
       the emit decision is the blocked-matmul discipline the oracle
       mirrors: f64 cosine, ``_COS_MARGIN`` border band, exact-fold
       rescue — bit-identical decisions to the pre-r12 full scoring.
    """
    import numpy as np
    import pandas as pd

    from opencypher_datalayer_spark.functions.pushdown import isin_keys
    from opencypher_datalayer_spark.operators.vector_index import (
        index_meta,
        read_scales,
    )
    from opencypher_datalayer_spark.streaming.vector_ingest import (
        _COS_MARGIN,
        _PAIR_BLOCK,
        _dup_pairs_within,
        _fold_cos_py,
        _round6,
    )

    def live_path():
        # the pre-r12 single-cogroup scoring — still exact, cheaper
        # fixed cost at small corpora, and the sound fallback when
        # clipped extension codes void the quantization bound
        emb, (n, ids, cq), _ = _ivf_parts(spark, sf_dir)
        passign = assign_cells(emb.withColumn("vq", vq_expr()), ids, cq, DEDUP_PAIR_A)
        return _dup_pairs_within(
            passign.select("vec_id", "cell", "v", "nrm"), DUP_COS
        )

    n_corpus = _ivf_codebook(spark, sf_dir)[0]
    if n_corpus < EMB_PROBE_MIN_CORPUS:
        return live_path()  # probe job overhead loses at this size
    index_dir = _ivf_index_dir(spark, sf_dir)
    meta = index_meta(index_dir)
    if meta.get("n_corpus") != meta.get("n_trained"):
        # extension-grown index: out-of-range vectors clip to ±127 and
        # the |e_d| <= s_d/2 bound no longer holds
        return live_path()

    thr = float(DUP_COS)
    s_arr = np.asarray(read_scales(spark, index_dir), dtype=np.float64)
    s2 = s_arr * s_arr
    h0 = 0.25 * float(s2.sum())
    vectors_path = os.path.join(index_dir, "vectors")
    slim = (
        spark.read.parquet(vectors_path)
        .where(F.col("arank") < DEDUP_PAIR_A)
        .select("vec_id", "cell", "code", "nrm")
    )

    def cand_fn(pdf: pd.DataFrame):
        empty = pd.DataFrame(
            {"doc_a": pd.Series([], dtype="int64"), "doc_b": pd.Series([], dtype="int64")}
        )
        n = len(pdf)
        if n < 2:
            return empty
        codes = np.stack(pdf["code"].to_numpy()).astype(np.float64)
        D = codes * s_arr  # decoded vectors
        h = 0.5 * (np.abs(codes) @ s2)  # per-row quantization slack
        nr = pdf["nrm"].to_numpy(dtype=np.float64)
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        out_a, out_b = [], []
        for i0 in range(0, n, _PAIR_BLOCK):
            i1 = min(i0 + _PAIR_BLOCK, n)
            for j0 in range(i0, n, _PAIR_BLOCK):
                j1 = min(j0 + _PAIR_BLOCK, n)
                ub = (
                    D[i0:i1] @ D[j0:j1].T
                    + h[i0:i1, None]
                    + h[None, j0:j1]
                    + h0
                ) / np.outer(nr[i0:i1], nr[j0:j1])
                keep = _round6(ub + _COS_MARGIN) >= thr
                qi, qj = np.nonzero(keep)
                gi, gj = qi + i0, qj + j0
                ok = ids[gi] != ids[gj]
                gi, gj = gi[ok], gj[ok]
                out_a.append(np.minimum(ids[gi], ids[gj]))
                out_b.append(np.maximum(ids[gi], ids[gj]))
        if not out_a:
            return empty
        return pd.DataFrame(
            {"doc_a": np.concatenate(out_a), "doc_b": np.concatenate(out_b)}
        )

    cand = (
        slim.groupBy("cell")
        .applyInPandas(cand_fn, "doc_a long, doc_b long")
        .dropDuplicates()
        .localCheckpoint()  # bounded (~emitted-pair scale); reused twice below
    )
    # ONE collect for both endpoint sets (ADVICE r12: two separate
    # distinct collects were two extra Spark jobs of pure fixed
    # overhead in a path tuned for job count)
    cand_ids = sorted(
        r.d
        for r in cand.select(
            F.explode(F.array("doc_a", "doc_b")).alias("d")
        )
        .distinct()
        .collect()
    )
    if not cand_ids:
        return cand
    raw = spark.read.parquet(vectors_path)
    if len(cand_ids) <= EMB_RESCORE_PUSHDOWN_MAX:
        raw = raw.where(isin_keys("vec_id", cand_ids))
    raw = raw.select("vec_id", "v", "nrm").dropDuplicates(["vec_id"])

    def rescore_fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            Va = np.stack(pdf["va"].to_numpy()).astype(np.float64)
            Vb = np.stack(pdf["vb"].to_numpy()).astype(np.float64)
            cos = np.einsum("ij,ij->i", Va, Vb) / (
                pdf["na"].to_numpy(dtype=np.float64)
                * pdf["nb"].to_numpy(dtype=np.float64)
            )
            sure = _round6(cos - _COS_MARGIN) >= thr
            border = (~sure) & (_round6(cos + _COS_MARGIN) >= thr)
            for bi in np.nonzero(border)[0]:
                if (
                    _fold_cos_py(
                        Va[bi], Vb[bi], float(pdf["na"].iloc[bi]), float(pdf["nb"].iloc[bi])
                    )
                    >= thr
                ):
                    sure[bi] = True
            yield pdf.loc[sure, ["doc_a", "doc_b"]]

    va = raw.select(
        F.col("vec_id").alias("doc_a"), F.col("v").alias("va"), F.col("nrm").alias("na")
    )
    vb = raw.select(
        F.col("vec_id").alias("doc_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb")
    )
    if len(cand_ids) <= EMB_RESCORE_PUSHDOWN_MAX:
        # pruned point fetch: both sides are bounded — broadcast them
        va, vb = F.broadcast(va), F.broadcast(vb)
    return (
        cand.join(va, "doc_a")
        .join(vb, "doc_b")
        .mapInPandas(rescore_fn, "doc_a long, doc_b long")
    )


def dedup_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup dedup: vectors with cosine >=
    {DUP_COS} are duplicates; connected components give cluster ids and
    min-id keepers (same operator as the text-LSH clustering — the
    modality changes, the clustering step doesn't). Candidate pairs are
    SHARED-TRAINED-IVF-CELL pairs — any of each side's top-DEDUP_PAIR_A
    assignments in common — rescored exactly: the generator whose
    recall on planted duplicates measures 0.96-1.0 vs the hyperplane
    buckets' 0.30 (``dedup_embedding_recall``; migrated r11, VERDICT
    r10 'wrong' #3). Pair replication is DEDUP_PAIR_A (2), not the
    probe-side ASSIGN_A (6): candidate volume scales with replication
    squared and the A=6 self-join spilled the sf10 rehearsal; R=2
    holds the floor at ~1/9 the volume (constant's comment has the
    per-R measurements). Since r12 the pair stage is a PROBE of the
    standing coded index (:func:`_emb_dup_pairs`): the stored ``arank``
    slices the top-DEDUP_PAIR_A assignment out of the ASSIGN_A-way
    index, candidates screen on decoded SQ8 codes with a sound
    quantization bound, and only survivors fetch raw vectors — no
    corpus re-assignment (12.6 s of the sf10 number) and no raw-vector
    scan before the bounded rescore. The oracle reproduces the trained
    assignment + threshold + a recursive-CTE closure, unchanged."""
    from opencypher_datalayer_spark.operators.components import connected_components
    pairs = _emb_dup_pairs(spark, sf_dir).select(
        F.col("doc_a").alias("id_a"), F.col("doc_b").alias("id_b")
    )
    comps = connected_components(pairs, "id_a", "id_b")
    emb = rebalance_for_inflation(load_table(spark, "embeddings", sf_dir), work_per_row=WORK_VEC_SCAN).select("vec_id")
    return (
        emb.join(comps, emb.vec_id == comps.id, "left")
        .select(
            "vec_id",
            F.coalesce(F.col("comp"), F.col("vec_id")).alias("cluster_id"),
        )
        .withColumn("is_keeper", F.col("vec_id") == F.col("cluster_id"))
        .orderBy("vec_id")
    )


DEDUP_EMB_CLUSTERS_SQL = f"""
WITH RECURSIVE {_DUCK_IVF_CTES},
{_DUCK_PASSIGN_CTE},
cand AS (
  SELECT DISTINCT a1.vec_id AS id_a, a2.vec_id AS id_b
  FROM passign a1 JOIN passign a2 ON a1.cell = a2.cell AND a1.vec_id < a2.vec_id),
pairs AS (
  SELECT c.id_a, c.id_b
  FROM cand c JOIN e x ON x.vec_id = c.id_a JOIN e y ON y.vec_id = c.id_b
  WHERE ROUND({_DUCK_DOT.format(a='x.v', b='y.v')} / (x.nrm * y.nrm), 6) >= {DUP_COS}),
und AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs),
reach AS (
  SELECT u, v FROM und
  UNION
  SELECT r.u, e2.v FROM reach r JOIN und e2 ON r.v = e2.u WHERE e2.v <> r.u),
comp AS (SELECT u AS vec_id, LEAST(u, MIN(v)) AS cluster_id FROM reach GROUP BY u)
SELECT emb.vec_id,
       COALESCE(c.cluster_id, emb.vec_id) AS cluster_id,
       emb.vec_id = COALESCE(c.cluster_id, emb.vec_id) AS is_keeper
FROM embeddings emb LEFT JOIN comp c ON emb.vec_id = c.vec_id
ORDER BY emb.vec_id
"""


# -- int8 scalar quantization + quantized-dot ANN -----------------------

SQ8_RERANK = 20  # candidates kept per query from the quantized pass


def _partial_topk(score_col: str, k: int):
    """Arrow-batched map-side combiner for distributed top-k: per batch,
    keep only the top-``k`` rows per ``q_id`` by (score desc, c_id asc).
    Exact — every global top-k row is within its own batch's top-k under
    the same order — and it bounds what the downstream window exchange
    carries to batches x queries x k instead of the full scored scan."""

    def fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            pdf = pdf.sort_values(
                ["q_id", score_col, "c_id"], ascending=[True, False, True]
            )
            yield pdf.groupby("q_id", sort=False).head(k)

    return fn


def sim_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-{TOPK} via int8 scalar quantization: per-dimension
    symmetric codes ``round(x / (maxabs_d / 127))``, candidates ranked by
    the exact INTEGER code dot product (4x smaller vectors, SIMD-friendly
    integer math — the memory-bound scan path of a quantized index),
    top-{SQ8_RERANK} per query reranked with exact float cosine.

    Scale shape: the per-dimension scale vector is one tiny aggregate
    (posexplode -> max(abs) per dim, {DIM} rows) broadcast back as a
    single-row array — the corpus is scanned once to train, once to
    encode, never shuffled; the quantized scan itself is a broadcast
    (queries) x corpus map-side pass. All arithmetic is
    engine-portable: integer codes are exact, ``floor(x/s + 0.5)``
    rounds identically in Spark and DuckDB (no round-half-to-even
    ambiguity), and the rerank reuses the 6dp-rounded cosine."""
    from pyspark.sql import Window

    emb = rebalance_for_inflation(load_table(spark, "embeddings", sf_dir), work_per_row=WORK_VEC_SCAN).select(
        "vec_id", _vec().alias("v"), _norm(_vec()).alias("nrm")
    )
    scales_row = (
        emb.select(F.posexplode("v").alias("pos", "x"))
        .groupBy("pos")
        .agg(F.max(F.abs(F.col("x"))).alias("mx"))
        .agg(F.array_sort(F.collect_list(F.struct("pos", "mx"))).alias("ps"))
        .select(F.transform("ps", lambda s: s["mx"] / F.lit(127.0)).alias("scales"))
    )
    code = F.zip_with(
        F.col("v"),
        F.col("scales"),
        lambda x, s: F.when(s > 0, F.floor(x / s + F.lit(0.5))).otherwise(F.lit(0)).cast(
            "bigint"
        ),
    )
    coded = emb.crossJoin(F.broadcast(scales_row)).select(
        "vec_id", "v", "nrm", code.alias("code")
    )
    queries = coded.where(F.col("vec_id") < N_QUERY).select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
        F.col("code").alias("qc"),
    )
    cand = coded.select(
        F.col("vec_id").alias("c_id"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cn"),
        F.col("code").alias("cc"),
    )
    qdot = F.aggregate(
        F.zip_with(F.col("qc"), F.col("cc"), lambda a, b: a * b),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    # scoring stays a map-side broadcast join, but only the slim
    # (q_id, c_id, approx_dot) triple flows downstream — the float
    # vectors rejoin AFTER the shortlist instead of riding the exchange
    scored = (
        F.broadcast(queries.select("q_id", "qc"))
        .join(cand.select("c_id", "cc"), F.col("q_id") != F.col("c_id"))
        .withColumn("approx_dot", qdot)
        .select("q_id", "c_id", "approx_dot")
    )
    # map-side partial top-k (the 100 TB shape): each Arrow batch emits
    # at most SQ8_RERANK rows per query, so the global window's exchange
    # carries candidates x queries, not corpus x queries. Sound because
    # every global top-SQ8_RERANK row is, in its own batch, within that
    # batch's top-SQ8_RERANK under the same (dot desc, c_id asc) order.
    partial = _partial_topk("approx_dot", SQ8_RERANK)
    slim = scored.mapInPandas(partial, "q_id bigint, c_id bigint, approx_dot bigint")
    wapprox = Window.partitionBy("q_id").orderBy(F.col("approx_dot").desc(), F.col("c_id").asc())
    shortlist = (
        slim.withColumn("ark", F.row_number().over(wapprox))
        .where(F.col("ark") <= SQ8_RERANK)
        .drop("ark")
    )
    # rerank fetch: the shortlist is <= N_QUERY * SQ8_RERANK rows —
    # broadcast it against the corpus so the vector fetch is a map-side
    # semi-join (one extra columnar scan, zero corpus shuffle)
    cvecs = emb.select(
        F.col("vec_id").alias("c_id"), F.col("v").alias("cv"), F.col("nrm").alias("cn")
    )
    cos = F.round(_dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), 6)
    wk = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("c_id").asc())
    return (
        cvecs.join(F.broadcast(shortlist), "c_id")
        .join(F.broadcast(queries.select("q_id", "qv", "qn")), "q_id")
        .withColumn("cosine", cos)
        .withColumn("rk", F.row_number().over(wk))
        .where(F.col("rk") <= TOPK)
        .select("q_id", "c_id", "approx_dot", "cosine", "rk")
        .orderBy("q_id", "rk")
    )


SIM_SQ8_TOPK_SQL = f"""
WITH e AS (
  SELECT vec_id, {_DUCK_VEC} AS v, {_DUCK_NORM.format(a=_DUCK_VEC)} AS nrm
  FROM embeddings),
sc AS (
  SELECT list(mx / 127 ORDER BY pos) AS scales FROM (
    SELECT i AS pos, max(abs(v[i])) AS mx
    FROM e, range(1, {DIM} + 1) r(i) GROUP BY i)),
coded AS (
  SELECT vec_id, v, nrm,
         list_transform(range(1, {DIM} + 1),
           i -> CAST(CASE WHEN scales[i] > 0
                          THEN floor(v[i] / scales[i] + 0.5)
                          ELSE 0 END AS BIGINT)) AS code
  FROM e, sc),
approx AS (
  SELECT q.vec_id AS q_id, q.v AS qv, q.nrm AS qn,
         c.vec_id AS c_id, c.v AS cv, c.nrm AS cn,
         CAST(list_sum(list_transform(list_zip(q.code, c.code), t -> t[1] * t[2]))
              AS BIGINT) AS approx_dot
  FROM coded q JOIN coded c ON q.vec_id <> c.vec_id
  WHERE q.vec_id < {N_QUERY}),
shortlist AS (
  SELECT q_id, c_id, approx_dot, qv, qn, cv, cn FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY q_id ORDER BY approx_dot DESC, c_id ASC) AS ark
    FROM approx)
  WHERE ark <= {SQ8_RERANK}),
rescored AS (
  SELECT q_id, c_id, approx_dot,
         ROUND({_DUCK_DOT.format(a='qv', b='cv')} / (qn * cn), 6) AS cosine
  FROM shortlist)
SELECT q_id, c_id, approx_dot, cosine, rk FROM (
  SELECT q_id, c_id, approx_dot, cosine,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id ASC) AS rk
  FROM rescored)
WHERE rk <= {TOPK}
ORDER BY q_id, rk
"""


def _sq8_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, code: array<bigint>) — the shared SQ8 encoding stage."""
    emb = rebalance_for_inflation(load_table(spark, "embeddings", sf_dir), work_per_row=WORK_VEC_SCAN).select("vec_id", _vec().alias("v"))
    scales_row = (
        emb.select(F.posexplode("v").alias("pos", "x"))
        .groupBy("pos")
        .agg(F.max(F.abs(F.col("x"))).alias("mx"))
        .agg(F.array_sort(F.collect_list(F.struct("pos", "mx"))).alias("ps"))
        .select(F.transform("ps", lambda s: s["mx"] / F.lit(127.0)).alias("scales"))
    )
    code = F.zip_with(
        F.col("v"),
        F.col("scales"),
        lambda x, s: F.when(s > 0, F.floor(x / s + F.lit(0.5))).otherwise(F.lit(0)).cast(
            "bigint"
        ),
    )
    return emb.crossJoin(F.broadcast(scales_row)).select("vec_id", code.alias("code"))


def sim_sq8_matmul_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The vectorized-Python twin of the SQ8 scan: candidate code
    batches stream through ``mapInPandas`` and are scored against the
    (tiny, driver-collected) query code matrix with ONE numpy int64
    matmul per Arrow batch — the shape a real quantized scorer uses
    when the distance kernel outgrows column expressions. Integer
    matmul is EXACT (no float accumulation order), so unlike a float
    BLAS path this one carries a full value-level oracle; ranking
    tie-breaks (approx_dot desc, c_id). Collecting the {N_QUERY}
    query codes is metadata-scale by construction."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    codes = _sq8_codes(spark, sf_dir)
    qrows = sorted(
        codes.where(F.col("vec_id") < N_QUERY).collect(), key=lambda r: r["vec_id"]
    )
    q_ids = np.array([r["vec_id"] for r in qrows], dtype=np.int64)
    q_mat = np.array([r["code"] for r in qrows], dtype=np.int64)  # (Q, D)

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            c_ids = pdf["vec_id"].to_numpy(np.int64)
            c_mat = np.array(list(pdf["code"]), dtype=np.int64)  # (B, D)
            dots = c_mat @ q_mat.T  # (B, Q) exact int64
            # map-side partial top-k: emit only each query's per-batch
            # top-(TOPK+1) (slack row absorbs a possible self-match), so
            # the window exchange carries batches x Q x K rows, not B x Q.
            # lexsort matches the global order (approx_dot desc, c_id asc).
            k = min(TOPK + 1, len(pdf))
            oq, oc, od = [], [], []
            for j, qid in enumerate(q_ids):
                col = dots[:, j]
                top = np.lexsort((c_ids, -col))[:k]
                keep = top[c_ids[top] != qid][:TOPK]
                oq.append(np.full(len(keep), qid, dtype=np.int64))
                oc.append(c_ids[keep])
                od.append(col[keep])
            yield pd.DataFrame(
                {
                    "q_id": np.concatenate(oq),
                    "c_id": np.concatenate(oc),
                    "approx_dot": np.concatenate(od),
                }
            )

    from pyspark.sql import Window

    scored = codes.mapInPandas(score, "q_id bigint, c_id bigint, approx_dot bigint")
    w = Window.partitionBy("q_id").orderBy(F.col("approx_dot").desc(), F.col("c_id").asc())
    return (
        scored.where(F.col("q_id") != F.col("c_id"))
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= TOPK)
        .orderBy("q_id", "rk")
    )


SIM_SQ8_MATMUL_SQL = f"""
WITH e AS (
  SELECT vec_id, {_DUCK_VEC} AS v FROM embeddings),
sc AS (
  SELECT list(mx / 127 ORDER BY pos) AS scales FROM (
    SELECT i AS pos, max(abs(v[i])) AS mx
    FROM e, range(1, {DIM} + 1) r(i) GROUP BY i)),
coded AS (
  SELECT vec_id,
         list_transform(range(1, {DIM} + 1),
           i -> CAST(CASE WHEN scales[i] > 0
                          THEN floor(v[i] / scales[i] + 0.5)
                          ELSE 0 END AS BIGINT)) AS code
  FROM e, sc),
scored AS (
  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
         CAST(list_sum(list_transform(list_zip(q.code, c.code), t -> t[1] * t[2]))
              AS BIGINT) AS approx_dot
  FROM coded q JOIN coded c ON q.vec_id <> c.vec_id
  WHERE q.vec_id < {N_QUERY})
SELECT q_id, c_id, approx_dot, rk FROM (
  SELECT q_id, c_id, approx_dot,
         ROW_NUMBER() OVER (PARTITION BY q_id
                            ORDER BY approx_dot DESC, c_id ASC) AS rk
  FROM scored)
WHERE rk <= {TOPK}
ORDER BY q_id, rk
"""


# -- centroid aggregation (vector agg over groups) ----------------------


# -- cell-partitioned IVF index (storage-pruned probe scan) -------------


# artifact identity for the standing IVF index (operators.artifacts):
# layout version + embeddings content fingerprint. Bump the version
# string when the index layout or training pipeline changes.
_IVF_ARTIFACT_KIND = "ivf"
_IVF_CBK_KIND = "ivf_cbk"  # codebook-only artifact (K rows + meta n)
# v2: payload columns (label) stored per vector for filtered probes
# v3: SQ8 codes + frozen scales in the cells; coded-shortlist probe
# v4: arank (assignment rank) per replica row — probe-time consumers
#     slice narrower assignments (dedup pair stage) without re-scoring
_IVF_LAYOUT = "v4"


def _ivf_artifact_key(sf_dir: str) -> tuple:
    from opencypher_datalayer_spark.benchqueries.memo import table_fingerprint

    return (_IVF_LAYOUT, table_fingerprint(sf_dir, "embeddings"))


def _codebook_from_artifact(spark: SparkSession, sf_dir: str):
    """(n, ids, cq) from a committed index artifact, or None. The
    centroids are EXACT integers (stored as array<long>), so loading
    them reproduces the trained float64 int-valued arrays bit-for-bit —
    every downstream decision (assignment, probe ranking) is identical
    to the training session's."""
    import json as _json

    import numpy as np

    from opencypher_datalayer_spark.operators.artifacts import default_store

    adir = default_store().current_dir(_IVF_ARTIFACT_KIND, _ivf_artifact_key(sf_dir))
    if adir is None:
        # the codebook-only artifact (committed by every full training
        # pass) shares the centroids/meta layout with the index
        adir = default_store().current_dir(_IVF_CBK_KIND, _ivf_artifact_key(sf_dir))
    if adir is None:
        return None
    with open(os.path.join(adir, "meta.json")) as f:
        n = _json.load(f)["n_corpus"]
    cents = (
        spark.read.parquet(os.path.join(adir, "centroids")).orderBy("cell").collect()
    )
    ids = np.array([r.cell for r in cents], dtype=np.int64)
    cq = np.array([r.cq for r in cents], dtype=np.float64)
    return n, ids, cq


def build_ivf_artifacts(spark: SparkSession, sf_dir: str) -> str:
    """Build (if absent) the STANDING cell-partitioned IVF index —
    codebook training + boundary-replicated assignment + partitioned
    write — as a committed artifact version, and return its dir. The
    probe path (:func:`sim_ivf_pruned_topk`) then pays only cell
    ranking + the pruned scan; exposed separately so the bench times
    build and probe as first-class phases (VERDICT r8 'what's missing'
    #1: ~76 s of the sf10 number was this build, charged per run)."""
    import json as _json

    from opencypher_datalayer_spark.operators.artifacts import default_store
    from opencypher_datalayer_spark.operators.vector_index import build_ivf_index

    def build(tmp: str) -> None:
        cbk = _ivf_codebook(spark, sf_dir)
        build_ivf_index(
            spark,
            rebalance_for_inflation(
                load_table(spark, "embeddings", sf_dir), work_per_row=WORK_VEC_SCAN
            ),
            tmp,
            codebook=cbk,
        )
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            # n_trained feeds vector_index.needs_compact's growth signal
            _json.dump({"n_corpus": cbk[0], "n_trained": cbk[0]}, f)

    return default_store().get_or_build(
        _IVF_ARTIFACT_KIND, _ivf_artifact_key(sf_dir), build
    )


def _ivf_index_dir(spark: SparkSession, sf_dir: str) -> str:
    """Committed standing index for this corpus version (built on first
    use — see :func:`build_ivf_artifacts`)."""
    return build_ivf_artifacts(spark, sf_dir)


def sim_ivf_pruned_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-{TOPK} through the CELL-PARTITIONED, SQ8-CODED index:
    vectors are stored ``partitionBy(cell)`` with int8 storage codes,
    and the probe (a) reads only admitted cells via static partition
    pruning, (b) reads only the 1-byte/dim code column in the candidate
    scan (column pruning skips the raw vectors — ~8x fewer scan bytes),
    (c) reranks the bounded integer-dot shortlist with exact cosine
    fetched by a footer-pruned ``vec_id IN`` lookup. The oracle
    (``SIM_IVF_PRUNED_SQL``) reproduces scale training, the clip-floor
    encode, the integer shortlist, and the 6dp rerank bit-for-bit; the
    plan-audit test pins the pruned file set and the coded ReadSchema."""
    from opencypher_datalayer_spark.operators.vector_index import ivf_pruned_topk

    emb = rebalance_for_inflation(load_table(spark, "embeddings", sf_dir), work_per_row=WORK_VEC_SCAN).select(
        "vec_id", _vec().alias("v"), _norm(_vec()).alias("nrm")
    )
    queries = emb.where(F.col("vec_id") < N_QUERY).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv"), F.col("nrm").alias("qn")
    )
    cbk = _ivf_codebook(spark, sf_dir)
    return ivf_pruned_topk(
        spark,
        _ivf_index_dir(spark, sf_dir),
        queries,
        topk=TOPK,
        nprobe=ivf_nprobe(cbk[0]),
        codebook=cbk,
    )


def sim_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-FILTERED ANN — for each query vector, the top-{TOPK}
    cosine neighbors SHARING ITS LABEL ("nearest within my class"),
    answered through the standing cell-partitioned index: the label is
    an index PAYLOAD column (stored per vector at build/extend,
    _IVF_LAYOUT v2), so the match evaluates on the scanned row at the
    probe join — the corpus is never joined back to fetch metadata,
    and a constant predicate would push into the pruned scan itself.
    The probe is
    WIDENED by the measured rule (``ivf_filtered_nprobe``: 8x at
    n<=600, 2x beyond, capped at the cell count — smallest multiplier
    holding mean recall@{TOPK} >= {RECALL_FLOOR} at every rehearsed
    scale; unwidened probes measured 0.58-0.88): a filter keeping
    ~1/10 of each cell starves top-k otherwise. At 100 TB this is the
    filtered-search shape vector stores ship (FAISS IDSelector /
    Milvus filtered search), expressed as partition pruning + a
    pushed-down payload predicate.

    Oracle: the same unrolled-Lloyd CTE chain with the probes CTE
    widened by the identical SQL rule and the label equi-join applied
    in ``scored`` — engine and oracle share every training and probe
    decision bit-for-bit."""
    from opencypher_datalayer_spark.operators.vector_index import ivf_pruned_topk

    emb = rebalance_for_inflation(
        load_table(spark, "embeddings", sf_dir), work_per_row=WORK_VEC_SCAN
    ).select("vec_id", "label", _vec().alias("v"), _norm(_vec()).alias("nrm"))
    queries = emb.where(F.col("vec_id") < N_QUERY).select(
        F.col("vec_id").alias("q_id"),
        "label",
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    cbk = _ivf_codebook(spark, sf_dir)
    return ivf_pruned_topk(
        spark,
        _ivf_index_dir(spark, sf_dir),
        queries,
        topk=TOPK,
        nprobe=ivf_filtered_nprobe(cbk[0]),
        codebook=cbk,
        match_cols=("label",),
    )


SIM_FILTERED_TOPK_SQL = f"""
WITH {_duck_ivf_ctes(filtered_nprobe_sql_case('n'))},
{_DUCK_SQ8_INDEX_CTES},
{_duck_sq8_probe_tail(label_filtered=True)}
SELECT q_id, c_id, cosine, rk FROM (
  SELECT q_id, c_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id ASC) AS rk
  FROM rescored)
WHERE rk <= {TOPK}
ORDER BY q_id, rk
"""


# -- streaming embedding ingest (vector twin of st_stream_neardup) ------

VSTREAM_NBATCH = 4
# the family's synthetic corpus tops out near 0.6 cosine and has ZERO
# pairs at DUP_COS=0.55 within one replica; COS_THRESHOLD (0.4) is the
# operating point with real dup structure (66 pairs at sf0.001), so the
# streaming gate demonstrably drops at both stages
VSTREAM_COS = COS_THRESHOLD


def st_stream_vector_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming embedding ingest with ANN near-dup gating
    (``streaming.vector_ingest.StreamingVectorIngest``), replayed
    deterministically: the embeddings table arrives as
    {VSTREAM_NBATCH} micro-batches (``vec_id % {VSTREAM_NBATCH}``),
    each through the sink's exact ``foreachBatch`` contract — epoch 0
    bootstraps (codebook trained on that batch, frozen thereafter),
    later epochs are corpus-filtered against the standing index
    (shared assigned cell + cosine >= {VSTREAM_COS}), collapsed
    within themselves (component min), and survivors EXTEND the index
    as a new committed artifact version. Returns the accepted
    (vec_id, batch) set.

    The oracle unrolls the same program in SQL: the k-means CTEs train
    on the epoch-0 slice only (the sink's frozen codebook), then one
    stage per epoch — cell-equi-join dup test, NOT EXISTS anti-join,
    recursive-CTE component collapse — so every training, assignment,
    cosine, and keep decision is recomputed bit-for-bit."""
    import hashlib
    import os
    import shutil
    import tempfile

    from opencypher_datalayer_spark.operators.artifacts import ArtifactStore
    from opencypher_datalayer_spark.streaming.vector_ingest import (
        StreamingVectorIngest,
    )

    digest = hashlib.md5(
        repr((table_fingerprint(sf_dir, "embeddings"), VSTREAM_COS)).encode()
    ).hexdigest()[:10]
    root = os.path.join(
        tempfile.gettempdir(), f"stream_vec_{digest}_p{os.getpid()}"
    )
    shutil.rmtree(root, ignore_errors=True)  # replay starts from empty state
    sink = StreamingVectorIngest(
        ArtifactStore(root), key=("replay",), dup_cos=VSTREAM_COS
    )
    emb = rebalance_for_inflation(
        load_table(spark, "embeddings", sf_dir), work_per_row=WORK_VEC_SCAN
    )
    for k in range(VSTREAM_NBATCH):
        sink.apply(emb.where(F.col("vec_id") % VSTREAM_NBATCH == k), k)
    return (
        sink.accepted_ids(spark)
        .withColumn("batch", F.col("vec_id") % VSTREAM_NBATCH)
        .localCheckpoint()  # decouple from the state dir the NEXT call wipes
        .orderBy("vec_id")
    )


def _duck_stream_vector_sql() -> str:
    """Unrolled SQL program for the streaming vector ingest: k-means
    CTEs trained on the epoch-0 slice, then per-epoch corpus filter /
    within-batch recursive-CTE collapse / corpus extension — the same
    stage structure as the text stream's oracle."""
    nb, t = VSTREAM_NBATCH, VSTREAM_COS
    cos = f"ROUND(({_DUCK_DOT.format(a='a.v', b='c.v')}) / (a.nrm * c.nrm), 6)"
    cos_bb = f"ROUND(({_DUCK_DOT.format(a='a.v', b='b.v')}) / (a.nrm * b.nrm), 6)"
    parts = [
        # assignment rows carrying vectors: the join shape of both the
        # corpus filter and the within-batch collapse
        "av AS MATERIALIZED (SELECT a.vec_id, a.cell, e.v, e.nrm"
        " FROM assign a JOIN e USING (vec_id))",
    ] + [
        f"b{k} AS MATERIALIZED (SELECT * FROM av WHERE vec_id % {nb} = {k})"
        for k in range(nb)
    ]
    for k in range(nb):
        if k == 0:
            parts.append("rem0 AS MATERIALIZED (SELECT * FROM b0)")
        else:
            parts.append(
                f"dup{k} AS MATERIALIZED (SELECT DISTINCT a.vec_id FROM b{k} a"
                f" JOIN corp{k} c ON a.cell = c.cell AND {cos} >= {t})"
            )
            parts.append(
                f"rem{k} AS MATERIALIZED (SELECT * FROM b{k} WHERE NOT EXISTS"
                f" (SELECT 1 FROM dup{k} d WHERE d.vec_id = b{k}.vec_id))"
            )
        parts.append(
            f"e{k} AS MATERIALIZED (SELECT DISTINCT a.vec_id AS pa, b.vec_id AS pb"
            f" FROM rem{k} a JOIN rem{k} b"
            f" ON a.vec_id < b.vec_id AND a.cell = b.cell AND {cos_bb} >= {t})"
        )
        parts.append(
            f"ed{k} AS MATERIALIZED"
            f" (SELECT pa AS a, pb AS b FROM e{k} UNION SELECT pb, pa FROM e{k})"
        )
        parts.append(
            f"cl{k} AS (SELECT a, b FROM ed{k}"
            f" UNION SELECT c.a, x.b FROM cl{k} c JOIN ed{k} x ON c.b = x.a)"
        )
        parts.append(
            f"lab{k} AS MATERIALIZED (SELECT a AS vec_id, MIN(b) AS mn FROM cl{k} GROUP BY a)"
        )
        parts.append(
            f"kept{k} AS MATERIALIZED (SELECT r.* FROM rem{k} r LEFT JOIN lab{k} l USING (vec_id)"
            f" WHERE l.mn IS NULL OR l.mn >= r.vec_id)"
        )
        if k + 1 < nb:
            parts.append(
                f"corp{k + 1} AS MATERIALIZED (SELECT * FROM corp{k} UNION ALL"
                f" SELECT * FROM kept{k})"
                if k
                else "corp1 AS MATERIALIZED (SELECT * FROM kept0)"
            )
    union = " UNION ".join(
        f"SELECT DISTINCT vec_id FROM kept{k}" for k in range(nb)
    )
    return f"""
WITH RECURSIVE {_duck_ivf_ctes(train_where=f'vec_id % {nb} = 0')},
{', '.join(parts)}
SELECT vec_id, vec_id % {nb} AS batch FROM ({union}) ORDER BY vec_id
"""


ST_STREAM_VECTOR_SQL = _duck_stream_vector_sql()


def sim_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean vector norm + count — element-wise vector aggregate
    reduced to a scalar so it hashes portably; the full centroid array is
    the same pattern without the final reduce."""
    emb = rebalance_for_inflation(load_table(spark, "embeddings", sf_dir), work_per_row=WORK_VEC_SCAN)
    return (
        emb.select("label", _norm(_vec()).alias("nrm"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("nrm"), 6).alias("avg_norm"),
            F.round(F.min("nrm"), 6).alias("min_norm"),
            F.round(F.max("nrm"), 6).alias("max_norm"),
        )
        .orderBy("label")
    )


SIM_CENTROIDS_SQL = f"""
WITH e AS (SELECT label, {_DUCK_NORM.format(a=_DUCK_VEC)} AS nrm FROM embeddings)
SELECT label, COUNT(*) AS n,
       ROUND(AVG(nrm), 6) AS avg_norm,
       ROUND(MIN(nrm), 6) AS min_norm,
       ROUND(MAX(nrm), 6) AS max_norm
FROM e GROUP BY label ORDER BY label
"""


# -- hybrid retrieval: BM25 + vector fusion (reciprocal-rank) ------------

RRF_K = 60  # the standard RRF damping constant (Cormack et al. 2009)
RRF_POOL = 20  # per-system candidate pool depth fed into the fusion
RRF_TOPK = 5


def sim_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval — reciprocal-rank fusion of the lexical (BM25,
    standing inverted-index artifact) and vector (exact cosine) top-
    {RRF_POOL} pools per query: ``rrf = 1/({RRF_K}+rank_lex) +
    1/({RRF_K}+rank_vec)`` with an absent system contributing 0. The
    query set is the {RRF_POOL}-pool twin of ``text_bm25_topk``'s (the
    lowest doc_ids; embeddings share the id space), self excluded on
    both sides.

    Scale shape: the lexical side probes the bucket-pruned standing
    index (one int64-grid shuffle); the vector side is the exact
    baseline scan with the map-side partial top-k, so the fusion join
    sees only queries x {RRF_POOL} slim rows per system — the full-
    outer join and final window are driver-tiny at any corpus size.
    Fusion sums two fixed-order IEEE divisions of exact integers, so
    the oracle hash-matches bit-for-bit; ranks tie-break on doc_id."""
    from pyspark.sql import Window

    from opencypher_datalayer_spark.benchqueries.text import BM25_NQ, bm25_rankings

    lex = (
        bm25_rankings(spark, sf_dir, k=RRF_POOL)
        .where(F.col("rk") <= RRF_POOL)
        .select("q_id", "doc_id", F.col("rk").alias("rk_lex"))
    )
    emb = rebalance_for_inflation(
        load_table(spark, "embeddings", sf_dir), work_per_row=WORK_VEC_SCAN
    ).select("vec_id", _vec().alias("v"), _norm(_vec()).alias("nrm"))
    qids = (
        load_table(spark, "documents", sf_dir)
        .orderBy("doc_id")
        .limit(BM25_NQ)
        .select(F.col("doc_id").alias("q_id"))
    )
    qv = emb.join(F.broadcast(qids), F.col("vec_id") == F.col("q_id")).select(
        "q_id", F.col("v").alias("qv"), F.col("nrm").alias("qn")
    )
    scored = (
        F.broadcast(qv)
        .join(emb, F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            F.col("vec_id").alias("c_id"),
            (_dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nrm"))).alias(
                "cosine"
            ),
        )
    )
    slim = scored.mapInPandas(
        _partial_topk("cosine", RRF_POOL), "q_id bigint, c_id bigint, cosine double"
    )
    wv = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("c_id").asc())
    vec = (
        slim.withColumn("rk_vec", F.row_number().over(wv))
        .where(F.col("rk_vec") <= RRF_POOL)
        .select("q_id", F.col("c_id").alias("doc_id"), "rk_vec")
    )
    fused = lex.join(vec, ["q_id", "doc_id"], "full_outer").withColumn(
        "rrf",
        F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("rk_lex")), F.lit(0.0))
        + F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("rk_vec")), F.lit(0.0)),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("rrf").desc(), F.col("doc_id").asc())
    return (
        fused.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= RRF_TOPK)
        .withColumn("rrf", F.round("rrf", 6))
        .select("q_id", "doc_id", "rrf", "rk")
        .orderBy("q_id", "rk")
    )


def _hybrid_rrf_sql() -> str:
    """Oracle: the BM25 CTE chain (shared with ``text_bm25_topk`` —
    same pinned scoring) continued with the exact-cosine ranking and
    the same fixed-order fusion arithmetic."""
    from opencypher_datalayer_spark.benchqueries.text import _bm25_sql

    return _bm25_sql(
        f""", e AS (
  SELECT vec_id, {_DUCK_VEC} AS v, {_DUCK_NORM.format(a=_DUCK_VEC)} AS nrm
  FROM embeddings),
vscored AS (
  SELECT qe.vec_id AS q_id, c.vec_id AS doc_id,
         {_DUCK_DOT.format(a='qe.v', b='c.v')} / (qe.nrm * c.nrm) AS cosine
  FROM e qe JOIN e c ON qe.vec_id <> c.vec_id
  WHERE qe.vec_id IN (SELECT q_id FROM q)),
vranked AS (
  SELECT q_id, doc_id,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, doc_id ASC) AS rk
  FROM vscored),
lex AS (SELECT q_id, doc_id, rk FROM ranked WHERE rk <= {RRF_POOL}),
vec AS (SELECT q_id, doc_id, rk FROM vranked WHERE rk <= {RRF_POOL}),
fused AS (
  SELECT COALESCE(l.q_id, v.q_id) AS q_id,
         COALESCE(l.doc_id, v.doc_id) AS doc_id,
         COALESCE(1.0 / ({RRF_K} + l.rk), 0.0)
           + COALESCE(1.0 / ({RRF_K} + v.rk), 0.0) AS rrf
  FROM lex l FULL OUTER JOIN vec v ON l.q_id = v.q_id AND l.doc_id = v.doc_id)
SELECT q_id, doc_id, ROUND(rrf, 6) AS rrf, rk FROM (
  SELECT q_id, doc_id, rrf,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY rrf DESC, doc_id ASC) AS rk
  FROM fused)
WHERE rk <= {RRF_TOPK}
ORDER BY q_id, rk"""
    )


QUERIES = {
    "sim_hybrid_rrf": QueryDef(
        sim_hybrid_rrf,
        _hybrid_rrf_sql(),
        f"BM25 + cosine reciprocal-rank fusion, top-{RRF_TOPK}",
    ),
    "sim_cosine_pairs": QueryDef(
        sim_cosine_pairs, SIM_COSINE_PAIRS_SQL, f"exact cosine pairs >= {COS_THRESHOLD}"
    ),
    "sim_topk_bruteforce": QueryDef(
        sim_topk_bruteforce, SIM_TOPK_SQL, f"exact top-{TOPK} neighbors, {N_QUERY} queries"
    ),
    "sim_lsh_buckets": QueryDef(
        sim_lsh_buckets, SIM_LSH_BUCKETS_SQL, f"{N_PLANES}-plane sign LSH buckets"
    ),
    "sim_lsh_candidate_pairs": QueryDef(
        sim_lsh_candidate_pairs, SIM_LSH_PAIRS_SQL, "bucketed ANN candidates + exact rerank"
    ),
    "sim_lsh_multiband_pairs": QueryDef(
        sim_lsh_multiband_pairs,
        SIM_LSH_MULTIBAND_SQL,
        f"{LSH_BANDS}-band AND-OR amplified LSH candidates + exact rerank",
    ),
    "sim_ann_recall": QueryDef(
        sim_ann_recall,
        SIM_ANN_RECALL_SQL,
        f"recall@{TOPK} of multiband LSH candidates vs exact top-{TOPK}",
    ),
    "sim_label_centroids": QueryDef(
        sim_label_centroids, SIM_CENTROIDS_SQL, "per-label vector-norm aggregates"
    ),
    "dedup_embedding_clusters": QueryDef(
        dedup_embedding_clusters,
        DEDUP_EMB_CLUSTERS_SQL,
        f"cosine>={DUP_COS} near-dup clusters over shared-IVF-cell candidates",
    ),
    "dedup_embedding_recall": QueryDef(
        dedup_embedding_recall,
        DEDUP_EMB_RECALL_SQL,
        f"planted-duplicate recall of the shared-cell dedup candidate generator",
    ),
    "sim_ivf_cells": QueryDef(
        sim_ivf_cells,
        SIM_IVF_CELLS_SQL,
        f"trained-IVF cell occupancy ({IVF_K_MULT}*sqrt(n) cells, {ASSIGN_A}-way assign)",
    ),
    "sim_ivf_topk": QueryDef(
        sim_ivf_topk, SIM_IVF_TOPK_SQL, f"trained-IVF ANN top-{TOPK} (measured nprobe table)"
    ),
    "sim_ivf_recall": QueryDef(
        sim_ivf_recall,
        SIM_IVF_RECALL_SQL,
        f"recall@{TOPK} of the pruned-IVF answer path vs exact top-{TOPK}",
    ),
    "sim_ivf_pruned_topk": QueryDef(
        sim_ivf_pruned_topk,
        SIM_IVF_PRUNED_SQL,
        f"SQ8-coded IVF index: pruned coded scan, top-{IVF_RERANK} exact rerank, top-{TOPK}",
    ),
    "sim_ivf_float_probe": QueryDef(
        sim_ivf_float_probe,
        SIM_IVF_TOPK_SQL,
        f"float probe of the standing index (coded=False — the noise-tier plan, "
        f"SCALE.md §ivf-sq8-d256): exact scan of admitted cells, top-{TOPK}",
    ),
    "sim_filtered_topk": QueryDef(
        sim_filtered_topk,
        SIM_FILTERED_TOPK_SQL,
        f"metadata-filtered ANN: same-label top-{TOPK} via widened pruned probe",
    ),
    "st_stream_vector_ingest": QueryDef(
        st_stream_vector_ingest,
        ST_STREAM_VECTOR_SQL,
        f"streaming embedding ingest: ANN dup gate + index extension, {VSTREAM_NBATCH} epochs",
    ),
    "sim_sq8_topk": QueryDef(
        sim_sq8_topk,
        SIM_SQ8_TOPK_SQL,
        f"int8 scalar-quantized scan, top-{SQ8_RERANK} rerank, top-{TOPK}",
    ),
    "sim_sq8_matmul_topk": QueryDef(
        sim_sq8_matmul_topk,
        SIM_SQ8_MATMUL_SQL,
        "Arrow-batched numpy int64 matmul SQ8 scorer (exact oracle)",
    ),
}
