"""Streaming embedding ingest (r9): the vector twin of the text-side
streaming near-dup filter. Differential-tested against a sequential
reference that replicates the exact detection rule (frozen codebook,
shared-assigned-cell candidates, left-fold IEEE cosine, component-min
collapse), plus replay idempotence and mid-stream compaction."""

import numpy as np
from pyspark.sql import functions as F

from opencypher_datalayer_spark.operators.artifacts import ArtifactStore
from opencypher_datalayer_spark.operators.ivf_codebook import ASSIGN_A, top_cells
from opencypher_datalayer_spark.operators.vector_index import (
    compact_ivf_index,
    index_meta,
    read_codebook,
)
from opencypher_datalayer_spark.sources.tables import load_table
from opencypher_datalayer_spark.streaming.vector_ingest import StreamingVectorIngest

# the family default (0.55) has ZERO qualifying pairs in the synthetic
# corpus; 0.4 gives both cross-epoch corpus drops and same-epoch
# collapses (66 pairs at sf0.001, 15 same-epoch), so the tests pin
# every stage doing real work
T_COS = 0.4

N_EPOCHS = 4


def _batches(spark, sf_dir):
    rows = (
        load_table(spark, "embeddings", sf_dir)
        .select("vec_id", "embedding", "label")
        .orderBy("vec_id")
        .collect()
    )
    out = {}
    for k in range(N_EPOCHS):
        out[k] = [
            (r.vec_id, [float(x) for x in r.embedding], r.label)
            for r in rows
            if r.vec_id % N_EPOCHS == k
        ]
    return out


def _mk_df(spark, rows):
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )


def _fold_cos(a, b):
    """EXACTLY the engine's arithmetic: float32->float64 casts, then
    left-fold dot and left-fold norms (F.aggregate's order), rounded
    to 6 — np.dot's pairwise summation could differ in the last ulp."""
    a = [float(np.float32(x)) for x in a]
    b = [float(np.float32(x)) for x in b]
    dot = 0.0
    for x, y in zip(a, b):
        dot += x * y
    na = 0.0
    for x in a:
        na += x * x
    nb = 0.0
    for x in b:
        nb += x * x
    return round(dot / (np.sqrt(na) * np.sqrt(nb)), 6)


def _vq(v):
    v = [float(np.float32(x)) for x in v]
    n = 0.0
    for x in v:
        n += x * x
    n = float(np.sqrt(n))
    return np.array(
        [
            int(np.floor(abs(x / n) * 1e6 + 0.5)) * (-1 if x < 0 else 1)
            for x in v
        ],
        dtype=np.float64,
    )


def _ref_run(batches, ids, cq, t=T_COS):
    """Sequential reference: epoch by epoch, corpus filter then
    within-batch component-min collapse, survivors join the corpus."""
    corpus = {}  # vec_id -> (vector, cells)

    def cells_of(v):
        return set(top_cells(_vq(v)[None, :], ids, cq, ASSIGN_A)[0].tolist())

    accepted_per_epoch = {}
    for k in sorted(batches):
        batch = [(i, v, cells_of(v)) for i, v, _lab in batches[k]]
        # corpus filter
        surv = [
            (i, v, cs)
            for i, v, cs in batch
            if not any(
                (cs & ccs) and _fold_cos(v, cv) >= t
                for cv, ccs in corpus.values()
            )
        ]
        # within-batch: union-find over shared-cell cosine edges
        parent = {i: i for i, _, _ in surv}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for ai in range(len(surv)):
            for bi in range(ai + 1, len(surv)):
                ia, va, ca = surv[ai]
                ib, vb, cb = surv[bi]
                if (ca & cb) and _fold_cos(va, vb) >= t:
                    ra, rb = find(ia), find(ib)
                    if ra != rb:
                        lo, hi = (ra, rb) if ra < rb else (rb, ra)
                        parent[hi] = lo
        keep = [(i, v, cs) for i, v, cs in surv if find(i) == i]
        for i, v, cs in keep:
            corpus[i] = (v, cs)
        accepted_per_epoch[k] = {i for i, _, _ in keep}
    return accepted_per_epoch


def test_stream_vector_ingest_matches_sequential_reference(spark, sf_dir, tmp_path):
    batches = _batches(spark, sf_dir)
    store = ArtifactStore(str(tmp_path / "s"))
    sink = StreamingVectorIngest(store, key=("t",), dup_cos=T_COS)

    sink.apply(_mk_df(spark, batches[0]), 0)
    v1 = sink.index_dir()
    assert v1 is not None
    ids, cq = read_codebook(spark, v1)  # the frozen bootstrap codebook

    for k in range(1, N_EPOCHS):
        sink.apply(_mk_df(spark, batches[k]), k)

    got = {r.vec_id for r in sink.accepted_ids(spark).collect()}
    ref = _ref_run(batches, ids, cq)
    want = set().union(*ref.values())
    assert got == want and got
    # the filter did real work at both stages (some batch had drops)
    n_in = sum(len(b) for b in batches.values())
    assert len(got) < n_in

    # payload survived into the index (filtered-probe ready)
    import os

    cols = spark.read.parquet(os.path.join(sink.index_dir(), "vectors")).columns
    assert "label" in cols


def test_stream_vector_ingest_replay_is_noop(spark, sf_dir, tmp_path):
    batches = _batches(spark, sf_dir)
    store = ArtifactStore(str(tmp_path / "s"))
    sink = StreamingVectorIngest(store, key=("t",), dup_cos=T_COS)
    sink.apply(_mk_df(spark, batches[0]), 0)
    sink.apply(_mk_df(spark, batches[1]), 1)
    v_after = sink.index_dir()
    acc = {r.vec_id for r in sink.accepted_ids(spark).collect()}

    # foreachBatch retry replays epoch 1: committed marker wins
    sink.apply(_mk_df(spark, batches[1]), 1)
    assert sink.index_dir() == v_after  # no new version
    assert {r.vec_id for r in sink.accepted_ids(spark).collect()} == acc


def test_stream_vector_ingest_compact_mid_stream(spark, sf_dir, tmp_path):
    """compact retrains the codebook but must carry the replay marker,
    so a post-compact retry of an old epoch stays a no-op and newer
    epochs keep flowing; the accepted set stays near-dup-free under
    the CURRENT codebook's detection relation."""
    batches = _batches(spark, sf_dir)
    store = ArtifactStore(str(tmp_path / "s"))
    sink = StreamingVectorIngest(store, key=("t",), dup_cos=T_COS)
    sink.apply(_mk_df(spark, batches[0]), 0)
    sink.apply(_mk_df(spark, batches[1]), 1)
    acc1 = {r.vec_id for r in sink.accepted_ids(spark).collect()}

    vc = compact_ivf_index(spark, store, sink.kind, sink.key)
    assert int(index_meta(vc)["last_epoch"]) == 1  # marker carried over
    assert {r.vec_id for r in sink.accepted_ids(spark).collect()} == acc1

    sink.apply(_mk_df(spark, batches[1]), 1)  # replay after compact
    assert sink.index_dir() == vc

    sink.apply(_mk_df(spark, batches[2]), 2)
    acc2 = {r.vec_id for r in sink.accepted_ids(spark).collect()}
    assert acc2 > acc1  # the stream kept flowing

    # invariant under the NEW (compacted) codebook, scoped to what that
    # codebook gated: epoch-2 acceptances are near-dup-free against the
    # whole standing set and each other. (Pairs accepted BEFORE the
    # compact were gated by the old codebook; retraining may make some
    # of them newly discoverable — that is the documented semantics of
    # an ANN filter under re-centering, not a bug.)
    ids, cq = read_codebook(spark, sink.index_dir())
    rows = (
        load_table(spark, "embeddings", sf_dir)
        .where(F.col("vec_id").isin([int(x) for x in acc2]))
        .select("vec_id", "embedding")
        .collect()
    )
    vecs = {r.vec_id: [float(x) for x in r.embedding] for r in rows}
    cells = {
        i: set(top_cells(_vq(v)[None, :], ids, cq, ASSIGN_A)[0].tolist())
        for i, v in vecs.items()
    }
    new2 = sorted(acc2 - acc1)
    others = sorted(vecs)
    for a in new2:
        for b in others:
            if a != b and (cells[a] & cells[b]):
                assert _fold_cos(vecs[a], vecs[b]) < T_COS, (a, b)


def test_stream_vector_real_stream_equals_replay(spark, sf_dir, tmp_path):
    """A REAL file-source stream (maxFilesPerTrigger=1, availableNow)
    through writeStream.foreachBatch produces exactly the registry
    replay's accepted set — the wiring the oracle cannot drive. Also
    exercises the micro-batch re-split: a file-source batch arrives as
    ~one partition (the text filter's measured single-file trap)."""
    import os
    import shutil

    from opencypher_datalayer_spark.benchqueries.similarity import (
        VSTREAM_COS,
        VSTREAM_NBATCH,
        st_stream_vector_ingest,
    )

    emb = load_table(spark, "embeddings", sf_dir)
    arrivals = str(tmp_path / "arrivals")
    os.makedirs(arrivals)
    for k in range(VSTREAM_NBATCH):
        tmp = str(tmp_path / f"b{k}")
        emb.where(F.col("vec_id") % VSTREAM_NBATCH == k).coalesce(1).write.parquet(tmp)
        part = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
        dst = os.path.join(arrivals, f"batch{k}.parquet")
        shutil.move(os.path.join(tmp, part), dst)
        shutil.rmtree(tmp)
        os.utime(dst, (1_700_000_000 + 600 * k, 1_700_000_000 + 600 * k))

    store = ArtifactStore(str(tmp_path / "store"))
    sink = StreamingVectorIngest(store, key=("rt",), dup_cos=VSTREAM_COS)
    q = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(arrivals)
        .writeStream.foreachBatch(sink.apply)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    streamed = {r.vec_id for r in sink.accepted_ids(spark).collect()}
    replayed = {r.vec_id for r in st_stream_vector_ingest(spark, sf_dir).collect()}
    assert streamed == replayed and streamed


def test_stream_vector_ingest_d256_at_family_threshold(spark, tmp_path):
    """The DOCUMENTED operating point (DUP_COS=0.55) exercised at a
    production-like dimension (VERDICT r9 next #6): at d=256 the noise
    floor sits at |cos| <~ 0.4, so 0.55 separates planted near-dup
    families (pairwise member cos >= ~0.67) from everything else. The
    sink must match the sequential reference exactly AND accept a sane
    fraction: every non-member plus one keeper per family."""
    from opencypher_datalayer_spark.streaming.vector_ingest import DUP_COS

    sys_path_dir = __import__("os").path.join(
        __import__("os").path.dirname(__import__("os").path.dirname(__import__("os").path.abspath(__file__))),
        "scripts",
    )
    import sys

    sys.path.insert(0, sys_path_dir)
    from gen_scale import gen_vectors

    d = str(tmp_path / "d256")
    gen_vectors(d, n=400, dim=256, seed=11, dup_frac=0.3, fam=4)
    emb = spark.read.parquet(d + "/embeddings.parquet")
    rows = [
        (r.vec_id, [float(x) for x in r.embedding], r.label)
        for r in emb.orderBy("vec_id").collect()
    ]
    batches = {
        k: [r for r in rows if r[0] % N_EPOCHS == k] for k in range(N_EPOCHS)
    }
    store = ArtifactStore(str(tmp_path / "s"))
    sink = StreamingVectorIngest(store, key=("d256",), dup_cos=DUP_COS)
    for k in range(N_EPOCHS):
        sink.apply(_mk_df(spark, batches[k]), k)
    got = {r.vec_id for r in sink.accepted_ids(spark).collect()}

    ids, cq = read_codebook(spark, sink.index_dir())
    # frozen codebook = the bootstrap epoch's; reference needs the SAME
    # one — reread from version 1 via the store's earliest version
    import os as _os

    from opencypher_datalayer_spark.storage import _LOG, _log_slots

    adir = _os.path.dirname(sink.index_dir())
    v1 = _log_slots(_os.path.join(adir, _LOG))[0]
    ids, cq = read_codebook(spark, store._version_dir(adir, v1))
    ref = _ref_run(batches, ids, cq, t=DUP_COS)
    want = set().union(*ref.values())
    assert got == want and got
    # sane acceptance at 0.55: dup gating dropped SOME members (unlike
    # d=32 where zero pairs qualify) but nowhere near everything
    # (unlike d=32 at 0.4 where the noise floor connects the corpus)
    n_in = len(rows)
    assert n_in * 0.6 < len(got) < n_in * 0.98


def test_kernel_and_fold_paths_identical(spark, tmp_path, monkeypatch):
    """The blocked-matmul kernel (d >= VEC_KERNEL_MIN_DIM) must accept
    EXACTLY the set the fold-join path accepts on the same corpus —
    the margin rescue makes the vectorized scoring bit-identical in
    decisions, not approximately equal."""
    import os as _os
    import sys as _sys

    import opencypher_datalayer_spark.streaming.vector_ingest as vi

    _sys.path.insert(
        0,
        _os.path.join(_os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))), "scripts"),
    )
    from gen_scale import gen_vectors

    d = str(tmp_path / "d128")
    gen_vectors(d, n=300, dim=128, seed=23, dup_frac=0.35, fam=3)
    emb = spark.read.parquet(d + "/embeddings.parquet")
    rows = [
        (r.vec_id, [float(x) for x in r.embedding], r.label)
        for r in emb.orderBy("vec_id").collect()
    ]
    batches = {k: [r for r in rows if r[0] % 3 == k] for k in range(3)}

    def run(min_dim, sub):
        monkeypatch.setattr(vi, "VEC_KERNEL_MIN_DIM", min_dim)
        store = ArtifactStore(str(tmp_path / sub))
        sink = StreamingVectorIngest(store, key=("ab",), dup_cos=vi.DUP_COS)
        for k in range(3):
            sink.apply(_mk_df(spark, batches[k]), k)
        return {r.vec_id for r in sink.accepted_ids(spark).collect()}

    via_kernel = run(64, "k")  # 128 >= 64 -> matmul kernel
    via_fold = run(10**9, "f")  # force the fold-join path
    assert via_kernel == via_fold and via_kernel
    assert len(via_kernel) < len(rows)  # the gate did real work
