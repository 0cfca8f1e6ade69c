"""Standing corpus artifacts for the dedup family (r9): warm probes
reuse the committed corpus frames across memo clears, results are
identical warm and cold, and a corpus change invalidates by key."""

import os

from opencypher_datalayer_spark.benchqueries import dedup
from opencypher_datalayer_spark.benchqueries.memo import clear_memo_caches
from opencypher_datalayer_spark.operators.artifacts import default_store


def test_incremental_artifact_survives_clear_and_matches(spark, sf_dir):
    store = default_store()
    store.drop(kind=dedup._INCR_ARTIFACT_KIND)
    clear_memo_caches()
    cold = [tuple(r) for r in dedup.dedup_incremental(spark, sf_dir).collect()]
    adir = store.current_dir(
        dedup._INCR_ARTIFACT_KIND,
        dedup._incr_artifact_key(sf_dir, dedup.DEFAULT_HASH_FAMILY),
    )
    assert adir is not None  # the run committed the standing corpus
    for sub in ("shingles", "freq", "sets", "slim"):
        assert os.path.isdir(os.path.join(adir, sub))

    clear_memo_caches()
    assert (
        dedup.build_incremental_artifacts(spark, sf_dir) == adir
    )  # warm: no rebuild
    warm = [tuple(r) for r in dedup.dedup_incremental(spark, sf_dir).collect()]
    assert warm == cold and cold  # same answers, non-degenerate


def test_minhash_sigs_artifact_round_trip(spark, sf_dir):
    """The signature table read back from the standing artifact is
    row-identical to a fresh computation (int64 mins + band strings
    round-trip exactly through parquet)."""
    from opencypher_datalayer_spark.operators import minhash as mh
    from opencypher_datalayer_spark.operators.scale import rebalance_for_inflation
    from opencypher_datalayer_spark.sources.tables import load_table

    store = default_store()
    store.drop(kind="minhash_sigs")
    clear_memo_caches()
    via_artifact = sorted(
        tuple(r)
        for r in dedup._minhash_sigs(spark, sf_dir, "md5").collect()
    )
    direct = sorted(
        tuple(r)
        for r in mh.signatures_for(
            rebalance_for_inflation(
                load_table(spark, "documents", sf_dir).select("doc_id", "text"),
                work_per_row=dedup.WORK_MINHASH,
            ),
            "md5",
        ).collect()
    )
    assert via_artifact == direct and direct


def test_extend_then_compact_matches_full_build(spark, sf_dir, tmp_path):
    """The standing-index lifecycle (commit -> extend -> compact ->
    sweep): building on half the corpus and EXTENDING with the other
    half must probe identically to one full build — ranking drift from
    the stale freq is a heuristic, never a result change — and compact
    re-derives the ranked layout without changing results either."""
    from pyspark.sql import functions as F

    from opencypher_datalayer_spark.benchqueries.dedup import _shingle_hashes
    from opencypher_datalayer_spark.operators.artifacts import ArtifactStore
    from opencypher_datalayer_spark.operators.ngram_corpus import (
        SHINGLES,
        compact_ngram_corpus,
        extend_ngram_corpus,
        read_ngram_corpus,
        write_ngram_corpus,
    )

    store = ArtifactStore(str(tmp_path / "store"))
    sh = _shingle_hashes(spark, sf_dir, "md5").localCheckpoint()
    half_a = sh.where(F.col("doc_id") % 2 == 0)
    half_b = sh.where(F.col("doc_id") % 2 == 1)
    kind, key = "ngram_corpus", ("t",)

    store.get_or_build(kind, key, lambda d: write_ngram_corpus(spark, half_a, d))
    v2 = extend_ngram_corpus(spark, store, kind, key, half_b)
    assert store.current_dir(kind, key) == v2

    def snapshot(adir):
        art = read_ngram_corpus(spark, adir)
        sets = sorted(
            (r.doc_id, tuple(sorted(r.hs)), r.n) for r in art["sets"].collect()
        )
        slim = sorted(
            (r.doc_id, tuple(sorted(r.lo32)), r.dq, r.n, r.nh)
            for r in art["slim"].collect()
        )
        shingles = sorted(tuple(r) for r in art[SHINGLES].collect())
        return sets, slim, shingles

    full = ArtifactStore(str(tmp_path / "full"))
    vf = full.get_or_build(kind, key, lambda d: write_ngram_corpus(spark, sh, d))
    # content equality modulo ranking order (hs compared as sets)
    assert snapshot(v2) == snapshot(vf)

    v3 = compact_ngram_corpus(spark, store, kind, key)
    assert snapshot(v3) == snapshot(vf)
    # compacted ranking == full-build ranking EXACTLY (fresh freq)
    exact = sorted((r.doc_id, tuple(r.hs)) for r in read_ngram_corpus(spark, v3)["sets"].collect())
    exact_f = sorted((r.doc_id, tuple(r.hs)) for r in read_ngram_corpus(spark, vf)["sets"].collect())
    assert exact == exact_f

    removed = store.sweep(keep_versions=1)
    import os

    assert not os.path.isdir(v2) and os.path.isdir(v3)
    assert v2 in removed


def test_commit_extension_requires_base(tmp_path):
    import pytest

    from opencypher_datalayer_spark.operators.artifacts import ArtifactStore

    store = ArtifactStore(str(tmp_path))
    with pytest.raises(FileNotFoundError):
        store.commit_extension("x", ("k",), lambda d: None)


def test_artifact_key_includes_corpus_fingerprint(tmp_path, spark):
    """Two different corpora under different paths never share an
    artifact (the key embeds the documents-parquet file fingerprint)."""
    import pandas as pd

    for sub, texts in (("a", ["alpha beta"] * 3), ("b", ["gamma delta"] * 3)):
        d = tmp_path / sub
        d.mkdir()
        pd.DataFrame(
            {"doc_id": range(3), "text": texts, "lang": "en", "source": "t",
             "n_chars": [len(t) for t in texts]}
        ).to_parquet(str(d / "documents.parquet"))
    ka = dedup._incr_artifact_key(str(tmp_path / "a"), "md5")
    kb = dedup._incr_artifact_key(str(tmp_path / "b"), "md5")
    assert ka != kb
    store = default_store()
    da = store._adir(dedup._INCR_ARTIFACT_KIND, ka)
    db = store._adir(dedup._INCR_ARTIFACT_KIND, kb)
    assert da != db


def test_extend_ivf_index_matches_full_build_same_codebook(spark, sf_dir, tmp_path):
    """FAISS add() semantics, pinned exactly: extending the standing
    index with new vectors (standing codebook assigns, delta appended
    into hard-linked partitions) probes bit-identically to an index
    built fresh over the full corpus WITH THE SAME CODEBOOK — and the
    prior version's meta.json survives the extension untouched (the
    hard-link rewrite trap)."""
    import json

    from pyspark.sql import functions as F

    from opencypher_datalayer_spark.benchqueries.similarity import _norm, _vec
    from opencypher_datalayer_spark.operators.artifacts import ArtifactStore
    from opencypher_datalayer_spark.operators.vector_index import (
        build_ivf_index,
        compact_ivf_index,
        extend_ivf_index,
        ivf_pruned_topk,
        read_codebook,
        read_scales,
    )
    from opencypher_datalayer_spark.sources.tables import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    base = emb.where(F.col("vec_id") % 2 == 0)
    delta = emb.where(F.col("vec_id") % 2 == 1)
    n_base = base.count()
    store = ArtifactStore(str(tmp_path / "store"))
    kind, key = "ivf", ("t",)

    def build_base(d):
        build_ivf_index(spark, base, d)
        with open(os.path.join(d, "meta.json"), "w") as f:
            json.dump({"n_corpus": int(n_base)}, f)

    v1 = store.get_or_build(kind, key, build_base)
    v2 = extend_ivf_index(spark, store, kind, key, delta)
    assert store.current_dir(kind, key) == v2

    queries = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), _vec().alias("qv"), _norm(_vec()).alias("qn")
    )

    def probe(idx_dir):
        return [
            tuple(r)
            for r in ivf_pruned_topk(spark, idx_dir, queries, topk=5, nprobe=7).collect()
        ]

    got = probe(v2)
    # full rebuild with the SAME frozen quantizer — codebook AND SQ8
    # scales trained on the base half (extension == rebuild holds
    # exactly when both halves are frozen; a rebuild that retrained
    # scales over the grown corpus could code delta vectors differently)
    full = ArtifactStore(str(tmp_path / "full"))
    cbk = (n_base, *read_codebook(spark, v1))
    vfull = full.get_or_build(
        kind,
        key,
        lambda d: build_ivf_index(
            spark, emb, d, codebook=cbk, scales=read_scales(spark, v1)
        ),
    )
    assert got == probe(vfull) and got

    # meta bookkeeping: v2 counts the delta; v1's linked file untouched
    with open(os.path.join(v2, "meta.json")) as f:
        assert json.load(f)["n_corpus"] == emb.count()
    with open(os.path.join(v1, "meta.json")) as f:
        assert json.load(f)["n_corpus"] == n_base

    # compact retrains on the grown corpus: probe == a fresh full build
    v3 = compact_ivf_index(spark, store, kind, key)
    fresh = ArtifactStore(str(tmp_path / "fresh"))
    vfr = fresh.get_or_build(kind, key, lambda d: build_ivf_index(spark, emb, d))
    assert probe(v3) == probe(vfr)
    with open(os.path.join(v3, "meta.json")) as f:
        assert json.load(f)["n_corpus"] == emb.count()


def test_extend_minhash_sigs_exact(spark, sf_dir, tmp_path):
    """Signatures are a pure per-doc function: base + extension is
    byte-identical to one full build over the grown corpus — the
    standing table never needs recomputation."""
    from pyspark.sql import functions as F

    from opencypher_datalayer_spark.operators.artifacts import ArtifactStore
    from opencypher_datalayer_spark.operators.minhash import signatures_for
    from opencypher_datalayer_spark.operators.minhash_corpus import (
        extend_minhash_sigs,
        read_minhash_sigs,
        write_minhash_sigs,
    )
    from opencypher_datalayer_spark.sources.tables import load_table

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    base = docs.where(F.col("doc_id") % 2 == 0)
    delta = docs.where(F.col("doc_id") % 2 == 1)
    store = ArtifactStore(str(tmp_path / "store"))
    kind, key = "minhash_sigs", ("t",)
    store.get_or_build(kind, key, lambda d: write_minhash_sigs(base, d, "md5"))
    v2 = extend_minhash_sigs(spark, store, kind, key, delta, "md5")
    got = sorted(tuple(r) for r in read_minhash_sigs(spark, v2).collect())
    want = sorted(tuple(r) for r in signatures_for(docs, "md5").collect())
    assert got == want and got


def test_extend_simhash_fps_exact(spark, sf_dir, tmp_path):
    """Fingerprints are a pure per-doc function: base + extension is
    content-identical to one full build over the grown corpus — the
    standing table never needs recomputation (SimHash twin of the
    MinHash pin above, VERDICT r9 next #3)."""
    from pyspark.sql import functions as F

    from opencypher_datalayer_spark.operators.artifacts import ArtifactStore
    from opencypher_datalayer_spark.operators.simhash import fingerprints_for
    from opencypher_datalayer_spark.operators.simhash_corpus import (
        extend_simhash_fps,
        read_simhash_fps,
        write_simhash_fps,
    )
    from opencypher_datalayer_spark.sources.tables import load_table

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    base = docs.where(F.col("doc_id") % 2 == 0)
    delta = docs.where(F.col("doc_id") % 2 == 1)
    store = ArtifactStore(str(tmp_path / "store"))
    kind, key = "simhash_fps", ("t",)
    store.get_or_build(kind, key, lambda d: write_simhash_fps(base, d, "md5"))
    v2 = extend_simhash_fps(spark, store, kind, key, delta, "md5")
    got = sorted(tuple(r) for r in read_simhash_fps(spark, v2).collect())
    want = sorted(tuple(r) for r in fingerprints_for(docs, "md5").collect())
    assert got == want and got


def test_extend_winnow_fps_exact(spark, sf_dir, tmp_path):
    """Winnowed fingerprints are a pure per-doc function: base +
    extension is content-identical to one full build over the grown
    corpus (substring-family twin of the MinHash/SimHash pins)."""
    from pyspark.sql import functions as F

    from opencypher_datalayer_spark.operators.artifacts import ArtifactStore
    from opencypher_datalayer_spark.operators.winnow_corpus import (
        extend_winnow_fps,
        read_winnow_fps,
        write_winnow_fps,
    )
    from opencypher_datalayer_spark.operators.winnowing import winnow_fingerprints
    from opencypher_datalayer_spark.sources.tables import load_table

    L = dedup.SUBSTR_L
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text").where(
        F.length("text") >= L
    )
    base = docs.where(F.col("doc_id") % 2 == 0)
    delta = docs.where(F.col("doc_id") % 2 == 1)
    store = ArtifactStore(str(tmp_path / "store"))
    kind, key = "winnow_fps", ("t",)
    store.get_or_build(kind, key, lambda d: write_winnow_fps(base, d, L))
    v2 = extend_winnow_fps(spark, store, kind, key, delta, L)
    got = sorted(tuple(r) for r in read_winnow_fps(spark, v2).collect())
    want = sorted(tuple(r) for r in winnow_fingerprints(docs, L).collect())
    assert got == want and got


def test_simhash_artifact_survives_clear_and_matches(spark, sf_dir):
    """dedup_simhash_pairs warm (artifact scan) == cold (fresh build),
    and the memo clear does not force a rebuild."""
    store = default_store()
    store.drop(kind="simhash_fps")
    clear_memo_caches()
    cold = [tuple(r) for r in dedup.dedup_simhash_pairs(spark, sf_dir).collect()]
    adir = store.current_dir(
        "simhash_fps", dedup._simhash_artifact_key(sf_dir, dedup.DEFAULT_HASH_FAMILY)
    )
    assert adir is not None
    clear_memo_caches()
    warm = [tuple(r) for r in dedup.dedup_simhash_pairs(spark, sf_dir).collect()]
    assert warm == cold and cold


def test_ingest_loop_probe_accept_extend(spark, sf_dir, tmp_path):
    """The full standing-pipeline lifecycle a daily ingest runs:
    probe batch 1 -> accept its non-dups -> EXTEND the corpus with the
    accepted docs -> probe batch 2 against the extended corpus. Batch
    2's answer must equal a naive full recompute over
    (corpus + accepted) — i.e. extension is semantically invisible."""
    from pyspark.sql import functions as F

    from opencypher_datalayer_spark.operators.artifacts import ArtifactStore
    from opencypher_datalayer_spark.operators.ngram_corpus import (
        extend_ngram_corpus,
        probe_near_dups,
        write_ngram_corpus,
    )

    t = 0.8
    sh = dedup._shingle_hashes(spark, sf_dir, "md5").localCheckpoint()
    corpus = sh.where(F.col("doc_id") % 5 <= 2)
    b1 = sh.where(F.col("doc_id") % 5 == 3)
    b2 = sh.where(F.col("doc_id") % 5 == 4)
    store = ArtifactStore(str(tmp_path / "store"))
    kind, key = "ngram_corpus", ("t",)
    v1 = store.get_or_build(kind, key, lambda d: write_ngram_corpus(spark, corpus, d))

    dup_ids = [r.new_doc for r in probe_near_dups(spark, v1, b1, t).collect()]
    accepted = b1.where(~F.col("doc_id").isin(dup_ids)) if dup_ids else b1
    v2 = extend_ngram_corpus(spark, store, kind, key, accepted)

    got = sorted(tuple(r) for r in probe_near_dups(spark, v2, b2, t).collect())

    # naive recompute over the grown corpus: shared-shingle join
    standing = corpus.unionByName(accepted)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    inter = (
        b2.alias("a")
        .join(standing.alias("b"), "h")
        .groupBy(
            F.col("a.doc_id").alias("new_doc"), F.col("b.doc_id").alias("dup_of")
        )
        .agg(F.count("*").alias("i"))
    )
    naive = (
        inter.join(sizes.select(F.col("doc_id").alias("new_doc"), F.col("n").alias("na")), "new_doc")
        .join(sizes.select(F.col("doc_id").alias("dup_of"), F.col("n").alias("nb")), "dup_of")
        .withColumn("jaccard", F.round(F.col("i") / (F.col("na") + F.col("nb") - F.col("i")), 6))
        .where(F.col("jaccard") >= t)
        .select("new_doc", "dup_of", "jaccard")
    )
    want = sorted(tuple(r) for r in naive.collect())
    assert got == want


def test_ngram_needs_compact_tracks_stale_fraction(spark, sf_dir, tmp_path):
    """The ngram drift advisory: build -> 0.0 stale, extension raises
    the fraction (never re-ranked), compact resets it; the boundary is
    COMPACT_STALE_FRACTION (SCALE.md §ngram-drift: a distribution-shift
    guard — measured inflation on stationary corpora is ~1.6% at 0.44)."""
    from pyspark.sql import functions as F

    from opencypher_datalayer_spark.operators.artifacts import ArtifactStore
    from opencypher_datalayer_spark.operators.ngram_corpus import (
        COMPACT_STALE_FRACTION,
        compact_ngram_corpus,
        extend_ngram_corpus,
        needs_compact,
        write_ngram_corpus,
    )

    sh = dedup._shingle_hashes(spark, sf_dir, "md5").localCheckpoint()
    base = sh.where(F.col("doc_id") % 4 != 1).where(F.col("doc_id") % 4 != 3)
    store = ArtifactStore(str(tmp_path / "store"))
    kind, key = "ngram_corpus", ("t",)
    v1 = store.get_or_build(kind, key, lambda d: write_ngram_corpus(spark, base, d))
    s1 = needs_compact(v1)
    assert s1["stale_fraction"] == 0.0 and not s1["compact_due"]

    # base = half the docs; +quarter -> stale 1/3 (below), +quarter
    # more -> stale 1/2 (the inclusive boundary)
    v2 = extend_ngram_corpus(spark, store, kind, key, sh.where(F.col("doc_id") % 4 == 1))
    s2 = needs_compact(v2)
    assert 0.0 < s2["stale_fraction"] < COMPACT_STALE_FRACTION
    assert not s2["compact_due"]

    v3 = extend_ngram_corpus(spark, store, kind, key, sh.where(F.col("doc_id") % 4 == 3))
    s3 = needs_compact(v3)
    assert s3["stale_fraction"] >= COMPACT_STALE_FRACTION and s3["compact_due"]

    v4 = compact_ngram_corpus(spark, store, kind, key)
    s4 = needs_compact(v4)
    assert s4["stale_fraction"] == 0.0 and not s4["compact_due"]
    assert s4["n_docs"] == s3["n_docs"]  # same corpus, fresh ranking
