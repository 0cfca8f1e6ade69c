"""Pruned MERGE commits: a small batch must rewrite only the data files
whose gid/src/dst range it touches; every other file is carried into the
new snapshot as a hard link — and the result is bit-identical to the
full ``apply_batch`` + full-rewrite path.

This is the write-side payoff of the file-skipping manifest (C6, the
analog of the reference's gid index ``neo4j.go:21``): at 100 TB a sync
micro-batch touches a handful of files, not the table.
"""

import glob
import os

from opencypher_datalayer_spark.model import ENTITY_SCHEMA, normalize_entity
import pytest

from opencypher_datalayer_spark.storage import ParquetGraphStorage, open_storage
from opencypher_datalayer_spark.store import GraphStore

NS = "urn:m"


@pytest.fixture(params=["parquet", "txnlog"])
def backend(request):
    """Both storage backends run the same pruned-MERGE suite: the
    single-host lock backend and the multi-host transaction-log one."""
    return request.param


def _batch(spark, entities):
    rows = []
    for i, e in enumerate(entities):
        r = normalize_entity(e)
        r["_seq"] = i
        rows.append(r)
    return spark.createDataFrame(rows, ENTITY_SCHEMA)


def _seed(spark, root, n=40, buckets=4, backend="parquet"):
    """A clustered baseline snapshot: n nodes + a chain of edges, range-
    partitioned into ``buckets`` files per table so ranges are narrow."""
    ents = [
        {
            "id": f"{NS}/n{i:04d}",
            "props": {f"{NS}/name": f"p{i}"},
            "refs": {f"{NS}/next": [f"{NS}/n{(i + 1) % n:04d}"]},
        }
        for i in range(n)
    ]
    storage = open_storage(root, backend)
    store = GraphStore.empty(spark).apply_batch(_batch(spark, ents), "P", "s")
    storage.commit(store, cluster_buckets=buckets)
    return storage


def _files(storage, v):
    vdir = storage._version_dir(v)
    return {
        os.path.relpath(p, vdir): os.stat(p).st_ino
        for p in glob.glob(os.path.join(vdir, "**", "*.parquet"), recursive=True)
    }


def _rows(store):
    """Full node rows (label SET included) and the edge set."""
    return (
        {(r["gid"], r["label"], tuple(r["labels"]), r["source"],
          tuple(sorted(r["props"].items())))
         for r in store.nodes.collect()},
        {(r["src"], r["rel_type"], r["dst"], r["source"]) for r in store.edges.collect()},
    )


def _snapshot(spark, storage, v):
    return _rows(storage.load_version(spark, v))


def test_small_batch_rewrites_strict_subset(spark, tmp_path, backend):
    storage = _seed(spark, str(tmp_path / "s"), backend=backend)
    v1_files = _files(storage, 1)

    batch = _batch(
        spark,
        [{"id": f"{NS}/n0003", "props": {f"{NS}/name": "renamed"}, "refs": {}}],
    )
    expected = _snapshot_of(spark, storage, batch)

    v2 = storage.merge_commit(spark, batch, "P", "s")
    assert v2 == 2
    v2_files = _files(storage, 2)

    v1_inodes = set(v1_files.values())
    linked = {p for p, ino in v2_files.items() if ino in v1_inodes}
    rewritten = set(v2_files) - linked
    # strict subset: most files carried forward untouched, few rewritten
    assert linked, "no files were carried forward as links"
    assert len(rewritten) < len(v1_files), (len(rewritten), len(v1_files))
    # one touched gid in a 4-bucket clustered table -> at most 1 node file
    # range admits it; its outgoing-edge clear touches few edge files
    node_rewritten = {p for p in rewritten if p.startswith("nodes")}
    assert len(node_rewritten) <= 2, node_rewritten

    assert _snapshot(spark, storage, 2) == expected


def test_tombstone_detach_prunes_by_dst(spark, tmp_path, backend):
    """A tombstone must remove edges pointing AT the gid even when their
    src lives in a file whose src range does not admit the batch id —
    that is what the manifest's dst stats are for."""
    storage = _seed(spark, str(tmp_path / "s"), backend=backend)
    batch = _batch(spark, [{"id": f"{NS}/n0039", "deleted": True}])
    expected = _snapshot_of(spark, storage, batch)

    storage.merge_commit(spark, batch, "P", "s")
    nodes, edges = _snapshot(spark, storage, 2)
    assert (nodes, edges) == expected
    gone = f"{NS}/n0039"
    assert all(g != gone for g, *_ in nodes)
    assert all(s != gone and d != gone for s, _, d, _ in edges)


def test_merge_chain_matches_full_path(spark, tmp_path, backend):
    """Several merges in a row (upsert, stub upgrade, tombstone, re-add)
    stay equivalent to the full apply_batch path."""
    storage = _seed(spark, str(tmp_path / "s"), n=12, buckets=3, backend=backend)
    batches = [
        [{"id": f"{NS}/extra", "props": {f"{NS}/name": "x"},
          "refs": {f"{NS}/next": [f"{NS}/n0005"]}}],
        [{"id": f"{NS}/n0005", "deleted": True}],
        [{"id": f"{NS}/n0005", "props": {f"{NS}/name": "back"}, "refs": {}}],
    ]
    shadow = storage.load(spark)
    for b in batches:
        bdf = _batch(spark, b)
        shadow = shadow.apply_batch(bdf, "P", "s").checkpointed()
        storage.merge_commit(spark, bdf, "P", "s")
    assert _snapshot(spark, storage, storage.current_version()) == _rows(shadow)


def _snapshot_of(spark, storage, batch):
    """What the FULL path would produce from the current snapshot."""
    return _rows(storage.load(spark).apply_batch(batch, "P", "s"))


def test_compact_shrinks_files_preserves_data(spark, tmp_path, backend):
    """Repeated merge commits accumulate small appended files; compact
    rewrites the snapshot range-clustered with fewer files and exactly
    the same rows."""
    storage = _seed(spark, str(tmp_path / "st"), n=40, buckets=4, backend=backend)
    for k in range(3):  # 3 appends already out-fragment the 4-bucket rewrite
        batch = _batch(
            spark,
            [
                {
                    "id": f"{NS}/n{(7 * k + j) % 40:04d}",
                    "props": {f"{NS}/name": f"upd{k}_{j}"},
                    "refs": {},
                }
                for j in range(3)
            ],
        )
        storage.merge_commit(spark, batch, "P", "s")
    before_files = storage.file_count("nodes")
    before = sorted(
        (r["gid"], r["props"]["name"]) for r in storage.load(spark).nodes.collect()
    )

    v = storage.compact(spark, cluster_buckets=4)
    after_files = storage.file_count("nodes")
    after = sorted(
        (r["gid"], r["props"]["name"]) for r in storage.load(spark).nodes.collect()
    )
    assert v == storage.current_version()
    assert after == before
    assert after_files < before_files
    # compaction re-tightens pruning: a point lookup hits few files again
    hit, total = storage.pruned_files("nodes", [f"{NS}/n0005"])
    assert hit is not None and len(hit) < total


def test_concurrent_merge_commits_both_survive(spark, tmp_path, backend):
    """Two writers committing simultaneously must serialize on the
    O_EXCL commit lock: both batches land, versions advance linearly,
    and neither snapshot is clobbered (the reference gets this from
    Neo4j transactions, neo4j.go:238-284)."""
    import threading

    storage = _seed(spark, str(tmp_path / "c"), backend=backend)
    base = storage.current_version()
    errs = []

    def writer(tag: str):
        try:
            b = _batch(
                spark,
                [{"id": f"{NS}/{tag}", "props": {f"{NS}/name": tag}, "refs": {}}],
            )
            storage.merge_commit(spark, b, "P", "s")
        except Exception as exc:  # pragma: no cover - surfaced below
            errs.append((tag, exc))

    threads = [threading.Thread(target=writer, args=(t,)) for t in ("wa", "wb")]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs, errs
    assert storage.current_version() == base + 2  # linear, no lost update
    nodes, _ = _snapshot(spark, storage, storage.current_version())
    gids = {g for g, *_ in nodes}
    assert f"{NS}/wa" in gids and f"{NS}/wb" in gids
    # the lock is released afterwards: a third commit proceeds immediately
    b = _batch(spark, [{"id": f"{NS}/wc", "props": {}, "refs": {}}])
    assert storage.merge_commit(spark, b, "P", "s") == base + 3


def test_stale_commit_lock_is_broken(spark, tmp_path):
    """A lock left by a dead writer must not wedge the table forever."""
    import json as _json
    import os as _os
    import time as _time

    storage = _seed(spark, str(tmp_path / "sl"))
    lock = _os.path.join(storage.root, "COMMIT.lock")
    with open(lock, "w") as f:
        _json.dump({"pid": 999999, "ts": _time.time() - 10_000}, f)
    b = _batch(spark, [{"id": f"{NS}/fresh", "props": {}, "refs": {}}])
    v = storage.merge_commit(spark, b, "P", "s")  # breaks the stale claim
    assert v == storage.current_version()
    assert not _os.path.exists(lock)


def test_txnlog_publish_race_cas(spark, tmp_path):
    """The txnlog put-if-absent: exactly one writer wins a version slot;
    the loser's publish returns False and its retry lands on the next
    slot. (Direct protocol-level check complementing the threaded
    concurrent test above.)"""
    from opencypher_datalayer_spark.storage import TxnLogGraphStorage

    st = TxnLogGraphStorage(str(tmp_path / "t"))
    assert st._publish(1, "d-a") is True
    assert st._publish(1, "d-b") is False  # slot taken
    assert st.current_version() == 1
    assert st._publish(2, "d-b") is True
    assert st.current_version() == 2


def test_txnlog_restart_and_vacuum(spark, tmp_path):
    """A second storage handle on the same root sees the committed
    snapshot (restart path); vacuum drops old data dirs but keeps the
    log monotonic."""
    import os as _os

    from opencypher_datalayer_spark.storage import TxnLogGraphStorage

    root = str(tmp_path / "t")
    storage = _seed(spark, root, n=12, buckets=3, backend="txnlog")
    b = _batch(spark, [{"id": f"{NS}/xx", "props": {f"{NS}/name": "x"}, "refs": {}}])
    storage.merge_commit(spark, b, "P", "s")
    fresh = TxnLogGraphStorage(root)
    assert fresh.current_version() == 2
    nodes, _ = _snapshot(spark, fresh, 2)
    assert any(g == f"{NS}/xx" for g, *_ in nodes)
    fresh.vacuum(keep=1)
    assert fresh.current_version() == 2
    with pytest.raises(ValueError):
        fresh.load_version(spark, 1)
    # CURRENT pointer never exists in this backend
    assert not _os.path.exists(_os.path.join(root, "CURRENT"))


def test_txnlog_lost_link_reply_still_wins(spark, tmp_path, monkeypatch):
    """NFS lost-reply semantics: the link(2) RPC succeeds server-side
    but the (retried) reply reports an error. The publish protocol must
    detect the win via st_nlink == 2 instead of believing the
    exception — otherwise the writer retries the next slot and the same
    snapshot publishes twice."""
    import os as _os

    from opencypher_datalayer_spark.storage import TxnLogGraphStorage

    st = TxnLogGraphStorage(str(tmp_path / "t"))
    real_link = _os.link

    def lossy_link(src, dst, **kw):
        real_link(src, dst, **kw)  # the operation lands...
        raise OSError("simulated lost RPC reply")  # ...the reply doesn't

    monkeypatch.setattr(_os, "link", lossy_link)
    assert st._publish(1, "d-a") is True  # win detected via nlink probe
    monkeypatch.undo()
    assert st.current_version() == 1
    with open(st._log_path(1)) as f:
        import json as _json

        assert _json.load(f)["dir"] == "d-a"


def test_txnlog_gc_racing_stalled_writer_never_dangles(spark, tmp_path, monkeypatch):
    """ADVICE r6 #3: a writer stalled past min_age_s between its data
    write and _publish can have its dir collected by a concurrent
    gc_orphans — yet its publish still wins the slot. The commit path
    must self-heal (rebuild + rewrite its own entry) so CURRENT never
    points at a nonexistent directory."""
    import os as _os
    import shutil as _shutil

    from opencypher_datalayer_spark.storage import TxnLogGraphStorage

    root = str(tmp_path / "t")
    storage = _seed(spark, root, n=10, buckets=2, backend="txnlog")
    assert storage.current_version() == 1

    # simulate the worst-case interleaving: GC fires between the utime
    # guard and the log-entry link (min_age 0 == arbitrarily long stall)
    real_publish = storage._publish

    def gc_then_publish(v, dirname):
        TxnLogGraphStorage(root).gc_orphans(min_age_s=0.0)
        assert not _os.path.isdir(_os.path.join(root, dirname))
        return real_publish(v, dirname)

    monkeypatch.setattr(storage, "_publish", gc_then_publish)
    b = _batch(spark, [{"id": f"{NS}/healed", "props": {}, "refs": {}}])
    assert storage.merge_commit(spark, b, "P", "s") == 2
    monkeypatch.undo()

    # the published version is fully readable from a fresh handle
    fresh = TxnLogGraphStorage(root)
    assert fresh.current_version() == 2
    vdir = fresh._version_dir(2)
    assert _os.path.isdir(vdir)
    nodes = {r.gid for r in fresh.load(spark).nodes.collect()}
    assert f"{NS}/healed" in nodes and f"{NS}/n0000" in nodes

    # same self-heal on the snapshot commit path
    monkeypatch.setattr(fresh, "_publish", lambda v, d, _r=fresh._publish: (
        _shutil.rmtree(_os.path.join(root, d), ignore_errors=True),
        _r(v, d),
    )[1])
    store = fresh.load(spark)
    assert fresh.commit(store) == 3
    fresh2 = TxnLogGraphStorage(root)
    assert _os.path.isdir(fresh2._version_dir(3))
    assert {r.gid for r in fresh2.load(spark).nodes.collect()} == nodes

    # the pre-publish utime guard: a missing dir reports False
    assert fresh._touch_publish_dir("d-definitely-missing") is False


def test_txnlog_crash_between_write_and_publish(spark, tmp_path, monkeypatch):
    """A writer killed AFTER the data write but BEFORE _publish leaves
    an orphaned d-<uuid> dir and no log entry: readers (same handle and
    a fresh one) still see the previous version's exact snapshot, a
    later writer commits normally, and gc_orphans reclaims the orphan
    without touching published data."""
    import os as _os

    from opencypher_datalayer_spark.storage import TxnLogGraphStorage

    root = str(tmp_path / "t")
    storage = _seed(spark, root, n=12, buckets=3, backend="txnlog")
    before_nodes, before_edges = _snapshot(spark, storage, 1)

    # crash the commit right before its publish step
    monkeypatch.setattr(
        storage, "_publish", lambda v, d: (_ for _ in ()).throw(KeyboardInterrupt)
    )
    b = _batch(spark, [{"id": f"{NS}/crash", "props": {}, "refs": {}}])
    with pytest.raises(KeyboardInterrupt):
        storage.merge_commit(spark, b, "P", "s")
    monkeypatch.undo()

    orphans = [d for d in _os.listdir(root) if d.startswith("d-")]
    assert len(orphans) == 2  # v1's dir + the unpublished one

    # reader consistency: both the surviving handle and a fresh one
    # still serve version 1, bit-identical to before the crash
    assert storage.current_version() == 1
    fresh = TxnLogGraphStorage(root)
    assert fresh.current_version() == 1
    assert _snapshot(spark, fresh, 1) == (before_nodes, before_edges)

    # the next writer proceeds as if nothing happened
    b2 = _batch(spark, [{"id": f"{NS}/after", "props": {}, "refs": {}}])
    assert fresh.merge_commit(spark, b2, "P", "s") == 2
    nodes2, _ = _snapshot(spark, fresh, 2)
    assert any(g == f"{NS}/after" for g, *_ in nodes2)
    assert not any(g == f"{NS}/crash" for g, *_ in nodes2)

    # GC: the age guard protects a possibly-live writer's dir...
    assert fresh.gc_orphans(min_age_s=3600) == []
    # ...and with the guard elapsed the orphan (only it) is removed
    removed = fresh.gc_orphans(min_age_s=0)
    assert len(removed) == 1
    assert removed[0] not in (_os.path.basename(fresh._version_dir(v)) for v in (1, 2))
    assert fresh.current_version() == 2
    assert _snapshot(spark, fresh, 2)[0] == nodes2


def test_parquet_crash_before_current_swap_does_not_wedge(spark, tmp_path, monkeypatch):
    """A writer that dies after writing v{N+1}/ but before the CURRENT
    swap leaves that directory behind, unpublished. The next merge must
    rebuild v{N+1} from scratch: it succeeds, the crashed batch is not in
    it, and no gid appears twice (carry-forward links must not collide
    with the leftover files)."""
    import os as _os

    root = str(tmp_path / "p")
    storage = _seed(spark, root, n=12, buckets=3)
    real_replace = _os.replace

    def crash_at_swap(src, dst, *a, **kw):
        if _os.path.basename(dst) == "CURRENT":
            raise KeyboardInterrupt
        return real_replace(src, dst, *a, **kw)

    monkeypatch.setattr(_os, "replace", crash_at_swap)
    b = _batch(spark, [{"id": f"{NS}/crash", "props": {}, "refs": {}}])
    with pytest.raises(KeyboardInterrupt):
        storage.merge_commit(spark, b, "P", "s")
    monkeypatch.undo()
    assert storage.current_version() == 1
    assert _os.path.isdir(storage._version_dir(2))  # the unpublished leftover

    b2 = _batch(spark, [{"id": f"{NS}/n0003", "props": {f"{NS}/name": "after"}, "refs": {}}])
    assert storage.merge_commit(spark, b2, "P", "s") == 2
    gids = [r.gid for r in storage.load(spark).nodes.collect()]
    assert f"{NS}/crash" not in gids
    assert len(gids) == len(set(gids)) == 12


@pytest.mark.parametrize("rewrite", ["compact", "wipe", "cypher_write"])
def test_compact_keeps_batch_merged_during_compaction(
    spark, tmp_path, backend, monkeypatch, rewrite
):
    """A merge that lands between a rewrite's read of the base version
    and its publish must survive the rewrite. Compaction, the full-sync
    wipe (of a dataset the merge is not in) and a Cypher write are all
    derived from their base, so each is ordered after the merge or
    rebuilt on it."""
    import os as _os
    import threading

    from opencypher_datalayer_spark.plans import run_cypher_write

    rewrites = {
        "compact": lambda: storage.compact(spark, cluster_buckets=3),
        "wipe": lambda: storage.rewrite(spark, lambda s: s.delete_all("P", "wiped")),
        "cypher_write": lambda: storage.rewrite(
            spark,
            lambda s: run_cypher_write(
                s,
                "UNWIND $items AS item MERGE (n {gid: item.gid}) SET n:City",
                {"items": [{"gid": f"{NS}/city"}]},
            ),
        ),
    }
    root = str(tmp_path / "cm")
    storage = _seed(spark, root, n=12, buckets=3, backend=backend)
    other = open_storage(root, backend)  # a second writer on the same root
    lock = _os.path.join(root, "COMMIT.lock")
    settled = threading.Event()  # the merge landed, or waits behind compaction
    errs = []

    real_acquire = other._acquire_commit_lock

    def acquire(*a, **kw):
        if _os.path.exists(lock):  # compaction holds the lock: merge queues
            settled.set()
        return real_acquire(*a, **kw)

    monkeypatch.setattr(other, "_acquire_commit_lock", acquire)

    def merge():
        try:
            b = _batch(spark, [{"id": f"{NS}/raced", "props": {}, "refs": {}}])
            other.merge_commit(spark, b, "P", "s")
        except Exception as exc:  # pragma: no cover - surfaced below
            errs.append(exc)
        settled.set()

    writer = threading.Thread(target=merge)
    real_load = storage.load_version

    def load_then_race(spark_, v):
        loaded = real_load(spark_, v)
        if not writer.is_alive() and not settled.is_set():
            writer.start()
            assert settled.wait(timeout=300)
        return loaded

    monkeypatch.setattr(storage, "load_version", load_then_race)
    rewrites[rewrite]()
    writer.join(timeout=300)
    monkeypatch.undo()
    assert not writer.is_alive()
    assert not errs, errs
    assert storage.current_version() == 3
    gids = {r.gid for r in storage.load(spark).nodes.collect()}
    assert f"{NS}/raced" in gids
    assert {f"{NS}/n{i:04d}" for i in range(12)} <= gids
    assert (f"{NS}/city" in gids) == (rewrite == "cypher_write")


def test_merge_commit_job_count_is_pinned(spark, tmp_path):
    """One small merge runs a fixed handful of Spark jobs: the batch
    collect, one lookup of the hit node files and one write per table,
    each write broadcasting driver-built key frames. The count is
    deterministic, so a per-merge fixed cost creeping back (store-derived
    broadcasts, a re-run batch lineage) fails here, not only in a
    benchmark. The merge that ran ``apply_batch`` on the subset took 18
    jobs on this batch."""
    storage = _seed(spark, str(tmp_path / "j"))
    batch = _batch(
        spark,
        [
            {"id": f"{NS}/n0003", "props": {f"{NS}/name": "x"},
             "refs": {f"{NS}/next": [f"{NS}/n0007", f"{NS}/new"]}},
            {"id": f"{NS}/n0009", "deleted": True},
            {"id": f"{NS}/fresh", "props": {}, "refs": {f"{NS}/next": f"{NS}/n0009"}},
        ],
    )
    expected = _snapshot_of(spark, storage, batch)
    sc = spark.sparkContext
    group = f"merge-job-count-{tmp_path.name}"
    sc.setJobGroup(group, "merge_commit job count")
    try:
        storage.merge_commit(spark, batch, "P", "s")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs <= 10, jobs
    assert _snapshot(spark, storage, 2) == expected


def test_first_batch_into_a_fresh_root_takes_the_key_set_merge(spark, tmp_path, backend, monkeypatch):
    """Version 0 has an (empty) manifest, so the first batch into a fresh
    root is a served merge like any other: ``apply_collected``, never
    the over-budget ``apply_batch``."""
    storage = open_storage(str(tmp_path / "s"), backend)
    ran = []

    def spy(name):
        body = getattr(GraphStore, name)

        def traced(self, *args):
            ran.append(name)
            return body(self, *args)

        return traced

    for name in ("apply_batch", "apply_collected"):
        monkeypatch.setattr(GraphStore, name, spy(name))
    batch = _batch(spark, [{"id": f"{NS}/a", "props": {}, "refs": {f"{NS}/r": f"{NS}/b"}}])
    storage.merge_commit(spark, batch, "P", "s")
    assert ran == ["apply_collected"]
    assert _snapshot(spark, storage, 1) == (
        {(f"{NS}/a", "P", ("P",), "s", ()), (f"{NS}/b", None, (), None, ())},
        {(f"{NS}/a", "r", f"{NS}/b", "s")},
    )


def test_every_version_has_a_manifest(spark, tmp_path, backend):
    """Version 0 lists no files; an unknown version raises like
    ``load_version`` does."""
    storage = open_storage(str(tmp_path / "s"), backend)
    assert storage._manifest(0) == {"nodes": [], "edges": []}
    assert storage.pruned_files("nodes", [f"{NS}/a"]) == ([], 0)
    for v in (1, 7):
        with pytest.raises(ValueError, match=f"version {v} not found"):
            storage._manifest(v)
        with pytest.raises(ValueError, match=f"version {v} not found"):
            storage.load_version(spark, v)
