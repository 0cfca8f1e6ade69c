"""Pruned MERGE commits: a small batch must rewrite only the data files
whose gid/src/dst range it touches; every other file is carried into the
new snapshot as a hard link — and the result is bit-identical to the
full ``apply_batch`` + full-rewrite path.

This is the write-side payoff of the file-skipping manifest (C6, the
analog of the reference's gid index ``neo4j.go:21``): at 100 TB a sync
micro-batch touches a handful of files, not the table.
"""

import glob
import json
import os
import threading

from opencypher_datalayer_spark.model import ENTITY_SCHEMA, normalize_entity
import pytest

import opencypher_datalayer_spark.storage as storage_mod
from opencypher_datalayer_spark.storage import (
    ParquetGraphStorage,
    _log_path,
    _log_put,
    _log_slots,
    _put_if_absent,
    open_storage,
)
from opencypher_datalayer_spark.store import GraphStore

NS = "urn:m"


def _batch(spark, entities):
    rows = []
    for i, e in enumerate(entities):
        r = normalize_entity(e)
        r["_seq"] = i
        rows.append(r)
    return spark.createDataFrame(rows, ENTITY_SCHEMA)


def _seed(spark, root, n=40, buckets=4, place=lambda storage: storage):
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
    storage = place(open_storage(root))
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


def test_small_batch_rewrites_strict_subset(spark, tmp_path, writers):
    storage = _seed(spark, str(tmp_path / "s"), place=writers)
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


def test_tombstone_detach_prunes_by_dst(spark, tmp_path, writers):
    """A tombstone must remove edges pointing AT the gid even when their
    src lives in a file whose src range does not admit the batch id —
    that is what the manifest's dst stats are for."""
    storage = _seed(spark, str(tmp_path / "s"), place=writers)
    batch = _batch(spark, [{"id": f"{NS}/n0039", "deleted": True}])
    expected = _snapshot_of(spark, storage, batch)

    storage.merge_commit(spark, batch, "P", "s")
    nodes, edges = _snapshot(spark, storage, 2)
    assert (nodes, edges) == expected
    gone = f"{NS}/n0039"
    assert all(g != gone for g, *_ in nodes)
    assert all(s != gone and d != gone for s, _, d, _ in edges)


def test_merge_chain_matches_full_path(spark, tmp_path, writers):
    """Several merges in a row (upsert, stub upgrade, tombstone, re-add)
    stay equivalent to the full apply_batch path."""
    storage = _seed(spark, str(tmp_path / "s"), n=12, buckets=3, place=writers)
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


def test_compact_shrinks_files_preserves_data(spark, tmp_path, writers):
    """Repeated merge commits accumulate small appended files; compact
    rewrites the snapshot range-clustered with fewer files and exactly
    the same rows."""
    storage = _seed(spark, str(tmp_path / "st"), n=40, buckets=4, place=writers)
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


def test_concurrent_merge_commits_both_survive(spark, tmp_path, writers):
    """Two writers committing simultaneously are serialized, by the
    commit lock on one host and by the log slot across hosts: both
    batches land, versions advance linearly, and neither snapshot is
    clobbered (the reference gets this from Neo4j transactions,
    neo4j.go:238-284)."""
    storage = _seed(spark, str(tmp_path / "c"), place=writers)
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
    """The log's put-if-absent: exactly one writer wins a version slot;
    the loser's put returns False and its retry lands on the next slot.
    (Direct protocol-level check complementing the threaded concurrent
    test above.)"""
    st = ParquetGraphStorage(str(tmp_path / "t"))
    assert _log_put(st._log, 1, "d-a") is True
    assert _log_put(st._log, 1, "d-b") is False  # slot taken
    assert st.current_version() == 1
    assert _log_put(st._log, 2, "d-b") is True
    assert st.current_version() == 2


def test_put_if_absent_raises_when_the_link_does_not_land(tmp_path, monkeypatch):
    """A link(2) that fails without landing while the target is absent
    (EPERM on a filesystem without hard links) is no lost race: the put
    raises instead of returning False, which would send both publish
    loops round forever."""

    def no_link(src, dst, **kw):
        raise PermissionError(1, "Operation not permitted")

    target = str(tmp_path / "00000001.json")
    monkeypatch.setattr(os, "link", no_link)
    with pytest.raises(PermissionError):
        _put_if_absent(target, "{}")
    monkeypatch.undo()
    assert os.listdir(tmp_path) == []  # no slot, no temp file left


def test_txnlog_restart_and_vacuum(spark, tmp_path):
    """A second storage handle on the same root sees the committed
    snapshot (restart path); vacuum drops old data dirs but keeps the
    log monotonic."""
    root = str(tmp_path / "t")
    storage = _seed(spark, root, n=12, buckets=3)
    b = _batch(spark, [{"id": f"{NS}/xx", "props": {f"{NS}/name": "x"}, "refs": {}}])
    storage.merge_commit(spark, b, "P", "s")
    fresh = ParquetGraphStorage(root)
    assert fresh.current_version() == 2
    nodes, _ = _snapshot(spark, fresh, 2)
    assert any(g == f"{NS}/xx" for g, *_ in nodes)
    v1_dir = fresh._version_dir(1)
    fresh.vacuum(keep=1)
    assert fresh.current_version() == 2
    assert not os.path.exists(v1_dir)
    with pytest.raises(ValueError):
        fresh.load_version(spark, 1)
    # no mutable pointer: the log is the only record of versions
    assert not os.path.exists(os.path.join(root, "CURRENT"))
    assert _log_slots(fresh._log) == [2]


def test_txnlog_lost_link_reply_still_wins(spark, tmp_path, monkeypatch):
    """NFS lost-reply semantics: the link(2) RPC succeeds server-side
    but the (retried) reply reports an error. The publish protocol must
    detect the win via st_nlink == 2 instead of believing the
    exception — otherwise the writer retries the next slot and the same
    snapshot publishes twice."""
    st = ParquetGraphStorage(str(tmp_path / "t"))
    real_link = os.link

    def lossy_link(src, dst, **kw):
        real_link(src, dst, **kw)  # the operation lands...
        raise OSError("simulated lost RPC reply")  # ...the reply doesn't

    monkeypatch.setattr(os, "link", lossy_link)
    assert _log_put(st._log, 1, "d-a") is True  # win detected via nlink probe
    monkeypatch.undo()
    assert st.current_version() == 1
    with open(_log_path(st._log, 1)) as f:
        assert json.load(f)["dir"] == "d-a"


def test_txnlog_gc_racing_stalled_writer_never_dangles(spark, tmp_path, monkeypatch):
    """A writer stalled past min_age_s between its data write and its
    log put can have its dir collected by a concurrent gc_orphans — yet
    its put still wins the slot. The commit path must self-heal (rebuild
    + rewrite its own entry) so a version never points at a nonexistent
    directory."""
    import shutil

    root = str(tmp_path / "t")
    storage = _seed(spark, root, n=10, buckets=2)
    assert storage.current_version() == 1

    # simulate the worst-case interleaving: GC fires between the utime
    # guard and the log put (min_age 0 == arbitrarily long stall)
    real_put = storage_mod._log_put

    def gc_then_put(log_dir, v, dirname):
        ParquetGraphStorage(root).gc_orphans(min_age_s=0.0)
        assert not os.path.isdir(os.path.join(root, dirname))
        return real_put(log_dir, v, dirname)

    monkeypatch.setattr(storage_mod, "_log_put", gc_then_put)
    b = _batch(spark, [{"id": f"{NS}/healed", "props": {}, "refs": {}}])
    assert storage.merge_commit(spark, b, "P", "s") == 2
    monkeypatch.undo()

    # the published version is fully readable from a fresh handle
    fresh = ParquetGraphStorage(root)
    assert fresh.current_version() == 2
    assert os.path.isdir(fresh._version_dir(2))
    nodes = {r.gid for r in fresh.load(spark).nodes.collect()}
    assert f"{NS}/healed" in nodes and f"{NS}/n0000" in nodes

    # same self-heal on the snapshot commit path
    def rm_then_put(log_dir, v, dirname):
        shutil.rmtree(os.path.join(root, dirname), ignore_errors=True)
        return real_put(log_dir, v, dirname)

    monkeypatch.setattr(storage_mod, "_log_put", rm_then_put)
    assert fresh.commit(fresh.load(spark)) == 3
    monkeypatch.undo()
    fresh2 = ParquetGraphStorage(root)
    assert os.path.isdir(fresh2._version_dir(3))
    assert {r.gid for r in fresh2.load(spark).nodes.collect()} == nodes

    # the pre-publish utime guard: a missing dir reports False
    assert fresh._touch_publish_dir("d-definitely-missing") is False


def test_txnlog_crash_between_write_and_publish(spark, tmp_path, monkeypatch):
    """A writer killed AFTER the data write but BEFORE its log put leaves
    an orphaned d-<uuid> dir, no log entry and no lock: readers (same
    handle and a fresh one) still see the previous version's exact
    snapshot, the next merge commits normally with no gid twice (the
    carried links cannot collide with the leftover files), and
    gc_orphans reclaims the orphan without touching published data."""
    root = str(tmp_path / "t")
    storage = _seed(spark, root, n=12, buckets=3)
    before_nodes, before_edges = _snapshot(spark, storage, 1)

    # crash the commit right before its log put
    def crash(*a):
        raise KeyboardInterrupt

    monkeypatch.setattr(storage_mod, "_log_put", crash)
    b = _batch(spark, [{"id": f"{NS}/crash", "props": {}, "refs": {}}])
    with pytest.raises(KeyboardInterrupt):
        storage.merge_commit(spark, b, "P", "s")
    monkeypatch.undo()

    orphans = [d for d in os.listdir(root) if d.startswith("d-")]
    assert len(orphans) == 2  # v1's dir + the unpublished one
    assert not os.path.exists(os.path.join(root, "COMMIT.lock"))

    # reader consistency: both the surviving handle and a fresh one
    # still serve version 1, bit-identical to before the crash
    assert storage.current_version() == 1
    fresh = ParquetGraphStorage(root)
    assert fresh.current_version() == 1
    assert _snapshot(spark, fresh, 1) == (before_nodes, before_edges)

    # the next writer proceeds as if nothing happened
    b2 = _batch(spark, [{"id": f"{NS}/n0003", "props": {f"{NS}/name": "after"}, "refs": {}}])
    assert fresh.merge_commit(spark, b2, "P", "s") == 2
    nodes2, _ = _snapshot(spark, fresh, 2)
    gids = [r.gid for r in fresh.load(spark).nodes.collect()]
    assert f"{NS}/crash" not in gids
    assert len(gids) == len(set(gids)) == 12

    # GC: the age guard protects a possibly-live writer's dir...
    assert fresh.gc_orphans(min_age_s=3600) == []
    # ...and with the guard elapsed the orphan (only it) is removed
    removed = fresh.gc_orphans(min_age_s=0)
    assert len(removed) == 1
    assert removed[0] not in (os.path.basename(fresh._version_dir(v)) for v in (1, 2))
    assert fresh.current_version() == 2
    assert _snapshot(spark, fresh, 2)[0] == nodes2


def test_a_build_that_raises_leaves_no_data_dir(spark, tmp_path, monkeypatch):
    """A merge whose build fails after writing its tables (here: the
    manifest write raises) publishes nothing and removes its half-built
    data dir, so a served root does not collect one per failed write."""
    root = str(tmp_path / "f")
    storage = _seed(spark, root, n=12, buckets=3)
    before = sorted(os.listdir(root))

    def fail(*a, **kw):
        raise RuntimeError("simulated write failure")

    monkeypatch.setattr(storage, "_write_manifest", fail)
    b = _batch(spark, [{"id": f"{NS}/fail", "props": {}, "refs": {}}])
    with pytest.raises(RuntimeError, match="simulated"):
        storage.merge_commit(spark, b, "P", "s")
    assert storage.current_version() == 1
    assert sorted(os.listdir(root)) == before


def test_two_handles_build_each_batch_once(spark, tmp_path, monkeypatch):
    """Two handles on one root merge in two threads. The second waits on
    the commit lock while the first builds, then builds on the first
    one's version, so each batch's ``_write_merge`` runs exactly once,
    and both versions are published through the log. Without the lock
    the second writer's build loses its slot and runs again."""
    root = str(tmp_path / "b")
    _seed(spark, root, n=12, buckets=3)
    lock = os.path.join(root, "COMMIT.lock")
    builds, waited = [], []
    building, queued = threading.Event(), threading.Event()
    handles = [open_storage(root), open_storage(root)]
    for h in handles:

        def write_merge(spark_, vdir, base, batch, label, source, *a, _real=h._write_merge):
            builds.append(source)
            building.set()
            assert queued.wait(timeout=120)  # the other writer is at the lock
            return _real(spark_, vdir, base, batch, label, source, *a)

        def acquire(*a, _real=h._acquire_commit_lock, **kw):
            if os.path.exists(lock):
                waited.append(1)
                queued.set()
            return _real(*a, **kw)

        monkeypatch.setattr(h, "_write_merge", write_merge)
        monkeypatch.setattr(h, "_acquire_commit_lock", acquire)

    errs = []

    def merge(h, source):
        try:
            b = _batch(spark, [{"id": f"{NS}/{source}", "props": {}, "refs": {}}])
            h.merge_commit(spark, b, "P", source)
        except Exception as exc:  # pragma: no cover - surfaced below
            errs.append(exc)

    first = threading.Thread(target=merge, args=(handles[0], "sa"))
    first.start()
    assert building.wait(timeout=120)
    second = threading.Thread(target=merge, args=(handles[1], "sb"))
    second.start()
    first.join(timeout=300)
    second.join(timeout=300)
    assert not errs, errs
    assert sorted(builds) == ["sa", "sb"]
    assert waited == [1]
    assert _log_slots(os.path.join(root, "_log")) == [1, 2, 3]
    gids = {r.gid for r in open_storage(root).load(spark).nodes.collect()}
    assert {f"{NS}/sa", f"{NS}/sb"} <= gids


@pytest.mark.parametrize("rewrite", ["compact", "wipe", "cypher_write"])
def test_compact_keeps_batch_merged_during_compaction(
    spark, tmp_path, writers, monkeypatch, rewrite
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
    storage = _seed(spark, root, n=12, buckets=3, place=writers)
    other = writers(open_storage(root))  # a second writer on the same root
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


def test_first_batch_into_a_fresh_root_takes_the_key_set_merge(spark, tmp_path, writers, monkeypatch):
    """Version 0 has an (empty) manifest, so the first batch into a fresh
    root is a served merge like any other: ``apply_collected``, never
    the over-budget ``apply_batch``."""
    storage = writers(open_storage(str(tmp_path / "s")))
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


def test_every_version_has_a_manifest(spark, tmp_path, writers):
    """Version 0 lists no files; an unknown version raises like
    ``load_version`` does."""
    storage = writers(open_storage(str(tmp_path / "s")))
    assert storage._manifest(0) == {"nodes": [], "edges": []}
    assert storage.pruned_files("nodes", [f"{NS}/a"]) == ([], 0)
    for v in (1, 7):
        with pytest.raises(ValueError, match=f"version {v} not found"):
            storage._manifest(v)
        with pytest.raises(ValueError, match=f"version {v} not found"):
            storage.load_version(spark, v)
