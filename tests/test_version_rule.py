"""The durable layer's version rule: each request reads one pinned
snapshot, and each write is derived from the version it publishes on.

The reference runs every batch and statement in a Neo4j transaction
against committed state (``neo4j.go:238-284``), so readers see what any
writer committed and no writer overwrites another. Here a second
``DataLayer`` on the same root plays the other writer.
"""

import ast
import json
import os
import pathlib
import threading
import urllib.error
import urllib.request

import pytest

from opencypher_datalayer_spark.ingest import BatchInfo, DataLayer
from opencypher_datalayer_spark.service_http import UdaService
from opencypher_datalayer_spark.storage import open_storage

CONFIG = {
    "dataset_definitions": [
        {"name": "people", "source_config": {"label": "Person", "batch_size": 100}},
        {"name": "orgs", "source_config": {"label": "Org", "batch_size": 100}},
    ]
}
UPSERT_CITY = (
    "UNWIND $items AS item MERGE (n {gid: item.gid}) "
    "WITH n, item OPTIONAL MATCH (n)-[r]->() DELETE r SET n:City SET n = item"
)


@pytest.fixture(params=["parquet", "txnlog"])
def backend(request):
    return request.param


def _ent(gid, refs=None):
    return {"id": gid, "props": {"urn:name": gid}, "refs": refs or {}}


def _write(layer, entities, dataset="people", full_sync=False):
    ds = layer.dataset(dataset)
    w = ds.full_sync(BatchInfo(is_start_batch=True)) if full_sync else ds.incremental()
    for e in entities:
        w.write(e)
    w.close()


def _req(port, path, body=None, headers=None):
    data = None if body is None else json.dumps(body).encode()
    req = urllib.request.Request(f"http://127.0.0.1:{port}{path}", data=data, headers=headers or {})
    try:
        with urllib.request.urlopen(req, timeout=120) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def test_two_layers_read_and_keep_each_others_commits(spark, tmp_path, backend):
    """Layer A's Cypher reads, entity page refs and change feed include
    what layer B committed, and the change token is the version its rows
    come from. A's full sync of another dataset and A's Cypher write are
    derived from the version they publish on, so B's entities survive."""
    root = str(tmp_path / "s")
    a, b = (
        DataLayer(spark, CONFIG, storage_root=root, storage_backend=backend) for _ in range(2)
    )
    _write(a, [_ent("urn:a")])  # A has now read version 1
    _write(b, [_ent("urn:b", {"urn:r": "urn:x"})])

    assert a.query("MATCH (n:Person) RETURN count(*) AS c").collect()[0]["c"] == 2
    feed, token = a.changes(since=1)
    assert token == b._storage.current_version() == 2
    assert {(r.gid, r.change_type) for r in feed.collect()} == {
        ("urn:b", "upsert"),
        ("urn:x", "upsert"),
    }
    svc = UdaService(a).start()
    try:
        status, page = _req(svc.port, "/datasets/people/entities")
    finally:
        svc.stop()
    assert status == 200
    refs = {e["id"]: e["refs"] for e in page if not e["id"].startswith("@")}
    assert list(refs["urn:b"].values()) == [["urn:x"]]

    _write(a, [_ent("urn:o")], dataset="orgs", full_sync=True)
    _write(b, [_ent("urn:b2")])
    a.query(UPSERT_CITY, {"items": [{"gid": "urn:c", "source": "cities"}]})
    stored = open_storage(root, backend).load(spark)
    assert sorted(r.gid for r in stored.nodes.collect()) == [
        "urn:a", "urn:b", "urn:b2", "urn:c", "urn:o", "urn:x",
    ]


def test_a_writers_read_after_its_ack_sees_its_write(spark, tmp_path, backend):
    """Two threads write through one layer; each one's read right after
    its write returns sees that write."""
    layer = DataLayer(spark, CONFIG, storage_root=str(tmp_path / "s"), storage_backend=backend)
    seen, errs = {}, []

    def writer(gid):
        try:
            _write(layer, [_ent(gid)])
            rows = layer.query("MATCH (n {gid: $g}) RETURN n.gid AS gid", {"g": gid})
            seen[gid] = [r.gid for r in rows.collect()]
        except Exception as exc:  # pragma: no cover - surfaced below
            errs.append(exc)

    gids = ["urn:w0", "urn:w1"]
    threads = [threading.Thread(target=writer, args=(g,)) for g in gids]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs, errs
    assert seen == {g: [g] for g in gids}


def test_change_feed_emits_refs_only_changes(spark, tmp_path):
    """An entity whose refs alone changed is an upsert in the feed, both
    when a ref moves to a new target and when a ref is dropped."""
    layer = DataLayer(spark, CONFIG, storage_root=str(tmp_path / "s"))
    _write(layer, [_ent("urn:a", {"urn:r": "urn:x"}), _ent("urn:b", {"urn:r": "urn:x"})])
    _write(layer, [_ent("urn:a", {"urn:r": "urn:y"}), _ent("urn:b")])
    feed, token = layer.changes(since=1)
    assert token == 2
    assert sorted((r.gid, r.change_type) for r in feed.collect()) == [
        ("urn:a", "upsert"),
        ("urn:b", "upsert"),
        ("urn:y", "upsert"),
    ]


def test_concurrent_posts_to_a_default_root_each_land(spark):
    """Concurrent POSTs to a service whose layer has no configured root
    (a temporary one) each land: no batch is lost to another thread's
    read-modify-write of the graph."""
    layer = DataLayer(spark, CONFIG)
    svc = UdaService(layer).start()
    gids = [f"urn:p{i}" for i in range(4)]
    status = {}

    def post(gid):
        status[gid] = _req(svc.port, "/datasets/people/entities", [_ent(gid)])[0]

    try:
        threads = [threading.Thread(target=post, args=(g,)) for g in gids]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
    finally:
        svc.stop()
    assert status == {g: 200 for g in gids}
    assert sorted(r.gid for r in layer.store.nodes.collect()) == gids


def test_a_statement_that_fails_to_plan_publishes_nothing(spark, tmp_path, backend, monkeypatch):
    """A Cypher write that fails to plan inside the publish step is a 400
    and leaves no version and no snapshot directory behind."""
    root = str(tmp_path / "s")
    layer = DataLayer(spark, CONFIG, storage_root=root, storage_backend=backend)
    _write(layer, [_ent("urn:a")])
    before = (layer._storage.current_version(), sorted(os.listdir(root)))
    publish = layer._storage._publish_build
    published = []

    def spy(*a, **kw):
        published.append(1)
        return publish(*a, **kw)

    monkeypatch.setattr(layer._storage, "_publish_build", spy)
    svc = UdaService(layer).start()
    try:
        status, body = _req(svc.port, "/query", {"query": "MERGE (n {gid: 'urn:z'}) FROBNICATE n"})
    finally:
        svc.stop()
    assert status == 400, body
    assert published  # it failed inside the publish step
    assert (layer._storage.current_version(), sorted(os.listdir(root))) == before


def test_full_sync_start_post_publishes_wipe_with_its_batch(spark, tmp_path, backend, monkeypatch):
    """A second layer on the same root counts the dataset after every
    version a start-batch POST publishes: the wipe lands in the same
    version as the batch, so the count is never 0. A start POST of at
    most ``batch_size`` entities publishes exactly one version; an
    empty start batch publishes exactly one, the wipe."""
    root = str(tmp_path / "s")
    layer, other = (
        DataLayer(spark, CONFIG, storage_root=root, storage_backend=backend) for _ in range(2)
    )
    _write(layer, [_ent("urn:a"), _ent("urn:b")])
    storage = layer._storage
    publish, counts = storage._publish_build, []
    count = "MATCH (n:Person) WHERE n.source = 'people' RETURN count(*) AS c"

    def spy(*a, **kw):
        v = publish(*a, **kw)
        counts.append(other.query(count).collect()[0]["c"])
        return v

    monkeypatch.setattr(storage, "_publish_build", spy)
    start = {
        "universal-data-api-full-sync-id": "s1",
        "universal-data-api-full-sync-start": "true",
    }
    svc = UdaService(layer).start()
    try:
        body = [_ent(f"urn:p{i}") for i in range(3)]
        assert _req(svc.port, "/datasets/people/entities", body, start)[0] == 200
        assert counts == [3]
        assert _req(svc.port, "/datasets/people/entities", [], start)[0] == 200
        assert counts == [3, 0]
    finally:
        svc.stop()
    assert storage.current_version() == 3


def test_ingest_has_one_read_route_and_one_write_route():
    """``ingest.py`` never publishes a caller-built snapshot or loads the
    current one itself, never compares ``_storage`` with ``None`` (there
    is no layer without storage), and only ``__init__`` and
    ``_snapshot`` assign ``self._store``."""
    path = pathlib.Path(__file__).resolve().parent.parent / "opencypher_datalayer_spark" / "ingest.py"
    tree = ast.parse(path.read_text())
    bad = []
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("commit", "load")
            and "storage" in ast.unparse(node.func.value)
        ):
            bad.append(f"line {node.lineno}: {ast.unparse(node.func)}(")
        sides = [node.left, *node.comparators] if isinstance(node, ast.Compare) else []
        if any(isinstance(x, ast.Constant) and x.value is None for x in sides) and any(
            "_storage" in ast.unparse(x) for x in sides
        ):
            bad.append(f"line {node.lineno}: {ast.unparse(node)}")
    for fn in ast.walk(tree):
        if not isinstance(fn, ast.FunctionDef) or fn.name in ("__init__", "_snapshot"):
            continue
        for node in ast.walk(fn):
            targets = (
                node.targets if isinstance(node, ast.Assign)
                else [node.target] if isinstance(node, (ast.AugAssign, ast.AnnAssign))
                else []
            )
            if any(ast.unparse(t) == "self._store" for tgt in targets for t in ast.walk(tgt)):
                bad.append(f"line {node.lineno}: {fn.name} assigns self._store")
    assert not bad, bad
