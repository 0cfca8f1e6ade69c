"""Service-surface completeness: ad-hoc query facade (S10), CDC change
feed between snapshot versions (S8), config hot reload (S2)."""

import json

from opencypher_datalayer_spark.ingest import DataLayer

NS = "urn:t"

CONFIG = {
    "dataset_definitions": [
        {"name": "people", "source_config": {"label": "Person", "batch_size": 100}}
    ]
}


def _write(layer, entities):
    w = layer.dataset("people").incremental()
    for e in entities:
        w.write(e)
    w.close()


def test_query_facade_read_and_write(spark):
    layer = DataLayer(spark, CONFIG)
    layer.query(
        "UNWIND $items AS item MERGE (n {gid: item.gid}) "
        "WITH n, item OPTIONAL MATCH (n)-[r]->() DELETE r SET n:Person SET n = item",
        {"items": [{"gid": f"{NS}/p1", "source": "people", "name": "brian"}]},
    )
    out = layer.query("MATCH (n:Person) RETURN n.gid AS gid, n.name AS name")
    assert [tuple(r) for r in out.collect()] == [(f"{NS}/p1", "brian")]


def test_changes_feed_version_diff(spark, tmp_path):
    layer = DataLayer(spark, CONFIG, storage_root=str(tmp_path / "store"))
    _write(layer, [
        {"id": f"{NS}/a", "props": {"k": "1"}, "refs": {}},
        {"id": f"{NS}/b", "props": {"k": "2"}, "refs": {}},
    ])
    v1 = layer._storage.current_version()

    _write(layer, [
        {"id": f"{NS}/a", "props": {"k": "changed"}, "refs": {}},  # modified
        {"id": f"{NS}/c", "props": {"k": "3"}, "refs": {}},  # new
        {"id": f"{NS}/b", "deleted": True},  # tombstone
    ])

    feed, v2 = layer.changes(since=v1)
    assert v2 > v1
    got = {(r["gid"], r["change_type"]) for r in feed.collect()}
    assert got == {
        (f"{NS}/a", "upsert"),
        (f"{NS}/c", "upsert"),
        (f"{NS}/b", "delete"),
    }

    empty, v3 = layer.changes(since=v2)
    assert v3 == v2 and empty.count() == 0

    full, _ = layer.changes(since=0)
    assert {r["change_type"] for r in full.collect()} == {"upsert"}
    assert full.count() == 2  # a (changed) + c


def test_config_hot_reload(spark, tmp_path):
    cfg = tmp_path / "config.json"
    cfg.write_text(json.dumps(CONFIG))
    layer = DataLayer.from_config_path(spark, str(cfg))
    assert set(layer.datasets) == {"people"}
    assert layer.maybe_reload_config() is False  # unchanged

    updated = {
        "dataset_definitions": CONFIG["dataset_definitions"]
        + [{"name": "companies", "source_config": {"label": "Company"}}]
    }
    cfg.write_text(json.dumps(updated))
    import os
    os.utime(cfg, (os.path.getmtime(cfg) + 2, os.path.getmtime(cfg) + 2))
    assert layer.maybe_reload_config() is True
    assert set(layer.datasets) == {"people", "companies"}


def test_storage_vacuum_and_time_travel(spark, tmp_path):
    layer = DataLayer(spark, CONFIG, storage_root=str(tmp_path / "s"))
    for i in range(3):
        _write(layer, [{"id": f"{NS}/x", "props": {"v": str(i)}, "refs": {}}])
    storage = layer._storage
    assert storage.current_version() == 3
    # time travel to v1
    old = storage.load_version(spark, 1)
    assert {r["props"]["v"] for r in old.nodes.collect()} == {"0"}
    # vacuum keeps newest 2; v1 gone, current intact
    storage.vacuum(keep=2)
    import pytest as _pytest
    with _pytest.raises(ValueError):
        storage.load_version(spark, 1)
    assert storage.load(spark).nodes.count() == 1


def test_manifest_file_skipping_point_lookup(spark, tmp_path):
    """Clustered commit records per-file gid min/max in MANIFEST.json;
    point lookups scan a strict subset of files and return exact rows
    (the Spark analog of the reference's gid index, neo4j.go:21)."""
    from opencypher_datalayer_spark.model import NODES_SCHEMA
    from opencypher_datalayer_spark.storage import ParquetGraphStorage, _prune
    from opencypher_datalayer_spark.store import GraphStore, empty_edges

    rows = [(f"urn:g/{i:05d}", "Person", None, "people", {"n": str(i)}) for i in range(400)]
    store = GraphStore(
        spark.createDataFrame(rows, NODES_SCHEMA), empty_edges(spark)
    )
    storage = ParquetGraphStorage(str(tmp_path / "s"))
    storage.commit(store, cluster_buckets=8)

    # manifest pruning: a single key hits few files, not all of them
    files, total = storage.pruned_files("nodes", ["urn:g/00007"])
    assert total >= 8
    assert 0 < len(files) < total

    out = storage.lookup_nodes(spark, ["urn:g/00007", "urn:g/00399", "urn:g/zzz"])
    got = {(r.gid, r.props["n"]) for r in out.collect()}
    assert got == {("urn:g/00007", "7"), ("urn:g/00399", "399")}

    # pruning is sound: pruned lookup == full-scan filter for every key
    full = storage.load(spark).nodes.where("gid = 'urn:g/00123'").collect()
    pruned = storage.lookup_nodes(spark, ["urn:g/00123"]).collect()
    assert [r.gid for r in pruned] == [r.gid for r in full] == ["urn:g/00123"]

    # stats-less entries are never pruned out (soundness of _prune itself)
    kept = _prune([{"min": None, "max": None, "rows": 5, "path": "x"}], ["k"])
    assert len(kept) == 1


def test_unclustered_commit_still_has_manifest(spark, tmp_path):
    from opencypher_datalayer_spark.model import NODES_SCHEMA
    from opencypher_datalayer_spark.storage import ParquetGraphStorage
    from opencypher_datalayer_spark.store import GraphStore, empty_edges

    rows = [(f"urn:g/{i}", "Person", None, "people", None) for i in range(10)]
    store = GraphStore(spark.createDataFrame(rows, NODES_SCHEMA), empty_edges(spark))
    storage = ParquetGraphStorage(str(tmp_path / "s"))
    storage.commit(store)  # no clustering — stats still collected
    files, total = storage.pruned_files("nodes", ["urn:g/3"])
    assert files and total >= len(files)
    out = storage.lookup_nodes(spark, ["urn:g/3"]).collect()
    assert [r.gid for r in out] == ["urn:g/3"]


def test_get_entities_point_lookup_both_modes(spark, tmp_path):
    """DataLayer.get_entities uses manifest file skipping, on a
    configured root and on the temporary root of a layer without one.
    Same results."""
    for root in (str(tmp_path / "store"), None):
        layer = DataLayer(spark, CONFIG, storage_root=root)
        _write(layer, [
            {"id": f"{NS}/a", "props": {"k": "1"}, "refs": {}},
            {"id": f"{NS}/b", "props": {"k": "2"}, "refs": {}},
            {"id": f"{NS}/c", "props": {"k": "3"}, "refs": {}},
        ])
        out = layer.get_entities([f"{NS}/a", f"{NS}/c", f"{NS}/nope"])
        got = sorted((r.gid, r.props["k"]) for r in out.collect())
        assert got == [(f"{NS}/a", "1"), (f"{NS}/c", "3")], (root, got)
