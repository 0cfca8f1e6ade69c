"""Golden write-path scenarios, ported from the reference's integration
tests (``layer_test.go``; fixtures in FIXTURES.md) — but asserting against
our own read surface instead of Neo4j readback.
"""

import pytest
from pyspark.sql import functions as F

from opencypher_datalayer_spark.ingest import BatchInfo, DataLayer
from opencypher_datalayer_spark.model import ENTITY_SCHEMA, normalize_entity
from opencypher_datalayer_spark.operators.graph_ops import expand_collect, match_nodes
from opencypher_datalayer_spark.store import GraphStore

NS = "http://data.sample.org"

CONFIG = {
    "dataset_definitions": [
        {"name": "people", "source_config": {"label": "Person", "batch_size": 1000}},
        {"name": "companies", "source_config": {"label": "Company", "batch_size": 1000}},
    ]
}


def make_entity(n: int = 1) -> dict:
    """Canonical fixture (reference ``layer_test.go:437-443``)."""
    return {
        "id": f"{NS}/things/{n}",
        "props": {f"{NS}/name": "brian", f"{NS}/age": 23},
        "refs": {f"{NS}/worksfor": f"{NS}/things/mimiro"},
    }


def entity_batch(spark, entities):
    rows = []
    for i, e in enumerate(entities):
        r = normalize_entity(e)
        r["_seq"] = i
        rows.append(r)
    return spark.createDataFrame(rows, ENTITY_SCHEMA)


def node_map(store):
    return {r["gid"]: r.asDict() for r in store.nodes.collect()}


def edge_set(store):
    return {(r["src"], r["rel_type"], r["dst"], r["source"]) for r in store.edges.collect()}


def test_fullsync_golden(spark):
    """Reference TestWriteFullSync (``layer_test.go:53-243``)."""
    layer = DataLayer(spark, CONFIG)
    w = layer.dataset("people").full_sync(BatchInfo(sync_id="s1", is_start_batch=True))
    w.write(make_entity(1))
    w.close()

    nodes = node_map(layer.store)
    assert set(nodes) == {f"{NS}/things/1", f"{NS}/things/mimiro"}
    person = nodes[f"{NS}/things/1"]
    assert person["label"] == "Person"
    assert person["source"] == "people"
    assert person["props"] == {"name": "brian", "age": "23"}
    stub = nodes[f"{NS}/things/mimiro"]
    assert stub["label"] is None and stub["source"] is None and stub["props"] == {}
    assert edge_set(layer.store) == {
        (f"{NS}/things/1", "worksfor", f"{NS}/things/mimiro", "people")
    }

    # readback: MATCH (n:Person) WHERE n.source='people' OPTIONAL MATCH ...
    rows = expand_collect(layer.store, label="Person", source="people").collect()
    assert len(rows) == 1
    rels = rows[0]["relationships"]
    assert len(rels) == 1
    assert rels[0]["rel"] == "worksfor"
    assert rels[0]["target_gid"] == f"{NS}/things/mimiro"

    # re-sync with changed prop + empty refs: props replaced wholesale,
    # outgoing edges cleared (layer_test.go:217-231)
    updated = {"id": f"{NS}/things/1", "props": {f"{NS}/name": "John Doe"}, "refs": {}}
    w2 = layer.dataset("people").full_sync(BatchInfo(sync_id="s2", is_start_batch=True))
    w2.write(updated)
    w2.close()

    nodes = node_map(layer.store)
    person = nodes[f"{NS}/things/1"]
    assert person["props"] == {"name": "John Doe"}  # age gone: replace, not patch
    assert edge_set(layer.store) == set()
    rows = expand_collect(layer.store, label="Person", source="people").collect()
    assert len(rows) == 1
    rels = rows[0]["relationships"]
    assert len(rels) == 1  # one element, null rel/target (OPTIONAL MATCH no-match)
    assert rels[0]["rel"] is None and rels[0]["target_gid"] is None
    # the fullsync start-batch wipe removed the old Person, but the stub
    # (label null) survives a (Person, people) wipe — as in the reference,
    # where DeleteAll matches on label.
    assert f"{NS}/things/mimiro" in nodes


def test_incremental_stub_upgrade(spark):
    """Reference TestWriteIncremental (``layer_test.go:245-435``): writing
    an entity whose gid equals an earlier stub target upgrades the stub
    in place."""
    layer = DataLayer(spark, CONFIG)
    w = layer.dataset("people").incremental()
    w.write(make_entity(1))
    w.close()

    company = {
        "id": f"{NS}/things/mimiro",
        "props": {f"{NS}/name": "Mimiro"},
        "refs": {},
    }
    w2 = layer.dataset("companies").incremental()
    w2.write(company)
    w2.close()

    nodes = node_map(layer.store)
    mimiro = nodes[f"{NS}/things/mimiro"]
    assert mimiro["label"] == "Company"
    assert mimiro["source"] == "companies"
    assert mimiro["props"] == {"name": "Mimiro"}
    # the person's edge to the (now upgraded) node survives
    assert edge_set(layer.store) == {
        (f"{NS}/things/1", "worksfor", f"{NS}/things/mimiro", "people")
    }
    assert match_nodes(layer.store, label="Company").count() == 1


def test_tombstone_detach_delete(spark):
    """C1: a tombstoned entity is removed with ALL incident edges
    (in + out), reference ``neo4j.go:95-99``."""
    layer = DataLayer(spark, CONFIG)
    w = layer.dataset("people").incremental()
    w.write(make_entity(1))
    w.write(
        {
            "id": f"{NS}/things/2",
            "props": {f"{NS}/name": "ann"},
            "refs": {f"{NS}/knows": f"{NS}/things/1"},
        }
    )
    w.close()
    assert len(edge_set(layer.store)) == 2

    w2 = layer.dataset("people").incremental()
    w2.write({"id": f"{NS}/things/1", "deleted": True})
    w2.close()

    nodes = node_map(layer.store)
    assert f"{NS}/things/1" not in nodes
    assert f"{NS}/things/2" in nodes
    # both the deleted node's outgoing edge and the incoming edge from 2 are gone
    assert edge_set(layer.store) == set()


def test_multivalued_refs_fanout(spark):
    """W5/W6: a list-valued reference fans out to one edge per target."""
    layer = DataLayer(spark, CONFIG)
    w = layer.dataset("people").incremental()
    w.write(
        {
            "id": f"{NS}/things/1",
            "props": {},
            "refs": {f"{NS}/knows": [f"{NS}/things/2", f"{NS}/things/3"]},
        }
    )
    w.close()
    assert edge_set(layer.store) == {
        (f"{NS}/things/1", "knows", f"{NS}/things/2", "people"),
        (f"{NS}/things/1", "knows", f"{NS}/things/3", "people"),
    }
    # both targets exist as stubs
    assert set(node_map(layer.store)) == {
        f"{NS}/things/1",
        f"{NS}/things/2",
        f"{NS}/things/3",
    }


def test_invalid_ref_value_rejected(spark):
    with pytest.raises(ValueError):
        normalize_entity({"id": "x", "refs": {"r": 42}})


def test_intra_batch_last_write_wins(spark):
    """A gid repeated within one batch resolves to its last occurrence."""
    store = GraphStore.empty(spark)
    batch = entity_batch(
        spark,
        [
            {"id": "a", "props": {"name": "first"}, "refs": {}},
            {"id": "a", "props": {"name": "second"}, "refs": {}},
        ],
    )
    store = store.apply_batch(batch, "Person", "people")
    nodes = node_map(store)
    assert nodes["a"]["props"] == {"name": "second"}
    assert store.nodes.count() == 1


def test_delete_all_wipes_only_label_and_source(spark):
    """C5: the full-sync wipe removes exactly (label AND source)."""
    layer = DataLayer(spark, CONFIG)
    wp = layer.dataset("people").incremental()
    wp.write(make_entity(1))
    wp.close()
    wc = layer.dataset("companies").incremental()
    wc.write({"id": f"{NS}/things/acme", "props": {f"{NS}/name": "Acme"}, "refs": {}})
    wc.close()

    # an empty start batch of people: its close wipes Person/people,
    # leaves companies + stub
    layer.dataset("people").full_sync(BatchInfo(sync_id="s", is_start_batch=True)).close()
    nodes = node_map(layer.store)
    assert f"{NS}/things/1" not in nodes
    assert f"{NS}/things/acme" in nodes
    assert f"{NS}/things/mimiro" in nodes  # stub had no label -> survives
    assert edge_set(layer.store) == set()  # person's edge detached


def test_batch_size_flush(spark):
    """W1: the writer flushes every batch_size entities."""
    layer = DataLayer(
        spark,
        {
            "dataset_definitions": [
                {"name": "people", "source_config": {"label": "Person", "batch_size": 2}}
            ]
        },
    )
    w = layer.dataset("people").incremental()
    for i in range(3):
        w.write({"id": f"{NS}/things/{i}", "props": {f"{NS}/n": i}, "refs": {}})
    # 2 entities flushed already, 1 still buffered
    assert match_nodes(layer.store, label="Person").count() == 2
    w.close()
    assert match_nodes(layer.store, label="Person").count() == 3
