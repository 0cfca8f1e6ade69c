"""The served gid key-set read path: ``functions.pushdown.isin_keys`` is
the one builder of a key-list filter. Keys are arbitrary text (gids are
URIs), so each must round-trip exactly through every served read --
``storage.lookup_nodes``, ``DataLayer.get_entities`` and the entity
feed's ref rebuild -- and the lookup must still reach the
parquet scan as a pushed-down ``In`` filter."""

import ast
import json
import pathlib
import urllib.request

from opencypher_datalayer_spark.ingest import DataLayer
from opencypher_datalayer_spark.service_http import UdaService

CONFIG = {
    "dataset_definitions": [
        {"name": "people", "source_config": {"label": "Person", "batch_size": 100}}
    ]
}

# each key holds a character the SQL fragment must escape or pass through
KEYS = [
    "urn:k/it's",
    "urn:k/back\\slash",
    "urn:k/close)paren",
    "urn:k/${env:HOME}",
    "urn:k/${spark.app.name}",
    "urn:k/\\u0024",
    "urn:k/ünïcødé/日本",
]
OTHER = "urn:k/other"


def _entities():
    """One entity per key, each referencing the next key, plus one
    entity no lookup asks for."""
    ents = [
        {"id": k, "props": {"i": str(i)}, "refs": {"urn:k/next": KEYS[(i + 1) % len(KEYS)]}}
        for i, k in enumerate(KEYS)
    ]
    return ents + [{"id": OTHER, "props": {"i": "-1"}, "refs": {}}]


def _write(layer, entities):
    w = layer.dataset("people").incremental()
    for e in entities:
        w.write(e)
    w.close()


def _assert_round_trip(lookup):
    got = [(r.gid, r.props["i"]) for r in lookup(KEYS + KEYS[:2]).collect()]
    assert sorted(got) == sorted((k, str(i)) for i, k in enumerate(KEYS))
    assert lookup([]).collect() == []


def test_keys_round_trip_through_durable_lookups(spark, tmp_path):
    layer = DataLayer(spark, CONFIG, storage_root=str(tmp_path / "s"))
    _write(layer, _entities())
    storage = layer._storage
    assert storage.pruned_files("nodes", KEYS)[0]  # the lookup reads manifest-listed files

    _assert_round_trip(lambda keys: storage.lookup_nodes(spark, keys))
    _assert_round_trip(layer.get_entities)

    plan = storage.lookup_nodes(spark, KEYS)._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [In(gid" in plan, plan


def test_keys_round_trip_through_entity_feed_refs(spark, tmp_path):
    layer = DataLayer(spark, CONFIG, storage_root=str(tmp_path / "s"))
    svc = UdaService(layer).start()
    try:
        url = f"http://127.0.0.1:{svc.port}/datasets/people/entities"
        req = urllib.request.Request(
            url, data=json.dumps(_entities()).encode(), headers={"Content-Type": "application/json"}
        )
        with urllib.request.urlopen(req, timeout=120) as resp:
            assert json.loads(resp.read()) == {"written": len(KEYS) + 1}
        with urllib.request.urlopen(url + "?limit=100", timeout=120) as resp:
            body = json.loads(resp.read())
    finally:
        svc.stop()
    refs = {e["id"]: e["refs"] for e in body if not e["id"].startswith("@")}
    assert refs == {
        **{k: {"next": [KEYS[(i + 1) % len(KEYS)]]} for i, k in enumerate(KEYS)},
        OTHER: {},
    }


def test_served_modules_build_key_sets_only_with_isin_keys():
    """Each served module filters on a key list through ``isin_keys``:
    ``Column.isin`` costs one py4j call per key and would be a second
    builder to keep in step."""
    pkg = pathlib.Path(__file__).resolve().parent.parent / "opencypher_datalayer_spark"
    for name in ("ingest.py", "service_http.py", "storage.py", "store.py"):
        tree = ast.parse((pkg / name).read_text())
        lines = [
            n.lineno
            for n in ast.walk(tree)
            if isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and n.func.attr == "isin"
        ]
        assert not lines, f"{name} calls .isin( at lines {lines}; use isin_keys"
