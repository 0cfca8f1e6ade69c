"""End-to-end UDA HTTP service drive: sync the reference's canonical
fixture (``layer_test.go:437-443``) over the wire — full-sync and
incremental with the UDA batch headers — then read it back through the
entities, changes, and query endpoints.

The reference only implements the write half (reads answer
LayerNotSupported, ``layer.go:257-265``); here both halves are real.
"""

import json
import urllib.request

import pytest

from opencypher_datalayer_spark.ingest import DataLayer
from opencypher_datalayer_spark.service_http import UdaService

NS = "http://data.sample.org"

CONFIG = {
    "dataset_definitions": [
        {"name": "people", "source_config": {"label": "Person", "batch_size": 100}}
    ]
}


def _req(port, path, body=None, headers=None):
    url = f"http://127.0.0.1:{port}{path}"
    data = json.dumps(body).encode() if body is not None else None
    req = urllib.request.Request(url, data=data, headers=headers or {})
    if data is not None:
        req.add_header("Content-Type", "application/json")
    try:
        with urllib.request.urlopen(req, timeout=120) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def _fixture_entity(n):
    """``makeEntity`` from layer_test.go:437-443, in UDA JSON with a
    namespace-prefixed form resolved by the @context."""
    return {
        "id": f"ex:things/{n}",
        "props": {"ex:name": "brian", "ex:age": 23},
        "refs": {"ex:worksfor": "ex:things/mimiro"},
    }


CONTEXT = {"id": "@context", "namespaces": {"ex": f"{NS}/"}}


@pytest.fixture
def service(spark, tmp_path):
    layer = DataLayer(spark, CONFIG, storage_root=str(tmp_path / "s"))
    svc = UdaService(layer).start()
    yield svc
    svc.stop()


def test_uda_sync_and_readback(service):
    port = service.port

    # dataset listing (S4)
    status, body = _req(port, "/datasets")
    assert status == 200 and body == [{"name": "people", "label": "Person"}]

    # full sync in two batches with UDA headers (W10, layer.go:196-215)
    status, body = _req(
        port,
        "/datasets/people/entities",
        body=[CONTEXT, _fixture_entity(1), _fixture_entity(2)],
        headers={
            "universal-data-api-full-sync-start": "true",
            "universal-data-api-full-sync-id": "sync-1",
        },
    )
    assert status == 200 and body == {"written": 2}
    status, body = _req(
        port,
        "/datasets/people/entities",
        body=[CONTEXT, _fixture_entity(3)],
        headers={
            "universal-data-api-full-sync-id": "sync-1",
            "universal-data-api-full-sync-end": "true",
        },
    )
    assert status == 200 and body == {"written": 1}

    # incremental upsert + tombstone (W11)
    status, body = _req(
        port,
        "/datasets/people/entities",
        body=[
            CONTEXT,
            {"id": "ex:things/2", "deleted": True},
            {"id": "ex:things/4", "props": {"ex:name": "jane"}, "refs": {}},
        ],
    )
    assert status == 200 and body == {"written": 2}

    # read back via paged entities (S9)
    status, body = _req(port, "/datasets/people/entities?limit=100")
    assert status == 200
    ents = {e["id"]: e for e in body if not e["id"].startswith("@")}
    assert set(ents) == {
        f"{NS}/things/1",
        f"{NS}/things/3",
        f"{NS}/things/4",
        f"{NS}/things/mimiro",  # reference-target stub
    }
    assert ents[f"{NS}/things/1"]["props"] == {"name": "brian", "age": "23"}
    assert ents[f"{NS}/things/1"]["refs"] == {"worksfor": [f"{NS}/things/mimiro"]}

    # paging: limit=2 returns a continuation token that resumes the scan
    status, page1 = _req(port, "/datasets/people/entities?limit=2")
    token = page1[-1]
    assert token["id"] == "@continuation"
    status, page2 = _req(port, f"/datasets/people/entities?limit=100&from={token['token']}")
    ids1 = {e["id"] for e in page1 if not e["id"].startswith("@")}
    ids2 = {e["id"] for e in page2 if not e["id"].startswith("@")}
    assert len(ids1) == 2 and ids1 | ids2 == set(ents) and not ids1 & ids2

    # change feed (S8): everything is an upsert relative to version 0
    status, body = _req(port, "/datasets/people/changes?since=0")
    assert status == 200
    changes = {e["id"] for e in body if not e["id"].startswith("@")}
    assert f"{NS}/things/4" in changes
    version = int([e for e in body if e["id"] == "@continuation"][0]["token"])
    assert version >= 1

    # ad-hoc query (S10)
    status, body = _req(
        port,
        "/query",
        body={"query": "MATCH (n:Person) WHERE n.name = 'jane' RETURN n.gid AS gid"},
    )
    assert status == 200
    assert body["columns"] == ["gid"]
    assert body["rows"] == [[f"{NS}/things/4"]]

    # parameterized read over the wire (read path must forward params)
    status, body = _req(
        port,
        "/query",
        body={
            "query": "MATCH (n:Person) WHERE n.name = $who RETURN n.gid AS gid",
            "params": {"who": "jane"},
        },
    )
    assert status == 200
    assert body["rows"] == [[f"{NS}/things/4"]]

    # error surface: unknown dataset -> 404, bad query body -> 400
    status, body = _req(port, "/datasets/nope/entities?limit=1")
    assert status == 404
    status, body = _req(port, "/query", body={"nope": 1})
    assert status == 400


@pytest.mark.parametrize(
    "entity",
    [
        {"id": "ex:x", "refs": {"ex:r": 42}},  # ref value not a URI
        {"props": {"ex:name": "no id"}},  # no id
        "ex:x",  # not an object
        {"id": "ex:x", "props": [1]},  # props not an object
        {"id": "ex:x", "refs": ["ex:y"]},  # refs not an object
        {"id": "ex:x", "refs": {"ex:r": ["ex:y", 3]}},  # non-URI list item
        {"id": "@context", "namespaces": ["ex"]},  # namespaces not an object
    ],
)
def test_malformed_entity_body_is_400_and_commits_nothing(service, entity):
    """A malformed entity is the client's error (400, not 500), and the
    batch is rejected whole: no version is published."""
    storage = service.layer._storage
    before = storage.current_version()
    status, body = _req(
        service.port, "/datasets/people/entities", body=[CONTEXT, _fixture_entity(1), entity]
    )
    assert status == 400, body
    assert storage.current_version() == before


@pytest.mark.parametrize(
    "path",
    [
        "/datasets/people/entities?limit=abc",
        "/datasets/people/entities?limit=0",
        "/datasets/people/entities?limit=-1",
        "/datasets/people/changes?since=abc",
    ],
)
def test_bad_read_parameters_are_400(service, path):
    """A read with a malformed parameter is the client's error: GET maps
    errors the same way POST does."""
    status, body = _req(service.port, path)
    assert status == 400, body
    assert "error" in body


def test_change_feed_carries_refs_and_tombstones(service):
    """The change feed serializes like the entity feed: an upsert carries
    its refs, a delete is a tombstone."""
    port = service.port
    _req(port, "/datasets/people/entities", body=[CONTEXT, _fixture_entity(1)])
    _, body = _req(port, "/datasets/people/changes?since=0")
    since = int(body[-1]["token"])
    status, _ = _req(
        port,
        "/datasets/people/entities",
        body=[CONTEXT, _fixture_entity(2), {"id": "ex:things/1", "deleted": True}],
    )
    assert status == 200
    status, body = _req(port, f"/datasets/people/changes?since={since}")
    assert status == 200
    ents = {e["id"]: e for e in body if not e["id"].startswith("@")}
    assert ents[f"{NS}/things/2"]["refs"] == {"worksfor": [f"{NS}/things/mimiro"]}
    assert "deleted" not in ents[f"{NS}/things/2"]
    assert ents[f"{NS}/things/1"]["deleted"] is True


def test_http_hot_reload_and_config_validation(spark, tmp_path):
    """S2 over the wire: editing the config file is visible on the next
    request; a malformed edit surfaces as a 400 (reference BadParameter,
    layer.go:80-102) while the previous registry keeps serving."""
    import os

    cfg_path = str(tmp_path / "config.json")
    with open(cfg_path, "w") as f:
        json.dump(CONFIG, f)
    layer = DataLayer.from_config_path(spark, cfg_path, storage_root=str(tmp_path / "s"))
    svc = UdaService(layer).start()
    try:
        port = svc.port
        status, body = _req(port, "/datasets")
        assert status == 200 and [d["name"] for d in body] == ["people"]

        # add a dataset on disk -> next request sees it (60s-poll analog)
        cfg2 = {
            "dataset_definitions": CONFIG["dataset_definitions"]
            + [{"name": "companies", "source_config": {"label": "Company"}}]
        }
        with open(cfg_path, "w") as f:
            json.dump(cfg2, f)
        os.utime(cfg_path, (1, 2_000_000_000))  # force a distinct mtime
        status, body = _req(port, "/datasets")
        assert status == 200 and sorted(d["name"] for d in body) == [
            "companies",
            "people",
        ]

        # malformed config: native_system_config missing 'endpoint'
        bad = {
            "native_system_config": {"system_type": "spark"},
            "dataset_definitions": [],
        }
        with open(cfg_path, "w") as f:
            json.dump(bad, f)
        os.utime(cfg_path, (1, 2_100_000_000))
        status, body = _req(port, "/datasets")
        assert status == 400
        assert "no endpoint specified" in body["error"]

        # the previous (valid) registry keeps serving once fixed
        with open(cfg_path, "w") as f:
            json.dump(cfg2, f)
        os.utime(cfg_path, (1, 2_200_000_000))
        status, body = _req(port, "/datasets")
        assert status == 200 and len(body) == 2
    finally:
        svc.stop()


def test_config_validation_messages(spark):
    """Missing native-system keys raise the reference's typed error, in
    reference order; a config without the section stays legal."""
    from opencypher_datalayer_spark.ingest import LayerConfigError

    layer = DataLayer(spark)
    base = {"system_type": "t", "endpoint": "e", "username": "u", "password": "p"}
    for key in ("system_type", "endpoint", "username", "password"):
        nsc = {k: v for k, v in base.items() if k != key}
        with pytest.raises(LayerConfigError, match=key.replace("_", " ")):
            layer.update_configuration({"native_system_config": nsc})
    with pytest.raises(LayerConfigError, match="name"):
        layer.update_configuration({"dataset_definitions": [{"source_config": {}}]})
    # full section present: accepted
    layer.update_configuration(
        {"native_system_config": base, "dataset_definitions": [{"name": "d"}]}
    )
    assert "d" in layer.datasets


def test_console_entrypoint_boots_from_config_folder(spark, tmp_path, monkeypatch):
    """VERDICT r12 next #7: ``python -m ...service_http`` parity with
    ``cmd/main.go:10-18`` — a config FOLDER location (argv or the
    DATALAYER_CONFIG_PATH env var) resolves to its ``config.json``, the
    listen port comes from ``layer_config.port``, and the booted
    service serves the S12 lifecycle (list datasets, stop)."""
    from opencypher_datalayer_spark import service_http as sh

    folder = tmp_path / "testconfig"
    folder.mkdir()
    cfg = {"layer_config": {"port": "0"}, **CONFIG}
    with open(folder / "config.json", "w") as f:
        json.dump(cfg, f)

    # argv wins; folder resolves to config.json inside
    assert sh.resolve_config_location([str(folder)]).endswith("config.json")
    # env fallback (cmd/main.go:11's documented alternative)
    monkeypatch.setenv("DATALAYER_CONFIG_PATH", str(folder))
    assert sh.resolve_config_location([]).endswith("config.json")
    monkeypatch.delenv("DATALAYER_CONFIG_PATH")
    with pytest.raises(SystemExit):
        sh.resolve_config_location([])

    monkeypatch.setenv("DATALAYER_STORAGE_ROOT", str(tmp_path / "s"))
    svc = sh.main([str(folder)], wait=False)
    try:
        status, body = _req(svc.port, "/datasets")
        assert status == 200 and [d["name"] for d in body] == ["people"]
        # hot-reload path still wired through the booted layer (S2)
        assert svc.layer._config_path.endswith("config.json")
    finally:
        svc.stop()
