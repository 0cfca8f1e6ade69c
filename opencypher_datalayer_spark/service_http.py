"""HTTP facade over :class:`DataLayer` — the UDA (Universal Data API)
wire surface the reference exposes through its service runner
(``cmd/main.go:17`` ``NewServiceRunner(...).StartAndWait()``; dataset
routing ``layer.go:123-143``, writers ``layer.go:196-215``).

Stdlib ``http.server`` only (no framework on this image); the server is
a thin protocol adapter — every request lands on the same ``DataLayer``
methods the library API exposes, so there is exactly one semantics.

Routes (UDA):

- ``GET  /datasets``                      — dataset listing (S4)
- ``POST /datasets/{name}/entities``      — entity batch write; full-sync
  signalled via the UDA headers ``universal-data-api-full-sync-start``,
  ``...-id``, ``...-end`` (W10/W11, ``layer.go:196-215``)
- ``GET  /datasets/{name}/entities``      — paged entity read (S9; the
  reference answers LayerNotSupported, ``layer.go:257-260``)
- ``GET  /datasets/{name}/changes``       — CDC feed (S8; reference:
  LayerNotSupported, ``layer.go:262-265``)
- ``POST /query``                         — ad-hoc openCypher (S10; the
  reference's stub, ``neo4j.go:289-291``)

Bodies are UDA entity arrays: a leading ``@context`` object carrying
namespace prefixes (expanded exactly like the reference's
``WithExpandURIs`` parser, ``layer.go:227-233``), entity objects
(``id``/``props``/``refs``/``deleted``), and an optional trailing
``@continuation``. Reads emit the same shape with a continuation token.
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from opencypher_datalayer_spark.functions.pushdown import isin_keys
from opencypher_datalayer_spark.ingest import BatchInfo, DataLayer
from opencypher_datalayer_spark.store import GraphStore

_FS_START = "universal-data-api-full-sync-start"
_FS_END = "universal-data-api-full-sync-end"
_FS_ID = "universal-data-api-full-sync-id"


def _expand(value: str, ns: dict[str, str]) -> str:
    """Prefix expansion per the body's @context: ``pfx:rest`` -> URI."""
    if ":" in value:
        pfx, rest = value.split(":", 1)
        if pfx in ns:
            return ns[pfx] + rest
    return value


def _check_entity(obj) -> None:
    """Reject a malformed entity with ``ValueError`` (a 400): an object
    with a string ``id``, object ``props`` and ``refs``, and ref values
    that are a string or a list of strings."""
    if not isinstance(obj, dict):
        raise ValueError(f"entity must be a JSON object, got {obj!r}")
    if not isinstance(obj.get("id"), str):
        raise ValueError(f"entity id must be a string, got {obj.get('id')!r}")
    for key in ("props", "refs"):
        if not isinstance(obj.get(key) or {}, dict):
            raise ValueError(f"entity {key} must be a JSON object, got {obj[key]!r}")
    for k, v in (obj.get("refs") or {}).items():
        if not (isinstance(v, str) or (isinstance(v, list) and all(isinstance(t, str) for t in v))):
            raise ValueError(f"invalid reference value for {k!r}: {v!r}")


def _parse_entity_body(body: list) -> list[dict]:
    ns: dict[str, str] = {}
    out = []
    for obj in body:
        _check_entity(obj)
        oid = obj["id"]
        if oid == "@context":
            ns = obj.get("namespaces", {}) or {}
            if not isinstance(ns, dict) or not all(isinstance(u, str) for u in ns.values()):
                raise ValueError(f"@context namespaces must map prefixes to URIs, got {ns!r}")
            continue
        if oid == "@continuation":
            continue
        ent = {
            "id": _expand(oid, ns),
            "deleted": bool(obj.get("deleted", False)),
            "props": {_expand(k, ns): v for k, v in (obj.get("props") or {}).items()},
            "refs": {
                _expand(k, ns): (
                    [_expand(t, ns) for t in v] if isinstance(v, list) else _expand(v, ns)
                )
                for k, v in (obj.get("refs") or {}).items()
            },
        }
        out.append(ent)
    return out


class UdaService:
    """Serve a :class:`DataLayer` over HTTP. ``port=0`` picks a free port
    (it is then available as ``self.port``)."""

    def __init__(self, layer: DataLayer, host: str = "127.0.0.1", port: int = 0):
        self.layer = layer
        service = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, fmt, *args):  # quiet
                pass

            def _json(self, code: int, payload) -> None:
                data = json.dumps(payload).encode()
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(data)))
                self.end_headers()
                self.wfile.write(data)

            def _error(self, code: int, msg: str) -> None:
                self._json(code, {"error": msg})

            def _serve(self, route) -> None:
                """One error mapping for every method: a bad config or
                request is the client's error (400), an unknown dataset
                or route a 404, anything else a 500."""
                try:
                    service._refresh_config()
                    route(self)
                except KeyError as e:
                    self._error(404, str(e))
                except ValueError as e:  # LayerConfigError, JSONDecodeError
                    self._error(400, str(e))
                except Exception as e:  # pragma: no cover - defensive
                    self._error(500, f"{type(e).__name__}: {e}")

            def do_GET(self):  # noqa: N802 (http.server API)
                self._serve(service._get)

            def do_POST(self):  # noqa: N802
                self._serve(service._post)

        self._server = ThreadingHTTPServer((host, port), Handler)
        self.host = host
        self.port = self._server.server_address[1]
        self._thread: threading.Thread | None = None

    # -- lifecycle ------------------------------------------------------

    def start(self) -> "UdaService":
        self._thread = threading.Thread(target=self._server.serve_forever, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self._server.shutdown()
        self._server.server_close()
        if self._thread:
            self._thread.join(timeout=5)

    # -- request handling ----------------------------------------------

    def _refresh_config(self) -> None:
        """Hot reload (S2) through the wire surface: every request checks
        the config file's mtime, matching the reference framework's
        ``config_refresh_interval`` polling (``testconfig/config.json:7``).
        A config that fails validation leaves the previous registry in
        effect, surfaces as a 400 on this request, and is retried on the
        next one (the mtime is only recorded after a successful load)."""
        self.layer.maybe_reload_config()

    def _get(self, h: BaseHTTPRequestHandler) -> None:
        url = urlparse(h.path)
        parts = [p for p in url.path.split("/") if p]
        q = {k: v[0] for k, v in parse_qs(url.query).items()}

        if parts == ["datasets"]:
            h._json(200, self.layer.dataset_descriptions())
            return
        if len(parts) == 3 and parts[0] == "datasets" and parts[2] == "entities":
            self.layer.dataset(parts[1])  # 404 on unknown dataset
            limit = int(q.get("limit", "100"))
            if limit < 1:
                raise ValueError(f"limit must be at least 1, got {limit}")
            snap = self.layer._snapshot()
            rows = self.layer.entities(q.get("from", ""), limit, snap).collect()
            ents = self._to_uda([r.asDict() for r in rows], snap[1])
            token = rows[-1]["gid"] if len(rows) == limit else ""
            body = [{"id": "@context", "namespaces": {}}, *ents]
            if token:
                body.append({"id": "@continuation", "token": token})
            h._json(200, body)
            return
        if len(parts) == 3 and parts[0] == "datasets" and parts[2] == "changes":
            self.layer.dataset(parts[1])
            snap = self.layer._snapshot()
            feed, version = self.layer.changes(int(q.get("since", "0")), snap)
            ents = self._to_uda([r.asDict() for r in feed.collect()], snap[1])
            h._json(
                200,
                [
                    {"id": "@context", "namespaces": {}},
                    *ents,
                    {"id": "@continuation", "token": str(version)},
                ],
            )
            return
        raise KeyError(f"no route {url.path}")

    def _post(self, h: BaseHTTPRequestHandler) -> None:
        url = urlparse(h.path)
        parts = [p for p in url.path.split("/") if p]
        length = int(h.headers.get("Content-Length", "0"))
        body = json.loads(h.rfile.read(length) or b"null")

        if len(parts) == 3 and parts[0] == "datasets" and parts[2] == "entities":
            ds = self.layer.dataset(parts[1])
            if not isinstance(body, list):
                raise ValueError("entity body must be a JSON array")
            ents = _parse_entity_body(body)
            sync_id = h.headers.get(_FS_ID, "")
            if sync_id or h.headers.get(_FS_START) == "true":
                info = BatchInfo(
                    sync_id=sync_id,
                    is_start_batch=h.headers.get(_FS_START) == "true",
                    is_last_batch=h.headers.get(_FS_END) == "true",
                )
                writer = ds.full_sync(info)
            else:
                writer = ds.incremental()
            for e in ents:
                writer.write(e)
            writer.close()
            h._json(200, {"written": len(ents)})
            return
        if parts == ["query"]:
            if not isinstance(body, dict) or "query" not in body:
                raise ValueError('body must be {"query": ..., "params": {...}}')
            df = self.layer.query(body["query"], body.get("params"))
            if df is None:  # write statement
                h._json(200, {"columns": [], "rows": []})
                return
            rows = [list(r) for r in df.collect()]
            h._json(200, {"columns": df.columns, "rows": rows})
            return
        raise KeyError(f"no route {url.path}")

    # -- serialization --------------------------------------------------

    def _to_uda(self, node_rows: list[dict], store: GraphStore) -> list[dict]:
        """Node envelope rows (entity pages and change-feed rows) -> UDA
        entity objects, with refs reconstructed from the edges of
        ``store`` -- the snapshot the rows were read from, so rows and
        refs are of one version -- for just the listed gids: one
        ``functions.pushdown.isin_keys`` filter on ``src``, never a full
        edge scan. A change row whose ``change_type`` is ``delete``
        becomes a tombstone (its refs are gone at that version)."""
        gids = [d["gid"] for d in node_rows]
        refs: dict[str, dict[str, list[str]]] = {g: {} for g in gids}
        if gids:
            edges = store.edges.where(isin_keys("src", gids)).collect()
            for e in edges:
                refs[e["src"]].setdefault(e["rel_type"], []).append(e["dst"])
        out = []
        for d in node_rows:
            e = {
                "id": d["gid"],
                "props": dict(d["props"] or {}),
                "refs": {k: sorted(v) for k, v in sorted(refs[d["gid"]].items())},
            }
            if d.get("change_type") == "delete":
                e["deleted"] = True
            out.append(e)
        return out


# -- console entrypoint (cmd/main.go parity) -----------------------------


def resolve_config_location(argv: list[str] | None = None) -> str:
    """The reference's config resolution, ``cmd/main.go:10-18``: the
    first command argument wins, else the ``DATALAYER_CONFIG_PATH``
    environment variable. A FOLDER location (the reference's service
    runner convention — ``testconfig/`` holds ``config.json``) resolves
    to the ``config.json`` inside it; a file path is used as-is."""
    import os
    import sys

    args = sys.argv[1:] if argv is None else argv
    loc = args[0] if args else os.environ.get("DATALAYER_CONFIG_PATH", "")
    if not loc:
        raise SystemExit(
            "usage: python -m opencypher_datalayer_spark.service_http"
            " <config-folder-or-file>  (or set DATALAYER_CONFIG_PATH)"
        )
    if os.path.isdir(loc):
        loc = os.path.join(loc, "config.json")
    return loc


def main(argv: list[str] | None = None, wait: bool = True) -> "UdaService":
    """Boot the HTTP facade standalone — the ``StartAndWait`` analog of
    the reference's ``cdl.NewServiceRunner(...).StartAndWait()``. The
    listen port comes from the config's ``layer_config.port`` (the
    reference's service-runner key; 0 = pick a free port), overridable
    via ``DATALAYER_PORT``; ``DATALAYER_STORAGE_ROOT`` is the storage
    root (unset = a temporary root, removed at exit). With
    ``wait=False`` returns the started service (tests drive it this
    way)."""
    import json as _json
    import os
    import threading as _threading

    from opencypher_datalayer_spark.session import get_spark

    cfg_path = resolve_config_location(argv)
    with open(cfg_path) as f:
        port_s = (_json.load(f).get("layer_config") or {}).get("port", "0")
    port = int(os.environ.get("DATALAYER_PORT", port_s))
    spark = get_spark(app_name="opencypher_datalayer_uda")
    layer = DataLayer.from_config_path(
        spark, cfg_path, storage_root=os.environ.get("DATALAYER_STORAGE_ROOT") or None
    )
    svc = UdaService(layer, host=os.environ.get("DATALAYER_HOST", "127.0.0.1"), port=port)
    svc.start()
    print(f"UDA service listening on {svc.host}:{svc.port}", flush=True)
    if wait:
        try:
            _threading.Event().wait()
        except KeyboardInterrupt:
            pass
        finally:
            svc.stop()
    return svc


if __name__ == "__main__":
    main()
