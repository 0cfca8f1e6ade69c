"""UDA service surface: datasets, full-sync / incremental writers, config.

Mirrors the reference's service layer (``layer.go``) without the HTTP
transport: named datasets with per-dataset ``label`` and ``batch_size``
(``layer.go:145-163``), a buffering writer that flushes every
``batch_size`` entities (W1, ``layer.go:227-238``) and on close (W2),
full-sync wipe on the start batch (W10, ``layer.go:196-209``), and pure
upsert for incremental (W11).

Read-side methods the reference declares but answers with
``LayerNotSupported`` (``layer.go:257-265``) are implemented natively
here: ``changes`` (S8) and ``entities`` (S9) — this engine owns its
storage, so reading back is a scan, not a federation problem.
"""

from __future__ import annotations

import atexit
import json
import os
import shutil
import tempfile
import threading
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from opencypher_datalayer_spark.functions.localframe import local_df
from opencypher_datalayer_spark.model import ENTITY_SCHEMA, normalize_entity
from opencypher_datalayer_spark.storage import open_storage
from opencypher_datalayer_spark.store import GraphStore


class LayerConfigError(ValueError):
    """Typed bad-parameter config error — the analog of the reference's
    ``cdl.Err(..., cdl.LayerErrorBadParameter)`` returns from
    ``UpdateConfiguration`` (``layer.go:80-102``)."""


@dataclass(frozen=True)
class BatchInfo:
    """Full-sync batch metadata (reference ``layer.go:196-209``)."""

    sync_id: str = ""
    is_start_batch: bool = False
    is_last_batch: bool = False


@dataclass
class DatasetConfig:
    name: str
    label: str
    batch_size: int = 1000


class DatasetWriter:
    """Buffers entities and applies them in micro-batches (W1/W2).

    One flush == one batch applied atomically == the reference's
    per-batch transaction: one published version. A start batch's wipe
    is published with the first flush, or alone at ``close`` if there
    was nothing to flush.
    """

    def __init__(self, layer: "DataLayer", dataset: DatasetConfig, wipe: bool = False):
        self._layer = layer
        self._ds = dataset
        self._buffer: list[dict] = []
        self._seq = 0
        self._wipe_pending = wipe

    def write(self, entity: dict) -> None:
        row = normalize_entity(entity)
        row["_seq"] = self._seq
        self._seq += 1
        self._buffer.append(row)
        if len(self._buffer) >= self._ds.batch_size:
            self._flush()

    def close(self) -> None:
        if self._buffer:
            self._flush()
        elif self._wipe_pending:
            self._layer._wipe(self._ds)
            self._wipe_pending = False

    def _flush(self) -> None:
        batch = local_df(self._layer.spark, self._buffer, ENTITY_SCHEMA)
        self._buffer = []
        self._layer._apply(batch, self._ds, wipe=self._wipe_pending)
        self._wipe_pending = False


class Dataset:
    """UDA dataset facade over the shared graph store (S3/S5-S7)."""

    def __init__(self, layer: "DataLayer", config: DatasetConfig):
        self._layer = layer
        self.config = config

    @property
    def name(self) -> str:
        return self.config.name

    def full_sync(self, batch_info: BatchInfo) -> DatasetWriter:
        """Wipe (label, source) on the start batch, then write (W10).

        Unlike the reference, the wipe is published in one version with
        the writer's first flush, so readers never observe the emptied
        intermediate state.
        """
        return DatasetWriter(self._layer, self.config, wipe=batch_info.is_start_batch)

    def incremental(self) -> DatasetWriter:
        """Pure upsert stream, no wipe (W11)."""
        return DatasetWriter(self._layer, self.config)


class DataLayer:
    """Engine session + dataset registry (S1-S4).

    Every flush is a durable atomic commit to versioned storage at
    ``storage_root``; ``storage_root=None`` opens a private temporary
    root, removed at interpreter exit, with the same semantics.

    The layer keeps no graph of its own, only a cache of the newest
    snapshot it has loaded, and follows one rule for reads and one for
    writes (the reference's per-statement Neo4j
    transaction against committed state, ``neo4j.go:238-284``):

    - every request reads one pinned snapshot: ``_snapshot()`` resolves
      the current version once and serves rows, refs and change tokens
      from that version only, so a second layer's (or process's)
      commits are visible on the next request;
    - every write is derived from the version it publishes on: a batch
      is a ``merge_commit`` (a ``wipe_merge_commit`` for a full sync's
      first), and an empty start batch's wipe or a Cypher write is a
      ``rewrite`` of the base version, so a concurrent writer's commit
      is never overwritten.
    """

    def __init__(
        self,
        spark: SparkSession,
        config: dict | None = None,
        storage_root: str | None = None,
    ):
        self.spark = spark
        self.datasets: dict[str, DatasetConfig] = {}
        if not storage_root:
            storage_root = tempfile.mkdtemp(prefix="datalayer-")
            atexit.register(shutil.rmtree, storage_root, True)
        self._storage = open_storage(storage_root)
        # the newest loaded snapshot and its version, replaced only by
        # ``_snapshot`` (version 0 is empty)
        self._version, self._store = 0, GraphStore.empty(spark)
        self._lock = threading.Lock()
        self._config_path: str | None = None
        self._config_mtime: float = 0.0
        if config:
            self.update_configuration(config)

    # -- config (S2) ---------------------------------------------------

    @classmethod
    def from_config_path(cls, spark: SparkSession, path: str, **kw) -> "DataLayer":
        with open(path) as f:
            layer = cls(spark, json.load(f), **kw)
        layer._config_path = path
        layer._config_mtime = os.path.getmtime(path)
        return layer

    def maybe_reload_config(self) -> bool:
        """Hot reload (S2): re-read the config file if it changed on
        disk (the framework around the reference polls on a
        ``config_refresh_interval`` timer — callers do the same and
        invoke this). Returns True if the registry was refreshed."""
        if not self._config_path:
            return False
        mtime = os.path.getmtime(self._config_path)
        if mtime == self._config_mtime:
            return False
        with open(self._config_path) as f:
            self.update_configuration(json.load(f))
        self._config_mtime = mtime
        return True

    def update_configuration(self, config: dict) -> None:
        """Load/refresh the dataset registry from a UDA-shaped config
        (same JSON shape as the reference's ``testconfig/config.json``).

        Validation mirrors ``layer.go:80-102``: when the config carries a
        ``native_system_config`` section, each of ``system_type`` /
        ``endpoint`` / ``username`` / ``password`` must be present —
        missing keys raise :class:`LayerConfigError` with the reference's
        message, and the previous registry stays in effect. A config
        without the section is the library-embedded mode (this engine IS
        the native system) and needs no connection details."""
        if not isinstance(config, dict):
            raise LayerConfigError("config must be a JSON object")
        nsc = config.get("native_system_config")
        if nsc is not None:
            if not isinstance(nsc, dict):
                raise LayerConfigError("native_system_config must be an object")
            for key in ("system_type", "endpoint", "username", "password"):
                if nsc.get(key) is None:
                    raise LayerConfigError(
                        f"no {key.replace('_', ' ')} specified in native system config"
                    )
        defs = config.get("dataset_definitions", [])
        registry: dict[str, DatasetConfig] = {}
        for d in defs:
            if not isinstance(d, dict) or "name" not in d:
                raise LayerConfigError("dataset definition missing 'name'")
            sc = d.get("source_config", {})
            registry[d["name"]] = DatasetConfig(
                name=d["name"],
                label=sc.get("label", d["name"]),
                batch_size=int(sc.get("batch_size", 1000)),
            )
        self.datasets = registry

    # -- registry (S3/S4) ----------------------------------------------

    def dataset(self, name: str) -> Dataset:
        if name not in self.datasets:
            raise KeyError(f"dataset {name!r} not found")
        return Dataset(self, self.datasets[name])

    def dataset_descriptions(self) -> list[dict]:
        return [{"name": d.name, "label": d.label} for d in self.datasets.values()]

    # -- the version rule: one read route, one write route ---------------

    @property
    def store(self) -> GraphStore:
        """The snapshot a request made now reads (``_snapshot``)."""
        return self._snapshot()[1]

    def _snapshot(self) -> tuple[int, GraphStore]:
        """The one place a request's version is chosen: the current
        version and its snapshot. The version is resolved on every call
        (one pointer read); a snapshot never changes once written, so
        the newest loaded one is cached with no invalidation. Resolving
        under the lock keeps the cached version no newer than the
        resolved one, and no version is loaded twice."""
        with self._lock:
            v = self._storage.current_version()
            if v != self._version:
                self._version, self._store = v, self._storage.load_version(self.spark, v)
            return v, self._store

    def _rewrite(self, fn: Callable[[GraphStore], GraphStore]) -> None:
        """The one write route for a whole-graph change (an empty start
        batch's wipe, a Cypher write): publish ``fn(base)`` derived from
        the version it publishes on (``storage.rewrite``), then refresh
        the cache."""
        self._storage.rewrite(self.spark, fn)
        self._snapshot()

    def _apply(self, batch: DataFrame, ds: DatasetConfig, wipe: bool = False) -> None:
        """Publish one batch as a pruned MERGE; ``wipe`` (a full sync's
        first flush) publishes the dataset's wipe in the same version."""
        commit = self._storage.wipe_merge_commit if wipe else self._storage.merge_commit
        commit(self.spark, batch, ds.label, ds.name)
        self._snapshot()

    def _wipe(self, ds: DatasetConfig) -> None:
        self._rewrite(lambda store: store.delete_all(ds.label, ds.name))

    # -- ad-hoc query (S10 — the reference's stub, neo4j.go:289-291) ----

    def query(self, statement: str, params: dict | None = None):
        """Run an openCypher statement. A read plans on the request's
        snapshot and returns a DataFrame; a write statement (the
        UNWIND/MERGE/SET/DELETE surface) is planned on the version it
        publishes on (``_rewrite``), so a statement that fails to plan
        publishes nothing, and returns None."""
        from opencypher_datalayer_spark import plans

        if self._is_read(statement):
            return plans.run_cypher(self.store, statement, params)
        self._rewrite(lambda store: plans.run_cypher_write(store, statement, params))
        return None

    def explain(self, statement: str, params: dict | None = None, mode: str = "formatted") -> str:
        """The physical plan a statement would execute, as a string —
        the public form of the plan audits ``tests/test_plan_audit.py``
        runs (verify broadcast shapes, pushed filters, pruned read
        schemas before paying for a query). Read statements explain the
        result DataFrame; write statements explain the post-write node
        frame WITHOUT committing anything. ``mode`` is any
        ``DataFrame.explain`` mode (``formatted`` shows exchange and
        join strategies; ``cost`` adds Catalyst's size estimates)."""
        import io
        from contextlib import redirect_stdout

        from opencypher_datalayer_spark import plans

        if self._is_read(statement):
            df = plans.run_cypher(self.store, statement, params)
        else:
            df = plans.run_cypher_write(self.store, statement, params).nodes
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain(mode)
        return buf.getvalue()

    @staticmethod
    def _is_read(statement: str) -> bool:
        """A read has a RETURN; anything else is a write. The planners
        and ``cypher.tokenize`` are looked up at call time, so a wrapped
        ``plans.run_cypher`` or ``cypher.tokenize`` is the one that
        runs."""
        from opencypher_datalayer_spark.plans import cypher

        return any(t.kind == "kw" and t.value == "return" for t in cypher.tokenize(statement))

    # -- read side (S8/S9 — unsupported in the reference) --------------

    def entities(
        self, from_gid: str = "", limit: int = 100, snapshot: tuple[int, GraphStore] | None = None
    ) -> DataFrame:
        """Paged node scan ordered by gid; ``from_gid`` is the page token.
        ``snapshot`` is a ``_snapshot()`` the caller already pinned (the
        HTTP feed rebuilds refs from the same one)."""
        nodes = (snapshot or self._snapshot())[1].nodes
        if from_gid:
            nodes = nodes.where(F.col("gid") > from_gid)
        return nodes.orderBy("gid").limit(limit)

    def get_entities(self, gids: list[str]) -> DataFrame:
        """Point lookup by gid: reads only the data files of the pinned
        version whose footer min/max range admits one of the keys
        (``storage.lookup_nodes`` — the gid-index analog,
        neo4j.go:21)."""
        return self._storage.lookup_nodes(self.spark, gids, self._snapshot()[0])

    def changes(
        self, since: int = 0, snapshot: tuple[int, GraphStore] | None = None
    ) -> tuple[DataFrame, int]:
        """Change-data feed between snapshot versions (S8 — the
        reference answers LayerNotSupported; with versioned storage this
        is a real CDC diff). Returns (changes, version): the diff of
        exactly version ``since`` against the pinned version, which is
        also the token for the next poll, so the token is never ahead of
        the rows. ``snapshot`` is a ``_snapshot()`` the caller already
        pinned.

        Change rows are the node envelope plus ``change_type``:
        ``upsert`` (new since ``since``, or with a changed label set,
        source, props or outgoing refs) or ``delete`` (present at
        ``since``, gone now). ``since`` 0 (the empty version) makes every
        row an upsert.
        """
        version, store = snapshot or self._snapshot()
        nodes = store.nodes
        upsert = F.lit("upsert").alias("change_type")
        if since <= 0:
            return nodes.select("*", upsert), version
        if since >= version:
            return nodes.limit(0).select("*", upsert), version
        old = self._storage.load_version(self.spark, since)
        # set-diff via canonical row fingerprint (exceptAll can't handle
        # MapType columns; sorted map entries make the hash stable)
        fp = F.md5(
            F.to_json(
                F.struct(
                    "label",
                    F.expr("array_sort(labels)").alias("ls"),
                    "source",
                    F.expr("array_sort(map_entries(props))").alias("p"),
                )
            )
        )
        changed = nodes.select("gid", fp.alias("_fp")).join(
            old.nodes.select("gid", fp.alias("_fp")), ["gid", "_fp"], "left_anti"
        )
        # refs live on the edge rows: a src whose outgoing edge set
        # differs either way changed too (edges hold no map column, so a
        # plain anti-join compares them)
        key = ["src", "rel_type", "dst"]
        new_e, old_e = store.edges.select(key), old.edges.select(key)
        rewired = new_e.join(old_e, key, "left_anti").unionByName(
            old_e.join(new_e, key, "left_anti")
        )
        upserted = nodes.join(
            changed.select("gid").unionByName(rewired.select(F.col("src").alias("gid"))),
            "gid",
            "left_semi",
        )
        deleted = old.nodes.join(nodes.select("gid"), "gid", "left_anti")
        return (
            upserted.select("*", upsert).unionByName(
                deleted.select("*", F.lit("delete").alias("change_type"))
            ),
            version,
        )
