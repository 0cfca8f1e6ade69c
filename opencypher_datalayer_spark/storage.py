"""Durable storage for the graph: versioned parquet snapshots published
through an append-only transaction log -- a minimal table format.

The reference got atomicity from Neo4j's per-batch transaction
(``neo4j.go:238-284``) and full-sync wipes were *not* atomic across the
sync (readers between wipe and load saw an empty dataset — SURVEY §3.3).
Here every commit is a new immutable data directory plus one
put-if-absent log entry, so readers always see a complete snapshot, and
a full sync's wipe is published with its first batch
(``wipe_merge_commit``) — same semantics, visibility gap fixed.

On a cluster this role is played by Delta/Iceberg (not on this image);
the interface is kept small so a Delta-backed implementation can drop in.

Layout::

    root/
      d-<uuid>/nodes/*.parquet   # one immutable data dir per snapshot
      d-<uuid>/edges/*.parquet
      d-<uuid>/MANIFEST.json
      _log/00000001.json         # {"version": 1, "dir": "d-<uuid>"}
      _log/00000002.json         # current version = highest log entry
      COMMIT.lock                # O_EXCL writer claim, present only during a commit

A snapshot is written by one of two builders -- a full snapshot
(``_write_snapshot``) or a pruned MERGE on a base version
(``_write_merge``) -- into a fresh data directory, and ``_publish_build``
makes it the next version. The log format (``_log_slots``,
``_log_entry_dir``, ``_log_put``) is shared with
``operators/artifacts.py``.

Writes are partitioned by ``label`` (nodes) / ``rel_type`` (edges) so
label scans and per-type edge reads partition-prune (the analog of the
reference's per-label gid index, ``neo4j.go:21``).
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time
import uuid
from typing import Callable

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

from opencypher_datalayer_spark.functions.pushdown import isin_keys
from opencypher_datalayer_spark.model import EDGES_SCHEMA, NODES_SCHEMA
from opencypher_datalayer_spark.store import CollectedBatch, GraphStore, labels_expr

_MANIFEST = "MANIFEST.json"
_LOCK = "COMMIT.lock"
_LOG = "_log"

# Key column used for file-skipping stats per table (the reference's only
# index is on ``gid`` — ``neo4j.go:21``; edges are looked up by src gid in
# the edge-clear / expand paths). Edges additionally record ``dst`` stats
# so tombstone DETACH (which removes edges incident in EITHER direction)
# can prune too.
_STATS_KEY = {"nodes": "gid", "edges": "src"}
_EXTRA_STATS = {"edges": ["dst"]}


# -- file protocol shared with operators/artifacts.py ------------------


def _replace_file(path: str, text: str) -> None:
    """Write ``text`` to a temp file beside ``path`` and ``os.replace`` it
    over ``path``: readers see the old content or the new, never a part."""
    tmp = os.path.join(os.path.dirname(path), f".tmp-{uuid.uuid4().hex}")
    with open(tmp, "w") as f:
        f.write(text)
    os.replace(tmp, path)


def _put_if_absent(path: str, text: str) -> bool:
    """Create ``path`` holding ``text`` only if it does not exist yet; True
    iff this call created it. The NFS-safe hard-link protocol (open(2)
    NOTES): write a unique temp file, ``link()`` it to the target and
    trust ``st_nlink == 2`` -- correct even when the link RPC's reply is
    lost and retried. A link that failed and did not land while the
    target is still absent (EPERM on a filesystem without hard links)
    raises: it is no lost race, and retrying would never end. On object
    storage the same step is a conditional put (If-None-Match)."""
    tmp = os.path.join(os.path.dirname(path), f".tmp-{uuid.uuid4().hex}")
    with open(tmp, "w") as f:
        f.write(text)
    try:
        try:
            os.link(tmp, path)
            return True
        except FileExistsError:
            return False
        except OSError:
            # NFS: the link may have succeeded even though the retried
            # RPC reported an error -- nlink is the truth
            if os.stat(tmp).st_nlink == 2:
                return True
            if not os.path.exists(path):
                raise
            return False
    finally:
        os.unlink(tmp)


# The transaction log: version N is published by putting
# ``_log/{N:08d}.json`` = {"version": N, "dir": <data dir name>} with
# ``_put_if_absent``, so a taken slot is a lost race and the current
# version is the highest slot. Both stores publish through these three.


def _log_path(log_dir: str, v: int) -> str:
    return os.path.join(log_dir, f"{v:08d}.json")


def _log_slots(log_dir: str) -> list[int]:
    """The log's versions in ascending order (none if the log is absent)."""
    try:
        names = os.listdir(log_dir)
    except FileNotFoundError:
        return []
    return sorted(int(n[:-5]) for n in names if n.endswith(".json") and n[:-5].isdigit())


def _log_entry_dir(log_dir: str, v: int) -> str | None:
    """The data directory name version ``v`` records, or None if the
    slot is empty or unreadable."""
    try:
        with open(_log_path(log_dir, v)) as f:
            return json.load(f)["dir"]
    except (OSError, ValueError, KeyError):
        return None


def _log_put(log_dir: str, v: int, dirname: str) -> bool:
    """Publish ``dirname`` as version ``v``; True iff this call won the slot."""
    return _put_if_absent(_log_path(log_dir, v), json.dumps({"version": v, "dir": dirname}))


# An unpublished data dir younger than this may be a live writer's build
# in progress, so orphan collection leaves it alone.
ORPHAN_MIN_AGE_S = 3600.0


def _aged(path: str, min_age_s: float) -> bool:
    """True when ``path`` is a directory last modified ``min_age_s`` ago
    or earlier."""
    try:
        return os.path.isdir(path) and time.time() - os.stat(path).st_mtime >= min_age_s
    except OSError:
        return False


def _link_or_copy(src: str, dst: str) -> None:
    """Hard-link an immutable data file into a new snapshot (zero data
    movement); plain copy when the paths sit on different filesystems."""
    try:
        os.link(src, dst)
    except OSError:
        shutil.copy2(src, dst)


def _file_key_stats(path: str, keys: list[str]) -> tuple[dict[str, tuple], int]:
    """Min/max of each ``keys`` column across a parquet file's row groups,
    from the footer only (no data pages read — driver-side, O(files) not
    O(rows)). Returns {key: (min, max)} and the row count."""
    md = pq.ParquetFile(path).metadata
    stats: dict[str, tuple] = {k: (None, None) for k in keys}
    for g in range(md.num_row_groups):
        rg = md.row_group(g)
        for c in range(rg.num_columns):
            col = rg.column(c)
            if col.path_in_schema not in stats:
                continue
            s = col.statistics
            if s is None or not s.has_min_max:
                continue
            lo, hi = s.min, s.max
            if isinstance(lo, bytes):
                lo = lo.decode("utf-8", "replace")
            if isinstance(hi, bytes):
                hi = hi.decode("utf-8", "replace")
            mn, mx = stats[col.path_in_schema]
            stats[col.path_in_schema] = (
                lo if mn is None else min(mn, lo),
                hi if mx is None else max(mx, hi),
            )
    return stats, md.num_rows


def _admits(lo, hi, values: list[str]) -> bool:
    """Could a file whose key range is [lo, hi] hold one of ``values``? A
    range without footer stats admits everything (never unsound)."""
    return lo is None or hi is None or any(lo <= v <= hi for v in values)


def _prune(entries: list[dict], values: list[str]) -> list[dict]:
    """Keep the non-empty manifest entries whose key range admits any of
    ``values``."""
    return [e for e in entries if e["rows"] and _admits(e["min"], e["max"], values)]


def _prune_edge_files(
    entries: list[dict], src_keys: list[str], dst_keys: list[str]
) -> list[dict]:
    """Edge files that may hold an edge affected by the batch: src range
    admits a batch id (edge clear / detach / re-add) OR dst range admits a
    tombstoned id (detach removes edges in either direction). Files
    without stats for a needed side are kept — pruning must never skip a
    file that could contain an affected row."""
    return [
        e
        for e in entries
        if e["rows"]
        and (
            (src_keys and _admits(e["min"], e["max"], src_keys))
            or (dst_keys and _admits(e.get("dst_min"), e.get("dst_max"), dst_keys))
        )
    ]


def _read_table(
    spark: SparkSession, vdir: str, table: str, files: list[str] | None = None
) -> DataFrame:
    """Read one table of the snapshot in ``vdir``: all of it, or only
    ``files`` (paths relative to ``vdir``, as the manifest records them;
    an empty list reads nothing). The schema is explicit: an empty
    snapshot has no data files to infer from, and partition columns must
    come back string-typed and in declared column order. Node rows get
    their label set through ``labels_expr``, so snapshots written before
    the multi-label column read back as single-label."""
    schema = NODES_SCHEMA if table == "nodes" else EDGES_SCHEMA
    tdir = os.path.join(vdir, table)
    if files == []:
        df = spark.createDataFrame([], schema)
    else:
        paths = [tdir] if files is None else [os.path.join(vdir, f) for f in files]
        df = spark.read.schema(schema).option("basePath", tdir).parquet(*paths)
    if table == "nodes":
        return df.select("gid", "label", labels_expr(df).alias("labels"), "source", "props")
    return df.select("src", "rel_type", "dst", "source")


class ParquetGraphStorage:
    """The graph's versioned snapshots under ``root``: immutable
    ``d-<uuid>`` data directories, each published as one version of the
    ``_log`` (layout in the module docstring). Readers resolve the
    current version with one listing of the log and never block."""

    def __init__(self, root: str):
        self.root = root
        self._log = os.path.join(root, _LOG)
        os.makedirs(self._log, exist_ok=True)
        self._dir_cache: dict[int, str] = {}

    # -- versions ------------------------------------------------------

    def current_version(self) -> int:
        return max(_log_slots(self._log), default=0)

    def _version_dir(self, version: int) -> str:
        if version in self._dir_cache:
            return self._dir_cache[version]
        name = _log_entry_dir(self._log, version)
        if name is None:
            # unknown version: a path that cannot exist, so callers'
            # isdir/open probes fail
            return os.path.join(self.root, f"_missing-v{version}")
        vdir = self._dir_cache[version] = os.path.join(self.root, name)
        return vdir

    # -- writer serialization ------------------------------------------

    # The reference inherits per-batch transactions from Neo4j
    # (neo4j.go:238-284). Here the log's put-if-absent alone keeps
    # versions linear: a writer that loses slot base+1 rebuilds on the
    # winner's snapshot, so both batches survive. Writers on one host
    # also take an O_EXCL lock-file claim around the whole build and
    # publish, so they queue instead of building twice and throwing one
    # build away. A writer that dies mid-commit leaves a claim that is
    # broken after ``stale_after`` (the claim records pid + wall time).
    # O_EXCL is not reliable on NFS, so writers on other hosts are
    # ordered by the log only.

    def _acquire_commit_lock(self, timeout: float = 300.0, stale_after: float = 600.0) -> None:
        path = os.path.join(self.root, _LOCK)
        deadline = time.monotonic() + timeout
        while True:
            try:
                fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                with os.fdopen(fd, "w") as f:
                    json.dump({"pid": os.getpid(), "ts": time.time()}, f)
                return
            except FileExistsError:
                try:
                    with open(path) as f:
                        held = json.load(f)
                    if time.time() - held.get("ts", 0) > stale_after:
                        os.unlink(path)  # break a dead writer's claim
                        continue
                except (OSError, ValueError):
                    pass  # holder mid-write or already released; retry
                if time.monotonic() > deadline:
                    raise TimeoutError(
                        f"commit lock at {path} not acquired within {timeout}s"
                    )
                time.sleep(0.05)

    def _release_commit_lock(self) -> None:
        try:
            os.unlink(os.path.join(self.root, _LOCK))
        except FileNotFoundError:
            pass

    # -- IO ------------------------------------------------------------

    def load(self, spark: SparkSession) -> GraphStore:
        return self.load_version(spark, self.current_version())

    def load_version(self, spark: SparkSession, v: int) -> GraphStore:
        """Load a specific retained snapshot version (time travel — the
        basis of the change feed's version diff)."""
        if v == 0:
            return GraphStore.empty(spark)
        vdir = self._version_dir(v)
        if not os.path.isdir(vdir):
            raise ValueError(f"version {v} not found (vacuumed?)")
        return GraphStore(_read_table(spark, vdir, "nodes"), _read_table(spark, vdir, "edges"))

    def commit(self, store: GraphStore, cluster_buckets: int | None = None) -> int:
        """Write ``store`` as a new snapshot version and publish it.

        ``cluster_buckets``: range-partition each table on its key column
        (nodes by ``gid``, edges by ``src``) before writing, so each data
        file covers a narrow, disjoint key range and the footer min/max
        stats recorded in MANIFEST.json actually prune (the Z-order /
        ``OPTIMIZE`` analog for a single key — reference's gid index,
        ``neo4j.go:21``). Costs one extra shuffle + range-sampling job per
        commit, so it's opt-in: the frequent small commits of the sync
        service skip it; periodic compaction / analytic snapshots enable it.
        Footer stats are collected either way (cheap, driver-side).

        The snapshot is built by the caller and ignores its base
        version, so it replaces the table (last writer wins): it is for
        bulk loads. Every write ``DataLayer`` makes is derived from its
        base instead (``merge_commit``, ``wipe_merge_commit``,
        ``rewrite``).
        """
        return self._publish_build(
            lambda _base, vdir: self._write_snapshot(vdir, store, cluster_buckets)
        )

    def _publish_build(self, build: Callable[[int, str], None]) -> int:
        """The publish step: under the commit lock, let base = the current
        version, ``build(base, vdir)`` into a fresh ``d-<uuid>``, then put
        log slot ``base+1``. Only a writer on another host can take the
        slot first; then the build is discarded and rebuilt on the
        winner's snapshot. A build that raises leaves no data dir."""

        def build_new(base: int) -> str:
            dirname = f"d-{uuid.uuid4().hex}"
            try:
                build(base, os.path.join(self.root, dirname))
            except BaseException:
                shutil.rmtree(os.path.join(self.root, dirname), ignore_errors=True)
                raise
            return dirname

        self._acquire_commit_lock()
        try:
            base = self.current_version()
            dirname = build_new(base)
            while True:
                if not self._touch_publish_dir(dirname):
                    dirname = build_new(base)  # collected by GC during a long stall
                if _log_put(self._log, base + 1, dirname):
                    return self._finalize_publish(base + 1, dirname, lambda: build_new(base))
                shutil.rmtree(os.path.join(self.root, dirname), ignore_errors=True)
                base = self.current_version()
                dirname = build_new(base)
        finally:
            self._release_commit_lock()

    def _touch_publish_dir(self, dirname: str) -> bool:
        """Restart ``gc_orphans``' min-age clock on the about-to-publish
        data dir. False iff the dir is already gone — a writer stalled
        past ``min_age_s`` whose dir GC collected must rebuild before
        publishing."""
        try:
            os.utime(os.path.join(self.root, dirname))
            return True
        except OSError:
            return False

    def _finalize_publish(self, v: int, dirname: str, rebuild) -> int:
        """Close the remaining ``gc_orphans`` race: if GC collected the
        data dir in the sliver between the utime guard and the log put,
        the freshly-won entry points at nothing and every reader of
        version ``v`` would break. Rebuild the content and atomically
        rewrite OUR OWN slot — safe because the put-if-absent means no
        other writer ever writes slot ``v``."""
        if os.path.isdir(os.path.join(self.root, dirname)):
            return v
        _replace_file(
            _log_path(self._log, v), json.dumps({"version": v, "dir": rebuild()})
        )
        self._dir_cache.pop(v, None)
        return v

    # -- snapshot builders: write one snapshot into a given directory ----

    def _write_snapshot(
        self, vdir: str, store: GraphStore, cluster_buckets: int | None = None
    ) -> None:
        """Write all of ``store`` into ``vdir`` with its manifest."""
        nodes, edges = store.nodes, store.edges
        if cluster_buckets:
            nodes = nodes.repartitionByRange(cluster_buckets, "gid")
            edges = edges.repartitionByRange(cluster_buckets, "src")
        nodes.write.mode("overwrite").partitionBy("label").parquet(
            os.path.join(vdir, "nodes")
        )
        edges.write.mode("overwrite").partitionBy("rel_type").parquet(
            os.path.join(vdir, "edges")
        )
        self._write_manifest(vdir)

    # -- file-skipping manifest (the gid-index analog, C6) -------------

    def _write_manifest(self, vdir: str, carry: dict | None = None) -> None:
        """Collect per-file key-range stats into MANIFEST.json.

        ``carry`` maps relpath -> prior manifest entry for files that
        were hard-linked unchanged from the previous version: their
        footer stats cannot have changed, so re-reading them is pure
        waste — and at scale it is the commit-latency driver (the write
        rehearsal measured the full re-stat at ~0.1 ms/file driver-side:
        ~100 s per micro-batch commit on a million-file store; with the
        carry a pruned MERGE stats only the handful of files it
        actually wrote)."""
        carry = carry or {}
        manifest: dict[str, list[dict]] = {}
        for table, key in _STATS_KEY.items():
            keys = [key] + _EXTRA_STATS.get(table, [])
            entries = []
            tdir = os.path.join(vdir, table)
            for path in sorted(
                glob.glob(os.path.join(tdir, "**", "*.parquet"), recursive=True)
            ):
                rel = os.path.relpath(path, vdir)
                prior = carry.get(rel)
                if prior is not None:
                    entries.append(prior)
                    continue
                stats, rows = _file_key_stats(path, keys)
                entry = {
                    "path": rel,
                    "rows": rows,
                    "min": stats[key][0],
                    "max": stats[key][1],
                }
                for extra in _EXTRA_STATS.get(table, []):
                    entry[f"{extra}_min"], entry[f"{extra}_max"] = stats[extra]
                entries.append(entry)
            manifest[table] = entries
        with open(os.path.join(vdir, _MANIFEST), "w") as f:
            json.dump(manifest, f)

    def _manifest(self, v: int) -> dict:
        """The file manifest of version ``v``. Every published version
        has one; version 0, before the first publish, lists no files.
        An unknown version raises ``load_version``'s ``ValueError``."""
        if v == 0:
            return {table: [] for table in _STATS_KEY}
        try:
            with open(os.path.join(self._version_dir(v), _MANIFEST)) as f:
                return json.load(f)
        except FileNotFoundError:
            raise ValueError(f"version {v} not found (vacuumed?)") from None

    def pruned_files(self, table: str, values: list[str], version: int | None = None) -> tuple[list[str], int]:
        """Paths (relative to the version directory, as the manifest
        records them) of the files whose key range may contain any of
        ``values``, and the total file count."""
        v = self.current_version() if version is None else version
        entries = self._manifest(v)[table]
        return [e["path"] for e in _prune(entries, values)], len(entries)

    def lookup_nodes(self, spark: SparkSession, gids: list[str], version: int | None = None) -> DataFrame:
        """Point lookup of nodes by gid: read only the files whose footer
        min/max range admits one of the keys (``pruned_files``), filtered
        by ``functions.pushdown.isin_keys`` so the key set also reaches
        the parquet scan as a pushed-down ``In`` filter.

        This is the read-side payoff of the manifest: at 100 TB a batch
        MERGE or entity lookup touches the few files holding its gids
        instead of the whole table — the same job the reference delegates
        to Neo4j's gid index (``neo4j.go:21``, ``neo4j.go:97``).
        """
        v = self.current_version() if version is None else version
        files, _ = self.pruned_files("nodes", gids, v)
        nodes = _read_table(spark, self._version_dir(v), "nodes", files)
        return nodes.where(isin_keys("gid", gids))

    # -- pruned MERGE commit (the write-side payoff of C6) --------------

    # Above this many batch rows, collecting keys driver-side stops being
    # metadata-scale; bulk loads take the full-commit path instead.
    MERGE_MAX_BATCH_ROWS = 100_000

    def merge_commit(
        self, spark: SparkSession, batch: DataFrame, label: str, source: str
    ) -> int:
        """Apply one entity batch and commit, rewriting ONLY the data
        files whose key range intersects the batch — everything else is
        carried into the new version as a hard link (zero data movement).

        This is the real payoff of the gid-range manifest at 100 TB: the
        reference's per-batch transaction touches the few Neo4j pages its
        gid index points at (``neo4j.go:21``); a commit that rewrites the
        whole table would be the equivalent of a full reindex per batch.
        Here the batch's key set selects the files to rewrite:

        - nodes: any file whose gid range admits a batch id (upsert or
          tombstone) or a reference target (stub check) — pruning
          soundness guarantees every existing row with an affected gid
          is inside a selected file, so stub dedup against the subset is
          exact;
        - edges: any file whose src range admits a batch id (edge clear,
          tombstone detach, new edges) or whose dst range admits a
          tombstoned id (detach removes edges in either direction).

        The batch is collected to the driver once (``CollectedBatch``, at
        most ``MERGE_MAX_BATCH_ROWS`` distinct gids; a larger batch takes
        the full ``apply_batch`` + full-snapshot path). The selected subset
        is loaded as a miniature GraphStore and ``GraphStore.apply_collected``
        applies the batch to it from driver-side key sets: one lookup of the
        hit node files, then one write per table whose only joins are
        broadcasts of driver-built key frames. It is a second body of
        ``apply_batch``'s semantics, so any change to either must keep
        the differential test against the full path passing
        (``tests/test_store_properties.py``). Repeated merges append
        small un-clustered files; a periodic ``compact`` re-tightens the
        ranges (OPTIMIZE's role in a table format).

        The merge is derived from its base version, so when another
        writer publishes first it is rebuilt on the winner's snapshot:
        concurrent batches compose and neither is lost (the reference's
        serialized per-batch transactions, ``neo4j.go:238-284``).
        """
        return self._publish_build(
            lambda base, vdir: self._write_merge(spark, vdir, base, batch, label, source)
        )

    def wipe_merge_commit(
        self, spark: SparkSession, batch: DataFrame, label: str, source: str
    ) -> int:
        """A full sync's start batch: ``delete_all(label, source)`` on the
        base, then ``batch`` merged, published as ONE version, so no reader
        sees the dataset wiped but not yet reloaded (SURVEY §3.3). The wipe
        may touch any file, so every file is rewritten."""
        return self._publish_build(
            lambda base, vdir: self._write_merge(spark, vdir, base, batch, label, source, True)
        )

    def _write_merge(
        self,
        spark: SparkSession,
        vdir: str,
        base: int,
        batch: DataFrame,
        label: str,
        source: str,
        wipe: bool = False,
    ) -> None:
        """Write version ``base`` with ``batch`` applied into ``vdir``:
        rewrite the files the batch's keys hit, hard-link the rest. With
        ``wipe``, ``delete_all(label, source)`` runs on the whole base
        first and every file is rewritten. A batch too large to
        key-collect driver-side takes the full ``apply_batch`` path."""
        collected = CollectedBatch.collect(batch, self.MERGE_MAX_BATCH_ROWS)
        if collected is None or wipe:
            full = self.load_version(spark, base)
            if wipe:
                full = full.delete_all(label, source)
            if collected is None:
                return self._write_snapshot(vdir, full.apply_batch(batch, label, source))
            return self._write_snapshot(vdir, full.apply_collected(collected, label, source))
        manifest = self._manifest(base)
        dead, live = collected.dead, list(collected.live)
        node_keys = dead + live + collected.targets
        base_dir = self._version_dir(base)

        node_hit = {e["path"] for e in _prune(manifest["nodes"], node_keys)}
        edge_hit = {
            e["path"]
            for e in _prune_edge_files(manifest["edges"], live + dead, dead)
        }

        sub = GraphStore(
            _read_table(spark, base_dir, "nodes", sorted(node_hit)),
            _read_table(spark, base_dir, "edges", sorted(edge_hit)),
        )
        merged = sub.apply_collected(collected, label, source)

        carry = {
            e["path"]: e
            for table, hit in (("nodes", node_hit), ("edges", edge_hit))
            for e in manifest[table]
            if e["path"] not in hit
        }
        for rel in carry:
            dst_path = os.path.join(vdir, rel)
            os.makedirs(os.path.dirname(dst_path), exist_ok=True)
            _link_or_copy(os.path.join(base_dir, rel), dst_path)
        merged.nodes.write.mode("append").partitionBy("label").parquet(
            os.path.join(vdir, "nodes")
        )
        merged.edges.write.mode("append").partitionBy("rel_type").parquet(
            os.path.join(vdir, "edges")
        )
        self._write_manifest(vdir, carry=carry)

    def rewrite(
        self,
        spark: SparkSession,
        fn: Callable[[GraphStore], GraphStore],
        cluster_buckets: int | None = None,
    ) -> int:
        """Publish ``fn(base)`` as a full snapshot, where ``base`` is the
        snapshot of the version it publishes on: the wipe of an empty
        full-sync start batch, a Cypher write and compaction. Like a
        merge, the rewrite is derived from its base version, so a batch
        published between a caller's read and this publish is never
        dropped: the commit lock orders the build after every earlier
        publish on this host, and a build that loses its log slot to
        another host is rebuilt on the winner's snapshot. ``fn`` runs
        inside the publish step, so if it raises nothing is published.
        ``cluster_buckets`` is ``commit``'s."""
        return self._publish_build(
            lambda base, vdir: self._write_snapshot(
                vdir, fn(self.load_version(spark, base)), cluster_buckets
            )
        )

    def compact(self, spark: SparkSession, cluster_buckets: int = 8) -> int:
        """Rewrite the current version range-clustered — the OPTIMIZE
        role in a table format. Repeated ``merge_commit``s each append a
        few small files with overlapping key ranges, which slowly erodes
        manifest pruning selectivity; compaction is the identity
        ``rewrite`` with range-partitioned tables, so the published
        version's files cover narrow disjoint ranges (old versions stay
        readable for time travel until ``vacuum``) and no batch merged
        meanwhile is dropped."""
        return self.rewrite(spark, lambda store: store, cluster_buckets)

    def file_count(self, table: str, version: int | None = None) -> int:
        v = self.current_version() if version is None else version
        tdir = os.path.join(self._version_dir(v), table)
        return len(glob.glob(os.path.join(tdir, "**", "*.parquet"), recursive=True))

    def vacuum(self, keep: int = 2) -> None:
        """Drop data directories (and their log entries) older than the
        newest ``keep`` versions. Version numbering stays monotonic:
        current is the MAX log entry, which vacuum never removes."""
        current = self.current_version()
        for v in _log_slots(self._log):
            if v > current - keep:
                break
            name = _log_entry_dir(self._log, v)
            if name is not None:
                shutil.rmtree(os.path.join(self.root, name), ignore_errors=True)
            os.unlink(_log_path(self._log, v))
            self._dir_cache.pop(v, None)

    def gc_orphans(self, min_age_s: float = ORPHAN_MIN_AGE_S) -> list[str]:
        """Remove ``d-<uuid>`` data directories referenced by NO log
        entry — the residue of a writer killed between its (expensive)
        data write and the (cheap) log put, or of a lost merge race
        whose cleanup was interrupted. Orphans are invisible to readers
        (the log is the only path to data), so removing a TRUE orphan is
        pure space reclamation.

        ``min_age_s`` guards the racy window: a LIVE writer that has
        written its directory but not yet published looks like an
        orphan. Misidentifying it is worse than lost work — the
        writer's publish would still win and point its version at a
        deleted directory — so the commit path defends in depth: it
        ``os.utime``-refreshes the dir immediately before publishing
        (``_touch_publish_dir``, restarting this age clock), and after
        winning the slot re-verifies the dir and rebuilds + rewrites
        its own log entry if GC got it anyway (``_finalize_publish``).
        A stalled writer therefore never leaves a dangling published
        version. Returns the removed directory names."""
        referenced = {_log_entry_dir(self._log, v) for v in _log_slots(self._log)}
        removed: list[str] = []
        for name in os.listdir(self.root):
            path = os.path.join(self.root, name)
            if name.startswith("d-") and name not in referenced and _aged(path, min_age_s):
                shutil.rmtree(path, ignore_errors=True)
                removed.append(name)
        return removed


def open_storage(root: str) -> ParquetGraphStorage:
    """The graph storage at ``root``."""
    return ParquetGraphStorage(root)
