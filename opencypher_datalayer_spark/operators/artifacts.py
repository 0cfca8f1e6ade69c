"""Corpus-versioned standing artifacts — the amortization layer.

The operators a training pipeline runs daily (incremental near-dup
check, IVF ANN probe) derive expensive frames from the STANDING corpus:
the shingle/sets tables, the MinHash signature table, the IVF index and
codebook. Rebuilding those per invocation charges the whole corpus to
every batch — at the sf10 rehearsal that was 207.8 s per incremental
dedup call (the corpus re-shingled and re-shuffled each time) and ~76 s
of the IVF query was codebook training plus the index write. A 100 TB
deployment builds them ONCE per corpus version and amortizes across
batches; this module is that store.

Protocol (the same discipline as ``storage.py``'s graph snapshots, which
a cluster deployment would replace with Delta/Iceberg):

- An artifact is identified by ``(kind, key)`` where ``key`` is a
  content fingerprint of its inputs (file path + mtime + size of the
  source parquet, plus algorithm parameters). A changed corpus is a
  DIFFERENT artifact — stale reads are structurally impossible, no
  invalidation bookkeeping.
- Each artifact directory holds immutable version subdirs
  (``v00000001/...``) plus an atomic ``CURRENT`` pointer, so a reader
  always sees a complete committed version and a refresh (``commit``)
  is an atomic swap. Builders write into a pid-tagged tmp dir that is
  renamed into place; a crash mid-build leaves only a dead tmp.
- Version publication is serialized by a per-artifact O_EXCL commit
  lock (held only for the cheap rename + pointer swap, never across a
  build), and an EXTENSION publishes with compare-and-swap semantics:
  it records the version it linked from and the swap refuses if
  CURRENT moved — the loser relinks from the winner and re-applies its
  delta, so concurrent extenders can never silently drop one another's
  rows. (``storage.py`` pins the same discipline for graph merges.)
- ``sweep`` reclaims dead tmp dirs (owner pid gone) and
  non-current versions; ``drop`` removes artifacts outright (what the
  bench uses to time cold builds).

Two backends, the same seam as ``storage.py``'s ``BACKENDS`` registry:

- ``localfs`` (:class:`ArtifactStore`, default) — mutable CURRENT
  pointer + O_EXCL lock. Correct on one host; O_EXCL and ``os.replace``
  read-modify-write degrade on NFS/object storage.
- ``txnlog`` (:class:`TxnLogArtifactStore`) — Delta-style append-only
  log: version N is published by creating ``_log/{N:08d}.json`` with
  ``storage._put_if_absent`` (the NFS-safe hard-link protocol; a
  conditional put on object storage). The current version is the
  highest log entry, so there is no mutable pointer and no lock, and
  the extension CAS falls out of slot allocation: an extension built
  on version B publishes at slot B+1 and a taken slot IS the conflict.

The reference layer has no analog (it delegates persistence to Neo4j,
``layer.go:257-265``); this is infrastructure for the engine's
training-data-pipeline extension.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import tempfile
import time
import uuid
from typing import Callable

from opencypher_datalayer_spark.storage import _link_or_copy, _put_if_absent, _replace_file

_CURRENT = "CURRENT"
_KEY_FILE = "KEY.json"
_LOCK = "_commit.lock"
_ANY = object()  # sentinel: publish unconditionally (full rebuilds)


class ExtensionConflict(RuntimeError):
    """CURRENT moved between reading the extension's base version and
    publishing — another writer committed first. ``commit_extension``
    retries internally (relink from the winner, re-run the builder); a
    caller sees this only when retries are exhausted or disabled."""


def _default_root() -> str:
    return os.environ.get(
        "SPARK_GRAFT_ARTIFACTS",
        os.path.join(tempfile.gettempdir(), "spark_graft_artifacts"),
    )


class ArtifactStore:
    """Filesystem store of standing corpus artifacts (localfs backend).

    Safe for concurrent processes sharing one root: version publication
    runs under a per-artifact O_EXCL lock (stale claims broken by pid +
    age, the ``storage.py`` idiom), full-rebuild commit races are benign
    (artifacts for the same key are deterministic functions of the same
    inputs, either version is correct), and extension commits are
    compare-and-swap — a conflicting extender rebuilds its delta on the
    winner's version instead of silently dropping it.
    """

    def __init__(self, root: str | None = None):
        self.root = root or _default_root()

    # -- identity ------------------------------------------------------

    def _adir(self, kind: str, key: tuple) -> str:
        digest = hashlib.md5(repr((kind, key)).encode()).hexdigest()[:12]
        return os.path.join(self.root, f"{kind}_{digest}")

    # -- read ----------------------------------------------------------

    def current_dir(self, kind: str, key: tuple) -> str | None:
        """Committed current version dir, or None if absent."""
        adir = self._adir(kind, key)
        name = self._current_name(adir)
        if name is None:
            return None
        vdir = self._resolve(adir, name)
        return vdir if vdir is not None and os.path.isdir(vdir) else None

    def _current_name(self, adir: str) -> str | None:
        """Opaque token naming the current version (backend-specific)."""
        try:
            with open(os.path.join(adir, _CURRENT)) as f:
                return f.read().strip()
        except OSError:
            return None

    def _resolve(self, adir: str, name: str) -> str | None:
        return os.path.join(adir, name)

    # -- writer serialization -------------------------------------------

    # Publication (slot rename + pointer swap — never the build itself)
    # is serialized with an O_EXCL lock-file claim, exactly the graph
    # store's writer lock (storage.py). Without it, two extenders that
    # linked from the same base would each win a version slot and the
    # later os.replace of CURRENT would silently drop the earlier delta.
    # A writer that dies mid-publish leaves a claim that is broken after
    # ``stale_after`` (the claim records pid + wall time). SCOPE:
    # single-host, like the base graph backend; multi-host writers use
    # TxnLogArtifactStore, whose put-if-absent log needs neither the
    # lock nor the mutable pointer.

    def _acquire_lock(self, adir: str, timeout: float = 300.0, stale_after: float = 120.0) -> None:
        path = os.path.join(adir, _LOCK)
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
                    stale = time.time() - held.get("ts", 0) > stale_after
                    if stale or not _pid_alive(held.get("pid", -1)):
                        os.unlink(path)  # break a dead writer's claim
                        continue
                except (OSError, ValueError):
                    pass  # holder mid-write or already released; retry
                if time.monotonic() > deadline:
                    raise TimeoutError(f"publish lock at {path} not acquired within {timeout}s")
                time.sleep(0.02)

    def _release_lock(self, adir: str) -> None:
        try:
            os.unlink(os.path.join(adir, _LOCK))
        except FileNotFoundError:
            pass

    # -- write ----------------------------------------------------------

    def _publish(self, adir: str, tmp: str, expected_base) -> str:
        """Move the built tmp into a version slot and make it current.
        ``expected_base=_ANY`` publishes unconditionally;  a version
        token demands CAS — raise :class:`ExtensionConflict` if the
        current version is no longer that token. The lock is held only
        across this cheap section."""
        self._acquire_lock(adir)
        try:
            if expected_base is not _ANY and self._current_name(adir) != expected_base:
                raise ExtensionConflict(
                    f"current version of {adir} moved past {expected_base!r}"
                )
            vname = f"v{self._max_version(adir) + 1:08d}"
            vdir = os.path.join(adir, vname)
            os.rename(tmp, vdir)
            _replace_file(os.path.join(adir, _CURRENT), vname)  # atomic pointer swap
            return vdir
        finally:
            self._release_lock(adir)

    def commit(self, kind: str, key: tuple, builder: Callable[[str], None]) -> str:
        """Build a NEW version with ``builder(tmp_dir)`` and publish it
        atomically. Returns the committed version dir. Publication is
        UNCONDITIONAL — correct only when any concurrently-committed
        version is equivalent (deterministic rebuilds of the same key).
        A rewrite derived from a READ of the current version (compact)
        must use :meth:`commit_if_current` instead, or a concurrent
        extension's delta is silently erased."""
        return self._commit(kind, key, builder, _ANY)

    def current_version(self, kind: str, key: tuple) -> str | None:
        """Opaque token naming the committed current version (``None``
        if absent) — the CAS base for :meth:`commit_if_current`."""
        return self._current_name(self._adir(kind, key))

    def commit_if_current(
        self, kind: str, key: tuple, builder: Callable[[str], None], expected_base: str
    ) -> str:
        """Commit a new version ONLY if the current version is still
        ``expected_base`` (a token from :meth:`current_version`), else
        raise :class:`ExtensionConflict` — the compact/housekeeping
        publish primitive: a rewrite that read version B must not erase
        a delta committed on top of B between the read and the publish.
        Unlike :meth:`commit_extension` the tmp dir starts EMPTY (the
        builder rewrites content rather than appending) and there is no
        internal retry — the caller re-reads the new current and
        re-derives (its read, not just its write, is stale)."""
        return self._commit(kind, key, builder, expected_base)

    def _commit(self, kind: str, key: tuple, builder: Callable[[str], None], expected_base) -> str:
        adir = self._adir(kind, key)
        os.makedirs(adir, exist_ok=True)
        self._write_key(adir, kind, key)
        tmp = os.path.join(adir, f"_tmp_{uuid.uuid4().hex[:8]}_p{os.getpid()}")
        os.makedirs(tmp)
        try:
            builder(tmp)  # expensive part — runs OUTSIDE the lock
            return self._publish(adir, tmp, expected_base)
        except BaseException:
            shutil.rmtree(tmp, ignore_errors=True)
            raise

    def get_or_build(self, kind: str, key: tuple, builder: Callable[[str], None]) -> str:
        """Current version if committed, else build one. A commit race
        is benign — the artifact is a deterministic function of ``key``'s
        inputs, so either version is correct."""
        cur = self.current_dir(kind, key)
        if cur is not None:
            return cur
        return self.commit(kind, key, builder)

    def commit_extension(
        self, kind: str, key: tuple, builder: Callable[[str], None], retries: int = 5
    ) -> str:
        """Commit a new version that EXTENDS the current one: the tmp
        dir handed to ``builder`` starts as a hard-linked copy of the
        current version's tree (zero data copied — the storage.py
        pruned-MERGE idiom; plain copy across devices), so the builder
        only appends delta files. The prior version stays intact until
        ``sweep`` reclaims it; readers of either version always see a
        complete tree.

        Publication is compare-and-swap on the base version: if another
        writer commits between the base read and the pointer swap, this
        writer RELINKS from the winner's version and re-runs ``builder``
        on it (so ``builder`` must be re-runnable — a deterministic
        function of the batch, which every caller's Spark-write closure
        is), up to ``retries`` times before raising
        :class:`ExtensionConflict`. Neither delta is ever dropped —
        the failure mode the graph store closes with the same idiom.
        """
        for _ in range(retries + 1):
            adir = self._adir(kind, key)
            base = self._current_name(adir)
            if base is None:
                raise FileNotFoundError(f"no committed version to extend: {kind} {key!r}")
            base_dir = self._resolve(adir, base)

            def extended(tmp: str) -> None:
                _link_tree(base_dir, tmp)
                builder(tmp)

            try:
                return self._commit(kind, key, extended, expected_base=base)
            except ExtensionConflict:
                continue  # relink from the winner and re-apply the delta
        raise ExtensionConflict(
            f"extension of {kind} {key!r} lost {retries + 1} consecutive publish races"
        )

    def _write_key(self, adir: str, kind: str, key: tuple) -> None:
        p = os.path.join(adir, _KEY_FILE)
        if not os.path.exists(p):
            _replace_file(p, json.dumps({"kind": kind, "key": repr(key)}))

    @staticmethod
    def _max_version(adir: str) -> int:
        vs = [
            int(name[1:])
            for name in os.listdir(adir)
            if name.startswith("v") and name[1:].isdigit()
        ]
        return max(vs, default=0)

    # -- reclamation ---------------------------------------------------

    def drop(self, kind: str | None = None) -> None:
        """Remove artifacts (all, or every version of one ``kind``).
        What the bench calls before timing a cold build."""
        if not os.path.isdir(self.root):
            return
        for name in os.listdir(self.root):
            if kind is None or name.startswith(f"{kind}_"):
                shutil.rmtree(os.path.join(self.root, name), ignore_errors=True)

    def sweep(self, keep_versions: int = 1) -> list[str]:
        """Reclaim (a) tmp dirs whose owner pid is dead — crashed or
        abandoned builds — and (b) versions older than the newest
        ``keep_versions`` (the CURRENT version is always kept). Live
        tmp dirs (owner still running) are never touched. Returns the
        removed paths.

        NOTE (reader lease): a lazy DataFrame holds version PATHS, not
        snapshots — sweeping with ``keep_versions=1`` right after a
        commit can delete files an in-flight probe of the PREVIOUS
        version is still scanning. Sweep at quiet points, or keep
        ``keep_versions>=2`` when probes and commits overlap
        (``compact_ngram_corpus`` self-protects with localCheckpoint).
        """
        removed: list[str] = []
        if not os.path.isdir(self.root):
            return removed
        for name in os.listdir(self.root):
            adir = os.path.join(self.root, name)
            if os.path.isdir(adir):
                self._sweep_adir(adir, keep_versions, removed)
        return removed

    def _sweep_adir(self, adir: str, keep_versions: int, removed: list[str]) -> None:
        current = self._current_name(adir) or ""
        versions = sorted(
            v for v in os.listdir(adir) if v.startswith("v") and v[1:].isdigit()
        )
        cut = versions[-keep_versions:] if keep_versions > 0 else []
        for entry in os.listdir(adir):
            p = os.path.join(adir, entry)
            if entry.startswith("_tmp_") and not _pid_alive(_tmp_pid(entry)):
                shutil.rmtree(p, ignore_errors=True)
                removed.append(p)
            elif (
                entry.startswith("v")
                and entry[1:].isdigit()
                and entry != current
                and entry not in cut
            ):
                shutil.rmtree(p, ignore_errors=True)
                removed.append(p)


class TxnLogArtifactStore(ArtifactStore):
    """Transaction-log backend: multi-host commit safety without the
    O_EXCL lock or the mutable CURRENT pointer (the artifact-store
    analog of ``storage.TxnLogGraphStorage``, same protocol).

    - A version's data lives in a uniquely-named immutable directory
      (``d-<uuid>_p<pid>``), fully written BEFORE any coordination.
    - Version N is published by creating ``_log/{N:08d}.json``
      (recording the data directory) with put-if-absent — the NFS-safe
      hard-link protocol (open(2) NOTES: link a unique temp file to the
      target and trust ``st_nlink == 2``, correct even when the link
      RPC's reply is lost and retried); on object storage the same slot
      is a conditional put (If-None-Match), Delta's commit primitive.
    - The current version is simply the highest log entry; readers
      never block and never see a partial commit.
    - Extension CAS is free: an extension built on version B publishes
      at slot B+1 and ONLY slot B+1 — the slot being taken IS the
      conflict, and the loser relinks from the winner. Full rebuilds
      retry at successive slots (either deterministic rebuild is
      correct, same as the base class).
    """

    _LOG = "_log"

    # -- log --------------------------------------------------------------

    def _log_dir(self, adir: str) -> str:
        return os.path.join(adir, self._LOG)

    def _log_max(self, adir: str) -> int:
        try:
            names = os.listdir(self._log_dir(adir))
        except OSError:
            return 0
        vs = [int(n[:-5]) for n in names if n.endswith(".json") and n[:-5].isdigit()]
        return max(vs, default=0)

    def _current_name(self, adir: str) -> str | None:
        v = self._log_max(adir)
        return f"v{v:08d}" if v else None

    def _resolve(self, adir: str, name: str) -> str | None:
        path = os.path.join(self._log_dir(adir), f"{name[1:]}.json")
        try:
            with open(path) as f:
                return os.path.join(adir, json.load(f)["dir"])
        except (OSError, ValueError, KeyError):
            return None

    # -- publish ----------------------------------------------------------

    def _publish(self, adir: str, tmp: str, expected_base) -> str:
        # seal the built tree under a unique immutable name first (pid
        # tag lets sweep distinguish a crashed writer's orphan from a
        # live one's in-flight publish), then race on the cheap log slot
        dirname = f"d-{uuid.uuid4().hex}_p{os.getpid()}"
        dpath = os.path.join(adir, dirname)
        os.rename(tmp, dpath)
        log_dir = self._log_dir(adir)
        os.makedirs(log_dir, exist_ok=True)
        while True:
            cur = self._log_max(adir)
            if expected_base is not _ANY:
                curname = f"v{cur:08d}" if cur else None
                if curname != expected_base:
                    shutil.rmtree(dpath, ignore_errors=True)
                    raise ExtensionConflict(
                        f"current version of {adir} moved past {expected_base!r}"
                    )
            entry = json.dumps({"version": cur + 1, "dir": dirname})
            if _put_if_absent(os.path.join(log_dir, f"{cur + 1:08d}.json"), entry):
                return dpath

    # -- reclamation -------------------------------------------------------

    def _sweep_adir(self, adir: str, keep_versions: int, removed: list[str]) -> None:
        log_dir = self._log_dir(adir)
        try:
            slots = sorted(
                int(n[:-5])
                for n in os.listdir(log_dir)
                if n.endswith(".json") and n[:-5].isdigit()
            )
        except OSError:
            slots = []
        keep = set(slots[-max(keep_versions, 1):])  # highest = current, always kept
        referenced: set[str] = set()
        for v in slots:
            path = self._resolve(adir, f"v{v:08d}")
            if v in keep:
                if path is not None:
                    referenced.add(os.path.basename(path))
            else:
                if path is not None:
                    shutil.rmtree(path, ignore_errors=True)
                    removed.append(path)
                try:
                    os.unlink(os.path.join(log_dir, f"{v:08d}.json"))
                except OSError:
                    pass
        for entry in os.listdir(adir):
            p = os.path.join(adir, entry)
            dead_tmp = entry.startswith("_tmp_") and not _pid_alive(_tmp_pid(entry))
            orphan = (  # crashed between the seal rename and the log link
                entry.startswith("d-")
                and entry not in referenced
                and not _pid_alive(_tmp_pid(entry))
            )
            if dead_tmp or orphan:
                shutil.rmtree(p, ignore_errors=True)
                removed.append(p)


BACKENDS = {"localfs": ArtifactStore, "txnlog": TxnLogArtifactStore}


def open_artifact_store(root: str | None = None, backend: str = "localfs") -> ArtifactStore:
    """Open an artifact store with the named backend: ``localfs``
    (CURRENT pointer + O_EXCL publish lock; single-host) or ``txnlog``
    (append-only log + put-if-absent publish; multi-host). One root
    must be driven by ONE backend — they coordinate differently."""
    try:
        cls = BACKENDS[backend]
    except KeyError:
        raise ValueError(
            f"unknown artifact backend {backend!r}; choose from {sorted(BACKENDS)}"
        ) from None
    return cls(root)


def _link_tree(src: str, dst: str) -> None:
    """Replicate ``src``'s tree under ``dst`` with hard links (parquet
    files are immutable once committed, so shared inodes are safe;
    builders that REWRITE a linked file must os.remove it first).
    Falls back to a plain copy when the two paths sit on different
    filesystems (EXDEV) — the multi-host deployment shape."""
    for dirpath, _, files in os.walk(src):
        rel = os.path.relpath(dirpath, src)
        out = dst if rel == "." else os.path.join(dst, rel)
        os.makedirs(out, exist_ok=True)
        for f in files:
            _link_or_copy(os.path.join(dirpath, f), os.path.join(out, f))


def _tmp_pid(name: str) -> int:
    try:
        return int(name.rsplit("_p", 1)[1])
    except (IndexError, ValueError):
        return -1


def _pid_alive(pid: int) -> bool:
    if pid <= 0:
        return False
    try:
        os.kill(pid, 0)
        return True
    except ProcessLookupError:
        return False
    except PermissionError:
        return True


_DEFAULT: ArtifactStore | None = None


def default_store() -> ArtifactStore:
    """Process-wide store rooted at ``$SPARK_GRAFT_ARTIFACTS`` (default
    under the system tempdir), backend from
    ``$SPARK_GRAFT_ARTIFACTS_BACKEND`` (default ``localfs``). NOT
    registered with the bench's memo clearers — surviving cache clears
    is the entire point; the bench drops artifacts explicitly when it
    times a cold build."""
    global _DEFAULT
    backend = os.environ.get("SPARK_GRAFT_ARTIFACTS_BACKEND", "localfs")
    if (
        _DEFAULT is None
        or _DEFAULT.root != _default_root()
        or type(_DEFAULT) is not BACKENDS.get(backend, ArtifactStore)
    ):
        _DEFAULT = open_artifact_store(backend=backend)
    return _DEFAULT
