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

Protocol (the same discipline and the same log format as
``storage.py``'s graph snapshots, which a cluster deployment would
replace with Delta/Iceberg):

- An artifact is identified by ``(kind, key)`` where ``key`` is a
  content fingerprint of its inputs (file path + mtime + size of the
  source parquet, plus algorithm parameters). A changed corpus is a
  DIFFERENT artifact — stale reads are structurally impossible, no
  invalidation bookkeeping.
- Each artifact directory holds immutable data directories
  (``d-<uuid>_<host>_p<pid>``), each fully written BEFORE any
  coordination, and an append-only log: version N is published by putting
  ``_log/{N:08d}.json`` (recording the data directory) with
  ``storage._log_put`` — put-if-absent by the NFS-safe hard-link
  protocol, a conditional put (If-None-Match) on object storage. The
  current version is the highest log entry, so a reader always sees a
  complete committed version and never blocks, and there is no lock.
- An EXTENSION publishes with compare-and-swap semantics for free: an
  extension built on version B publishes at slot B+1 and ONLY there, so
  a taken slot IS the conflict — the loser relinks from the winner and
  re-applies its delta, and concurrent extenders can never silently
  drop one another's rows. Full rebuilds retry at successive slots
  (either deterministic rebuild is correct).
- ``sweep`` reclaims non-current versions and the data directories no
  log entry names that are a crashed or abandoned build: one written
  on this host whose owner pid is gone, or one from another host (a pid
  says nothing there) older than ``storage.ORPHAN_MIN_AGE_S``; ``drop``
  removes artifacts outright (what the bench uses to time cold builds).

The reference layer has no analog (it delegates persistence to Neo4j,
``layer.go:257-265``); this is infrastructure for the engine's
training-data-pipeline extension.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import socket
import tempfile
import uuid
from typing import Callable

from opencypher_datalayer_spark.storage import (
    _LOG,
    ORPHAN_MIN_AGE_S,
    _aged,
    _link_or_copy,
    _log_entry_dir,
    _log_path,
    _log_put,
    _log_slots,
    _replace_file,
)

_KEY_FILE = "KEY.json"
_ANY = object()  # sentinel: publish unconditionally (full rebuilds)
# this host's tag in build dir names: hostname characters other than
# letters, digits, '.' and '-' are replaced, so '_' stays the separator
_HOST = re.sub(r"[^A-Za-z0-9.-]", "-", socket.gethostname()) or "-"


class ExtensionConflict(RuntimeError):
    """The current version moved between reading the extension's base
    version and publishing — another writer committed first. ``commit_extension``
    retries internally (relink from the winner, re-run the builder); a
    caller sees this only when retries are exhausted or disabled."""


def _default_root() -> str:
    return os.environ.get(
        "SPARK_GRAFT_ARTIFACTS",
        os.path.join(tempfile.gettempdir(), "spark_graft_artifacts"),
    )


class ArtifactStore:
    """Filesystem store of standing corpus artifacts.

    Safe for concurrent processes (and hosts) sharing one root: every
    version is published by a put-if-absent log entry, full-rebuild
    commit races are benign (artifacts for the same key are
    deterministic functions of the same inputs, either version is
    correct), and extension commits are compare-and-swap — a conflicting
    extender rebuilds its delta on the winner's version instead of
    silently dropping it.
    """

    def __init__(self, root: str | None = None):
        self.root = root or _default_root()

    # -- identity ------------------------------------------------------

    def _adir(self, kind: str, key: tuple) -> str:
        digest = hashlib.md5(repr((kind, key)).encode()).hexdigest()[:12]
        return os.path.join(self.root, f"{kind}_{digest}")

    # -- read ----------------------------------------------------------

    @staticmethod
    def _current(adir: str) -> int:
        """The artifact's current version: its highest log slot (0: none)."""
        return max(_log_slots(os.path.join(adir, _LOG)), default=0)

    @staticmethod
    def _version_dir(adir: str, v: int) -> str | None:
        """The data dir version ``v`` records, or None if there is none."""
        name = _log_entry_dir(os.path.join(adir, _LOG), v) if v else None
        if name is None or not os.path.isdir(os.path.join(adir, name)):
            return None
        return os.path.join(adir, name)

    def current_dir(self, kind: str, key: tuple) -> str | None:
        """Committed current version dir, or None if absent."""
        adir = self._adir(kind, key)
        return self._version_dir(adir, self._current(adir))

    # -- write ----------------------------------------------------------

    def _publish(self, adir: str, dirname: str, expected_base) -> str:
        """Put the built ``dirname`` at the next log slot.
        ``expected_base=_ANY`` publishes at whatever slot is next; a
        version from :meth:`current_version` demands CAS — raise
        :class:`ExtensionConflict` once the current version is no longer
        that one."""
        log = os.path.join(adir, _LOG)
        os.makedirs(log, exist_ok=True)
        while True:
            cur = self._current(adir)
            if expected_base is not _ANY and (cur or None) != expected_base:
                raise ExtensionConflict(
                    f"current version of {adir} moved past {expected_base!r}"
                )
            if _log_put(log, cur + 1, dirname):
                return os.path.join(adir, dirname)

    def commit(self, kind: str, key: tuple, builder: Callable[[str], None]) -> str:
        """Build a NEW version with ``builder(dir)`` and publish it
        atomically. Returns the committed version dir. Publication is
        UNCONDITIONAL — correct only when any concurrently-committed
        version is equivalent (deterministic rebuilds of the same key).
        A rewrite derived from a READ of the current version (compact)
        must use :meth:`commit_if_current` instead, or a concurrent
        extension's delta is silently erased."""
        return self._commit(kind, key, builder, _ANY)

    def current_version(self, kind: str, key: tuple) -> int | None:
        """The committed current version (``None`` if absent) — the CAS
        base for :meth:`commit_if_current`."""
        return self._current(self._adir(kind, key)) or None

    def commit_if_current(
        self, kind: str, key: tuple, builder: Callable[[str], None], expected_base: int
    ) -> str:
        """Commit a new version ONLY if the current version is still
        ``expected_base`` (from :meth:`current_version`), else
        raise :class:`ExtensionConflict` — the compact/housekeeping
        publish primitive: a rewrite that read version B must not erase
        a delta committed on top of B between the read and the publish.
        Unlike :meth:`commit_extension` the build dir starts EMPTY (the
        builder rewrites content rather than appending) and there is no
        internal retry — the caller re-reads the new current and
        re-derives (its read, not just its write, is stale)."""
        return self._commit(kind, key, builder, expected_base)

    def _commit(self, kind: str, key: tuple, builder: Callable[[str], None], expected_base) -> str:
        adir = self._adir(kind, key)
        os.makedirs(adir, exist_ok=True)
        self._write_key(adir, kind, key)
        # the host and pid tags let sweep tell a crashed writer's
        # unpublished dir from a live one's in-flight build
        dirname = f"d-{uuid.uuid4().hex}_{_HOST}_p{os.getpid()}"
        os.makedirs(os.path.join(adir, dirname))
        try:
            builder(os.path.join(adir, dirname))  # expensive part, uncoordinated
            return self._publish(adir, dirname, expected_base)
        except BaseException:
            shutil.rmtree(os.path.join(adir, dirname), ignore_errors=True)
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
        """Commit a new version that EXTENDS the current one: the dir
        handed to ``builder`` starts as a hard-linked copy of the
        current version's tree (zero data copied — the storage.py
        pruned-MERGE idiom; plain copy across devices), so the builder
        only appends delta files. The prior version stays intact until
        ``sweep`` reclaims it; readers of either version always see a
        complete tree.

        Publication is compare-and-swap on the base version: if another
        writer commits between the base read and the log put, this
        writer RELINKS from the winner's version and re-runs ``builder``
        on it (so ``builder`` must be re-runnable — a deterministic
        function of the batch, which every caller's Spark-write closure
        is), up to ``retries`` times before raising
        :class:`ExtensionConflict`. Neither delta is ever dropped —
        the failure mode the graph store closes with the same idiom.
        """
        adir = self._adir(kind, key)
        for _ in range(retries + 1):
            base = self._current(adir)
            base_dir = self._version_dir(adir, base)
            if base_dir is None:
                raise FileNotFoundError(f"no committed version to extend: {kind} {key!r}")

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
        """Reclaim (a) versions older than the newest ``keep_versions``
        (the current version is always kept), with their log entries,
        and (b) data dirs no log entry names that are crashed or
        abandoned builds: written on this host by a dead pid, or written
        on another host and untouched for ``ORPHAN_MIN_AGE_S`` (the age
        rule of ``ParquetGraphStorage.gc_orphans``). A live local pid's
        dir, or a recent one from another host on a shared root (an
        in-flight build), is never touched. Returns the removed paths.

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
            if not os.path.isdir(adir):
                continue
            log = os.path.join(adir, _LOG)
            slots = _log_slots(log)
            keep = slots[-max(keep_versions, 1):]  # highest = current, always kept
            referenced = {_log_entry_dir(log, v) for v in keep}
            for v in slots:
                if v in keep:
                    continue
                dirname = _log_entry_dir(log, v)
                if dirname is not None:
                    shutil.rmtree(os.path.join(adir, dirname), ignore_errors=True)
                    removed.append(os.path.join(adir, dirname))
                try:
                    os.unlink(_log_path(log, v))
                except OSError:
                    pass
            for entry in os.listdir(adir):
                path = os.path.join(adir, entry)
                if entry.startswith("d-") and entry not in referenced and _abandoned(path):
                    shutil.rmtree(path, ignore_errors=True)
                    removed.append(path)
        return removed


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


def _abandoned(path: str) -> bool:
    """Whether the unpublished build dir at ``path`` is no live writer's:
    written on this host by a pid that is gone, or written elsewhere
    (or under an untagged name) and older than ``ORPHAN_MIN_AGE_S`` —
    a pid names a process only on the host that wrote it."""
    host, _, pid = os.path.basename(path)[2:].partition("_")[2].rpartition("_p")
    if host == _HOST and pid.isdigit():
        return not _pid_alive(int(pid))
    return _aged(path, ORPHAN_MIN_AGE_S)


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
    under the system tempdir). NOT registered with the bench's memo
    clearers — surviving cache clears is the entire point; the bench
    drops artifacts explicitly when it times a cold build."""
    global _DEFAULT
    if _DEFAULT is None or _DEFAULT.root != _default_root():
        _DEFAULT = ArtifactStore()
    return _DEFAULT
