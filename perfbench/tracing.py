"""Span recorder for the traced run.

:func:`install` wraps the program's public functions at the names their
callers resolve (``ingest`` imports ``local_df`` and ``normalize_entity``
by name; ``DataLayer.query`` imports ``plans.run_cypher`` at call time;
the HTTP handler calls ``UdaService._get``/``_post``). Each span records
its layer name, start, end, parent span and request id, and stays in
memory until :meth:`Tracer.layer_metrics` reduces them at the end of the
run. A layer's self time is its spans' time minus the time of their
child spans.

Spark is lazy: spans around ``apply_batch`` and ``run_cypher`` cover
query planning only. Execution is charged to the span that runs the
action -- the parquet writes inside ``storage.merge_commit``, the
``collect`` of a Cypher result (``plans.cypher.exec``), or the handler
itself for feed reads.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import threading
import time
from types import SimpleNamespace

from perfbench import analytics

# span layers in report order; each reports mean self time per request
# that entered the layer
LAYERS = (
    "service_http.handler",
    "service_http.parse",
    "service_http.to_uda",
    "model.normalize",
    "ingest.write",
    "functions.localframe.local_df",
    "store.apply_batch_plan",
    "storage.merge_commit",
    "storage.write_manifest",
    "storage.commit_lock_wait",
    "storage.load",
    "plans.cypher.parse",
    "plans.cypher.plan",
    "plans.cypher.exec",
)
SELF_NAMES = {"service_http.handler": "service_http.handler_self_s", "ingest.write": "ingest.write_self_s"}


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[tuple] = []  # (layer, start, end, parent, rid, span id)
        self.notes: list[tuple] = []  # (kind, rid, value)
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list[tuple] = []

    # -- spans ------------------------------------------------------------

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def rid(self) -> int:
        st = self._stack()
        return st[0][1] if st else 0

    def wrap(self, layer: str, fn, new_request: bool = False):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            stack = tracer._stack()
            sid = next(tracer._ids)
            rid = sid if (new_request or not stack) else stack[0][1]
            parent = stack[-1][0] if stack else 0
            stack.append((sid, rid))
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                t1 = time.perf_counter()
                stack.pop()
                with tracer._lock:
                    tracer.spans.append((layer, t0, t1, parent, rid, sid))

        return traced

    def note(self, kind: str, value: float) -> None:
        with self._lock:
            self.notes.append((kind, self.rid(), value))

    def patch(self, owner, attr: str, replacement) -> None:
        self._undo.append((owner, attr, owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)))
        setattr(owner, attr, replacement)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    # -- reduction ----------------------------------------------------------

    def layer_metrics(self) -> dict[str, tuple[float, str]]:
        """Every per-layer metric as (value, unit)."""
        child_time: dict[int, float] = {}
        for _, t0, t1, parent, _, _ in self.spans:
            if parent:
                child_time[parent] = child_time.get(parent, 0.0) + (t1 - t0)
        self_time: dict[str, float] = {}
        rids: dict[str, set] = {}
        for layer, t0, t1, _, rid, sid in self.spans:
            self_time[layer] = self_time.get(layer, 0.0) + (t1 - t0) - child_time.get(sid, 0.0)
            rids.setdefault(layer, set()).add(rid)
        out: dict[str, tuple[float, str]] = {}
        for layer in LAYERS:
            name = SELF_NAMES.get(layer, layer + "_s")
            n = len(rids.get(layer, ()))
            out[name] = (self_time.get(layer, 0.0) / n if n else 0.0, "s")

        def notes(kind):
            return [v for k, _, v in self.notes if k == kind]

        def mean(xs):
            return sum(xs) / len(xs) if xs else 0.0

        for q in analytics.QUERIES:  # whole-job spans: mean wall time
            layer = f"analytics.{q}"
            out[layer + "_s"] = (mean([t1 - t0 for name, t0, t1, *_ in self.spans if name == layer]), "s")
            out[layer + "_jobs"] = (mean(notes(layer + "_jobs")), "count")

        rewritten, carried = notes("files_rewritten"), notes("files_carried")
        out["storage.files_rewritten"] = (mean(rewritten), "count")
        out["storage.files_carried"] = (mean(carried), "count")
        total = sum(rewritten) + sum(carried)
        out["storage.prune_ratio"] = (sum(carried) / total if total else 0.0, "ratio")
        ents = sum(notes("entities_flushed"))
        out["storage.bytes_written_per_entity"] = (sum(notes("bytes_written")) / ents if ents else 0.0, "B")
        out["storage.lookup_files_scanned"] = (mean(notes("lookup_files_scanned")), "count")
        out["plans.cypher.rows_out"] = (mean(notes("rows_out")), "count")
        out["spark.jobs_per_op"] = (mean(notes("jobs")), "count")
        out["spark.tasks_per_op"] = (mean(notes("tasks")), "count")
        out["trace.spans"] = (float(len(self.spans)), "count")
        return out


# -- Spark plan / job introspection ------------------------------------------


def _files_read(jplan) -> int:
    """Sum of the ``numFiles`` metric over the file scans of an executed
    physical plan (walking adaptive stages and reused exchanges)."""
    name = jplan.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return _files_read(jplan.executedPlan())
    if name.endswith("QueryStageExec"):
        return _files_read(jplan.plan())
    if name == "ReusedExchangeExec":
        return 0  # its files were counted where the exchange ran
    total = 0
    if name == "FileSourceScanExec":
        metrics = jplan.metrics()
        if metrics.contains("numFiles"):
            total += int(metrics.apply("numFiles").value())
    children = jplan.children()
    for i in range(children.size()):
        total += _files_read(children.apply(i))
    return total


def _request_jobs(sc, group: str) -> tuple[int, int]:
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    tasks = 0
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            st = tracker.getStageInfo(sid)
            tasks += st.numTasks if st else 0
    return len(jobs), tasks


# -- patches ------------------------------------------------------------------


def install(tracer: Tracer, lookup_query: str) -> None:
    """Wrap every traced layer boundary; ``lookup_query`` is the Cypher
    text whose scans count toward ``storage.lookup_files_scanned``."""
    import opencypher_datalayer_spark.plans as plans
    from opencypher_datalayer_spark import ingest, service_http, storage
    from opencypher_datalayer_spark.plans import cypher
    from opencypher_datalayer_spark.store import GraphStore

    sc = tracer.spark.sparkContext
    t = tracer

    def request(layer, fn, jobs_note="jobs"):
        """A span that starts a request and counts the Spark jobs and
        tasks it ran, under a job group of its own."""
        inner = t.wrap(layer, fn, new_request=True)

        @functools.wraps(fn)
        def handler(*args, **kwargs):
            group = f"perfbench-req-{threading.get_ident()}-{time.perf_counter_ns()}"
            sc.setJobGroup(group, "perfbench request", interruptOnCancel=False)
            try:
                return inner(*args, **kwargs)
            finally:
                jobs, tasks = _request_jobs(sc, group)
                with t._lock:
                    t.notes.append((jobs_note, 0, jobs))
                    if jobs_note == "jobs":
                        t.notes.append(("tasks", 0, tasks))

        return handler

    U = service_http.UdaService
    t.patch(U, "_get", request("service_http.handler", U._get))
    t.patch(U, "_post", request("service_http.handler", U._post))
    t.patch(U, "_to_uda", t.wrap("service_http.to_uda", U._to_uda))
    t.patch(service_http, "_parse_entity_body", t.wrap("service_http.parse", service_http._parse_entity_body))
    t.patch(
        service_http,
        "json",
        SimpleNamespace(
            loads=t.wrap("service_http.parse", json.loads),
            dumps=json.dumps,
            JSONDecodeError=json.JSONDecodeError,
        ),
    )

    t.patch(ingest, "normalize_entity", t.wrap("model.normalize", ingest.normalize_entity))
    W = ingest.DatasetWriter
    t.patch(W, "write", t.wrap("ingest.write", W.write))
    t.patch(W, "close", t.wrap("ingest.write", W.close))
    orig_flush = W._flush

    def flush(self):
        t.note("entities_flushed", len(self._buffer))
        return orig_flush(self)

    t.patch(W, "_flush", t.wrap("ingest.write", functools.wraps(orig_flush)(flush)))
    D = ingest.DataLayer
    t.patch(D, "_apply", t.wrap("ingest.write", D._apply))
    t.patch(D, "_wipe", t.wrap("ingest.write", D._wipe))
    for mod in (ingest, cypher):
        t.patch(mod, "local_df", t.wrap("functions.localframe.local_df", mod.local_df))

    t.patch(GraphStore, "apply_batch", t.wrap("store.apply_batch_plan", GraphStore.apply_batch))

    S = storage.ParquetGraphStorage
    orig_merge = S.merge_commit

    def merge_commit(self, spark, batch, label, source):
        before = self._manifest(self.current_version()) or {}
        v = orig_merge(self, spark, batch, label, source)
        after = self._manifest(v) or {}
        old = {e["path"] for tbl in before.values() for e in tbl}
        new = {e["path"] for tbl in after.values() for e in tbl}
        vdir = self._version_dir(v)
        t.note("files_carried", len(old & new))
        t.note("files_rewritten", len(old - new))
        t.note("bytes_written", sum(os.path.getsize(os.path.join(vdir, p)) for p in new - old))
        return v

    t.patch(S, "merge_commit", t.wrap("storage.merge_commit", functools.wraps(orig_merge)(merge_commit)))
    t.patch(S, "commit", t.wrap("storage.merge_commit", S.commit))
    t.patch(S, "_write_manifest", t.wrap("storage.write_manifest", S._write_manifest))
    t.patch(S, "_acquire_commit_lock", t.wrap("storage.commit_lock_wait", S._acquire_commit_lock))
    t.patch(S, "load_version", t.wrap("storage.load", S.load_version))

    t.patch(cypher, "tokenize", t.wrap("plans.cypher.parse", cypher.tokenize))
    t.patch(cypher.Parser, "parse_union", t.wrap("plans.cypher.parse", cypher.Parser.parse_union))
    orig_run = plans.run_cypher

    def run_cypher(store, query, params=None):
        df = orig_run(store, query, params)
        collect = t.wrap("plans.cypher.exec", df.collect)

        def traced_collect():
            rows = collect()
            t.note("rows_out", len(rows))
            if query == lookup_query:
                t.note("lookup_files_scanned", _files_read(df._jdf.queryExecution().executedPlan()))
            return rows

        df.collect = traced_collect
        return df

    t.patch(plans, "run_cypher", t.wrap("plans.cypher.plan", functools.wraps(orig_run)(run_cypher)))

    for q in analytics.QUERIES:
        layer = f"analytics.{q}"
        t.patch(analytics.Pass, q, request(layer, getattr(analytics.Pass, q), layer + "_jobs"))
