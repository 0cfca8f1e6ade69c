"""Benchmark entry point.

    python3 perfbench/run.py --workload sync_ingest --seed 1 --seconds 16 --trace 0

Runs from the root of a source checkout: it starts Spark on
``local[<cpus>]``, serves a ``DataLayer`` with durable parquet storage
through ``service_http.UdaService`` on localhost, drives one workload
from this process, checks every answer against a pure-Python model of the
seeded entity stream, and prints one JSON result as the last line of
standard output. With ``--trace 1`` the run records spans at the layer
boundaries and reports per-layer metrics instead of end-to-end ones.

Everything the run writes (graph stores, Spark local dirs, artifact store,
temp files) lives under ``.perfbench_tmp/`` in the checkout and is
removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import random
import resource
import shutil
import statistics
import subprocess
import sys
import threading
import time
import uuid
from dataclasses import dataclass, field
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import analytics, egdm, serving  # noqa: E402

WORKLOADS = ("sync_ingest", "graph_query")
WATCHDOG_S = 170.0


# -- environment --------------------------------------------------------------


def _cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # pragma: no cover - non-Linux
        return os.cpu_count() or 1


def _mem_mib() -> int:
    with open("/proc/meminfo") as f:
        return int(f.readline().split()[1]) // 1024


def heap_mib() -> int:
    return min(2048, _mem_mib() // 4)


def isolate(tmp: Path) -> None:
    """Route every writer the run has into ``tmp`` through the
    environment variables the program already reads."""
    for sub in ("spark-local", "artifacts", "tmp"):
        (tmp / sub).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp / "spark-local")
    os.environ["SPARK_GRAFT_ARTIFACTS"] = str(tmp / "artifacts")
    os.environ["TMPDIR"] = str(tmp / "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(_cpus())
    # no hsperfdata files in the system temp directory, from the
    # launcher JVM or the Spark JVM
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    # the default 16g can exceed the host; the stores here need far less
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{heap_mib()}m"
    # Python workers (pandas UDFs) import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    import tempfile

    tempfile.tempdir = str(tmp / "tmp")


def host_fingerprint() -> dict:
    model = ""
    try:
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.lower().startswith("model name"):
                    model = line.split(":", 1)[1].strip()
                    break
    except OSError:
        pass
    return {
        "cpu_model": model,
        "n_cpus": _cpus(),
        "mem_gib": round(_mem_mib() / 1024, 1),
        "kernel": platform.release(),
        "python": platform.python_version(),
    }


def _vm_hwm_kib(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


# -- statistics -----------------------------------------------------------------


def p50(xs: list[float]) -> float:
    return statistics.median(xs)


def tail(xs: list[float]) -> float:
    """The highest percentile with at least ten samples beyond it:
    sorted[n - 11]. Below 11 samples no such percentile exists and the
    maximum is reported; the sample count is stamped with the result."""
    s = sorted(xs)
    return s[len(s) - 11] if len(s) >= 11 else s[-1]


# -- run ----------------------------------------------------------------------


@dataclass
class Context:
    spark: object
    port: int = 0
    service: object = None
    storage: object = None
    model: egdm.GraphModel = field(default_factory=egdm.GraphModel)
    layer: object = None
    people: int = 0
    recent: list[str] = field(default_factory=list)
    sync_state: tuple = ()


def serve(ctx: Context, root: Path) -> None:
    from opencypher_datalayer_spark.ingest import DataLayer
    from opencypher_datalayer_spark.service_http import UdaService

    ctx.layer = DataLayer(ctx.spark, serving.CONFIG, storage_root=str(root))
    ctx.storage = ctx.layer._storage
    ctx.service = UdaService(ctx.layer).start()
    ctx.port = ctx.service.port


def warm_analytics(ctx: Context) -> None:
    """One untimed analytics pass."""
    warm = analytics.Pass(ctx.layer, ctx.model)
    warm.run()
    if warm.failures:
        raise RuntimeError(f"warm-up failed: {warm.failures}")


def warm_up_sync(ctx: Context, tmp: Path, seed: int) -> None:
    """The client's full sync, an analytics pass, one read of every kind,
    two rounds of the sync read-back and one incremental batch, so that
    no timed sample pays JIT or first-use cost."""
    serve(ctx, tmp / "store")
    rng = random.Random(seed)
    stream = egdm.EntityStream(seed)
    rec = serving.Recorder()
    serving.full_sync(ctx, stream, f"sync-{seed}", rec)
    log("full sync done")
    warm_analytics(ctx)
    log("analytics warmed")
    # the read paths keep getting faster for about ten reads each
    warm_reads = serving.READ_KINDS + serving.SYNC_READBACK * 2
    serving.Reads(ctx.port, rec, ctx.model).readback(rng, warm_reads, ctx.model.live())
    log("reads warmed")
    zipf = egdm.ZipfPicker(rng, stream.next_n)
    ents = serving.incremental_batch(rng, stream, zipf, serving.SYNC_INCREMENTAL_BATCH)
    rec.timed("write", lambda: serving.post_entities(ctx.port, ents))
    ctx.model.apply(ents, serving.LABEL, serving.DATASET)
    if rec.failed:
        raise RuntimeError(f"warm-up failed: {rec.failures[:3]}")
    ctx.sync_state = (rng, stream, zipf)


def preload_query_store(ctx: Context, tmp: Path, seed: int) -> None:
    """Bulk-load QUERY_PRELOAD_PEOPLE seeded people as one clustered
    snapshot (the bulk-load + OPTIMIZE a deployment runs before it
    serves), then warm the analytics pass and every request kind on it."""
    from opencypher_datalayer_spark.functions.localframe import local_df
    from opencypher_datalayer_spark.model import ENTITY_SCHEMA, normalize_entity
    from opencypher_datalayer_spark.service_http import _parse_entity_body
    from opencypher_datalayer_spark.storage import open_storage
    from opencypher_datalayer_spark.store import GraphStore

    n = serving.QUERY_PRELOAD_PEOPLE
    stream = egdm.EntityStream(seed)
    ents = stream.new_people(n)
    ctx.model.apply(ents, serving.LABEL, serving.DATASET)
    rows = []
    for i, e in enumerate(_parse_entity_body(egdm.body(ents))):
        row = normalize_entity(e)
        row["_seq"] = i
        rows.append(row)
    batch = local_df(ctx.spark, rows, ENTITY_SCHEMA, n_slices=0)
    storage = open_storage(str(tmp / "store"))
    storage.commit(
        GraphStore.empty(ctx.spark).apply_batch(batch, serving.LABEL, serving.DATASET),
        cluster_buckets=serving.QUERY_CLUSTER_BUCKETS,
    )
    log("preload committed")
    ctx.people = n
    ctx.recent = [egdm.person_gid(i) for i in range(n - 1000, n)]
    serve(ctx, tmp / "store")
    warm_analytics(ctx)
    rec = serving.Recorder()
    reads = serving.Reads(ctx.port, rec, ctx.model)
    reads.change_token = ctx.storage.current_version()
    upd = [stream.person(i) for i in range(0, n, n // serving.QUERY_WRITE_BATCH)]
    rec.timed("write", lambda: serving.post_entities(ctx.port, upd))
    ctx.model.apply(upd, serving.LABEL, serving.DATASET)
    reads.readback(random.Random(seed), serving.READ_KINDS, ctx.recent)
    if rec.failed:
        raise RuntimeError(f"warm-up failed: {rec.failures[:3]}")


def class_p50(samples: dict[str, list[float]], cls: str) -> float:
    """Mean over the class's request kinds of each kind's median, so the
    class figure does not jump between kinds of different cost."""
    kinds = [v for k, v in samples.items() if k.split(".")[0] == cls]
    return sum(p50(v) for v in kinds) / len(kinds)


def end_to_end(out: serving.Outcome, passes: list[float], ctx: Context, setup_s: float, peak_rss_mb: float) -> dict:
    s = out.rec.samples
    reads = [x for k, v in s.items() if k.split(".")[0] in serving.READ_CLASSES for x in v]
    writes = s["write"]
    done = sum(len(v) for v in s.values())
    live = len(ctx.model.live())
    return {
        "setup_s": (setup_s, "s"),
        "ingest_entities_per_s": (out.rec.entities_acked / sum(writes), "1/s"),
        "write_batch_p50_s": (p50(writes), "s"),
        "write_batch_tail_s": (tail(writes), "s"),
        "query_p50_s": (p50(reads), "s"),
        "query_tail_s": (tail(reads), "s"),
        **{f"{c}_p50_s": (class_p50(s, c), "s") for c in serving.READ_CLASSES},
        "ops_per_s": (done / out.wall_s, "1/s"),
        "analytics_pass_s": (p50(passes), "s"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
        "store_bytes_per_entity": (serving.store_bytes(ctx.storage) / live, "B"),
    }


def run(workload: str, seed: int, seconds: float, trace: bool, tmp: Path) -> tuple[dict, dict]:
    t_setup = time.perf_counter()
    isolate(tmp)
    import pyspark

    from opencypher_datalayer_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(tmp / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp / 'tmp'}",
        },
    )
    jvm = spark.sparkContext._gateway.proc
    log(f"spark up in {time.perf_counter() - t_setup:.1f}s")
    ctx = Context(spark)
    try:
        if workload == "sync_ingest":
            warm_up_sync(ctx, tmp, seed)
        else:
            preload_query_store(ctx, tmp, seed)
        setup_s = time.perf_counter() - t_setup
        log(f"setup done in {setup_s:.1f}s")

        tracer = None
        if trace:
            from perfbench import tracing

            tracer = tracing.Tracer(spark)
            tracing.install(tracer, serving.Q_LOOKUP)
        try:
            out = getattr(serving, workload)(ctx, seed, seconds)
            passes = out.passes
            pass_s = [p.wall for p in passes]
            log(f"workload done: {out.wall_s:.1f}s of requests, analytics passes {pass_s}")
        finally:
            if tracer is not None:
                tracer.uninstall()
        peak_kib = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss + _vm_hwm_kib(jvm.pid)
        e2e = end_to_end(out, pass_s, ctx, setup_s, peak_kib / 1024)
        checks_failed = out.checks_failed + [f for p in passes for f in p.failures]
        stamp = {
            "workload": workload,
            "seed": seed,
            "seconds": seconds,
            "trace": trace,
            "host": host_fingerprint(),
            "spark_version": spark.version,
            "pyspark_version": pyspark.__version__,
            "samples": {c: len(v) for c, v in sorted(out.rec.samples.items())},
            "latencies_s": {c: [round(x, 3) for x in v] for c, v in sorted(out.rec.samples.items())},
            "analytics_passes_s": [round(x, 3) for x in pass_s],
            "failures": (out.rec.failures + checks_failed)[:10],
            "nodes_edges": ctx.model.counts(),
        }
        attempted = out.rec.attempted + out.checks + sum(p.checks for p in passes)
        failed = out.rec.failed + len(checks_failed)
        stamp["error_rate"] = failed / attempted
        result = {"correct": failed == 0, "attempted": attempted, "failed": failed}
        if trace:
            stamp["end_to_end_traced"] = {k: v for k, (v, _) in e2e.items()}
            layers = tracer.layer_metrics()
            stamp["trace_spans"] = layers.pop("trace.spans")[0]
            metrics = layers
        else:
            metrics = e2e
        result["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
        return stamp, result
    finally:
        if ctx.service is not None:
            ctx.service.stop()
        stop_spark(spark, jvm)


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def stop_spark(spark, jvm) -> None:
    """Stop Spark and wait for the JVM to exit."""
    gateway = spark.sparkContext._gateway
    log("stopping spark")
    spark.stop()
    log("spark stopped")
    gateway.shutdown()
    jvm.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        jvm.wait(timeout=30)
    except subprocess.TimeoutExpired:
        jvm.kill()
        jvm.wait(timeout=10)
    log("jvm exited")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "opencypher_datalayer_spark" / "__init__.py").is_file():
        print(f"no opencypher_datalayer_spark package under {ROOT}", file=sys.stderr)
        return 2
    tmp = ROOT / ".perfbench_tmp" / f"run-{os.getpid()}-{uuid.uuid4().hex[:8]}"
    watchdog = threading.Timer(WATCHDOG_S, lambda: os._exit(3))
    watchdog.daemon = True
    watchdog.start()
    try:
        stamp, result = run(args.workload, args.seed, args.seconds, bool(args.trace), tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            tmp.parent.rmdir()  # unless another run still uses it
        except OSError:
            pass
        watchdog.cancel()
    print(json.dumps(stamp), flush=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
