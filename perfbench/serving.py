"""The serving workloads: UDA entity-batch sync and openCypher/feed reads
against ``service_http.UdaService`` over localhost HTTP, checked against
the pure-Python :class:`egdm.GraphModel`.

Every request is timed from send to the last byte of the response; a
request fails when the status is not 200 or its body fails a check.
"""

from __future__ import annotations

import http.client
import itertools
import json
import os
import random
import threading
import time
from collections import deque
from dataclasses import dataclass, field

from perfbench import analytics, egdm

DATASET = "people"
LABEL = "Person"
CONFIG = {
    "dataset_definitions": [
        {"name": DATASET, "source_config": {"label": LABEL, "batch_size": 1000}}
    ]
}
FULL_SYNC_BATCH = 1000  # the reference's batch_size
SYNC_INCREMENTAL_BATCH = 250
QUERY_PRELOAD_PEOPLE = 5_000
QUERY_WRITE_BATCH = 50
# One client's read sequence: 6 lookups, 5 traversals, 4 scans and 5
# feed reads, the kinds of each class in fixed proportions. A change-feed
# poll right after a write returns that write's entities and costs
# several times one that finds none; three polls per cycle keep the
# median of ``feed.changes`` on the common case.
QUERY_CYCLE = (
    "lookup", "expand", "filter", "lookup", "page", "two_hop", "changes",
    "top_k", "changes", "lookup", "expand", "filter", "lookup", "page",
    "two_hop", "lookup", "top_k", "changes", "expand", "lookup",
)
# In the first segment each client posts one QUERY_WRITE_BATCH-entity
# batch after this many reads and goes on reading while it commits, so
# the two writes of a run start together and one waits for the other's
# commit lock.
QUERY_WRITE_AFTER = 3
QUERY_CLIENTS = 2
QUERY_CLUSTER_BUCKETS = 8
# The sync client's timed read-back after its write phase: one kind per
# read class, lookups twice, so that the pooled median falls inside one
# kind's samples rather than on the edge between two kinds.
SYNC_READBACK = ("lookup", "expand", "lookup", "filter", "page")
SYNC_READBACK_ROUNDS = 2
# graph_query's requests come in this many segments of about equal
# length, each followed by one analytics pass
QUERY_SEGMENTS = 3
# every read kind, for warm-up and the untimed exact checks
READ_KINDS = ("lookup", "expand", "two_hop", "filter", "top_k", "page", "changes")
READ_CLASSES = ("lookup", "traverse", "scan", "feed")

Q_LOOKUP = "MATCH (n:Person {gid: $g}) RETURN n.name AS name, n.age AS age"
Q_EXPAND = (
    "MATCH (n:Person {gid: $g})-[:knows]->(m) "
    "RETURN n.gid AS gid, collect(m.gid) AS knows"
)
Q_TWO_HOP = "MATCH (a:Person {gid: $g})-[:knows]->(b)-[:knows]->(c) RETURN count(*) AS paths"
Q_FILTER = "MATCH (n:Person) WHERE n.age > $a RETURN count(*) AS n"
Q_TOPK = (
    "MATCH (n:Person) RETURN n.city AS city, count(*) AS n "
    "ORDER BY n DESC, city LIMIT 5"
)
Q_NODES = "MATCH (n) RETURN count(*) AS n"
Q_EDGES = "MATCH (a)-[r]->(b) RETURN count(*) AS n"


class CheckFailed(Exception):
    pass


# -- HTTP client --------------------------------------------------------


def call(port: int, method: str, path: str, payload=None, headers=None):
    """One request on a fresh connection (the server speaks HTTP/1.0).
    Returns (status, decoded body)."""
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=170)
    try:
        data = None if payload is None else json.dumps(payload).encode()
        conn.request(method, path, body=data, headers={"Content-Type": "application/json", **(headers or {})})
        resp = conn.getresponse()
        raw = resp.read()
        return resp.status, (json.loads(raw) if raw else None)
    finally:
        conn.close()


@dataclass
class Recorder:
    """Latency samples per request kind (``class.kind``); thread-safe."""

    samples: dict[str, list[float]] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    entities_acked: int = 0
    failures: list[str] = field(default_factory=list)
    _lock: threading.Lock = field(default_factory=threading.Lock)

    def timed(self, cls: str, fn, check=None):
        """Run ``fn() -> (status, body)``; record latency under ``cls``
        when the status is 200 and ``check(body)`` passes."""
        t0 = time.perf_counter()
        try:
            status, out = fn()
        except OSError as e:
            status, out = -1, repr(e)
        dt = time.perf_counter() - t0
        ok, why = status == 200, f"HTTP {status}: {str(out)[:200]}"
        if ok and check is not None:
            try:
                check(out)
            except (CheckFailed, KeyError, IndexError, TypeError, ValueError) as e:
                ok, why = False, f"check: {e}"
        with self._lock:
            self.attempted += 1
            if ok:
                self.samples.setdefault(cls, []).append(dt)
            else:
                self.failed += 1
                self.failures.append(f"{cls}: {why}")
        return ok, out


def post_entities(port: int, entities: list[dict], headers=None):
    return call(port, "POST", f"/datasets/{DATASET}/entities", egdm.body(entities), headers)


def cypher(port: int, query: str, params: dict | None = None):
    return call(port, "POST", "/query", {"query": query, "params": params or {}})


def _expect(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


# -- read requests (shared by the mix and the read-back) ----------------


class Reads:
    """Send one read of a class, checking it against ``model`` when
    ``exact`` (False skips value checks that concurrent writers race)."""

    def __init__(self, port: int, rec: Recorder, model: egdm.GraphModel, follow: bool = True):
        self.port, self.rec, self.model = port, rec, model
        self.change_token = 0
        self.follow = follow  # a polling consumer advances its token
        self._tok_lock = threading.Lock()

    def lookup(self, gid: str, exact: bool) -> None:
        def check(out):
            rows = out["rows"]
            p = self.model.props(gid)
            if not exact or p is None:
                return
            live = "name" in p
            _expect(len(rows) == (1 if live else 0), f"lookup {gid}: {len(rows)} rows")
            if live:
                _expect(rows[0] == [p["name"], p["age"]], f"lookup {gid}: {rows[0]} != {p}")

        self.rec.timed("lookup.gid", lambda: cypher(self.port, Q_LOOKUP, {"g": gid}), check)

    def traverse(self, gid: str, two_hop: bool, exact: bool) -> None:
        if two_hop:
            def check(out):
                if exact:
                    got = out["rows"][0][0] if out["rows"] else 0
                    _expect(got == self.model.two_hop(gid), f"2-hop {gid}: {got}")

            self.rec.timed("traverse.two_hop", lambda: cypher(self.port, Q_TWO_HOP, {"g": gid}), check)
            return

        def check(out):
            if exact:
                got = sorted(out["rows"][0][1]) if out["rows"] else []
                _expect(got == self.model.knows(gid), f"expand {gid}: {got}")

        self.rec.timed("traverse.expand", lambda: cypher(self.port, Q_EXPAND, {"g": gid}), check)

    def scan(self, age: int | None, exact: bool) -> None:
        if age is None:
            def check(out):
                got = [tuple(r) for r in out["rows"]]
                if exact:
                    _expect(got == self.model.top_cities(LABEL, 5), f"top-k: {got}")

            self.rec.timed("scan.top_k", lambda: cypher(self.port, Q_TOPK), check)
            return

        def check(out):
            if exact:
                got = out["rows"][0][0]
                _expect(got == self.model.older_than(LABEL, age), f"age>{age}: {got}")

        self.rec.timed("scan.filter", lambda: cypher(self.port, Q_FILTER, {"a": age}), check)

    def feed_page(self, from_gid: str, exact: bool) -> None:
        def check(out):
            ents = [e for e in out if not e["id"].startswith("@")]
            _expect(len(ents) <= 100, "page too long")
            if not exact:
                return
            want = sorted(g for g in self.model.nodes if g > from_gid)[:100]
            got = [e["id"] for e in ents]
            _expect(got == want, f"page after {from_gid}: {got[:2]} != {want[:2]}")
            for e in ents[:10]:
                _expect(e["props"] == self.model.props(e["id"]), f"page props {e['id']}")
                want_refs = {}
                for r, d in sorted(self.model.edges.get(e["id"], ())):
                    want_refs.setdefault(r, []).append(d)
                _expect(e["refs"] == want_refs, f"page refs {e['id']}")

        path = f"/datasets/{DATASET}/entities?limit=100&from={from_gid}"
        self.rec.timed("feed.page", lambda: call(self.port, "GET", path), check)

    def feed_changes(self) -> None:
        with self._tok_lock:
            since = self.change_token

        def check(out):
            token = int(out[-1]["token"])
            _expect(out[-1]["id"] == "@continuation" and token >= since, "changes token")
            if self.follow:
                with self._tok_lock:
                    self.change_token = max(self.change_token, token)

        path = f"/datasets/{DATASET}/changes?since={since}"
        self.rec.timed("feed.changes", lambda: call(self.port, "GET", path), check)

    def send(self, kind: str, gid: str, rng: random.Random, exact: bool) -> None:
        """One read of ``kind`` (see READ_KINDS) keyed on ``gid``."""
        if kind == "lookup":
            self.lookup(gid, exact)
        elif kind in ("expand", "two_hop"):
            self.traverse(gid, two_hop=kind == "two_hop", exact=exact)
        elif kind == "filter":
            self.scan(rng.randint(18, 90), exact)
        elif kind == "top_k":
            self.scan(None, exact)
        elif kind == "page":
            self.feed_page(gid, exact)
        else:
            self.feed_changes()

    def readback(self, rng: random.Random, kinds, gids: list[str]) -> None:
        """One checked read of each of ``kinds`` in turn, on gids sampled
        from ``gids`` (the read half of a sync job's verification)."""
        for kind in kinds:
            self.send(kind, rng.choice(gids), rng, exact=True)


def check_totals(port: int, model: egdm.GraphModel) -> list[str]:
    """Node and edge counts against the model (untimed)."""
    bad = []
    for q, want in zip((Q_NODES, Q_EDGES), model.counts()):
        st, out = cypher(port, q)
        if st != 200 or out["rows"][0][0] != want:
            bad.append(f"{q}: got {out}, want {want}")
    return bad


def store_bytes(storage) -> int:
    """Bytes of the data files of the live snapshot version."""
    vdir = storage._version_dir(storage.current_version())
    total = 0
    for dp, _, files in os.walk(vdir):
        total += sum(os.path.getsize(os.path.join(dp, f)) for f in files if f.endswith(".parquet"))
    return total


# -- workloads ------------------------------------------------------------


@dataclass
class Outcome:
    rec: Recorder
    wall_s: float  # wall time of the recorded requests
    checks: int  # untimed output checks made after the requests
    checks_failed: list[str]
    passes: list  # the timed analytics.Pass objects


def full_sync(ctx, stream: egdm.EntityStream, sync_id: str, rec: Recorder) -> None:
    """A UDA full sync in one batch of FULL_SYNC_BATCH new people: the
    start header wipes the dataset, the end header closes the sync."""
    ents = stream.new_people(FULL_SYNC_BATCH)
    hdr = {
        "universal-data-api-full-sync-id": sync_id,
        "universal-data-api-full-sync-start": "true",
        "universal-data-api-full-sync-end": "true",
    }
    ok, _ = rec.timed("full_sync", lambda: post_entities(ctx.port, ents, hdr))
    if ok:
        ctx.model.wipe(LABEL, DATASET)
        ctx.model.apply(ents, LABEL, DATASET)


def incremental_batch(rng: random.Random, stream: egdm.EntityStream, zipf: egdm.ZipfPicker, n: int) -> list[dict]:
    """~85% Zipf-skewed updates of existing people, ~5% tombstones and
    ~10% new people."""
    ents = []
    for _ in range(n):
        u = rng.random()
        if u < 0.05:
            ents.append(stream.tombstone(zipf.pick()))
        elif u < 0.15:
            ents.extend(stream.new_people(1))
        else:
            ents.append(stream.person(zipf.pick()))
    return ents


def sync_ingest(ctx, seed: int, seconds: float) -> Outcome:
    """One closed-loop UDA sync client after its full sync (made during
    set-up). Until the time is up it repeats a cycle: one incremental
    batch of SYNC_INCREMENTAL_BATCH entities, a checked read-back of
    SYNC_READBACK_ROUNDS rounds of SYNC_READBACK, and one analytics pass,
    so that every metric's samples spread over the whole run. The
    passes are left out of the requests' wall time."""
    port, model, rec = ctx.port, ctx.model, Recorder()
    rng, stream, zipf = ctx.sync_state
    reads = Reads(port, rec, model)
    passes = []
    t0 = time.perf_counter()
    deadline = t0 + seconds
    while time.perf_counter() < deadline:
        ents = incremental_batch(rng, stream, zipf, SYNC_INCREMENTAL_BATCH)
        ok, _ = rec.timed("write", lambda: post_entities(port, ents))
        if ok:
            model.apply(ents, LABEL, DATASET)
            rec.entities_acked += len(ents)
        reads.readback(rng, SYNC_READBACK * SYNC_READBACK_ROUNDS, model.live())
        passes.append(analytics.Pass(ctx.layer, model))
        passes[-1].run()
    wall = time.perf_counter() - t0 - sum(p.wall for p in passes)
    return Outcome(rec, wall, 2, check_totals(port, model), passes)


def graph_query(ctx, seed: int, seconds: float) -> Outcome:
    """QUERY_CLIENTS closed-loop clients against the preloaded store, in
    QUERY_SEGMENTS segments that share ``seconds`` of request time, with
    one analytics pass after each segment (left out of the requests' wall
    time). Each client walks QUERY_CYCLE -- lookups, traversals, scans
    and feed reads -- from its own starting offset; in the first segment,
    after QUERY_WRITE_AFTER reads, it posts one small entity batch and
    reads on until the batch is acknowledged. The seed picks keys and
    parameters, so the request mix does not vary between seeds. Lookup
    keys favour recently written gids.
    Client k only writes people whose number is k mod QUERY_CLIENTS and
    never tombstones, so the writes commute and the model's final state
    does not depend on commit order."""
    port, model, rec = ctx.port, ctx.model, Recorder()
    reads = Reads(port, rec, model)
    reads.change_token = ctx.storage.current_version()
    recent: deque[str] = deque(ctx.recent, maxlen=2000)
    lock = threading.Lock()
    n_people = ctx.people
    rngs, batches = [], []
    for k in range(QUERY_CLIENTS):
        rng = random.Random(seed * 1000 + k)
        stream = egdm.EntityStream(
            seed * 1000 + k, first_new=n_people + 1_000_000 * (k + 1), population=n_people
        )
        zipf = egdm.ZipfPicker(rng, n_people // QUERY_CLIENTS)
        ents = [stream.person(zipf.pick() * QUERY_CLIENTS + k) for _ in range(QUERY_WRITE_BATCH - 5)]
        rngs.append(rng)
        batches.append(ents + stream.new_people(5))

    def write(ents: list[dict]) -> None:
        ok, _ = rec.timed("write", lambda: post_entities(port, ents))
        if ok:
            with lock:
                model.apply(ents, LABEL, DATASET)
                rec.entities_acked += len(ents)
                recent.extend(egdm.expand(e["id"]) for e in ents)

    def client(k: int, deadline: float, writes: bool) -> None:
        rng = rngs[k]
        writer = threading.Thread(target=write, args=(batches[k],)) if writes else None
        offset = k * len(QUERY_CYCLE) // QUERY_CLIENTS
        for n in itertools.count():
            if time.perf_counter() >= deadline and not (writer and writer.is_alive()):
                break
            if writer and n == QUERY_WRITE_AFTER:
                writer.start()
            kind = QUERY_CYCLE[(offset + n) % len(QUERY_CYCLE)]
            with lock:
                if rng.random() < 0.5:
                    gid = rng.choice(recent)
                else:
                    gid = egdm.person_gid(rng.randrange(n_people))
            reads.send(kind, gid, rng, exact=False)
        if writer and writer.ident is not None:
            writer.join()

    wall, passes = 0.0, []
    for i in range(QUERY_SEGMENTS):
        t0 = time.perf_counter()
        deadline = t0 + (seconds - wall) / (QUERY_SEGMENTS - i)
        threads = [threading.Thread(target=client, args=(k, deadline, i == 0)) for k in range(QUERY_CLIENTS)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        wall += time.perf_counter() - t0
        passes.append(analytics.Pass(ctx.layer, model))
        passes[-1].run()
    # exact reads of every kind on the settled state; checked, not timed
    check_rec = Recorder()
    checks = Reads(port, check_rec, model, follow=False)
    checks.change_token = reads.change_token
    checks.readback(random.Random(seed + 1), READ_KINDS, model.live())
    failed = check_rec.failures + check_totals(port, model)
    return Outcome(rec, wall, check_rec.attempted + 2, failed, passes)
