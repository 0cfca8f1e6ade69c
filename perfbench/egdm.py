"""Seeded EGDM entity streams and the pure-Python graph model that checks
what the engine stores.

Entities are UDA-shaped (``id``/``props``/``refs``/``deleted``) with
namespace prefixes, so every request also exercises the ``@context``
expansion of the HTTP surface. People carry a single ``worksfor`` ref to
a company that is never synced itself (it stays a stub node) and a list
``knows`` ref to other people (targets not yet written become stubs until
they are). Every value is a function of the seed.

:class:`GraphModel` replays the reference's write semantics
(``neo4j.go:95-127``) on plain dicts: tombstones detach-delete, a live
write replaces props and outgoing edges and accumulates labels, ref
targets without a node become stubs, and a full-sync start batch wipes
the dataset's (label, source) nodes.
"""

from __future__ import annotations

import bisect
import itertools
import random

BASE = "http://data.sample.org/"
NAMESPACES = {
    "pe": BASE + "people/",
    "co": BASE + "companies/",
    "s": BASE + "schema/",
}
CONTEXT = {"id": "@context", "namespaces": NAMESPACES}
CITIES = [f"city{i:02d}" for i in range(24)]
N_COMPANIES = 500


def person_gid(n: int) -> str:
    return f"{NAMESPACES['pe']}p{n:07d}"


def company_gid(n: int) -> str:
    return f"{NAMESPACES['co']}c{n:04d}"


def _short(gid: str) -> str:
    """Full URI -> prefixed form, as a UDA client sends it."""
    for pfx, ns in NAMESPACES.items():
        if gid.startswith(ns):
            return f"{pfx}:{gid[len(ns):]}"
    return gid


class ZipfPicker:
    """Draw an index in ``[0, n)`` with probability ~ 1/(rank+1)^s over a
    seeded shuffle of the indices, so hot keys are spread over the key
    range instead of bunched at its start."""

    def __init__(self, rng: random.Random, n: int, s: float = 1.1):
        self._rng = rng
        self._order = list(range(n))
        rng.shuffle(self._order)
        self._cum = list(itertools.accumulate(1.0 / (r + 1) ** s for r in range(n)))

    def pick(self) -> int:
        u = self._rng.random() * self._cum[-1]
        return self._order[bisect.bisect_left(self._cum, u)]


class EntityStream:
    """Seeded generator of people entities. New people are numbered
    from ``first_new`` on; ``knows`` refs point at people numbered below
    ``population`` (default: the people created so far) plus a margin of
    not-yet-written ones, which become stubs."""

    def __init__(self, seed: int, first_new: int = 0, population: int | None = None):
        self.rng = random.Random(seed)
        self.next_n = first_new
        self.population = population
        self.version = 0  # bumps every generated entity so updates differ

    def person(self, n: int) -> dict:
        rng = self.rng
        self.version += 1
        hi = max(self.population or self.next_n, n + 1)
        # nobody knows themself: the engine counts a 2-hop path that runs
        # twice over one self-loop, which openCypher excludes
        picks = (rng.randrange(hi + 49) for _ in range(rng.randint(1, 3)))
        knows = sorted({_short(person_gid(t + (t >= n))) for t in picks})
        return {
            "id": _short(person_gid(n)),
            "props": {
                "s:name": f"person {n} v{self.version}",
                "s:age": rng.randint(18, 90),
                "s:city": rng.choice(CITIES),
            },
            "refs": {
                "s:worksfor": _short(company_gid(rng.randrange(N_COMPANIES))),
                "s:knows": knows,
            },
        }

    def new_people(self, count: int) -> list[dict]:
        out = [self.person(n) for n in range(self.next_n, self.next_n + count)]
        self.next_n += count
        return out

    def tombstone(self, n: int) -> dict:
        return {"id": _short(person_gid(n)), "deleted": True}


def body(entities: list[dict]) -> list[dict]:
    """UDA entity-batch request body."""
    return [CONTEXT, *entities]


def expand(value: str) -> str:
    if ":" in value:
        pfx, rest = value.split(":", 1)
        if pfx in NAMESPACES:
            return NAMESPACES[pfx] + rest
    return value


def _local(uri: str) -> str:
    return uri.rsplit("#", 1)[-1].rsplit("/", 1)[-1]


class GraphModel:
    """The expected graph: ``nodes`` maps gid -> (labels, source, props)
    with ``source is None`` for stubs; ``edges`` maps src -> set of
    (rel_type, dst)."""

    def __init__(self):
        self.nodes: dict[str, tuple[frozenset, str | None, dict]] = {}
        self.edges: dict[str, set[tuple[str, str]]] = {}

    # -- write semantics ------------------------------------------------

    def _detach(self, gids: set[str]) -> None:
        for g in gids:
            self.nodes.pop(g, None)
            self.edges.pop(g, None)
        for src in list(self.edges):
            kept = {e for e in self.edges[src] if e[1] not in gids}
            if kept != self.edges[src]:
                self.edges[src] = kept

    def apply(self, entities: list[dict], label: str, source: str) -> None:
        """One entity batch (one commit). A gid repeated in the batch
        resolves to its last live occurrence; a tombstone wins only when
        every occurrence is one."""
        last_live: dict[str, dict] = {}
        dead: set[str] = set()
        for e in entities:
            gid = expand(e["id"])
            if e.get("deleted"):
                dead.add(gid)
            else:
                last_live[gid] = e
        dead -= set(last_live)
        self._detach(dead)
        targets: set[str] = set()
        for gid, e in last_live.items():
            prior = self.nodes.get(gid)
            labels = (prior[0] if prior else frozenset()) | {label}
            props = {_local(expand(k)): str(v) for k, v in (e.get("props") or {}).items()}
            self.nodes[gid] = (labels, source, props)
            out = set()
            for k, v in (e.get("refs") or {}).items():
                for t in [v] if isinstance(v, str) else v:
                    out.add((_local(expand(k)), expand(t)))
                    targets.add(expand(t))
            self.edges[gid] = out
        for t in targets:
            self.nodes.setdefault(t, (frozenset(), None, {}))

    def wipe(self, label: str, source: str) -> None:
        self._detach({g for g, (ls, src, _) in self.nodes.items() if label in ls and src == source})

    # -- expected read results -----------------------------------------

    def counts(self) -> tuple[int, int]:
        return len(self.nodes), sum(len(v) for v in self.edges.values())

    def live(self) -> list[str]:
        return sorted(g for g, (_, src, _) in self.nodes.items() if src is not None)

    def props(self, gid: str) -> dict | None:
        node = self.nodes.get(gid)
        return None if node is None else node[2]

    def knows(self, gid: str) -> list[str]:
        return sorted(d for r, d in self.edges.get(gid, ()) if r == "knows")

    def two_hop(self, gid: str) -> int:
        """Number of paths gid -knows-> b -knows-> c that use two distinct
        relationships (openCypher relationship uniqueness)."""
        return sum(
            1 for b in self.knows(gid) for c in self.knows(b) if not (b == gid and c == b)
        )

    def older_than(self, label: str, age: int) -> int:
        return sum(
            1
            for ls, _, p in self.nodes.values()
            if label in ls and p.get("age") is not None and int(p["age"]) > age
        )

    def top_cities(self, label: str, k: int) -> list[tuple[str, int]]:
        counts: dict[str, int] = {}
        for ls, _, p in self.nodes.values():
            if label in ls and "city" in p:
                counts[p["city"]] = counts.get(p["city"], 0) + 1
        return sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
