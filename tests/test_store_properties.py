"""Property-based testing of the write-path semantics against a
pure-Python reference model of the reference's Cypher templates
(SURVEY §5: the reference has no property tests — we add them).

The model is ~40 lines of dicts implementing exactly C1-C4 per batch:
last-occurrence-wins within a batch, wholesale property replace,
outgoing-edge clear on upsert, stub creation, detach delete. Hypothesis
drives random batch sequences through both the model and
``GraphStore.apply_batch`` and demands identical graphs.

A second property holds the served merge to the full path: the same
batch sequences through ``storage.merge_commit`` (the key-set body,
``GraphStore.apply_collected``, on the files the batch hits) and
through ``apply_batch`` must give identical graphs, label sets included.
A batch may open a full sync: ``storage.wipe_merge_commit`` against
``delete_all`` then ``apply_batch``.
"""

import uuid

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from opencypher_datalayer_spark.model import ENTITY_SCHEMA, normalize_entity
from opencypher_datalayer_spark.storage import open_storage
from opencypher_datalayer_spark.store import GraphStore

GIDS = [f"g{i}" for i in range(6)]
PROP_KEYS = ["ns/name", "ns/age"]
REF_KEYS = ["ns/knows", "ns/works"]

entity_st = st.fixed_dictionaries(
    {
        "id": st.sampled_from(GIDS),
        "props": st.dictionaries(
            st.sampled_from(PROP_KEYS), st.sampled_from(["a", "b", "7"]), max_size=2
        ),
        "refs": st.dictionaries(
            st.sampled_from(REF_KEYS),
            st.lists(st.sampled_from(GIDS), min_size=1, max_size=2, unique=True),
            max_size=2,
        ),
        "deleted": st.booleans(),
    }
)
batches_st = st.lists(
    st.lists(entity_st, min_size=1, max_size=5), min_size=1, max_size=3
)


def _strip(k: str) -> str:
    return k.rsplit("/", 1)[-1].rsplit("#", 1)[-1]


class Model:
    """Reference semantics in plain Python (mirrors neo4j.go:171-287)."""

    def __init__(self):
        self.nodes: dict[str, dict] = {}  # gid -> {label, source, props}
        self.edges: set[tuple] = set()  # (src, rel, dst, source)

    def apply_batch(self, batch: list[dict], label: str, source: str) -> None:
        # Per gid: the last LIVE occurrence wins; a tombstone wins only
        # when every occurrence of that gid is a tombstone. Mirrors the
        # reference's transaction order (neo4j.go:243-279): C1 deletes
        # run before C2 upserts in the same txn, so an upsert anywhere
        # in the batch outlives a trailing tombstone.
        last: dict[str, dict] = {}
        for e in batch:
            prev = last.get(e["id"])
            if prev is not None and not prev["deleted"] and e["deleted"]:
                continue  # live occurrence beats a later tombstone
            last[e["id"]] = e
        deletes = [e for e in last.values() if e["deleted"]]
        live = [e for e in last.values() if not e["deleted"]]
        for e in deletes:  # C1: DETACH DELETE
            self.nodes.pop(e["id"], None)
            self.edges = {
                t for t in self.edges if t[0] != e["id"] and t[2] != e["id"]
            }
        for e in live:  # C2: upsert + clear outgoing + replace props
            self.nodes[e["id"]] = {
                "label": label,
                "source": source,
                "props": {_strip(k): str(v) for k, v in e["props"].items()},
            }
            self.edges = {t for t in self.edges if t[0] != e["id"]}
        for e in live:  # C3: stubs
            for targets in e["refs"].values():
                for t in targets:
                    self.nodes.setdefault(
                        t, {"label": None, "source": None, "props": {}}
                    )
        for e in live:  # C4: edge merge
            for ref, targets in e["refs"].items():
                for t in targets:
                    self.edges.add((e["id"], _strip(ref), t, source))


def _entity_df(spark, batch):
    rows = []
    for i, e in enumerate(batch):
        r = normalize_entity(e)
        r["_seq"] = i
        rows.append(r)
    return spark.createDataFrame(rows, ENTITY_SCHEMA)


@settings(
    # 6 examples ≈ 30 s of Spark batch chains — half the prior 12; the
    # model has been stable for many rounds and the driver's verify
    # budget is the binding constraint (each example is 1-3 full
    # apply_batch chains checked against the python model)
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(batches=batches_st)
def test_store_matches_model(spark, batches):
    model = Model()
    store = GraphStore.empty(spark)
    for batch in batches:
        model.apply_batch(batch, label="P", source="s")
        store = store.apply_batch(_entity_df(spark, batch), label="P", source="s").checkpointed()

    got_nodes = {
        r["gid"]: {"label": r["label"], "source": r["source"], "props": dict(r["props"])}
        for r in store.nodes.collect()
    }
    got_edges = {
        (r["src"], r["rel_type"], r["dst"], r["source"]) for r in store.edges.collect()
    }
    assert got_nodes == model.nodes
    assert got_edges == model.edges


# two datasets with different labels, so label-set accumulation shows;
# None prop values ride along
DATASETS = [("P", "s"), ("Q", "t")]
merge_entity_st = st.fixed_dictionaries(
    {
        "id": st.sampled_from(GIDS),
        "props": st.dictionaries(
            st.sampled_from(PROP_KEYS), st.sampled_from(["a", "7", None]), max_size=2
        ),
        "refs": st.dictionaries(
            st.sampled_from(REF_KEYS),
            st.lists(st.sampled_from(GIDS), min_size=1, max_size=2, unique=True),
            max_size=2,
        ),
        "deleted": st.booleans(),
    }
)
merge_batches_st = st.lists(
    st.tuples(
        st.sampled_from(DATASETS),
        st.booleans(),  # the batch opens a full sync: wipe its dataset first
        st.lists(merge_entity_st, min_size=1, max_size=5),
    ),
    min_size=1,
    max_size=3,
)


def _ent(gid, props=None, refs=None, deleted=False):
    return {"id": gid, "props": props or {}, "refs": refs or {}, "deleted": deleted}


def _graph(store):
    return (
        {
            (r["gid"], r["label"], tuple(r["labels"]), r["source"],
             tuple(sorted((r["props"] or {}).items())))
            for r in store.nodes.collect()
        },
        {(r["src"], r["rel_type"], r["dst"], r["source"]) for r in store.edges.collect()},
    )


@settings(
    # each example is a seeded commit plus 1-3 merges and the full path
    # beside them (~10 s); the explicit example covers the listed edge
    # cases on every run
    max_examples=2,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(batches=merge_batches_st)
@example(
    batches=[
        (
            ("Q", "t"),
            False,
            [
                # self-loop, a None prop, a new stub; g0 gains label Q
                _ent("g0", {"ns/name": None}, {"ns/knows": ["g0", "g4"]}),
                # tombstone and upsert of one gid; its ref hits a gid
                # tombstoned in the same batch
                _ent("g1", deleted=True),
                _ent("g1", {"ns/age": "7"}, {"ns/works": ["g2"]}),
                _ent("g2", deleted=True),
                _ent("g3", deleted=True),
                # duplicate id: the last live occurrence wins
                _ent("g0", {"ns/age": "a"}, {"ns/knows": ["g0"]}),
            ],
        ),
        # a ref to a gid tombstoned in an earlier batch
        (("P", "s"), False, [_ent("g5", {}, {"ns/knows": ["g3", "g5"]})]),
        # a full sync of P/s drops g5 and its edges but keeps g0 and g1
        # (labelled P too, but of source t) and the null-label stubs g2
        # and g3; g5 comes back as a stub
        (("P", "s"), True, [_ent("g4", {}, {"ns/knows": ["g5"]})]),
    ]
)
def test_merge_commit_matches_apply_batch(spark, tmp_path, batches):
    seed = GraphStore.empty(spark).apply_batch(
        _entity_df(spark, [_ent(g, {"ns/name": g}, {"ns/knows": [GIDS[(i + 1) % 4]]})
                           for i, g in enumerate(GIDS[:4])]),
        "P",
        "s",
    )
    storage = open_storage(str(tmp_path / uuid.uuid4().hex))
    storage.commit(seed, cluster_buckets=2)  # several files, so merges prune
    full = storage.load(spark).checkpointed()
    for (label, source), wipe, batch in batches:
        df = _entity_df(spark, batch)
        if wipe:
            full = full.delete_all(label, source)
            storage.wipe_merge_commit(spark, df, label, source)
        else:
            storage.merge_commit(spark, df, label, source)
        full = full.apply_batch(df, label, source).checkpointed()
    assert _graph(storage.load(spark)) == _graph(full)
