"""GraphStore: the property graph as two DataFrames, with the reference's
write semantics implemented as native DataFrame operations.

The reference ships five Cypher templates to Neo4j per batch, in a fixed
order (reference ``neo4j.go:238-284``): tombstone deletes (C1), node
upsert + outgoing-edge clear + label + wholesale property replace (C2),
reference-target stub creation (C3), edge merge (C4); plus a filtered
bulk delete for full-sync wipes (C5, ``neo4j.go:125-127``) and a gid
index DDL (C6 — unnecessary here: uniqueness is enforced by the merge
itself, and file/partition pruning plays the index's role).

Here each template is a set-oriented DataFrame transform; one
``apply_batch`` call is the atomic unit the reference's per-batch
transaction was. The same semantics has two bodies:

- ``apply_batch``, the full/bulk path: the batch stays a DataFrame, so
  it scales to any batch size. Bulk loads and the storage layer's
  over-budget fallback run it.
- ``apply_collected``, the served merge: a batch small enough to
  collect (``CollectedBatch``) is resolved on the driver into key sets,
  so a commit pays a few Spark jobs instead of a pipeline of
  store-derived broadcasts. ``storage.merge_commit`` runs it on the
  files the batch's keys hit, and it is differential-tested against
  ``apply_batch`` (``tests/test_store_properties.py``).

Scale notes (100 TB, 1000 executors):

- Every merge is batch-vs-store: the batch side is small (a sync
  micro-batch), so it is explicitly ``F.broadcast`` — node upsert, edge
  clear, and tombstone deletes are broadcast anti-joins, never a full
  shuffle of the store.
- The store side is only ever filtered/anti-joined and unioned — no
  store-wide shuffle or sort in the write path at all.
- Stub detection (C3) is the one batch-vs-store join keyed on the store's
  gid; it is a broadcast semi-join of store vs (tiny) target set, i.e.
  cost ~ one scan of nodes, which file-level pruning on gid ranges cuts
  further under a real table format.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from opencypher_datalayer_spark.functions.localframe import local_df
from opencypher_datalayer_spark.functions.uri import strip_prop_keys, uri_localname
from opencypher_datalayer_spark.model import EDGES_SCHEMA, NODES_SCHEMA


def empty_nodes(spark: SparkSession) -> DataFrame:
    # plain empty LocalRelation — do NOT coalesce/repartition it: keeping
    # the relation recognizably empty lets PropagateEmptyRelation fold
    # away whole join/union branches in the first write statements
    # (measured: wrapping these in coalesce(1) made the Cypher write
    # roundtrip 5x slower by defeating that pruning)
    return spark.createDataFrame([], NODES_SCHEMA)


def labels_expr(df: DataFrame) -> F.Column:
    """The node's label SET as a non-null array column.

    Normalizes the two legacy shapes: frames with a null ``labels`` cell
    (rows created before the multi-label column, or ad-hoc test frames)
    fall back to the scalar ``label``; frames without the column at all
    (ad-hoc query graphs built straight from tabular data) are treated as
    single-label."""
    has_col = "labels" in df.columns
    base = F.col("labels") if has_col else F.lit(None).cast("array<string>")
    return F.coalesce(
        base,
        F.when(F.col("label").isNotNull(), F.array("label")).otherwise(
            F.array().cast("array<string>")
        ),
    )


def where_label(nodes: DataFrame, label: str) -> DataFrame:
    """Label scan with multi-label semantics: a node matches ``:Person``
    when Person is IN its label set (Neo4j ``SET n:%s`` accumulates,
    ``neo4j.go:107``) — not only when it was the latest write's label."""
    return nodes.where(F.array_contains(labels_expr(nodes), label))


def empty_edges(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([], EDGES_SCHEMA)


@dataclass(frozen=True)
class GraphStore:
    """Immutable snapshot of the graph; every write returns a new snapshot.

    Snapshot-per-commit is what a table format (Delta/Iceberg) gives on a
    cluster; the persistence half lives in ``storage.ParquetGraphStorage``
    (immutable data directories published through a put-if-absent log).
    """

    nodes: DataFrame
    edges: DataFrame
    # Driver-maintained UPPER BOUND on max(nodes, edges) row count, or
    # None when unknown (e.g. a store loaded from storage). Not a
    # semantic field — the Cypher write planner uses it to pick the
    # small-store plan shape (broadcast the store side: one broadcast
    # per join site) over the scale-safe inversion (the store never
    # shuffles but every site pays two broadcasts of fixed driver
    # cost). Wrong-high is safe (falls back to the inversion);
    # wrong-low is impossible by construction (writes only add).
    size_hint: int | None = None

    @staticmethod
    def empty(spark: SparkSession) -> "GraphStore":
        return GraphStore(empty_nodes(spark), empty_edges(spark), size_hint=0)

    # ------------------------------------------------------------------
    # Write path
    # ------------------------------------------------------------------

    def apply_batch(self, batch: DataFrame, label: str, source: str) -> "GraphStore":
        """Apply one sync batch (entity envelope rows, ``model.ENTITY_SCHEMA``).

        Order is semantically load-bearing and mirrors the reference's
        single transaction: deletes -> node upserts -> target stubs ->
        edges (``neo4j.go:243-279``).
        """
        batch = _dedup_keep_last(batch)

        # W3 tombstone split (neo4j.go:186-189)
        deleted_gids = batch.where(F.col("deleted")).select(F.col("id").alias("gid"))
        live = batch.where(~F.col("deleted"))

        # W4 node-item projection (neo4j.go:192-197): gid + source + stripped props
        node_items = live.select(
            F.col("id").alias("gid"),
            F.lit(label).alias("label"),
            F.lit(source).alias("source"),
            strip_prop_keys("props").alias("props"),
        )

        # W5/W6 edge fan-out (neo4j.go:199-228): one row per (entity, ref, target),
        # rel type = flattened ref URI; MERGE dedup on (src, rel_type, dst).
        edge_items = (
            live.select(F.col("id").alias("src"), F.explode("refs").alias("ref", "targets"))
            .select(
                "src",
                uri_localname("ref").alias("rel_type"),
                F.explode("targets").alias("dst"),
                F.lit(source).alias("source"),
            )
            .dropDuplicates(["src", "rel_type", "dst"])
        )

        # --- C1: DETACH DELETE for tombstones (neo4j.go:95-99) ---
        nodes = _anti_by_gid(self.nodes, deleted_gids)
        edges = _detach_edges(self.edges, deleted_gids)

        # --- C2: node merge + outgoing-edge clear + property replace
        # (neo4j.go:101-109). Replace-not-patch means the new row simply
        # supersedes the old one: broadcast anti-join + union. Labels are
        # the one accumulating field (``SET n:%s`` ADDS, neo4j.go:107):
        # the superseding row unions the prior label set with the batch
        # label. ``prior`` is batch-sized (store semi-joined against the
        # broadcast batch gids), so the lookup stays a broadcast join.
        live_gids = live.select(F.col("id").alias("gid"))
        prior = nodes.join(F.broadcast(live_gids), "gid", "left_semi").select(
            "gid", labels_expr(nodes).alias("_prior_labels")
        )
        node_items = node_items.join(F.broadcast(prior), "gid", "left").select(
            "gid",
            "label",
            F.array_sort(
                F.array_union(
                    F.coalesce("_prior_labels", F.array().cast("array<string>")),
                    F.array(F.lit(label)),
                )
            ).alias("labels"),
            "source",
            "props",
        )
        nodes = _anti_by_gid(nodes, live_gids).unionByName(node_items, allowMissingColumns=True)
        edges = edges.join(
            F.broadcast(live_gids.withColumnRenamed("gid", "src")), "src", "left_anti"
        )

        # --- C3: reference-target stubs (neo4j.go:111-114): every dst gets a
        # gid-only node unless one already exists. W7 set-dedup of targets.
        # Join order matters at scale: anti-joining the tiny target set
        # against the store directly plans as a store-wide shuffle
        # (SortMergeJoin — the small side can't be the build side of an
        # anti join). Inverting it keeps the store scan shuffle-free:
        # semi-join the store against the broadcast targets (one scan,
        # small output), then a broadcast anti-join of tiny vs tiny.
        targets = edge_items.select(F.col("dst").alias("gid")).dropDuplicates()
        existing = nodes.select("gid").join(F.broadcast(targets), "gid", "left_semi")
        stubs = targets.join(F.broadcast(existing), "gid", "left_anti").select(
            "gid",
            F.lit(None).cast("string").alias("label"),
            F.array().cast("array<string>").alias("labels"),  # MERGE adds no label
            F.lit(None).cast("string").alias("source"),
            F.create_map().cast("map<string,string>").alias("props"),
        )
        nodes = nodes.unionByName(stubs, allowMissingColumns=True)

        # --- C4: edge merge (neo4j.go:116-123). Both endpoints exist by
        # construction (src is a live entity, dst has a stub), so the MATCH
        # endpoint check is a no-op; outgoing edges of live gids were just
        # cleared, so a plain union is the merge.
        edges = edges.unionByName(edge_items)

        return GraphStore(nodes, edges)

    def apply_collected(self, batch: "CollectedBatch", label: str, source: str) -> "GraphStore":
        """``apply_batch`` for a batch already resolved on the driver: the
        same C1-C4 result, built from key sets instead of batch lineage.

        One lookup of ``(gid, labels)`` for the live gids and reference
        targets gives the prior label sets (``SET n:%s`` accumulates,
        ``neo4j.go:107``) and which targets exist. Every other step is a
        broadcast anti-join against a driver-built key frame, unioned
        with one driver-built frame of new rows, so neither table's
        plan re-reads the store to derive its broadcasts. Key frames go
        to the JVM as one Arrow batch each: py4j round trips per call
        stay O(1), not O(keys).
        """
        spark = self.nodes.sparkSession

        def keys(gids) -> DataFrame:
            return local_df(spark, [(g,) for g in gids], "gid string", n_slices=1)

        found = (
            self.nodes.join(
                F.broadcast(keys(set(batch.live) | set(batch.targets))), "gid", "left_semi"
            )
            .select("gid", labels_expr(self.nodes).alias("labels"))
            .collect()
        )
        prior = {r["gid"]: r["labels"] for r in found}

        dead = set(batch.dead)
        # C2 rows: the prior label set plus this batch's label
        rows = [
            (g, label, sorted(set(prior.get(g) or ()) | {label}), source, props)
            for g, props in batch.live.items()
        ]
        # C3 stubs: a target is missing unless it is live or it is in the
        # store and not tombstoned by this batch
        rows += [
            (t, None, [], None, {})
            for t in batch.targets
            if t not in batch.live and (t in dead or t not in prior)
        ]
        touched = keys(batch.dead + list(batch.live))
        nodes = _anti_by_gid(self.nodes, touched).unionByName(
            local_df(spark, rows, NODES_SCHEMA, n_slices=1)
        )
        # C1 detach + C2 outgoing-edge clear, then C4's new edges
        edges = _detach_edges(self.edges, touched, keys(batch.dead)).unionByName(
            local_df(
                spark, [(s, r, d, source) for s, r, d in batch.edges], EDGES_SCHEMA, n_slices=1
            )
        )
        return GraphStore(nodes, edges)

    def delete_all(self, label: str, source: str) -> "GraphStore":
        """C5 filtered bulk delete (full-sync wipe, ``neo4j.go:125-127``):
        drop every node with this label AND source, detaching its edges."""
        # ``MATCH (n:%s {source: $source})`` matches via the label SET
        doomed = F.array_contains(labels_expr(self.nodes), label) & F.col(
            "source"
        ).eqNullSafe(source)
        doomed_gids = self.nodes.where(doomed).select("gid")
        return GraphStore(self.nodes.where(~doomed), _detach_edges(self.edges, doomed_gids))

    # ------------------------------------------------------------------
    # Maintenance
    # ------------------------------------------------------------------

    def checkpointed(self) -> "GraphStore":
        """Truncate lineage after a batch chain (local analog of a table
        commit): without this, N applied batches build an N-deep plan."""
        return GraphStore(
            self.nodes.localCheckpoint(),
            self.edges.localCheckpoint(),
            size_hint=self.size_hint,
        )

    def counts(self) -> tuple[int, int]:
        return self.nodes.count(), self.edges.count()


def _dedup_keep_last(batch: DataFrame) -> DataFrame:
    """A gid repeated within one batch resolves to its last LIVE
    occurrence; a tombstone only wins when every occurrence is one.

    This mirrors the reference's transaction order (``neo4j.go:243-279``):
    C1 deletes run before C2 upserts in the same txn, so a gid that is
    both tombstoned and upserted in one batch always ends up live — a
    trailing tombstone does NOT delete it. Ordering by (live first,
    then _seq desc) reproduces that in one window pass.
    """
    w = Window.partitionBy("id").orderBy(F.col("deleted").asc(), F.col("_seq").desc())
    return (
        batch.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


@dataclass(frozen=True)
class CollectedBatch:
    """One deduplicated entity batch on the driver, as the key sets
    ``GraphStore.apply_collected`` applies:

    - ``dead``: tombstoned gids;
    - ``live``: upserted gid -> props, keys stripped to URI local names;
    - ``edges``: ``(src, rel_type, dst)`` of the live entities' refs,
      deduplicated (MERGE, ``neo4j.go:116-123``);
    - ``targets``: the distinct ``dst`` of ``edges``, each needing a node.
    """

    dead: list[str]
    live: dict[str, dict | None]
    edges: list[tuple[str, str, str]]
    targets: list[str]

    @staticmethod
    def collect(batch: DataFrame, max_rows: int) -> "CollectedBatch | None":
        """Collect ``_dedup_keep_last(batch)`` in one Spark action, through
        the column helpers ``apply_batch`` projects with; ``None`` when the
        batch holds more than ``max_rows`` distinct gids."""
        rows = (
            _dedup_keep_last(batch)
            .select(
                "id",
                "deleted",
                strip_prop_keys("props").alias("props"),
                F.transform(
                    F.map_entries("refs"),
                    lambda e: F.struct(
                        uri_localname(e["key"]).alias("rel"), e["value"].alias("dsts")
                    ),
                ).alias("refs"),
            )
            .limit(max_rows + 1)
            .collect()
        )
        if len(rows) > max_rows:
            return None
        dead = [r["id"] for r in rows if r["deleted"]]
        live = {r["id"]: r["props"] for r in rows if not r["deleted"]}
        edges = list(
            dict.fromkeys(
                (r["id"], ref["rel"], dst)
                for r in rows
                if not r["deleted"]
                for ref in r["refs"] or ()
                for dst in ref["dsts"] or ()
            )
        )
        targets = list(dict.fromkeys(dst for _, _, dst in edges))
        return CollectedBatch(dead, live, edges, targets)


def _anti_by_gid(nodes: DataFrame, gids: DataFrame) -> DataFrame:
    return nodes.join(F.broadcast(gids), "gid", "left_anti")


def _detach_edges(
    edges: DataFrame, gids: DataFrame, dst_gids: DataFrame | None = None
) -> DataFrame:
    """Remove every edge whose src is in ``gids`` or whose dst is in
    ``dst_gids`` (default ``gids``: every edge incident to them)."""
    dst_gids = gids if dst_gids is None else dst_gids
    return edges.join(
        F.broadcast(gids.withColumnRenamed("gid", "src")), "src", "left_anti"
    ).join(F.broadcast(dst_gids.withColumnRenamed("gid", "dst")), "dst", "left_anti")
