"""Incremental duplicate-CLUSTER maintenance: connected-component
assignments kept current as near-dup PAIRS stream in.

The LSH store (streaming/lsh_store.py) closes pair DETECTION against
the full ingested history; what a production dedup pipeline actually
consumes is the cluster verdict per document — which cluster am I in,
and am I its canonical keeper. One-shot, that is
``operators/graph.dedup_clusters`` (hash-min CC over the pair set);
this module maintains the SAME assignment table incrementally, so a
micro-batch of new pairs never re-clusters the corpus.

Key invariant (what makes an exact oracle possible): if micro-batches
partition the corpus and each batch's pairs are computed against
(history ∪ batch) restricted to pairs touching the batch — exactly
``neardup_pairs_against_store``'s contract — then the UNION of those
per-batch pair sets is the one-shot operator's full pair set: every
pair (a, b) surfaces in the batch of its later-ingested member. So
after ingesting every batch, the store's assignments must equal
one-shot CC over ``minhash_lsh_pairs`` of the whole corpus — pinned by
test AND by the registered oracle ``incremental_dup_clusters``
(DuckDB recursive-CTE transitive closure).

Incremental step (the contraction argument): a stored component with
label c = min member id is connectivity-equivalent to the single
vertex c, so new edges are CONDENSED — each endpoint replaced by its
current label — before any clustering runs. The condensed graph's
nodes are component labels and never-assigned batch vertices; its
size is O(batch pairs), independent of component sizes. Components
containing no endpoint of a new pair cannot change. Connectivity over
the condensed graph yields an (old label → new label) map; applying
it is one equi-join against the assignment table (relabeling exactly
the touched components' members) plus the map's never-assigned rows.
Labels stay min member ids because every condensed node IS a min
(or an unassigned vertex id). Because edges are only ever ADDED, a
vertex's label is monotonically non-increasing over time, so the
store merges on read with an idempotent, order-free ``min(comp) per
doc_id`` — the hash store's rule — and replays, out-of-order deltas,
or a guard bypass cannot corrupt an assignment. (Edge RETRACTION — a
doc re-ingested with dissimilar text — is out of scope: near-dup
edges in a training-data pipeline are append-only facts about
observed content; a corpus rebuild is the retraction path. DOC
deletion is different and supported since r13:
``cluster_store_delete_batch`` tombstones a doc's assignment row —
it stops appearing in reads/verdicts and compaction reclaims it —
while other members' labels stay, as opaque cluster ids; see
streaming/tombstones.py.)

Connectivity solve: micro-batches condense to a few thousand edges at
most in any realistic trigger interval, so the default solve is a
driver-side union-find over one bounded collect (≤
``driver_cc_max_edges`` condensed edges — the same bounded-collect
class as the 32-row bucket manifests); a batch that exceeds the bound
falls back to the distributed hash-min CC kernel
(``operators/graph.connected_components``) over the SAME condensed
graph, so the scale path is never a correctness fork (pinned by a
test that forces the bound to 0 and compares).

Scale (100 TB): the store holds one slim (doc_id, comp) row per
PAIRED document — duplicates only, typically a small fraction of the
corpus, two orderable columns wide. Per batch: one scan of that slim
table (the condensation join), a connectivity solve over O(batch
pairs) condensed edges, and one O(batch + touched members) atomic
delta — never O(corpus). The expensive upstream (the LSH scoring
plan feeding ``pairs``) is executed exactly ONCE per batch: the
condensation consumes it a single time and everything downstream
works off the collected/condensed map. Lifecycle and the min-owner
merge rule: streaming/segments.py.

Reference parity: the reference has no streaming surface; this is the
streaming closure of its dedup step's cluster form (SURVEY §2 D1/D3),
with ``operators/graph.connected_components`` as the kernel and the
recursive-CTE oracle of ``doc_dup_clusters`` as the ground-truth
model.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import segments, tombstones

COMPACT_EVERY = 8


SPEC = segments.StoreSpec(
    name="cluster",
    key=("doc_id",),
    values=("comp",),
    merge=segments.min_owner,
    bucket_expr=lambda n: F.pmod(
        F.xxhash64(F.col("doc_id").cast("string")), F.lit(n)
    ).cast("int"),
)


def read_cluster_assignments(spark: SparkSession, store_path: str) -> DataFrame:
    """(doc_id, comp = min doc id reachable over every pair ever
    ingested). Merge-on-read is min(comp) per doc_id — idempotent and
    order-free because labels only decrease (see module docstring).
    Only PAIRED docs have rows; singletons are their own cluster by
    definition and never need storage."""
    return segments.read_store(SPEC, spark, store_path)


def cluster_store_update_batch(
    pairs: DataFrame,
    store_path: str,
    batch_id: int | None = None,
    id_a: str = "id_a",
    id_b: str = "id_b",
    compact_every: int = COMPACT_EVERY,
    n_buckets: int = segments.START_N_BUCKETS,
    driver_cc_max_edges: int = 200_000,
) -> None:
    """Fold one micro-batch of near-dup PAIRS into the assignment
    table: condense each pair endpoint to its current component label,
    solve connectivity over the condensed graph (driver union-find
    when it is small — the normal case; distributed hash-min CC past
    ``driver_cc_max_edges``), and commit the relabeled rows as one
    atomic delta. O(touched members + batch) — untouched components'
    rows are never rewritten (pinned by test), and the expensive
    upstream plan feeding ``pairs`` executes exactly once. min-merge
    makes even a replay-guard bypass harmless."""

    def build(meta: dict, _bid: int) -> DataFrame:
        # ids must stay one orderable type store-wide: min(comp) is
        # numeric for numeric ids, lexicographic for strings — mixed
        # ingest would unionByName-coerce and silently flip the order
        id_type = dict(pairs.dtypes)[id_a]
        segments.pin_value(store_path, meta, "id_type", id_type)
        return _relabel_delta(
            pairs, store_path, id_a, id_b, id_type, driver_cc_max_edges
        )

    segments.ingest(
        SPEC, store_path, batch_id, compact_every, build, cluster_store_compact,
        n_buckets=n_buckets,
    )


def _relabel_delta(
    pairs: DataFrame,
    store_path: str,
    id_a: str,
    id_b: str,
    id_type: str,
    driver_cc_max_edges: int,
) -> DataFrame:
    """The (doc_id, comp) delta rows for one batch of pairs."""
    from ..operators.graph import min_label_union_find

    spark = pairs.sparkSession
    edges = pairs.select(
        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
    ).where(F.col("src") != F.col("dst"))
    try:
        assign = read_cluster_assignments(spark, store_path)
    except FileNotFoundError:
        assign = None
    if assign is not None:
        # condense: endpoint -> its current label (own id if never
        # assigned), carrying a was-assigned flag per endpoint so the
        # driver path never needs a second pass over the store to
        # tell fresh vertices from old labels (a node value cannot be
        # both: a label always has its own (c, c) assignment row)
        la = assign.select(
            F.col("doc_id").alias("src"), F.col("comp").alias("_ca")
        )
        lb = assign.select(
            F.col("doc_id").alias("dst"), F.col("comp").alias("_cb")
        )
        edges = (
            edges.join(la, "src", "left")
            .join(lb, "dst", "left")
            .select(
                F.coalesce("_ca", F.col("src")).alias("src"),
                F.coalesce("_cb", F.col("dst")).alias("dst"),
                F.col("_ca").isNotNull().alias("sa"),
                F.col("_cb").isNotNull().alias("sb"),
            )
            .where(F.col("src") != F.col("dst"))
        )
    else:
        edges = edges.select(
            "src", "dst", F.lit(False).alias("sa"), F.lit(False).alias("sb")
        )
    # the ONE execution of the upstream pairs plan: an eager local
    # checkpoint of the condensed edges (checkpoint BEFORE the
    # bounding collect, so the distributed fallback reuses the
    # materialized blocks instead of re-running the expensive LSH plan
    # a second time). limit(N+1) caps driver memory; an overflowing
    # batch re-plans distributed over the same checkpoint.
    cond = edges.distinct().localCheckpoint(eager=True)
    head = cond.limit(driver_cc_max_edges + 1).collect()
    relabel_changed = None  # (node, new_comp) for old labels that moved
    fresh_delta = None  # (doc_id, comp) rows needing no store join
    if not head:
        # nothing to relabel, but the batch id must still commit so
        # replay accounting stays exact (empty delta)
        pass
    elif len(head) <= driver_cc_max_edges:
        mapping = min_label_union_find([(r["src"], r["dst"]) for r in head])
        was_assigned: set = set()
        for r in head:
            if r["sa"]:
                was_assigned.add(r["src"])
            if r["sb"]:
                was_assigned.add(r["dst"])
        changed_rows = [
            (n, m) for n, m in mapping.items() if n in was_assigned and m != n
        ]
        fresh_rows = [
            (n, m) for n, m in mapping.items() if n not in was_assigned
        ]
        schema = f"node {id_type}, new_comp {id_type}"
        # pandas/Arrow + coalesce(1): createDataFrame over a plain
        # Python list parallelizes it into defaultParallelism
        # PYTHON-RDD slices, so the downstream delta write pays one
        # task + one Python-worker round-trip + one parquet commit PER
        # SLICE (~0.5-2 s of pure overhead for a 52-row delta at 32
        # cores). The pandas path ships the rows as Arrow batches the
        # JVM owns outright and coalesce(1) makes the write a single
        # fast task. These frames are driver-bounded by construction
        # (<= driver_cc_max_edges mapping entries), so one slice is
        # safe at any corpus scale.
        import pandas as pd

        cols = ["node", "new_comp"]
        if changed_rows:
            relabel_changed = F.broadcast(
                spark.createDataFrame(
                    pd.DataFrame(changed_rows, columns=cols), schema
                ).coalesce(1)
            )
        if fresh_rows:
            fresh_delta = (
                spark.createDataFrame(
                    pd.DataFrame(fresh_rows, columns=cols), schema
                )
                .coalesce(1)
                .select(
                    F.col("node").alias("doc_id"),
                    F.col("new_comp").alias("comp"),
                )
            )
    else:
        from ..operators.graph import connected_components

        # cond is already an eager checkpoint — the iterative kernel
        # reads the materialized blocks, no upstream re-execution
        labels = connected_components(
            cond.select("src", "dst"), src="src", dst="dst"
        ).select(
            F.col("id").alias("node"), F.col("comp").alias("new_comp")
        )
        relabel_changed = labels.where(F.col("node") != F.col("new_comp"))
        fresh = labels
        if assign is not None:
            fresh = labels.join(assign, labels.node == assign.doc_id, "left_anti")
        fresh_delta = fresh.select(
            F.col("node").alias("doc_id"), F.col("new_comp").alias("comp")
        )
    # members of components whose label CHANGED relabel via one
    # equi-join on comp — minimal: unchanged components write nothing
    parts = []
    if relabel_changed is not None and assign is not None:
        parts.append(
            assign.join(
                relabel_changed, assign.comp == relabel_changed.node
            ).select("doc_id", F.col("new_comp").alias("comp"))
        )
    if fresh_delta is not None:
        parts.append(fresh_delta)
    if not parts:
        return spark.createDataFrame(
            [], f"doc_id {id_type}, comp {id_type}"
        ).coalesce(1)
    delta = parts[0]
    for p in parts[1:]:
        delta = delta.unionByName(p)
    return delta


# Fold live deltas into a new doc-bucketed base. The merge rule is
# min(comp) per doc_id, so compaction order and replayed deltas cannot
# corrupt assignments.
cluster_store_compact = functools.partial(segments.compact, SPEC)


def cluster_store_delete_batch(
    ids: DataFrame,
    store_path: str,
    batch_id: int | None = None,
    id_col: str = "doc_id",
    compact_every: int = COMPACT_EVERY,
) -> None:
    """Retract documents from the assignment table: one atomic
    tombstone delta keyed by doc_id. Deleted docs disappear from
    ``read_cluster_assignments`` and score as singletons in
    ``dedup_verdicts_from_store``; a doc RE-paired by a later batch
    gets a fresh assignment that outranks the tombstone. Other
    members' labels are untouched — a component label is an opaque
    cluster id, not a liveness claim (see the module docstring's
    retraction note); consumers that need a keeper among the
    SURVIVORS re-elect read-side via
    ``dedup_verdicts_from_store(..., reelect_keepers=True)``."""

    def build(_meta: dict, _bid: int) -> DataFrame:
        return (
            ids.select(F.col(id_col).alias("doc_id"))
            .distinct()
            .withColumn(tombstones.TOMB_COL, F.lit(True))
        )

    segments.ingest(
        SPEC, store_path, batch_id, compact_every, build, cluster_store_compact
    )


def dedup_verdicts_from_store(
    docs: DataFrame,
    store_path: str,
    id_col: str = "doc_id",
    reelect_keepers: bool = False,
) -> DataFrame:
    """The consumable dedup answer per document, straight from the
    assignment table — no pair recomputation, no CC run: (doc_id,
    cluster_id, keep). cluster_id is the doc's component label (its
    own id for singletons); keep is true iff the doc is its cluster's
    canonical (min member) — ``doc_dedup_keeplist``'s exact contract,
    answered incrementally. One left equi-join against the slim
    store.

    ``reelect_keepers`` (r14, r13 VERDICT task 4): after erasing a
    cluster's canonical member (``cluster_store_delete_batch``) the
    surviving members still carry the erased doc's id as their opaque
    label, so the default keep rule (doc_id == label) leaves the
    cluster with NO keeper — a consumer computing a keeplist from the
    store after deletes would drop every survivor. With the flag set,
    the keeper is re-elected READ-side as the min LIVE member per
    surviving cluster: a window over the slim assignment table, so the
    store is scanned and joined once either way, and no stored-label
    mutation (labels stay opaque ids; the store is untouched). Clusters
    whose canonical is still live elect the same keeper as the default
    rule, so the flag only changes answers for erased-canonical
    clusters."""
    spark = docs.sparkSession
    ids = docs.select(F.col(id_col).alias("doc_id"))
    try:
        assign = read_cluster_assignments(spark, store_path)
    except FileNotFoundError:
        assign = None
    if assign is None:
        return ids.select(
            "doc_id",
            F.col("doc_id").alias("cluster_id"),
            F.lit(True).alias("keep"),
        )
    cluster = F.coalesce("comp", F.col("doc_id"))
    if not reelect_keepers:
        return ids.join(assign, "doc_id", "left").select(
            "doc_id",
            cluster.alias("cluster_id"),
            (F.col("doc_id") == cluster).alias("keep"),
        )
    keepers = assign.withColumn(
        "_keeper", F.min("doc_id").over(Window.partitionBy("comp"))
    )
    return ids.join(keepers, "doc_id", "left").select(
        "doc_id",
        cluster.alias("cluster_id"),
        # a doc outside the store is its own singleton keeper;
        # inside, the min live member of its cluster keeps
        (F.col("doc_id") == F.coalesce("_keeper", F.col("doc_id"))).alias("keep"),
    )


def stream_dedup_clusters(
    stream_df: DataFrame,
    lsh_store_path: str,
    cluster_store_path: str,
    checkpoint_dir: str,
    timeout_sec: int = 240,
    compact_every: int = COMPACT_EVERY,
    threshold: float = 0.5,
) -> None:
    """The full streaming dedup pipeline in one foreachBatch driver:
    per micro-batch of documents — (1) signatures ingested into the
    LSH store, (2) near-dup pairs vs (history ∪ batch) scored from it,
    (3) the pairs folded into the cluster assignments. Both stores
    share the batch id, so a replayed micro-batch is a no-op
    end-to-end — and the ORDER makes a crash between the two writes
    recoverable: the signature ingest lands first, and because
    ``neardup_pairs_against_store`` dedups doc_id collisions
    batch-wins, re-scoring a batch whose signatures are already stored
    yields the identical pair set, so the replay completes the cluster
    fold it crashed before. checkpoint_dir lives and dies with BOTH
    store paths (segments.py lifecycle contract)."""
    from .lsh_store import (
        _doc_rows,
        lsh_store_update_batch,
        neardup_pairs_against_store,
    )

    def _sink(batch: DataFrame, batch_id: int) -> None:
        if segments.already_ingested(cluster_store_path, batch_id):
            return  # fully applied on a prior attempt
        # one signature build per batch, shared by ingest and scoring
        rows = _doc_rows(batch, "doc_id", "text").localCheckpoint(eager=True)
        lsh_store_update_batch(  # own replay guard: no-op if landed
            batch,
            lsh_store_path,
            batch_id,
            compact_every=compact_every,
            doc_rows=rows,
        )
        pairs = neardup_pairs_against_store(
            batch, lsh_store_path, threshold=threshold, doc_rows=rows
        )
        cluster_store_update_batch(
            pairs, cluster_store_path, batch_id, compact_every=compact_every
        )

    segments.run_foreach_batch(stream_df, _sink, checkpoint_dir, timeout_sec)


def cluster_store_bootstrap(
    pairs: DataFrame,
    store_path: str,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> None:
    """Day-0 bulk load: one-shot distributed CC over the existing
    corpus' full pair set (the initial clustering a production dedup
    runs ONCE in batch), written directly as the first compacted base
    (``segments.bootstrap``, sized by the distinct pair endpoints);
    incremental pair batches then maintain it. Equivalent state to
    folding the same pairs through update_batch, pinned by test."""
    from ..operators.graph import connected_components

    labels = connected_components(pairs, src=id_a, dst=id_b).select(
        F.col("id").alias("doc_id"), "comp"
    )
    n_rows = pairs.select(id_a).unionByName(
        pairs.select(F.col(id_b).alias(id_a))
    ).distinct().count()
    segments.bootstrap(
        SPEC, store_path, labels, n_rows,
        extra_meta={"id_type": dict(pairs.dtypes)[id_a]},
    )
