"""Streaming similarity SEARCH against the FULL ingested history: a
hyperplane-LSH vector index on the shared LSM segment layer.

The batch ANN operators (operators/similarity.py — brute force, LSH,
IVF) re-derive their index from the corpus every run. This store is
the incremental form: each micro-batch ingests its vectors WITH their
precomputed LSH bucket array and l2 norm in O(batch), and a query
batch is answered with one equi-join against the slim exploded bucket
view plus an exact cosine rank — the vector history is never
re-indexed. This closes the last streaming surface of the
LLM-pipeline layer (exact dup, near-dup, substring, SCD2, windowed
counts, decontamination were already store-backed).

Plane provenance (the correctness-critical part): hyperplanes are
data-derived — the first ``n_tables x planes_per_table`` vectors by id
of the FIRST ingested batch, with ``planes_per_table`` auto-scaled
from that batch's size (operators/similarity.auto_planes_per_table).
Both are PINNED in meta.json at first ingest (the id list and the
plane vectors themselves — JSON float repr round-trips IEEE754
doubles exactly, so the pinned values are bit-identical to the
collected ones): every later batch and every query MUST bucket with
the identical planes or candidates silently diverge. The same
pin-and-raise rule as the hash store's id_type and the gram store's
gram_k.

Lifecycle: streaming/segments.py, latest-writer rule per vec_id. The
``_bucket`` layout column is pmod(xxhash64(id)); the LSH buckets are
payload.

Scale note (documented, like the batch operators): planes pinned at
first ingest mean bucket population grows ~N/2^p as the store grows;
the batch operators re-derive p per run instead. For a store that
outgrows its planes, the re-index rule is a full rewrite at
compaction with a larger pinned plane set — the same "growth is the
full-rewrite moment" contract as the layout-bucket doubling — left as
a deploy-time knob; the registered round-trip pins the no-growth
path.

Reference parity: the reference has no vector surface; this is the
streaming closure of the beyond-reference ANN family, with
``ann_lsh_topk``'s integer-exact prm/planes oracle pattern as the
cross-engine ground truth (registered query ``incremental_ann_topk``).
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.sinks import plan_size_estimate
from . import segments, tombstones

COMPACT_EVERY = 8
N_TABLES = 8


def _pinned_planes(meta: dict):
    return meta.get("planes"), meta.get("planes_per_table")


def _vec_rows(v: DataFrame) -> DataFrame:
    """One row per vec_id, DETERMINISTICALLY (r13, r12 ADVICE): the
    lsh store's _doc_rows rule applied to vectors. Duplicate ids
    within one batch (or within a bulk-load corpus) share one _ubid,
    so the latest-writer window downstream would otherwise pick a
    nondeterministic winner; in the bootstrap path duplicates also
    skew plane derivation and n_buckets sizing. Winner = max
    (xxhash64(vector), vector) per id — content-keyed (replays and
    shuffles can't flip it), hash ties broken on the vector itself,
    and a hash AGGREGATE (map-side partial combine), not a window."""
    es = F.col("e").cast("string")
    return (
        v.groupBy("vec_id")
        .agg(
            F.max(
                F.struct(F.xxhash64(es).alias("h"), F.col("e").alias("e"))
            ).alias("_w")
        )
        .select("vec_id", F.col("_w.e").alias("e"))
    )


def _bucket_sql(ppt: int, n_full: int) -> str:
    """Bucket-array expression over columns `e` (vector) and `ps`
    (flat plane array-of-arrays) — the same sign-bit fold as
    operators/similarity.lsh_buckets, with the plane values inlined
    from the pinned meta instead of a broadcast row."""
    return (
        f"transform(sequence(0, {n_full - 1}), t -> "
        f"aggregate(sequence(0, {ppt - 1}), 0L, (acc, b) -> acc + "
        f"if(aggregate(zip_with(e, ps[t * {ppt} + b], (x, y) -> x * y), "
        f"cast(0 as double), (a2, v2) -> a2 + v2) >= 0, "
        f"shiftleft(1L, b), 0L)))"
    )


def _with_buckets(
    v: DataFrame, planes: list[list[float]], ppt: int, n_tables: int = N_TABLES
) -> DataFrame:
    """(vec_id, e, _n, buckets) — norms and the per-table bucket longs
    under the PINNED planes. Only fully-populated tables participate
    (lsh_buckets' degenerate-corpus guard). The planes ride as ONE
    broadcast row (createDataFrame of the pinned Python floats —
    exact doubles by construction; building n_planes x dim F.lit
    literals instead would hit the r4 py4j-construction wall)."""
    from ..operators.similarity import l2_norm

    n_full = len(planes) // ppt
    if n_full == 0:
        return v.select(
            "vec_id", "e", F.lit(0.0).alias("_n"),
            F.expr("cast(array() as array<bigint>)").alias("buckets"),
        ).where(F.lit(False))
    # r14: pandas/Arrow for the 1-row plane frame — the plain-list
    # createDataFrame parallelizes even ONE row into
    # defaultParallelism Python-RDD slices, so every broadcast
    # materialization paid 32 Python-worker round-trips (~0.3 s vs
    # ~0.03 s measured; doubles cross Arrow bit-intact).
    import pandas as pd

    planes_row = v.sparkSession.createDataFrame(
        pd.DataFrame({"ps": [planes]}), "ps array<array<double>>"
    )
    return (
        v.join(F.broadcast(planes_row))
        .withColumn("buckets", F.expr(_bucket_sql(ppt, n_full)))
        .withColumn("_n", l2_norm("e"))
        .select("vec_id", "e", "_n", "buckets")
    )


SPEC = segments.StoreSpec(
    name="vector",
    key=("vec_id",),
    values=("e", "_n", "buckets"),
    merge=segments.latest_writer,
    bucket_expr=lambda n: F.pmod(
        F.xxhash64(F.col("vec_id").cast("string")), F.lit(n)
    ).cast("int"),
)


def vector_store_update_batch(
    batch: DataFrame,
    store_path: str,
    batch_id: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_tables: int = N_TABLES,
    compact_every: int = COMPACT_EVERY,
    n_buckets: int = segments.START_N_BUCKETS,
) -> None:
    """Ingest one micro-batch's (vec_id, e, norm, LSH buckets) rows as
    an atomic delta — O(batch). First ingest pins the plane set
    (vectors + planes_per_table) in meta; later batches bucket with
    the PINNED planes (a re-derived plane set would silently split
    the candidate space)."""
    from ..operators.similarity import as_double, auto_planes_per_table

    v = _vec_rows(
        batch.select(F.col(id_col).alias("vec_id"), as_double(vec_col).alias("e"))
    )
    # the delta plan joins the pinned-planes driver frame, which hides
    # the plan's size from the planner (LogicalRDD reports unknown),
    # so the small-delta driver commit would never fire. Estimate on
    # the parquet-rooted subplan BEFORE that join instead; x4 covers
    # the added buckets/norm/meta columns (the vector payload
    # dominates a row, so the margin is generous).
    v_est = plan_size_estimate(v)

    def build(meta: dict, _bid: int) -> DataFrame:
        rows_v = v
        planes, ppt = _pinned_planes(meta)
        if planes is None:
            # the plane-derivation path consumes v THREE times (count,
            # plane collect, delta write) — materialize it once so the
            # second and third pass read checkpointed blocks instead of
            # re-running the dedup aggregate. Later batches (planes
            # pinned) execute v exactly once and skip this. Same
            # pattern as vector_store_bootstrap.
            rows_v = v.localCheckpoint(eager=True)
            ppt = auto_planes_per_table(rows_v.count())
            rows = rows_v.orderBy("vec_id").limit(n_tables * ppt).collect()
            planes = [list(r["e"]) for r in rows]  # bounded: n_planes x dim
            segments.pin_value(store_path, meta, "planes_per_table", ppt)
            segments.pin_value(store_path, meta, "planes", planes)
        return (
            _with_buckets(rows_v, planes, ppt, n_tables)
        )

    segments.ingest(
        SPEC, store_path, batch_id, compact_every, build, vector_store_compact,
        n_buckets=n_buckets,
        est_bytes=None if v_est is None else v_est * 4,
    )


def read_vector_store(spark: SparkSession, store_path: str) -> DataFrame:
    """(vec_id, e, _n, buckets): latest writer per vec_id wins. A vec
    whose newest row is a tombstone (``vector_store_delete_batch``) is
    hidden from every read/ANN path; a later re-ingest resurrects it."""
    return segments.read_store(SPEC, spark, store_path)


# Fold live deltas into a new id-bucketed base. LSH buckets are payload
# and carry over verbatim (they depend only on the pinned planes, never
# on the layout).
vector_store_compact = functools.partial(segments.compact, SPEC)


def vector_store_delete_batch(
    ids: DataFrame,
    store_path: str,
    batch_id: int | None = None,
    id_col: str = "vec_id",
    compact_every: int = COMPACT_EVERY,
) -> None:
    """Retract vectors from the ANN index: one atomic tombstone delta
    keyed by vec_id. Deleted vectors stop appearing as neighbors in
    ``ann_topk_against_store`` (it reads the tombstone-filtered store
    view) and a later re-ingest resurrects."""

    def build(_meta: dict, _bid: int) -> DataFrame:
        return (
            ids.select(F.col(id_col).alias("vec_id"))
            .distinct()
            .withColumn("e", F.lit(None).cast("array<double>"))
            .withColumn("_n", F.lit(None).cast("double"))
            .withColumn("buckets", F.lit(None).cast("array<bigint>"))
            .withColumn(tombstones.TOMB_COL, F.lit(True))
        )

    segments.ingest(
        SPEC, store_path, batch_id, compact_every, build, vector_store_compact
    )


def ann_topk_against_store(
    queries: DataFrame,
    store_path: str,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k neighbors of a query batch against EVERYTHING
    ever ingested: query vectors bucket under the store's PINNED
    planes, candidates come from one equi-join on (table_id, bucket)
    against the store's exploded bucket view, and exact cosine ranks
    them — (query_id, neighbor_id, cosine, rank), rank 1..k, ties
    broken by neighbor id. A stored vector with the query's own id is
    excluded (self-match).

    Scale: O(query batch x tables) bucket rows join a slim exploded
    view of the store; vectors and precomputed norms ride only the
    candidate rows; never a corpus scan."""
    from ..operators.similarity import as_double, l2_norm

    spark = queries.sparkSession
    meta = segments.read_meta(store_path)
    planes, ppt = _pinned_planes(meta)
    if planes is None:
        raise FileNotFoundError(f"empty vector store at {store_path}")
    q = queries.select(F.col(id_col).alias("vec_id"), as_double(vec_col).alias("e"))
    qb = _with_buckets(q, planes, ppt).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qe"),
        F.col("_n").alias("qn"),
        F.posexplode("buckets").alias("table_id", "bucket"),
    )
    store = read_vector_store(spark, store_path)
    sb = store.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("e").alias("ne"),
        F.col("_n").alias("nn"),
        F.posexplode("buckets").alias("table_id", "bucket"),
    )
    cand = (
        sb.join(qb, ["table_id", "bucket"])
        .where(F.col("neighbor_id") != F.col("query_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    dot = F.expr(
        "aggregate(zip_with(qe, ne, (x, y) -> x * y), "
        "cast(0 as double), (acc, v) -> acc + v)"
    )
    pairs = cand.select(
        "query_id",
        "neighbor_id",
        (dot / (F.col("qn") * F.col("nn"))).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def vector_store_bootstrap(
    corpus: DataFrame,
    store_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_tables: int = N_TABLES,
) -> None:
    """Day-0 bulk load (r12): the whole existing vector corpus indexed
    directly into the first compacted base — plane derivation is
    IDENTICAL to a first update_batch over the same frame (ppt from
    the corpus size, planes = first n_tables x ppt vectors by id,
    both pinned in meta), so bootstrap-then-stream and
    ingest-everything-batchwise produce the same candidate space.
    Bootstrap rows carry _ubid=-1 so a vector re-ingested by streamed
    batch 0 (a fresh checkpoint's first id) wins the latest-writer
    window. Duplicate vec_ids in the corpus are resolved
    deterministically BEFORE sizing/plane derivation (_vec_rows — r12
    ADVICE: they used to tie at _ubid=-1 with a nondeterministic
    winner and skew n_buckets). Equivalent state to
    update-then-compact, pinned by test."""
    from ..operators.similarity import as_double, auto_planes_per_table

    v = _vec_rows(
        corpus.select(F.col(id_col).alias("vec_id"), as_double(vec_col).alias("e"))
    ).localCheckpoint(eager=True)
    n_rows = v.count()
    ppt = auto_planes_per_table(n_rows)
    plane_rows = v.orderBy("vec_id").limit(n_tables * ppt).collect()
    planes = [list(r["e"]) for r in plane_rows]  # bounded: n_planes x dim
    segments.bootstrap(
        SPEC, store_path, _with_buckets(v, planes, ppt, n_tables), n_rows,
        extra_meta={"planes_per_table": ppt, "planes": planes},
    )


# foreachBatch driver: each micro-batch ingests its vectors.
stream_vector_store = segments.streamer(vector_store_update_batch)
