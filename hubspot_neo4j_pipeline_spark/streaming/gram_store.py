"""Incremental EXACT-substring gram-count store (Lee et al. 2022
dedup state), maintained by streaming micro-batches.

Rows are (h, n): a gram hash and its occurrence count, summed across
batches (the additive rule of streaming/segments.py, which owns the
layout, replay guard, crash contract and bucket-partial compaction).
The bucket column is ``bucket`` = pmod(h, n_buckets) — the one store
whose on-disk bucket column is not ``_bucket``. A micro-batch costs
O(batch): its partial counts become one delta, and the existing state
is never read.

Scoring: ``read_gram_store`` returns the (h, n) frame
``operators.dedup.duplicated_spans(batch, gram_counts=...)`` consumes.
To score a batch that has NOT been ingested yet, use
``score_batch_against_store`` — it unions the batch's own partial
counts into the store view first, because a gram duplicated only
*within* the incoming batch is invisible to the store alone (r8
ADVICE: the bare store matches one-shot semantics only AFTER the
batch is merged).

Deletion: ``gram_store_delete_batch`` commits the deleted docs' own
(h, n) counts negated; reads hide netted-out grams and compaction
drops them.

Reference parity: the reference has no streaming surface (its
pipeline re-extracts full snapshots per run — main.py); this family is
part of the beyond-reference training-data-pipeline layer, with the
one-shot batch operator (operators/dedup.py:202) as its oracle.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import segments

COMPACT_EVERY = 8


def _partial_counts(
    batch_docs: DataFrame, id_col: str, text_col: str, k: int | None
) -> DataFrame:
    from ..operators.dedup import DEFAULT_SHINGLE, sliding_gram_rows

    return (
        sliding_gram_rows(batch_docs, id_col, text_col, k or DEFAULT_SHINGLE)
        .groupBy(F.col("_h").alias("h"))
        .agg(F.count("*").alias("n"))
    )


SPEC = segments.StoreSpec(
    name="gram",
    key=("h",),
    values=("n",),
    merge=segments.additive,
    sum_types=("long",),
    bucket_expr=lambda n: F.pmod(F.col("h"), F.lit(n)).cast("int"),
    bucket_col="bucket",
)


def gram_store_last_batch_id(store_path: str) -> int:
    """Highest batch id the store has ingested (-1 if empty)."""
    return segments.next_batch_id(store_path) - 1


def read_gram_store(spark: SparkSession, store_path: str) -> DataFrame:
    """The store's current (h BIGINT, n BIGINT) view: meta's base plus
    every live delta, sum-merged; grams netted to 0 by delete partials
    are hidden. After a compaction with no new deltas this is a plain
    scan of the base."""
    return segments.read_store(SPEC, spark, store_path)


def _gram_k_pin(store_path: str, meta: dict, k: int | None) -> None:
    # the gram size is part of the store's identity: counts from
    # different k are meaningless to merge, so a mismatched ingest
    # must fail loudly, not blend
    from ..operators.dedup import DEFAULT_SHINGLE

    segments.pin_value(store_path, meta, "gram_k", k or DEFAULT_SHINGLE)


def gram_store_update_batch(
    batch_docs: DataFrame,
    store_path: str,
    batch_id: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int | None = None,
    compact_every: int = COMPACT_EVERY,
    n_buckets: int = segments.START_N_BUCKETS,
) -> None:
    """Ingest one micro-batch's sliding-gram counts: write the batch's
    partial (h, n) counts as a new delta segment (O(batch) — the
    existing state is NOT read), then compact if ``compact_every``
    deltas have accumulated. Without a ``batch_id`` the next free id
    is assigned."""

    def build(meta: dict, _bid: int) -> DataFrame:
        _gram_k_pin(store_path, meta, k)
        return _partial_counts(batch_docs, id_col, text_col, k)

    segments.ingest(
        SPEC, store_path, batch_id, compact_every, build, gram_store_compact,
        n_buckets=n_buckets,
    )


# Fold every live delta into a new bucket-partitioned base; netted-out
# grams are reclaimed.
gram_store_compact = functools.partial(segments.compact, SPEC)


def gram_store_delete_batch(
    deleted_docs: DataFrame,
    store_path: str,
    batch_id: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int | None = None,
    compact_every: int = COMPACT_EVERY,
) -> None:
    """Retract documents from the gram-count memory (the additive half
    of right-to-erasure): one atomic delta whose rows are the deleted
    docs' own (h, n) counts negated. A gram all of whose occurrences
    came from deleted docs nets to 0 and vanishes from every read,
    while a gram shared with surviving docs just decrements. Sums
    commute, so no sequencing is needed beyond the per-batch-id replay
    guard. The erasure request carries the documents (their text) —
    partials are recomputed, never looked up. Contract: delete only
    documents previously ingested, each at most once; the gram size
    pin guarantees the negated counts use the store's own k."""

    def build(meta: dict, _bid: int) -> DataFrame:
        _gram_k_pin(store_path, meta, k)
        return (
            _partial_counts(deleted_docs, id_col, text_col, k)
            .select("h", (-F.col("n")).cast("long").alias("n"))
        )

    segments.ingest(
        SPEC, store_path, batch_id, compact_every, build, gram_store_compact
    )


def score_batch_against_store(
    batch_docs: DataFrame,
    store_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int | None = None,
    min_count: int = 2,
) -> DataFrame:
    """Duplicated spans of an INCOMING (not-yet-ingested) batch against
    the full ingested corpus: the store's counts plus the batch's own
    partial counts, so grams duplicated only within the batch are
    seen too — exactly what one-shot ``duplicated_spans`` over
    (corpus ∪ batch) would use for the batch's grams. After the batch
    is ingested, ``duplicated_spans(batch, gram_counts=
    read_gram_store(...))`` alone gives the same counts."""
    from ..operators.dedup import DEFAULT_SHINGLE, duplicated_spans, sliding_gram_rows

    # r14 (guide §1.2): the batch's positional grams feed BOTH the
    # partial-count union below and the span frame inside
    # duplicated_spans — build them once, lazily checkpointed, instead
    # of tokenizing + md5-hashing the batch twice. Batch-bounded by the
    # micro-batch contract.
    rows = sliding_gram_rows(
        batch_docs, id_col, text_col, k or DEFAULT_SHINGLE
    ).localCheckpoint(eager=False)
    batch_partial = rows.groupBy(F.col("_h").alias("h")).agg(
        F.count("*").alias("n")
    )
    counts = (
        read_gram_store(batch_docs.sparkSession, store_path)
        .unionByName(batch_partial)
        .groupBy("h")
        .agg(F.sum("n").cast("long").alias("n"))
    )
    return duplicated_spans(
        batch_docs, id_col, text_col, k=k or 5, min_count=min_count,
        gram_counts=counts, gram_rows=rows,
    )


# foreachBatch driver: maintain the exact gram-count store as documents
# stream in.
stream_gram_store = segments.streamer(gram_store_update_batch)


def gram_store_bootstrap(
    corpus: DataFrame,
    store_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int | None = None,
) -> None:
    """Day-0 bulk load (``segments.bootstrap``): the whole existing
    corpus' (h, n) gram counts as the first compacted base. Unlike the
    document-keyed stores, the store's row count (distinct grams) is a
    large MULTIPLE of the document count, so sizing by documents would
    under-provision — the aggregated partial is checkpointed once and
    its exact row count sizes the base. The gram size pins exactly as
    update_batch would pin it (a mismatched-k later ingest still fails
    loudly). Equivalent state to update-then-compact, pinned by test."""
    from ..operators.dedup import DEFAULT_SHINGLE

    partial = _partial_counts(corpus, id_col, text_col, k).localCheckpoint(
        eager=True
    )
    segments.bootstrap(
        SPEC, store_path, partial, partial.count(),
        extra_meta={"gram_k": k or DEFAULT_SHINGLE},
    )


def contamination_against_store(
    batch_docs: DataFrame,
    store_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int | None = None,
) -> DataFrame:
    """Benchmark decontamination of an incoming batch against a
    PERSISTED eval-gram store (r11): one row per contaminated incoming
    doc — (id, n_shared_grams = distinct k-grams it shares with
    anything ever ingested into the store). The streaming closure of
    the batch ``doc_decontaminate`` operator: the benchmark corpus is
    ingested ONCE (any number of micro-batches, O(batch) each), and
    every training batch is screened with one equi-join against the
    slim gram set — the benchmark text is never re-scanned.

    Scale: the store holds one row per distinct benchmark gram; the
    join key is the house md5->bigint gram hash (uniform shuffle key);
    AQE size-gates broadcast vs shuffle exactly as the batch operator
    documents. Unlike score_batch_against_store, the batch's OWN grams
    are NOT unioned in — contamination is containment in the fixed
    reference set, not self-duplication."""
    from ..operators.dedup import DEFAULT_SHINGLE, sliding_gram_rows

    store_grams = read_gram_store(batch_docs.sparkSession, store_path).select(
        F.col("h").alias("_h")
    )  # (h, n) is already one row per distinct gram
    grams = (
        sliding_gram_rows(batch_docs, id_col, text_col, k or DEFAULT_SHINGLE)
        .select(F.col("_did").alias(id_col), "_h")
        .distinct()
    )
    return (
        grams.join(store_grams, "_h")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_shared_grams"))
    )
