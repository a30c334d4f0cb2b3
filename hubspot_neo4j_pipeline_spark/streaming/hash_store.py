"""Exact streaming dedup against the FULL ingested history.

``incremental.stream_dedup`` (dropDuplicatesWithinWatermark) is the
bounded-state primitive: state evicts past the watermark, so a
duplicate arriving LATER than the watermark horizon slips through —
the documented trade. This store is the other point on the curve: an
exact (content_hash -> first-owner doc id) table kept on the shared
LSM segment layer (streaming/segments.py), so a micro-batch ingests in
O(batch) and an incoming batch can be deduplicated against EVERYTHING
ever ingested, at any lateness. At 100 TB the hash table is one slim
16-byte-wide row per distinct document — orders of magnitude smaller
than the corpus — and only compactions touch all of it.

First-owner semantics match ``operators/dedup.exact_dedup`` (keep the
MIN id per identical content): the store keeps the minimum doc id per
hash across batches (min is idempotent and order-free, so replay and
out-of-order batches cannot corrupt it), and
``dedup_batch_against_store`` marks an incoming row a duplicate iff
the store holds the same hash with a SMALLER owner id — giving the
same verdicts a one-shot ``exact_dedup`` over (history ∪ batch) gives
for the batch's rows (pinned by test). Lifecycle and the min-owner
merge rule: streaming/segments.py.

Reference parity: the reference has no streaming surface; this is the
streaming closure of its URL/content dedup step
(utils/change_detector.py dedup semantics, SURVEY §2 D1/D2) and the
batch ``exact_dedup`` operator is its oracle.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import segments, tombstones

COMPACT_EVERY = 8


def _partial_hashes(batch: DataFrame, id_col: str, text_col: str) -> DataFrame:
    # the id keeps its NATIVE orderable type (r9 ADVICE: a long cast
    # turned string doc ids into NULL owners and silently NULL'd the
    # verdicts) — min works on any orderable type, matching
    # operators/dedup.exact_dedup's keep rule on the id as-is
    return (
        batch.select(
            F.sha2(F.col(text_col), 256).alias("content_hash"),
            F.col(id_col).alias("owner_id"),
        )
        .groupBy("content_hash")
        .agg(F.min("owner_id").alias("owner_id"))
    )


SPEC = segments.StoreSpec(
    name="hash",
    key=("content_hash",),
    values=("owner_id",),
    merge=segments.min_owner,
    bucket_expr=lambda n: F.pmod(F.xxhash64("content_hash"), F.lit(n)).cast("int"),
)


def read_hash_store(spark: SparkSession, store_path: str) -> DataFrame:
    """(content_hash, owner_id = min doc id ever seen with it and not
    deleted since)."""
    return segments.read_store(SPEC, spark, store_path)


def hash_store_update_batch(
    batch: DataFrame,
    store_path: str,
    batch_id: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    compact_every: int = COMPACT_EVERY,
    n_buckets: int = segments.START_N_BUCKETS,
) -> None:
    """Ingest one micro-batch's (hash, min id) rows as an atomic delta
    segment — O(batch), the existing state is NOT read. min is
    idempotent, so even a replay-guard bypass cannot corrupt owners."""

    def build(meta: dict, _bid: int) -> DataFrame:
        # the owner id keeps its NATIVE type (see _partial_hashes), so
        # the store's min() is numeric for numeric ids and
        # lexicographic for string ids — sound per store, corrupt if
        # MIXED ('10' < '9' after a unionByName coercion). Pin the
        # dtype at first ingest and raise on mismatch. A store without
        # the pin yet is backfilled from the STORED schema
        # (parquet-footer read, no data scan) before checking the
        # batch, so an upgrade can't self-pin a mismatched type.
        if meta.get("id_type") is None:
            try:
                stored = dict(read_hash_store(batch.sparkSession, store_path).dtypes)
                segments.pin_value(store_path, meta, "id_type", stored["owner_id"])
            except FileNotFoundError:
                pass  # empty store: the batch's type becomes the pin below
        segments.pin_value(store_path, meta, "id_type", dict(batch.dtypes)[id_col])
        return _partial_hashes(batch, id_col, text_col)

    segments.ingest(
        SPEC, store_path, batch_id, compact_every, build, hash_store_compact,
        n_buckets=n_buckets,
    )


# Fold live deltas into a new hash-bucketed base; tombstoned hashes are
# reclaimed.
hash_store_compact = functools.partial(segments.compact, SPEC)


def hash_store_delete_batch(
    batch: DataFrame,
    store_path: str,
    batch_id: int | None = None,
    text_col: str = "text",
    compact_every: int = COMPACT_EVERY,
) -> None:
    """Retract CONTENT from the dedup memory (right-to-erasure /
    eval-refresh without a rebuild): one atomic tombstone delta keyed
    by the batch's content hashes. From this batch on, reads and
    scoring forget those hashes — content known only through deleted
    documents stops marking future arrivals as duplicates — until the
    same content is RE-ingested by a later batch (the sequence rule in
    streaming/tombstones.py). The erasure request carries the
    documents (their text), so the tombstone keys are computed, never
    looked up."""

    def build(_meta: dict, _bid: int) -> DataFrame:
        return (
            batch.select(F.sha2(F.col(text_col), 256).alias("content_hash"))
            .distinct()
            .withColumn(tombstones.TOMB_COL, F.lit(True))
        )

    segments.ingest(
        SPEC, store_path, batch_id, compact_every, build, hash_store_compact
    )


def dedup_batch_against_store(
    batch: DataFrame,
    store_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact-dedup verdicts for an incoming batch against everything
    ever ingested PLUS the batch itself: every input row, with
    (content_hash, canonical_id, is_duplicate). canonical_id is the
    min id across history and batch; a row is a duplicate iff some
    smaller id carries identical content — exactly
    ``operators/dedup.exact_dedup`` over (history ∪ batch) restricted
    to the batch's rows. A row whose ``text_col`` is null has no
    content hash and is dropped, as ``exact_dedup`` drops it. Scale:
    one scan of the batch (the within-batch owner is a window over the
    hash) plus one equi-join against the slim store — never touches
    stored text.
    """
    spark = batch.sparkSession
    hashed = batch.withColumn("content_hash", F.sha2(F.col(text_col), 256))
    try:
        store = read_hash_store(spark, store_path).select(
            "content_hash", F.col("owner_id").alias("_hist_owner")
        )
        # the scoring join compares owners across history and batch —
        # a dtype mismatch would coerce and corrupt the ordering the
        # same way a mixed ingest would (r10 ADVICE); the pinned type
        # makes it fail loudly instead
        pinned = segments.read_meta(store_path).get("id_type")
        if pinned is not None and pinned != dict(batch.dtypes)[id_col]:
            raise ValueError(
                f"store {store_path} holds {pinned!r} owner ids; the "
                f"incoming batch's {id_col!r} is "
                f"{dict(batch.dtypes)[id_col]!r}"
            )
    except FileNotFoundError:
        store = None
    # within-batch first owner, so intra-batch duplicates are seen
    # even before ingest (same pre-ingest contract as the gram store's
    # score_batch_against_store); min on the id's NATIVE type, same as
    # the store's owners
    joined = hashed.where(F.col("content_hash").isNotNull()).withColumn(
        "_batch_owner",
        F.min(F.col(id_col)).over(Window.partitionBy("content_hash")),
    )
    if store is not None:
        joined = joined.join(store, "content_hash", "left")
    else:
        joined = joined.withColumn(
            "_hist_owner", F.lit(None).cast(dict(batch.dtypes)[id_col])
        )
    canonical = F.least(
        F.coalesce("_hist_owner", "_batch_owner"), F.col("_batch_owner")
    )
    return joined.select(
        *batch.columns,
        "content_hash",
        canonical.alias("canonical_id"),
        (F.col(id_col) != canonical).alias("is_duplicate"),
    )


def hash_store_bootstrap(
    corpus: DataFrame,
    store_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Day-0 bulk load (``segments.bootstrap``): the whole existing
    corpus' (content_hash, min owner id) rows as the first compacted
    base. Bucket count sized by the corpus' document count (distinct
    hashes <= documents, so this over-provisions — the safe
    direction). The id dtype pins exactly as update_batch would pin
    it. Equivalent state to update-then-compact, pinned by test."""
    segments.bootstrap(
        SPEC, store_path, _partial_hashes(corpus, id_col, text_col), corpus.count(),
        extra_meta={"id_type": dict(corpus.dtypes)[id_col]},
    )


# foreachBatch driver: maintain the exact content-hash store as documents
# stream in.
stream_hash_store = segments.streamer(hash_store_update_batch)
