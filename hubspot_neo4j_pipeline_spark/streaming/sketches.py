"""Streaming sketch maintenance: count-min and KMV sketches kept
current by foreachBatch merges.

Because both sketches are mergeable (operators/sketches.py), the
streaming path needs no custom state store: each micro-batch builds
its partial sketch and folds it into the persisted one. The persisted
state is the DEPTH x WIDTH counter grid / the <= k hash set — a fixed
few KB no matter how much text has streamed past, which is exactly why
a 100 TB ingest keeps sketches instead of a term->count table. The
stream ≡ batch tests (tests/test_streaming.py) assert the streamed
state is IDENTICAL to what a single batch pass builds.

Replay safety: foreachBatch is at-least-once — a crash between the
store write and the streaming checkpoint commit re-delivers the same
micro-batch on restart. KMV is idempotent by construction (distinct
union + re-min), but CMS counters are NOT, so the CMS grid carries the
last applied batch_id and `cms_update_batch` skips batches it has
already summed in. The batch_id rides ON the grid rows, so state and
watermark update in one write — no second file to get out of sync.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.sketches import cms_grid, cms_merge
from . import segments
from .segments import read_parquet


def cms_update_batch(
    batch_docs: DataFrame, store_path: str, batch_id: int | None = None
) -> None:
    """Merge one micro-batch's partial grid into the persisted grid.

    With a ``batch_id`` (the streaming path), batches whose id is <=
    the grid's recorded last_batch_id are skipped — at-least-once
    replay protection. Without one (direct batch-driven maintenance),
    every call merges unconditionally, preserving the original
    contract, and the stored watermark is left as-is.

    Lifecycle contract for the guard: batch_ids are scoped to ONE
    streaming checkpoint, so the store and its checkpoint_dir must
    live and die together. Pointing a FRESH checkpoint at an existing
    store would restart ids at 0 and the guard would skip real data —
    delete or rebuild the store when you reset the checkpoint.

    Stores written before the watermark existed (no last_batch_id
    column) are migrated on first touch. localCheckpoint materializes
    the merged grid before the overwrite. Unlike the gram/SCD2 stores
    (streaming/segments.py LSM layout), a full rewrite is CORRECT
    scale behavior here: the grid is a fixed DEPTH x WIDTH few-KB
    state no matter how much text has streamed past.
    """
    spark = batch_docs.sparkSession
    partial = cms_grid(batch_docs)
    last = None
    if os.path.exists(store_path):
        existing = read_parquet(spark, store_path)
        if "last_batch_id" in existing.columns:
            last = existing.agg(F.max("last_batch_id")).collect()[0][0]
        if batch_id is not None and last is not None and batch_id <= last:
            return  # replayed micro-batch — already summed in
        merged = cms_merge(existing.select("j", "bucket", "cnt"), partial)
    else:
        merged = partial
    if batch_id is not None:
        new_last = batch_id
    elif last is not None:
        new_last = last  # direct call: merge, keep the stream watermark
    else:
        new_last = -1  # no stream batch recorded yet
    merged.withColumn(
        "last_batch_id", F.lit(new_last).cast("long")
    ).localCheckpoint(eager=True).write.mode("overwrite").parquet(store_path)


# foreachBatch driver: maintain the corpus CMS grid incrementally as
# documents stream in (see cms_update_batch's lifecycle contract).
stream_cms_into_store = segments.streamer(cms_update_batch)


def kmv_update_batch(
    batch_docs: DataFrame, store_path: str, k: int | None = None
) -> None:
    """Merge one micro-batch's k-min set into the persisted KMV sketch.

    Idempotent under replay: re-merging a batch's k-mins is a no-op
    (distinct union + re-min), so no batch_id watermark is needed.
    """
    from ..operators.sketches import KMV_K, kmv_kmin, kmv_merge

    k = k or KMV_K
    spark = batch_docs.sparkSession
    partial = kmv_kmin(batch_docs, k)
    if os.path.exists(store_path):
        existing = read_parquet(spark, store_path)
        merged = kmv_merge(k, existing, partial)
    else:
        merged = partial
    merged.localCheckpoint(eager=True).write.mode("overwrite").parquet(store_path)


def _kmv_sink(
    batch_docs: DataFrame, store_path: str, _batch_id: int, k: int | None = None
) -> None:
    kmv_update_batch(batch_docs, store_path, k)


# foreachBatch driver: maintain the corpus cardinality sketch
# incrementally — the state is <= k hash values however much text has
# streamed past.
stream_kmv_into_store = segments.streamer(_kmv_sink)
