"""Incremental ingestion: streaming micro-batches merged into the
SCD2 graph store.

The reference re-extracts full snapshots per run (main.py); streaming
feeds deliver *partial* batches, so the merge here is UPSERT-only
(new/updated version chains) — soft deletes require full-snapshot
semantics and stay with the batch pipeline (operators/scd2.scd2_merge).

`stream_dedup` is the training-data-pipeline primitive: exact
content-hash dedup over an unbounded stream with bounded state
(dropDuplicatesWithinWatermark evicts keys older than the watermark).
"""

from __future__ import annotations

import datetime
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.scd2 import snapshot_hash, with_temporal_fields
from . import segments, tombstones


def stream_dedup(
    events: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup on key_cols with watermark-bounded state.

    Batch frames fall back to plain dropDuplicates (same semantics,
    no state needed) — batch output is the oracle for the stream.
    """
    if events.isStreaming:
        return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            key_cols
        )
    return events.dropDuplicates(key_cols)


SCD2_COMPACT_EVERY = 8
_META_COLS = ("_kind", "_ubid", "_bucket")


SCD2_HISTORY_FOLD_AT = 8  # fold history segments when more accumulate


def _scd2_meta(store_path: str) -> dict:
    m = segments.read_meta(store_path)
    m.setdefault("key", None)
    # min history-segment id a reader resolves: a FOLD compaction
    # rewrites all older segments into one seg-<hi> and raises the
    # floor to hi, so the superseded segments become invisible the
    # instant the meta commits (and are swept after). -1 = no fold yet.
    m.setdefault("history_floor", -1)
    return m


def _current(
    spec: segments.StoreSpec, segs: list[segments.Segment]
) -> DataFrame:
    """The current family's merge, for reads and compactions alike:
    the base plus every live delta's 'current' rows, latest writer per
    key wins (a key upserted in deltas 5 and 9 resolves to 9's row —
    5's version was closed into history by batch 9), stamped
    ``_kind='current'`` and ``_ubid`` = the newest segment's id.

    ``tombstones.latest_writer_union`` merges per frame with broadcast
    anti-joins (no per-row window over the store). That equals the
    per-row window on ``_ubid`` because every frame is unique per key
    (compaction folds through this merge, bootstrap and each delta
    through ``dropDuplicates([key])``) and frame order IS ``_ubid``
    order (bootstrap rows carry -1) — pinned by
    test_read_current_equals_window_merge. Columns keep the old->new
    union's order (first frame's columns, later-only ones appended)."""
    frames = [
        s.frame if s.is_base else s.frame.where(F.col("_kind") == "current")
        for s in segs
    ]
    merged = tombstones.latest_writer_union(
        frames, spec.key[0], [s.rows for s in segs]
    )
    ordered = dict.fromkeys(c for f in frames for c in f.columns)
    return merged.select(
        *[c for c in ordered if c not in _META_COLS],
        F.lit("current").alias("_kind"),
        F.lit(segs[-1].seq).cast("long").alias("_ubid"),
    )


def _history_segments(store_path: str, meta: dict) -> list[str]:
    """COMMITTED history segments only: ``seg-<id>`` with
    history_floor <= id <= consumed_through. A crash between the
    segment rename and the meta replace of a compaction leaves a
    ``seg-<hi>`` whose closed rows still also live in the uncompacted
    deltas — resolving it would double-count them, so visibility is
    gated on the meta pointer, exactly like delta visibility. The
    floor makes FOLDED-away segments invisible the instant the fold's
    meta commits, before any file is deleted."""
    hist = os.path.join(store_path, segments.HISTORY)
    floor = meta.get("history_floor", -1)
    return sorted(
        os.path.join(hist, n)
        for n in (os.listdir(hist) if os.path.isdir(hist) else ())
        if n.startswith("seg-")
        and n[4:].isdigit()
        and floor <= int(n[4:]) <= meta["consumed_through"]
    )


def _closed(
    spark, seg_paths: list[str], deltas: dict[int, str]
) -> DataFrame | None:
    """Closed versions: the history segments ``seg_paths`` plus the
    deltas' 'closed' rows, meta columns dropped; None if neither."""
    frames = [segments.read_parquet(spark, *seg_paths)] if seg_paths else []
    frames += [
        segments.read_parquet(spark, p).where(F.col("_kind") == "closed")
        for _bid, p in sorted(deltas.items())
    ]
    if not frames:
        return None
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f, allowMissingColumns=True)
    return out.drop(*_META_COLS)


def _commit_history(
    spark, store_path: str, meta: dict, deltas: dict[int, str], hi: int
) -> dict:
    """The store's side family (``segments.compact``): the live
    deltas' closed rows become ``history/seg-<hi>``, named by the
    compaction's high-water mark so an uncommitted one stays invisible
    (``_history_segments``) and a later sweep reclaims it. A
    compaction that closed nothing writes no segment.

    History FOLD: segments otherwise accumulate one per compaction
    forever. When SCD2_HISTORY_FOLD_AT (read at call time) or more are
    live, this segment absorbs ALL committed older ones and
    history_floor rises to hi — readers switch from the old segments
    to the folded one at the meta replace (never both: floor <= id <=
    consumed_through can't span them), and the post-commit sweep
    deletes the superseded files. A crash anywhere leaves the old
    state fully readable."""
    old = _history_segments(store_path, meta)
    fold = len(old) >= SCD2_HISTORY_FOLD_AT
    hist = os.path.join(store_path, segments.HISTORY)
    tmp = os.path.join(hist, f"_tmpseg-{hi}")
    _closed(spark, old if fold else [], deltas).write.mode("overwrite").parquet(tmp)
    if fold or segments.base_row_count(hist, f"_tmpseg-{hi}"):
        os.rename(tmp, os.path.join(hist, f"seg-{hi}"))
    return {"history_floor": hi if fold else meta.get("history_floor", -1)}


def _spec(key: str | None) -> segments.StoreSpec:
    """The SCD2 current family keyed by ``key`` (meta's pinned key),
    with the closed-version history as its side family."""
    return segments.StoreSpec(
        name="scd2",
        key=(key,),
        values=(),
        merge=_current,
        bucket_expr=lambda n: F.pmod(
            F.xxhash64(F.col(key).cast("string")), F.lit(n)
        ).cast("int"),
        side_family=_commit_history,
    )


def read_current(spark, store_path: str) -> DataFrame | None:
    """The store's CURRENT table (``_current`` without its meta
    columns). None if the store is empty. After a compaction with no
    new deltas this is a plain scan of the base."""
    meta = _scd2_meta(store_path)
    spec = _spec(meta["key"])
    segs = segments.visible_frames(spec, spark, store_path, meta)
    return _current(spec, segs).drop(*_META_COLS) if segs else None


def read_history(spark, store_path: str) -> DataFrame | None:
    """Closed-out versions: committed history segments (id gated on
    meta's consumed_through — see ``_history_segments``) plus the live
    deltas' 'closed' rows. None if nothing has ever been closed."""
    meta = _scd2_meta(store_path)
    segs = _history_segments(store_path, meta)
    return _closed(spark, segs, segments.live_deltas(store_path, meta))


def upsert_batch(
    batch: DataFrame,
    store_path: str,
    key: str,
    now: str,
    batch_id: int | None = None,
    compact_every: int = SCD2_COMPACT_EVERY,
    n_buckets: int = segments.START_N_BUCKETS,
) -> None:
    """Merge one (partial) snapshot batch into the SCD2 store:
    new keys insert; changed keys close the old version into history
    and insert a fresh current row; unchanged keys no-op. No deletes.

    One ``segments.ingest``: each batch atomically commits ONE delta
    holding only its own touched rows — the fresh current versions
    (kind='current') and the closed old versions (kind='closed')
    together, so current-update and history-append cannot be torn
    apart by a crash. Compaction every ``compact_every`` deltas
    (``scd2_store_compact``) folds them into the base and a history
    segment. Per-batch cost is O(batch + changed), not O(store). The
    key is pinned in meta at first ingest; a batch keyed otherwise
    raises ValueError.

    Replay: exact per-batch-id guard when ``batch_id`` is given (the
    streaming path); ad-hoc calls without one get the next free id —
    and are ALSO naturally idempotent, because re-merging an already-
    applied snapshot classifies every key unchanged.
    """

    def build(meta: dict, bid: int) -> DataFrame:
        segments.pin_value(store_path, meta, "key", key)
        meta.setdefault("history_floor", -1)
        ubid = F.lit(bid).cast("long")
        incoming = batch.dropDuplicates([key])
        current = read_current(batch.sparkSession, store_path)
        if current is None:
            return (
                with_temporal_fields(incoming, now)
                .withColumn("_kind", F.lit("current"))
                .withColumn("_ubid", ubid)
            )
        # ONE wide classify join: live joins incoming once (old columns
        # aliased _o_*), the slim batch-bounded result is lazily
        # checkpointed, and BOTH the fresh rows (incoming side, reusing
        # _new_hash as snapshot_hash — bit-identical expression) and
        # the closing rows (old side) project out of it.
        inc_hashed = incoming.withColumn("_new_hash", snapshot_hash(incoming))
        live = current.where(F.col("is_current") & ~F.col("is_deleted"))
        lcols = live.columns
        old_pref = live.select([F.col(c).alias(f"_o_{c}") for c in lcols])
        j = inc_hashed.join(
            old_pref, inc_hashed[key] == F.col(f"_o_{key}"), "left"
        ).localCheckpoint(eager=False)
        is_new = F.col(f"_o_{key}").isNull()
        # NULL-hash live rows (no store writes these, but the old
        # changed_keys rule counted a null _old_hash as changed) stay
        # classified as updated
        is_upd = ~is_new & (
            F.col("_o_snapshot_hash").isNull()
            | (F.col("_new_hash") != F.col("_o_snapshot_hash"))
        )
        fresh = (
            j.where(is_new | is_upd)
            .select(*incoming.columns, F.col("_new_hash").alias("snapshot_hash"))
            .withColumn("valid_from", F.lit(now).cast("timestamp"))
            .withColumn("valid_to", F.lit(None).cast("timestamp"))
            .withColumn("is_current", F.lit(True))
            .withColumn("is_deleted", F.lit(False))
            .withColumn("_kind", F.lit("current"))
        )
        closing = (
            j.where(is_upd)
            .select([F.col(f"_o_{c}").alias(c) for c in lcols])
            .withColumn("valid_to", F.lit(now).cast("timestamp"))
            .withColumn("is_current", F.lit(False))
            .withColumn("_kind", F.lit("closed"))
        )
        # localCheckpoint BEFORE the commit: the delta plan reads the
        # store's own live segments (via read_current), and writing a
        # new segment while lazily scanning the old ones risks
        # read-own-write anomalies on retried tasks
        delta = fresh.unionByName(closing).withColumn("_ubid", ubid)
        return delta.localCheckpoint(eager=True)

    segments.ingest(
        _spec(key), store_path, batch_id, compact_every, build,
        scd2_store_compact, n_buckets=n_buckets,
    )


def scd2_store_compact(
    spark,
    store_path: str,
    n_buckets: int = segments.START_N_BUCKETS,
    rows_per_bucket: int = segments.ROWS_PER_BUCKET,
    crash_before_commit: bool = False,
) -> None:
    """``segments.compact`` of the store's current family under its
    pinned key: live deltas fold into a key-bucketed current base and
    their closed rows into ``history/seg-<hi>`` (``_commit_history``),
    committed by one atomic meta replace."""
    segments.compact(
        _spec(_scd2_meta(store_path)["key"]), spark, store_path, n_buckets,
        rows_per_bucket, crash_before_commit,
    )


def scd2_store_bootstrap(
    snapshot: DataFrame,
    store_path: str,
    key: str,
    now: str,
) -> None:
    """Day-0 temporal BACKFILL (r12): stamp an existing full snapshot
    with fresh version-1 temporal fields (valid_from=now, open
    valid_to, is_current, snapshot_hash) and write it directly as the
    store's first compacted current base (``segments.bootstrap``) — no
    per-batch delta bytes, no history (nothing has ever changed). This
    is the reference's one-time temporal initialization
    (scripts/initialize_temporal_data.py:71-165 — batched SET of
    valid_from/valid_to/is_current/is_deleted plus a per-node
    snapshot_hash over existing nodes) done as ONE bucketed write
    instead of 100-row Cypher loops. Streaming upserts continue on top
    (batch ids start at 0); bootstrap rows carry _ubid=-1 so a key
    re-upserted by batch 0 wins the latest-writer merge. Equivalent
    state to upsert-then-compact, pinned by test."""
    incoming = snapshot.dropDuplicates([key])
    rows = (
        with_temporal_fields(incoming, now)
        .withColumn("_kind", F.lit("current"))
        .withColumn("_ubid", F.lit(-1).cast("long"))
    )
    segments.bootstrap(
        _spec(key), store_path, rows, incoming.count(),
        extra_meta={"key": key, "history_floor": -1},
    )


def _upsert_at_batch_minute(
    batch: DataFrame, store_path: str, batch_id: int, key: str
) -> None:
    """``stream_into_store``'s per-batch update: ``now`` is a
    deterministic epoch + ``batch_id`` minutes, for tests."""
    now = datetime.datetime(2024, 1, 1) + datetime.timedelta(minutes=batch_id)
    upsert_batch(
        batch, store_path, key, now.strftime("%Y-%m-%d %H:%M:%S"), batch_id=batch_id
    )


# foreachBatch driver: each micro-batch upserts into the SCD2 store
stream_into_store = segments.streamer(_upsert_at_batch_minute)
