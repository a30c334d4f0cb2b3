"""Streaming event-time analytics against the FULL ingested history:
a per-(day, user) windowed-count store on the shared LSM segment layer.

The reference's event analytics are rolling recency predicates over a
re-extracted window — "activity in the last 30 days" style CONTAINS /
date-arithmetic filters recomputed from scratch every pipeline run
(reference README.md:224-246 recency reporting; SURVEY §2.8 notes the
reference is batch-only). Structured Streaming's windowed aggregation
(streaming/event_analytics.windowed_event_counts) makes the CURRENT
window incremental but its state lives inside one query's checkpoint —
it cannot be read by other consumers, joined, or survive a topology
change. This store is the durable half: each micro-batch folds its
events into additive per-(day, user_id) partials — (n, total_value) —
ingested in O(batch) as an atomic delta under streaming/segments.py's
additive rule (sums are order-free, so the per-batch-id replay guard
is all idempotency needs).
Any rolling window — P7D, P30D, the reference's 90-day extraction
fence — is then ONE filtered aggregation over the slim store, no
event re-scan.

Scale: the store holds one row per (user, active day) — bounded by
users x days regardless of event volume (a 100 TB event history with
1e8 users x 365 days is a ~4e10-row slim table, itself bucket-
partitioned by user hash and partially compacted). Ingest per batch is
one map-side-combinable groupBy; reads aggregate base + live deltas
only; compaction is O(touched + deltas) with r11 adaptive bucket
growth.

Exactness: total_value folds through DECIMAL(18,2) per-row casts
(house money rule) so per-batch partial sums merge associatively and
bit-match DuckDB's one-shot sum; day = to_date(ts), identical to
CAST(ts AS DATE).

Reference parity: utils of the recency reports (SURVEY §2 F10/J11
family); the batch oracle is a plain GROUP BY over the replayed event
union (registered query ``incremental_window_counts``).
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import segments

COMPACT_EVERY = 8


def _partial_counts(
    batch: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """One batch's additive (day, user_id, n, total_value) partials.
    total_value is a DECIMAL(18,2) sum of per-row decimal casts —
    exact and order-free, so partials from any batch split merge to
    the identical one-shot sum."""
    return (
        batch.select(
            # midnight TIMESTAMP, not DATE — the registry's day-grain
            # convention (daily_event_spine), identical to DuckDB's
            # date_trunc('day', ts)
            F.date_trunc("day", F.col(ts_col)).alias("day"),
            F.col(user_col).alias("user_id"),
            F.col(value_col).cast("decimal(18,2)").alias("_v"),
        )
        .groupBy("day", "user_id")
        .agg(
            F.count("*").alias("n"),
            F.sum("_v").cast("decimal(18,2)").alias("total_value"),
        )
    )


SPEC = segments.StoreSpec(
    name="window",
    key=("day", "user_id"),
    values=("n", "total_value"),
    merge=segments.additive,
    sum_types=("long", "decimal(18,2)"),
    bucket_expr=lambda n: F.pmod(
        F.xxhash64(F.col("user_id").cast("string")), F.lit(n)
    ).cast("int"),
)


def read_window_store(spark: SparkSession, store_path: str) -> DataFrame:
    """The store's current (day, user_id, n, total_value) view: meta's
    base plus live deltas, sum-merged; (day, user) cells netted to
    n = 0 by delete partials are hidden. Plain scan after a compaction
    with no new deltas."""
    return segments.read_store(SPEC, spark, store_path)


def window_store_update_batch(
    batch: DataFrame,
    store_path: str,
    batch_id: int | None = None,
    ts_col: str = "ts",
    user_col: str = "user_id",
    value_col: str = "value",
    compact_every: int = COMPACT_EVERY,
    n_buckets: int = segments.START_N_BUCKETS,
) -> None:
    """Ingest one micro-batch's per-(day, user) partial counts as an
    atomic delta — O(batch), the existing state is NOT read."""

    def build(_meta: dict, _bid: int) -> DataFrame:
        return _partial_counts(batch, ts_col, user_col, value_col)

    segments.ingest(
        SPEC, store_path, batch_id, compact_every, build, window_store_compact,
        n_buckets=n_buckets,
    )


# Fold live deltas into a new user-bucketed base; netted-out cells are
# reclaimed.
window_store_compact = functools.partial(segments.compact, SPEC)


def window_store_delete_batch(
    events: DataFrame,
    store_path: str,
    batch_id: int | None = None,
    ts_col: str = "ts",
    user_col: str = "user_id",
    value_col: str = "value",
    compact_every: int = COMPACT_EVERY,
) -> None:
    """Retract EVENTS from the windowed-count memory (the additive half
    of right-to-erasure): one atomic delta carrying the retracted
    events' own (day, user) partials with n and total_value negated. A
    cell whose events were all retracted nets to n = 0 and vanishes
    from every read. The erasure request carries the events (a
    full-user wipe replays that user's event rows); contract: retract
    only previously-ingested events, each at most once. total_value
    negates through the same DECIMAL(18,2) casts the ingest partial
    uses, so retraction is bit-exact against the one-shot oracle."""

    def build(_meta: dict, _bid: int) -> DataFrame:
        return (
            _partial_counts(events, ts_col, user_col, value_col)
            .select(
                "day",
                "user_id",
                (-F.col("n")).cast("long").alias("n"),
                (-F.col("total_value")).cast("decimal(18,2)").alias("total_value"),
            )
        )

    segments.ingest(
        SPEC, store_path, batch_id, compact_every, build, window_store_compact
    )


def recency_report_from_store(
    spark: SparkSession, store_path: str, window_days: int = 7
) -> DataFrame:
    """The reference's rolling-recency report recomputed from the
    store, no event re-scan: per user, lifetime activity totals plus
    the last-``window_days`` window (inclusive of the anchor day). The
    anchor is the store's global max day — data-derived, never the
    wall clock (house rule), so the report is deterministic and equals
    the same SQL over the replayed event union.

    Output: (user_id, n_events_total, total_value_total DOUBLE,
    n_days_active, first_active_day, last_active_day, n_events_recent,
    active_recent)."""
    store = read_window_store(spark, store_path)
    anchor = store.agg(F.max("day").alias("_max_day"))
    recent = F.col("day") >= F.expr(
        f"_max_day - INTERVAL {window_days - 1} DAYS"
    )
    return (
        store.join(F.broadcast(anchor))  # 1-row anchor
        .groupBy("user_id")
        .agg(
            F.sum("n").cast("long").alias("n_events_total"),
            F.sum("total_value")
            .cast("decimal(18,2)")
            .cast("double")
            .alias("total_value_total"),
            F.count("*").alias("n_days_active"),
            F.min("day").alias("first_active_day"),
            F.max("day").alias("last_active_day"),
            F.sum(F.when(recent, F.col("n")).otherwise(F.lit(0)))
            .cast("long")
            .alias("n_events_recent"),
            F.max(recent).alias("active_recent"),
        )
    )


def window_store_bootstrap(
    events: DataFrame,
    store_path: str,
    ts_col: str = "ts",
    user_col: str = "user_id",
    value_col: str = "value",
) -> None:
    """Day-0 bulk load (``segments.bootstrap``): the whole existing
    event history's per-(day, user) partials as the first compacted
    base — the one-time backfill a production deployment runs before
    pointing the event stream at the store. The aggregated partial is
    checkpointed once so its exact row count (active user-days, far
    fewer than events) sizes the base. Equivalent state to
    update-then-compact, pinned by test."""
    partial = _partial_counts(events, ts_col, user_col, value_col).localCheckpoint(
        eager=True
    )
    segments.bootstrap(SPEC, store_path, partial, partial.count())


# foreachBatch driver: each micro-batch folds its per-(day, user) partials
# into the store.
stream_window_store = segments.streamer(window_store_update_batch)
