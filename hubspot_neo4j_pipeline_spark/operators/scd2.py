"""SCD2 merge, change detection, and relationship CDC (SURVEY.md §2.8
T1-T8, J4, J5) — the reference's temporal layer
(utils/change_detector.py, loaders/temporal_loader.py) as pure
DataFrame algebra.

One full-outer join + when-classification replaces the per-record
loops; one pass produces the new current table, history appends, and
the change log. Golden properties (tests/test_scd2.py): the reference's
8-scenario detection matrix and idempotent re-run ⇒ zero diffs
(reference tests/test_temporal_scenarios.py:164-233).

Hash semantics (T1): sha256 over canonical JSON of sorted, non-null,
non-temporal columns — `to_json(struct(sorted cols))` omits nulls and
fixes field order, mirroring json.dumps(sort_keys=True) over filtered
props (change_detector.py:22-41). `last_modified` is excluded,
`created_date` included (§7 hard-part 1). Hashes are compared only
within this engine, never across engines.

Scale: the merge is a single shuffle on the entity key (both sides
hash-partitioned); history/changelog are narrow projections of the
same join — Catalyst reuses the exchange. At 100 TB the current table
should be bucketed by key so repeated runs co-locate without reshuffle,
and the pattern maps 1:1 onto Delta/Iceberg `MERGE INTO` when a
transactional table format is available.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.cleaning import property_hash

TEMPORAL_FIELDS = ("valid_from", "valid_to", "is_current", "is_deleted", "snapshot_hash")
HASH_EXCLUDED_FIELDS = set(TEMPORAL_FIELDS) | {"last_modified"}

# Event edge types never change-tracked (config/settings.py:79-86).
IMMUTABLE_EDGE_TYPES = frozenset(
    {"PERFORMED", "SUBMITTED_BY", "ON_PAGE", "FOR_CAMPAIGN", "CLICKED_URL", "VISITED"}
)


def snapshot_hash(df: DataFrame, extra_excluded: tuple[str, ...] = ()) -> Column:
    """T1: canonical content hash over the frame's non-temporal columns
    (``property_hash``, the engine's one implementation of it)."""
    excluded = HASH_EXCLUDED_FIELDS | set(extra_excluded)
    return property_hash(*[c for c in df.columns if c not in excluded])


def with_temporal_fields(df: DataFrame, now: str) -> DataFrame:
    """T8: initialize SCD2 bookkeeping on a fresh snapshot (one
    withColumns pass — the Spark form of scripts/initialize_temporal_data.py)."""
    return (
        df.withColumn("snapshot_hash", snapshot_hash(df))
        .withColumn("valid_from", F.lit(now).cast("timestamp"))
        .withColumn("valid_to", F.lit(None).cast("timestamp"))
        .withColumn("is_current", F.lit(True))
        .withColumn("is_deleted", F.lit(False))
    )


def per_label_counts(tables: dict[str, DataFrame], **conds: Column) -> DataFrame:
    """Rows ``(label, *conds)`` in ``tables`` order: per table, how many
    of its rows satisfy each condition.

    One aggregate over the union of all tables: a shuffle job plus a
    result job, where an aggregate per table costs a job (or two) per
    table. Each table's sums only see that table's rows, so an empty
    table gets ``null`` counts, as a global aggregate over that table
    alone would."""
    rows = None
    for i, df in enumerate(tables.values()):
        part = df.select(F.lit(i).alias("_label"), *[c.alias(n) for n, c in conds.items()])
        rows = part if rows is None else rows.unionByName(part)

    def count(i: int, name: str) -> Column:
        return F.sum(
            F.when(F.col("_label") == i, F.when(F.col(name), 1).otherwise(0))
        ).alias(f"_{i}_{name}")

    sums = rows.agg(*[count(i, name) for i in range(len(tables)) for name in conds])
    per_label = F.array(
        *[
            F.struct(
                F.lit(label).alias("label"),
                *[F.col(f"_{i}_{name}").alias(name) for name in conds],
            )
            for i, label in enumerate(tables)
        ]
    )
    return sums.select(F.inline(per_label))


def classify_changes(current: DataFrame, incoming: DataFrame, key: str) -> DataFrame:
    """T2/J4: full-outer compare → (key, change_type, new_hash, old_hash).

    `current` carries SCD2 fields; `incoming` is a raw snapshot.
    Soft-deleted current rows are treated as absent (a re-appearing
    entity is 'new' again — documented deviation from the reference,
    which would leave it deleted; see module docstring).
    """
    cur = current.where(F.col("is_current") & ~F.col("is_deleted")).select(
        F.col(key).alias("_k"),
        F.coalesce(
            F.col("snapshot_hash"), snapshot_hash(current.drop(*TEMPORAL_FIELDS))
        ).alias("old_hash"),
    )
    inc = incoming.select(
        F.col(key).alias("_k"), snapshot_hash(incoming).alias("new_hash")
    )
    j = inc.join(cur, "_k", "full_outer")
    return j.select(
        F.col("_k").alias(key),
        "new_hash",
        "old_hash",
        F.when(F.col("old_hash").isNull(), "new")
        .when(F.col("new_hash").isNull(), "deleted")
        .when(F.col("new_hash") != F.col("old_hash"), "updated")
        .otherwise("unchanged")
        .alias("change_type"),
    )


@dataclass
class Scd2Result:
    current: DataFrame  # new current table (same schema as input current)
    history: DataFrame  # closed-out versions appended this run
    changelog: DataFrame  # (key, change_type, changed_at) for new/updated/deleted


def scd2_merge(
    current: DataFrame,
    incoming: DataFrame,
    key: str,
    now: str,
    materialize: bool = False,
) -> Scd2Result:
    """T3/T4/T5: one merge producing current', history appends, changelog.

    - new      → insert (valid_from=now, is_current, not deleted)
    - updated  → old row closes into history (valid_to=now); fresh
                 current row from incoming
    - unchanged→ carried over untouched
    - deleted  → old row closes into history; current row kept but
                 marked is_deleted (soft delete, guard: only rows not
                 already deleted are ever re-processed)

    Idempotency (golden rule): same incoming twice ⇒ second run has
    empty history and changelog.

    Plan shape: ONE full-outer join on the entity key carrying both
    sides as structs plus the change classification; current'/history/
    changelog are pure filters+projections of that single `joined`
    frame (half the join nodes of the per-branch-join formulation this
    replaced). Catalyst still re-plans the join per consumed branch —
    column pruning gives each branch a DIFFERENT (narrower) shuffle
    schema, which defeats literal ReuseExchange but means each branch
    moves only the columns it needs; for a query reading one output
    that is the right trade. A caller consuming ALL THREE outputs in
    one run (the pipeline case — Delta/Iceberg MERGE executes its
    single join exactly once the same way) passes ``materialize=True``
    to localCheckpoint the joined frame: the join then runs once and
    every output reads the materialized result. Non-live rows never
    enter the join — they pass through by filter.
    """
    live = F.col("is_current") & ~F.col("is_deleted")
    live_cur = current.where(live)

    inc_stamped = with_temporal_fields(incoming, now)
    inc_side = inc_stamped.select(
        F.col(key).alias("_k"),
        F.struct(*[F.col(c) for c in inc_stamped.columns]).alias("_inc"),
        F.col("snapshot_hash").alias("_new_hash"),
    )
    cur_side = live_cur.select(
        F.col(key).alias("_k"),
        F.struct(*[F.col(c) for c in current.columns]).alias("_cur"),
        F.coalesce(
            F.col("snapshot_hash"),
            snapshot_hash(live_cur.drop(*TEMPORAL_FIELDS)),
        ).alias("_old_hash"),
    )
    joined = inc_side.join(cur_side, "_k", "full_outer").select(
        "_k",
        "_inc",
        "_cur",
        F.when(F.col("_old_hash").isNull(), "new")
        .when(F.col("_new_hash").isNull(), "deleted")
        .when(F.col("_new_hash") != F.col("_old_hash"), "updated")
        .otherwise("unchanged")
        .alias("change_type"),
    )
    if materialize:
        # one-pass execution for all-outputs consumers; lineage also
        # truncates, which keeps repeated daily merges re-planning flat
        joined = joined.localCheckpoint(eager=False)

    # History: live rows being replaced or soft-deleted, closed out at `now`.
    history = (
        joined.where(F.col("change_type").isin("updated", "deleted"))
        .select("_cur.*")
        .withColumn("valid_to", F.lit(now).cast("timestamp"))
        .withColumn("is_current", F.lit(False))
    )

    # Current': fresh rows for new+updated; carried rows for unchanged;
    # soft-delete marking for deleted; non-live rows pass through.
    fresh = joined.where(
        F.col("change_type").isin("new", "updated")
    ).select("_inc.*")
    carried = joined.where(F.col("change_type") == "unchanged").select("_cur.*")
    soft_deleted = (
        joined.where(F.col("change_type") == "deleted")
        .select("_cur.*")
        .withColumn("is_deleted", F.lit(True))
        .withColumn("is_current", F.lit(False))
        .withColumn("valid_to", F.lit(now).cast("timestamp"))
    )
    passthrough = current.where(~live)
    new_current = fresh.unionByName(carried).unionByName(soft_deleted).unionByName(
        passthrough
    )

    changelog = (
        joined.where(F.col("change_type") != "unchanged")
        .select(F.col("_k").alias(key), "change_type")
        .withColumn("changed_at", F.lit(now).cast("timestamp"))
    )
    return Scd2Result(current=new_current, history=history, changelog=changelog)


@dataclass
class EdgeDiffResult:
    edges: DataFrame  # new tracked-edge state
    changelog: DataFrame  # (rel_type, from_id, to_id, change_type, changed_at)
    immutable: DataFrame  # append-only event edges (bypass, T7)


def diff_edges(
    current_edges: DataFrame,
    incoming_edges: DataFrame,
    now: str,
    immutable_types: frozenset[str] = IMMUTABLE_EDGE_TYPES,
) -> EdgeDiffResult:
    """T6/J5/U3: relationship CDC via two-way anti-joins on
    (rel_type, from_id, to_id); immutable event edges bypass tracking
    and are appended as-is (temporal_loader.py:83-100,313-462)."""
    keys = ["rel_type", "from_id", "to_id"]
    trackable_new = incoming_edges.where(
        ~F.col("rel_type").isin(*immutable_types)
    ).dropDuplicates(keys)
    trackable_old = current_edges.where(
        ~F.col("rel_type").isin(*immutable_types)
    ).dropDuplicates(keys)
    immutable = incoming_edges.where(F.col("rel_type").isin(*immutable_types))

    added = trackable_new.join(trackable_old, keys, "left_anti").select(*keys)
    removed = trackable_old.join(trackable_new, keys, "left_anti").select(*keys)
    changelog = (
        added.withColumn("change_type", F.lit("added"))
        .unionByName(removed.withColumn("change_type", F.lit("removed")))
        .withColumn("changed_at", F.lit(now).cast("timestamp"))
    )
    return EdgeDiffResult(
        edges=trackable_new, changelog=changelog, immutable=immutable
    )
