"""Temporal query library over SCD2 state — query_temporal.py:31-325
re-expressed against the (current, history, node changelog, edge
changelog) frames produced by ``operators.scd2``.

``TemporalStore`` holds the four frames per entity type; every
reference method maps to one function here.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..operators.scd2 import per_label_counts


@dataclass
class TemporalStore:
    current: dict[str, DataFrame]  # label → current table (SCD2 fields)
    history: dict[str, DataFrame]  # label → closed-out versions
    changelog: dict[str, DataFrame]  # label → (key, change_type, changed_at)
    edge_changelog: DataFrame | None = None  # (rel_type, from_id, to_id, change_type, changed_at)


def get_current_entities(
    store: TemporalStore, label: str, limit: int = 10
) -> DataFrame:
    """Ref query_temporal.py:31-48: live rows, newest first."""
    return (
        store.current[label]
        .where(F.col("is_current") & ~F.col("is_deleted"))
        .orderBy(F.desc("valid_from"), "hubspot_id")
        .limit(limit)
    )


def get_entity_history(store: TemporalStore, label: str, entity_id: str) -> DataFrame:
    """Ref query_temporal.py:50-69: all closed versions of one entity,
    newest first."""
    return (
        store.history[label]
        .where(F.col("hubspot_id") == entity_id)
        .orderBy(F.desc("valid_to"))
    )


def get_deleted_entities(
    store: TemporalStore, label: str, limit: int = 10
) -> DataFrame:
    """Ref query_temporal.py:71-87."""
    return (
        store.current[label]
        .where(F.col("is_deleted"))
        .orderBy(F.desc("valid_to"), "hubspot_id")
        .limit(limit)
    )


def get_recent_changes(
    store: TemporalStore, label: str, hours: int = 24, limit: int = 50,
    now: str | None = None,
) -> DataFrame:
    """Ref query_temporal.py:89-110: changelog window, newest first."""
    log = store.changelog[label]
    if now is not None:
        anchored = log.withColumn("_now", F.lit(now).cast("timestamp"))
    else:
        # broadcast 1-row max, not an unpartitioned window (scale-safe)
        anchored = log.join(F.broadcast(log.agg(F.max("changed_at").alias("_now"))))
    return (
        anchored.where(
            F.col("changed_at") >= F.col("_now") - F.expr(f"INTERVAL {hours} HOURS")
        )
        .drop("_now")
        .orderBy(F.desc("changed_at"), "hubspot_id")
        .limit(limit)
    )


def get_relationship_changes(store: TemporalStore, limit: int = 20) -> DataFrame:
    """Ref query_temporal.py:112-133: edge CDC feed."""
    assert store.edge_changelog is not None
    return store.edge_changelog.orderBy(
        F.desc("changed_at"), "rel_type", "from_id", "to_id"
    ).limit(limit)


def get_entity_relationship_history(
    store: TemporalStore, entity_id: str
) -> DataFrame:
    """Ref query_temporal.py:135-157: every edge change touching one
    entity."""
    assert store.edge_changelog is not None
    return store.edge_changelog.where(
        (F.col("from_id") == entity_id) | (F.col("to_id") == entity_id)
    ).orderBy(F.desc("changed_at"))


def get_ownership_changes(
    store: TemporalStore, entity_id: str | None = None
) -> DataFrame:
    """Ref query_temporal.py:159-189: OWNED_BY timeline (T10)."""
    assert store.edge_changelog is not None
    log = store.edge_changelog.where(F.col("rel_type") == "OWNED_BY")
    if entity_id is not None:
        log = log.where(F.col("from_id") == entity_id)
    return log.orderBy(F.desc("changed_at"), "from_id")


def get_relationship_change_statistics(store: TemporalStore) -> DataFrame:
    """Ref query_temporal.py:191-206: counts by (rel_type, change_type)."""
    assert store.edge_changelog is not None
    return (
        store.edge_changelog.groupBy("rel_type", "change_type")
        .agg(F.count("*").alias("count"))
        .orderBy(F.desc("count"), "rel_type", "change_type")
    )


def compare_entity_versions(
    store: TemporalStore, label: str, entity_id: str, compare_cols: list[str]
) -> DataFrame:
    """Ref query_temporal.py:208-249: field-level diff between the
    current row and the latest history snapshot (W1 window + map diff
    via JVM map_filter — no UDF)."""
    cur = (
        store.current[label]
        .where((F.col("hubspot_id") == entity_id) & F.col("is_current"))
        .select(
            "hubspot_id",
            F.map_from_arrays(
                F.array(*[F.lit(c) for c in compare_cols]),
                F.array(*[F.col(c).cast("string") for c in compare_cols]),
            ).alias("cur_props"),
        )
    )
    w = Window.partitionBy("hubspot_id").orderBy(F.desc("valid_to"))
    prev = (
        store.history[label]
        .where(F.col("hubspot_id") == entity_id)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "hubspot_id",
            F.map_from_arrays(
                F.array(*[F.lit(c) for c in compare_cols]),
                F.array(*[F.col(c).cast("string") for c in compare_cols]),
            ).alias("old_props"),
        )
    )
    joined = cur.join(prev, "hubspot_id")
    diff = F.map_filter(
        F.map_zip_with(
            "old_props",
            "cur_props",
            lambda k, old, new: F.struct(old.alias("old"), new.alias("new")),
        ),
        lambda k, v: ~(v["old"].eqNullSafe(v["new"])),
    )
    return joined.select(
        "hubspot_id",
        F.explode(diff).alias("field", "change"),
    ).select(
        "hubspot_id",
        "field",
        F.col("change.old").alias("old_value"),
        F.col("change.new").alias("new_value"),
    )


def get_entity_lifecycle(
    store: TemporalStore, label: str, entity_id: str
) -> DataFrame:
    """Ref query_temporal.py:251-280: full version chain (current +
    history) ordered by valid_from."""
    cur = store.current[label].where(F.col("hubspot_id") == entity_id)
    hist = store.history[label].where(F.col("hubspot_id") == entity_id)
    return cur.unionByName(hist, allowMissingColumns=True).orderBy(
        F.asc_nulls_last("valid_from"), F.desc("is_current")
    )


def get_temporal_statistics(store: TemporalStore) -> DataFrame:
    """Ref query_temporal.py:282-325: per-label current/deleted/history
    counts (A10). Current and deleted counts come from one aggregate
    over all current tables, history counts from one over all history
    tables (``per_label_counts``, shared with the pipeline's verify
    stage). An empty current table gets null counts; a label without
    history rows gets history_count 0."""
    stats = per_label_counts(
        store.current,
        current_count=F.col("is_current") & ~F.col("is_deleted"),
        deleted_count=F.col("is_deleted"),
    ).withColumnRenamed("label", "entity_type")
    history = {label: store.history[label] for label in store.current if label in store.history}
    if history:
        counts = per_label_counts(history, history_count=F.lit(True))
        stats = stats.join(
            F.broadcast(counts.withColumnRenamed("label", "entity_type")),
            "entity_type",
            "left",
        )
        history_count = F.coalesce("history_count", F.lit(0).cast("long"))
    else:
        history_count = F.lit(0).cast("long")
    return stats.select(
        "entity_type", "current_count", "deleted_count", history_count.alias("history_count")
    ).orderBy("entity_type")
