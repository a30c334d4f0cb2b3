"""End-to-end batch pipeline — the reference's main.py:20-191
(extract → transform → temporal load → verify) as one declarative
Spark job over a parquet "graph store".

Store layout (per run):
    {store}/nodes/{label}/          current SCD2 table
    {store}/history/{label}/        closed-out versions (append)
    {store}/changelog/{label}/      node CDC (append)
    {store}/edges/                  tracked edges, partitioned by rel_type
    {store}/edges_immutable/        event edges (append-only, T7)
    {store}/edge_changelog/         relationship CDC (append)

Differences from the reference, by design:
- extract is "whatever landed in storage" (sources/feeds.py), not REST
  calls — ingestion throttling is a connector concern (SURVEY §2.10);
- the form-submission→contact ordering dependency is a join, so the
  whole transform stage is one plan with no stage ordering;
- loads are table overwrites/appends instead of per-record MERGE
  round-trips; idempotency comes from SCD2 semantics (re-run ⇒ zero
  diffs), verified in tests/test_pipeline.py.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.caching import tracked_cache
from .operators.scd2 import diff_edges, per_label_counts, scd2_merge, with_temporal_fields
from .operators.transforms import transform_all
from .sources.feeds import FEED_SCHEMAS, read_feed
from .streaming.segments import read_parquet


@dataclass
class PipelineResult:
    node_changes: dict[str, DataFrame]  # label → changelog of this run
    edge_changelog: DataFrame
    stats: DataFrame  # per-label current/deleted counts after the run


def read_all_feeds(spark: SparkSession, feeds_path: str) -> dict[str, DataFrame]:
    return {
        name: read_feed(spark, os.path.join(feeds_path, name), name)
        for name in FEED_SCHEMAS
    }


def _node_dir(store: str, kind: str, label: str) -> str:
    return os.path.join(store, kind, label)


def run_pipeline(
    spark: SparkSession,
    feeds: dict[str, DataFrame],
    store: str,
    now: str,
) -> PipelineResult:
    """One pipeline run: transform feeds, SCD2-merge every node table
    against the store, diff tracked edges, append event edges."""
    nodes, edges = transform_all(feeds)

    node_changes: dict[str, DataFrame] = {}
    for label, incoming in nodes.items():
        cur_path = _node_dir(store, "nodes", label)
        incoming = tracked_cache(incoming)
        if os.path.exists(cur_path):
            current = read_parquet(spark, cur_path)
            # all three outputs are written below -> run the merge join ONCE
            res = scd2_merge(
                current, incoming, key="hubspot_id", now=now, materialize=True
            )
            # localCheckpoint (eager) CUTS LINEAGE before the overwrite
            # below. cache() is not enough: overwriting cur_path
            # invalidates cache entries whose plans read that path, and
            # they would silently recompute against the NEW store.
            new_current = res.current.localCheckpoint(eager=True)
            history = res.history.localCheckpoint(eager=True)
            changelog = res.changelog.localCheckpoint(eager=True)
        else:
            new_current = with_temporal_fields(incoming, now)
            history = None
            changelog = incoming.select(
                "hubspot_id",
                F.lit("new").alias("change_type"),
                F.lit(now).cast("timestamp").alias("changed_at"),
            )
        new_current.write.mode("overwrite").parquet(cur_path)
        if history is not None:
            history.write.mode("append").parquet(_node_dir(store, "history", label))
        changelog.write.mode("append").parquet(_node_dir(store, "changelog", label))
        node_changes[label] = changelog

    edges = tracked_cache(edges)
    edges_path = os.path.join(store, "edges")
    if os.path.exists(edges_path):
        current_edges = read_parquet(
            spark, edges_path, partitions={"rel_type": "string"}
        )
        eres = diff_edges(current_edges, edges, now=now)
        # lineage cut before overwrite — see node-loop comment
        new_edges = eres.edges.localCheckpoint(eager=True)
        edge_changelog = eres.changelog.localCheckpoint(eager=True)
        immutable = eres.immutable.localCheckpoint(eager=True)
    else:
        eres = diff_edges(edges.limit(0), edges, now=now)
        new_edges = eres.edges
        edge_changelog = eres.changelog
        immutable = eres.immutable
    new_edges.write.mode("overwrite").partitionBy("rel_type").parquet(edges_path)
    immutable.write.mode("append").partitionBy("rel_type").parquet(
        os.path.join(store, "edges_immutable")
    )
    edge_changelog.write.mode("append").parquet(os.path.join(store, "edge_changelog"))

    return PipelineResult(
        node_changes=node_changes,
        edge_changelog=edge_changelog,
        stats=_verify_stats(spark, store, list(nodes)),
    )


_VERIFY_SCHEMA = "is_current boolean, is_deleted boolean"


def _verify_stats(spark: SparkSession, store: str, labels: list[str]) -> DataFrame:
    """Verify stage (main.py:117-187): per-label live/deleted counts of
    the current tables on disk, one row per label in ``labels`` order,
    from one aggregate over all labels (``per_label_counts``). The
    explicit two-column schema skips a schema-inference job per label.
    A label whose table is empty gets ``null`` counts."""
    current = {
        label: spark.read.schema(_VERIFY_SCHEMA).parquet(_node_dir(store, "nodes", label))
        for label in labels
    }
    return per_label_counts(
        current,
        live=F.col("is_current") & ~F.col("is_deleted"),
        deleted=F.col("is_deleted"),
    )
