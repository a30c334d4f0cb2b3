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

Every table write goes through ``operators.sinks.write_parquet``, the
engine's one parquet sink. A small output — every table of the crm
day-0 load — is collected once with ``toArrow()`` and committed from
the driver as one zstd parquet file (one per ``rel_type`` under
``rel_type=<value>/`` for the edge tables), with no Spark write job;
a large or unknown-size one takes the Spark writer. The size bound the
pipeline passes is its inputs' bytes (``sinks.input_bytes``), because
the planner multiplies the edge plan's broadcast join out. On day 0 a
label's plan runs once: the changelog of a driver-written table is
derived from the collected table (``hubspot_id``, ``'new'``,
``valid_from``), and that of a Spark-written one from a column-pruned
read of the table just written.

Crash semantics of a driver write: each file is written under a
``_``-prefixed name, which every reader skips, and renamed into place
once all files of the write are on disk; an error removes the files
of the write before the Spark path runs, so no output is ever visible
twice. An overwrite removes the old table first, as Spark's overwrite
does, so a crash between the removal and the renames leaves the table
empty or missing, never mixed; an append that crashes leaves at most
an invisible ``_`` file. A run is not atomic across tables on either
path: a crash after a node table and before its changelog leaves the
one written and the other not.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.caching import tracked_cache
from .operators.scd2 import diff_edges, per_label_counts, scd2_merge, with_temporal_fields
from .operators.sinks import input_bytes, write_arrow, write_parquet
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


def _write(df: DataFrame, path: str, mode: str, partition_by: str | None = None,
           est_bytes: int | None = None):
    """One pipeline table through the engine's sink, gated on its
    inputs' bytes unless the caller measured them earlier."""
    if est_bytes is None:
        est_bytes = input_bytes(df)
    return write_parquet(df, path, mode, partition_by, est_bytes)


def _first_load(
    spark: SparkSession, incoming: DataFrame, now: str, store: str, label: str
) -> DataFrame:
    """Day-0 load of one node label: its plan runs once, uncached. The
    changelog (every row ``'new'`` at ``valid_from``) comes from the
    collected table on the driver path, else from a column-pruned read
    of the table just written. Returns the changelog."""
    cur_path = _node_dir(store, "nodes", label)
    log_path = _node_dir(store, "changelog", label)
    tbl = _write(with_temporal_fields(incoming, now), cur_path, "overwrite")
    if tbl is None:
        changelog = read_parquet(spark, cur_path).select(
            "hubspot_id",
            F.lit("new").alias("change_type"),
            F.col("valid_from").alias("changed_at"),
        )
        _write(changelog, log_path, "append")
        return changelog
    import pyarrow as pa

    log = pa.table(
        {
            "hubspot_id": tbl.column("hubspot_id"),
            "change_type": pa.array(["new"] * tbl.num_rows, pa.string()),
            "changed_at": tbl.column("valid_from"),
        }
    )
    return read_parquet(spark, *write_arrow(log, log_path, "append"))


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
        if not os.path.exists(cur_path):
            node_changes[label] = _first_load(spark, incoming, now, store, label)
            continue
        current = read_parquet(spark, cur_path)
        # all three outputs are written below -> run the merge join ONCE
        res = scd2_merge(
            current, tracked_cache(incoming), key="hubspot_id", now=now,
            materialize=True,
        )
        # localCheckpoint (eager) CUTS LINEAGE before the overwrite
        # below. cache() is not enough: overwriting cur_path
        # invalidates cache entries whose plans read that path, and
        # they would silently recompute against the NEW store.
        new_current = res.current.localCheckpoint(eager=True)
        history = res.history.localCheckpoint(eager=True)
        changelog = res.changelog.localCheckpoint(eager=True)
        _write(new_current, cur_path, "overwrite")
        _write(history, _node_dir(store, "history", label), "append")
        _write(changelog, _node_dir(store, "changelog", label), "append")
        node_changes[label] = changelog

    # measured before the cache: a cached plan's leaf reports the
    # planner's estimate of the whole edge plan
    edge_bytes = input_bytes(edges)
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
        edge_bytes = None  # the checkpoints' own sizes
    else:
        eres = diff_edges(edges.limit(0), edges, now=now)
        new_edges = eres.edges
        edge_changelog = eres.changelog
        immutable = eres.immutable
    _write(new_edges, edges_path, "overwrite", "rel_type", edge_bytes)
    _write(immutable, os.path.join(store, "edges_immutable"), "append", "rel_type",
           edge_bytes)
    _write(edge_changelog, os.path.join(store, "edge_changelog"), "append",
           est_bytes=edge_bytes)

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
