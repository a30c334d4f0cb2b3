"""The ``dedup_stream`` workload: micro-batches through the streaming stores.

Set-up generates the document stream (three times; the last copy is used) and
ingests its first batch, the pre-population, into all three stores; that also
warms the session up.  The timed part is one more batch, reported as
``write_cpu_s``:

1. ingest: ``hash_store.dedup_batch_against_store`` (verdicts collected),
   ``hash_store.hash_store_update_batch``,
   ``lsh_store.neardup_pairs_against_store`` feeding
   ``cluster_store.cluster_store_update_batch``, and
   ``lsh_store.lsh_store_update_batch``;
2. deletion of whole document families with ``*_delete_batch`` on all three
   stores.  Every store call passes ``compact_every=COMPACT_EVERY``, so each
   delete is the store's third delta commit and compacts the store.

Then ``READS`` calls of ``cluster_store.dedup_verdicts_from_store`` for the
batch's documents, reported as ``read_cpu_ms`` (their mean).

The schedule is fixed, whatever the host's speed, so every run measures the
same work.

Checks: both batches' exact-duplicate verdicts equal the generator's set, and
at the end the cluster store's keep-count over the surviving documents equals
one-shot ``operators.graph.components_min_label`` over
``operators.dedup.minhash_lsh_pairs`` on the same documents.
"""

from __future__ import annotations

import os
import time

from clock import Clock
from gen_docs import DocSpec, DocStream

SETUP_REPS = 3
READS = 8
# Three commits per store (pre-population, ingest, delete) reach this, so the
# delete step compacts every store.  The stores' default (8) would need four
# batches with deletions, which a run cannot afford; see perfbench/README.md.
COMPACT_EVERY = 3


def run(spark, rec, run) -> None:
    from pyspark.sql import functions as F

    from hubspot_neo4j_pipeline_spark.operators.caching import release_caches
    from hubspot_neo4j_pipeline_spark.operators.dedup import minhash_lsh_pairs
    from hubspot_neo4j_pipeline_spark.operators.graph import components_min_label
    from hubspot_neo4j_pipeline_spark.streaming import (
        cluster_store,
        hash_store,
        lsh_store,
        segments,
    )

    schema = "doc_id long, text string"
    hpath, lpath, cpath = (os.path.join(run.workdir, s) for s in ("hash", "lsh", "cluster"))
    run.stores = [hpath, lpath, cpath]
    ce = {"compact_every": COMPACT_EVERY}

    def release():
        release_caches()
        spark.catalog.clearCache()

    def ingest(docs) -> set[int]:
        with rec.span("hash_store.dedup_batch_against_store"):
            verdicts = hash_store.dedup_batch_against_store(docs, hpath)
            dups = {r["doc_id"] for r in verdicts.where("is_duplicate").collect()}
        with rec.span("hash_store.hash_store_update_batch"):
            hash_store.hash_store_update_batch(docs, hpath, **ce)
        with rec.span("lsh_store.neardup_pairs_against_store"):
            pairs = lsh_store.neardup_pairs_against_store(docs, lpath)
        with rec.span("cluster_store.cluster_store_update_batch"):
            cluster_store.cluster_store_update_batch(pairs, cpath, **ce)
        with rec.span("lsh_store.lsh_store_update_batch"):
            lsh_store.lsh_store_update_batch(docs, lpath, **ce)
        return dups

    # -- set-up ------------------------------------------------------------------
    spec = DocSpec(batch_docs=max(20, int(DocSpec.batch_docs * run.scale)))
    for _ in range(SETUP_REPS):
        t = time.perf_counter()
        stream = DocStream(run.seed, spec)
        first, batch = stream.next_batch(), stream.next_batch()
        run.setup_s.append(time.perf_counter() - t)
    assert not first.deletes and batch.deletes, "the spec deletes after the second batch"
    first_docs = spark.createDataFrame(first.docs, schema)
    with Clock() as c:
        dups = ingest(first_docs)
    run.setup_once_s = c.wall
    release()
    run.expect("batch 0 exact duplicates", sorted(dups), sorted(first.duplicates))

    # -- timed part ----------------------------------------------------------------
    rec.reset()
    docs = spark.createDataFrame(batch.docs, schema)
    gone = spark.createDataFrame(batch.deletes, schema)
    with Clock() as c:
        dups = ingest(docs)
        if rec.enabled:  # a driver-side manifest read, kept out of untraced timings
            run.counters["run.live_deltas_max"] = max(
                len(segments.live_deltas(p)) for p in run.stores
            )
        with rec.span("store.delete_batch"):
            hash_store.hash_store_delete_batch(gone, hpath, **ce)
        with rec.span("store.delete_batch"):
            lsh_store.lsh_store_delete_batch(gone, lpath, **ce)
        with rec.span("store.delete_batch"):
            cluster_store.cluster_store_delete_batch(gone, cpath, **ce)
    run.writes.append(c)
    release()
    run.expect("batch 1 exact duplicates", sorted(dups), sorted(batch.duplicates))
    for _ in range(READS):
        with Clock() as c, rec.span("cluster_store.dedup_verdicts_from_store"):
            cluster_store.dedup_verdicts_from_store(docs, cpath, reelect_keepers=True).collect()
        run.reads.append(c)
        release()

    # -- cluster check -------------------------------------------------------------
    kept = stream.survivors()
    survivors = spark.createDataFrame(kept, schema)
    store_keep = (
        cluster_store.dedup_verdicts_from_store(survivors, cpath, reelect_keepers=True)
        .where("keep")
        .count()
    )
    comps = components_min_label(minhash_lsh_pairs(survivors, "doc_id", "text"), "id_a", "id_b")
    oneshot_keep = len(kept) - comps.where(F.col("id") != F.col("comp")).count()
    release()
    run.expect("cluster keep-count vs one-shot", store_keep, oneshot_keep)
    if rec.enabled:
        run.counters["run.compact_rewritten_mb"] = rec.totals("store.compact")["output_mb"]
        run.counters["run.jobs_per_read"] = (
            rec.totals("cluster_store.dedup_verdicts_from_store")["jobs"] / len(run.reads)
        )
