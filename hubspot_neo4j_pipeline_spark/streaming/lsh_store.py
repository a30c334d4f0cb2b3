"""Streaming NEAR-duplicate detection against the FULL ingested
history: a MinHash-signature store on the shared LSM segment layer.

The r9 hash store (streaming/hash_store.py) closed the exact-dup half
of the streaming-dedup story — identical content arriving at any
lateness is caught against everything ever ingested. This module is
the near-dup half: each micro-batch ingests its documents' MinHash
SIGNATURES and shingle sets in O(batch), and an incoming batch can be
LSH-candidated and Jaccard-VERIFIED against the whole corpus without
rescanning any text. The banding, the band-bucket sample, and the
Jaccard verify are the one-shot kernel's own functions
(``operators/dedup.minhash_bands`` / ``band_slice_pred`` /
``verified_jaccard_pairs``); candidates are batch-restricted BY
CONSTRUCTION (r12 — batch self-pairs plus one batch-bands × history-
bands equi-join, never a union self-join that generates
history×history rows only to discard them), so the verdicts equal the
one-shot operator over (history ∪ batch) restricted to pairs touching
the batch (pinned by test AND by the registered oracle
``incremental_neardup_pairs``).

Lifecycle: streaming/segments.py. Within-store doc identity is its
latest-writer rule: re-ingesting a doc with edited text replaces its
signature.

Scale: the store holds one row per document — its 16-long signature
plus its distinct shingle hashes-as-strings. That is linear in the
corpus (a verified-Jaccard index cannot be smaller: verification
needs the shingle sets), but it is the SLIM projection of it — no
text — and only compactions touch more than one batch of it. At
100 TB: banding cost per incoming batch is O(batch × bands); the
candidate join is an equi-join on (band_id, band_hash) against the
store's derived band table; verification joins shingle arrays for
candidate pairs only.

Reference parity: the reference has no streaming surface; this is the
streaming closure of its dedup step's near-dup generalization
(SURVEY §2 D1), with the batch ``minhash_lsh_pairs`` operator (and
its DuckDB oracle) as the ground truth.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import segments, tombstones

COMPACT_EVERY = 8


def _doc_rows(batch: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, shingles, sig) for one batch — minhash_signature's frame,
    the exact rows the one-shot operator builds per corpus scan.

    One row per doc_id, DETERMINISTICALLY: duplicate ids within a
    micro-batch share one _ubid, so without this the store's
    latest-writer window (and neardup_pairs_against_store's batch-wins
    window) would pick a winner nondeterministically when the same id
    arrives twice with different text (r10 ADVICE). Winner = the max
    (xxhash64(text), text) per id — content-keyed, so replays and
    shuffles can't flip it, and fully deterministic because hash ties
    break on the text itself. r12: a hash AGGREGATE (map-side partial
    combine, no sort) over the cheap 64-bit hash replaced the r11
    sha256-ordered window — same winner class, ~0.5 s less per batch
    (the r11 bench's only above-noise regression, PERF.md r12)."""
    from ..operators.dedup import minhash_signature

    text = F.col(text_col).cast("string")
    batch = (
        batch.groupBy(F.col(id_col))
        .agg(
            F.max(
                F.struct(
                    F.xxhash64(text).alias("h"), text.alias("t")
                )
            ).alias("_w")
        )
        .select(F.col(id_col), F.col("_w.t").alias(text_col))
    )
    return minhash_signature(batch, id_col, text_col).select(
        F.col(id_col).alias("doc_id"), "shingles", "sig"
    )


SPEC = segments.StoreSpec(
    name="lsh",
    key=("doc_id",),
    values=("shingles", "sig"),
    merge=segments.latest_writer,
    bucket_expr=lambda n: F.pmod(
        F.xxhash64(F.col("doc_id").cast("string")), F.lit(n)
    ).cast("int"),
)


def read_lsh_store(spark: SparkSession, store_path: str) -> DataFrame:
    """(doc_id, shingles, sig): latest writer per doc_id wins. A doc
    whose newest row is a tombstone (``lsh_store_delete_batch``) is
    hidden, and resurrected by any later re-ingest."""
    return segments.read_store(SPEC, spark, store_path)


def lsh_store_update_batch(
    batch: DataFrame,
    store_path: str,
    batch_id: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    compact_every: int = COMPACT_EVERY,
    n_buckets: int = segments.START_N_BUCKETS,
    doc_rows: DataFrame | None = None,
) -> None:
    """Ingest one micro-batch's (doc_id, shingles, sig) rows as an
    atomic delta — O(batch), the existing state is NOT read."""

    def build(_meta: dict, _bid: int) -> DataFrame:
        return doc_rows if doc_rows is not None else _doc_rows(batch, id_col, text_col)

    segments.ingest(
        SPEC, store_path, batch_id, compact_every, build, lsh_store_compact,
        n_buckets=n_buckets,
    )


# Fold live deltas into a new doc-bucketed base; tombstoned docs are
# reclaimed.
lsh_store_compact = functools.partial(segments.compact, SPEC)


def lsh_store_delete_batch(
    ids: DataFrame,
    store_path: str,
    batch_id: int | None = None,
    id_col: str = "doc_id",
    compact_every: int = COMPACT_EVERY,
) -> None:
    """Retract documents from the near-dup index: one atomic tombstone
    delta keyed by doc_id. The latest-writer read hides deleted docs
    from every scoring path (``neardup_pairs_against_store``
    candidates them against the store view, so erased docs stop
    pairing) and a later re-ingest resurrects. Payload columns ride as
    typed nulls so every reader sees one schema."""

    def build(_meta: dict, _bid: int) -> DataFrame:
        return (
            ids.select(F.col(id_col).alias("doc_id"))
            .distinct()
            .withColumn("shingles", F.lit(None).cast("array<string>"))
            .withColumn("sig", F.lit(None).cast("array<bigint>"))
            .withColumn(tombstones.TOMB_COL, F.lit(True))
        )

    segments.ingest(
        SPEC, store_path, batch_id, compact_every, build, lsh_store_compact
    )


def neardup_pairs_against_store(
    batch: DataFrame,
    store_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    band_slice: tuple[int, int] | None = None,
    no_cache: bool = False,
    doc_rows: DataFrame | None = None,
) -> DataFrame:
    """Verified near-dup pairs of an incoming (not-yet-ingested) batch
    against everything ever ingested PLUS the batch itself: equals
    ``minhash_lsh_pairs`` over (history ∪ batch) restricted to pairs
    with at least one side in the batch. Output: (id_a, id_b,
    jaccard), id_a < id_b.

    r12 candidate restructure (r11 VERDICT tasks 1/2 — this is the
    flagship's dominant cost): the r11 path self-paired the WHOLE
    union's band table and then semi-join-filtered to pairs touching
    the batch — generating (and shuffling) history×history candidates
    only to discard them, O(history collisions) per batch. Candidates
    are now batch-restricted BY CONSTRUCTION: within-batch pairs from
    ``bucket_self_pairs`` over the batch's bands only, plus
    batch×history pairs from one (band_id, band_hash) equi-join of
    the batch's bands against the history's — the "equi-join against
    the store's derived band table" the module docstring always
    promised. Banding (``minhash_bands``), the band_slice bucket
    sample (``band_slice_pred``, a bucket is kept or dropped as a
    whole, so filtering the two sides separately ≡ filtering the
    union), and the Jaccard verify (``verified_jaccard_pairs``) are
    the one-shot kernel's own functions, so pair-set equality with
    kernel-then-filter holds by construction — pinned by
    test_neardup_candidate_restructure_equals_kernel AND by the
    registered oracles at three scales. Batch-wins on a doc_id
    collision is one broadcast anti-join (a micro-batch's id set is
    small) instead of the r11 full-union row_number window.

    ``doc_rows`` (shared with ``lsh_store_update_batch``) lets a
    score-then-ingest pipeline build the batch's signature frame ONCE
    — pass the same ``_doc_rows(batch)`` (ideally checkpointed) to
    both calls."""
    from ..operators.caching import tracked_cache
    from ..operators.dedup import (
        band_slice_pred,
        lsh_pairs_from_signatures,
        minhash_bands,
        verified_jaccard_pairs,
    )
    from ..operators.skew import bucket_self_pairs

    spark = batch.sparkSession
    batch_rows = doc_rows if doc_rows is not None else tracked_cache(
        _doc_rows(batch, id_col, text_col), no_cache
    )
    try:
        hist = read_lsh_store(spark, store_path)
    except FileNotFoundError:
        hist = None
    if hist is None:
        # empty store: every pair touches the batch — the one-shot
        # kernel over the batch alone IS the answer
        sigs = tracked_cache(batch_rows, no_cache)
        return lsh_pairs_from_signatures(
            sigs, "doc_id", threshold=threshold, band_slice=band_slice,
            no_cache=no_cache,
        )
    # batch wins on doc_id collision (a re-submitted doc is scored
    # with ITS text, and a duplicated id must not double its rows
    # through the verify joins)
    batch_ids = batch_rows.select("doc_id")
    hist_only = hist.join(F.broadcast(batch_ids), "doc_id", "left_anti")
    # ONE cached frame carries the union (verify-side shingles) plus
    # the side marker both band frames filter on — one store scan,
    # same lifecycle contract as the one-shot operator's cache
    sigs = tracked_cache(
        hist_only.withColumn("_src", F.lit(0)).unionByName(
            batch_rows.withColumn("_src", F.lit(1))
        ),
        no_cache,
    )
    bb = minhash_bands(sigs.where(F.col("_src") == 1), "doc_id")
    hb = minhash_bands(sigs.where(F.col("_src") == 0), "doc_id")
    if band_slice is not None:
        bb = bb.where(band_slice_pred(band_slice))
        hb = hb.where(band_slice_pred(band_slice))
    within = bucket_self_pairs(
        bb, ["band_id", "band_hash"], "doc_id", no_cache=no_cache
    ).select(F.col("a").alias("id_a"), F.col("b").alias("id_b"))
    cross = (
        bb.alias("q")
        .join(hb.alias("h"), ["band_id", "band_hash"])
        .select(
            F.least(F.col("q.doc_id"), F.col("h.doc_id")).alias("id_a"),
            F.greatest(F.col("q.doc_id"), F.col("h.doc_id")).alias("id_b"),
        )
    )
    candidates = within.unionByName(cross).dropDuplicates(["id_a", "id_b"])
    return verified_jaccard_pairs(candidates, sigs, "doc_id", threshold)


# foreachBatch driver: maintain the signature store as documents stream in.
stream_lsh_store = segments.streamer(lsh_store_update_batch)


def lsh_store_bootstrap(
    corpus: DataFrame,
    store_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Day-0 bulk load (``segments.bootstrap``): the whole existing
    corpus' signature rows as the first compacted base, bucket count
    sized up front from the document count so production-scale loads
    start with a sane layout instead of growing into one. Streaming
    ingest then continues on top from batch id 0. Equivalent state to
    update-then-compact, pinned by test."""
    segments.bootstrap(
        SPEC, store_path, _doc_rows(corpus, id_col, text_col), corpus.count()
    )
