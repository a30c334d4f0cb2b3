"""Incremental CORPUS STATISTICS: a document-frequency (vocabulary)
store on the shared LSM segment layer.

Every relevance / novelty / quality signal that depends on corpus-wide
term statistics — TF-IDF, OOV rate, stop-term ratios — is a join
against two aggregates: df(term) = how many documents contain the
term, and n_docs. One-shot, those are re-derived from the full corpus
per run (``doc_tfidf_top_terms``, ``doc_vocab_oov``); this store
maintains them incrementally: each micro-batch folds its per-term
distinct-document counts (plus its document count) into additive
partials, ingested in O(batch) as an atomic delta, and an incoming
batch is scored against statistics of EVERYTHING ever ingested —
no corpus re-scan, ever.

Additivity: df partials sum exactly when micro-batches PARTITION the
document stream (each doc ingested once — the append-only corpus
contract all five sibling stores share); the per-batch-id replay
guard is the only idempotency sums need. The corpus document count
rides inside the same delta as a reserved row (``DOC_COUNT_KEY`` —
a key no whitespace token can be, enforced by filter), so df and
n_docs can never be torn by a crash: both commit in one rename.

Scale (100 TB): the store is one slim (term, df) row per distinct
vocabulary term — vastly smaller than the corpus, bucket-partitioned
by term hash with bucket-partial compaction and r11 adaptive growth.
Scoring an incoming batch semi-joins the store by the BATCH's
vocabulary (broadcast — a batch's distinct terms are small) before
the sum-merge, so the read does no corpus-wide shuffle.

Exactness: scores follow the registered TF-IDF rule — ln() on
IEEE-identical double inputs, floor-quantized at 1e-4
(``plans/curation_queries.doc_tfidf_top_terms``) — so the registered
oracle ``incremental_tfidf_topk`` compares cell-exact.

Reference parity: the reference has no streaming surface and no term
statistics; this is beyond-reference LLM-pipeline infrastructure
(SURVEY §2's curation family made incremental), with the batch
TF-IDF operator as ground truth.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import segments

COMPACT_EVERY = 8
MIN_TERM_LEN = 3  # doc_tfidf_top_terms' token rule
# Reserved term key carrying the ingested-document count. A real token
# can never collide: batch tokens are whitespace-split substrings and
# _terms() filters this exact key defensively anyway.
DOC_COUNT_KEY = "\x00__n_docs__"


def _terms(batch: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, term) — DISTINCT per doc (df counts documents, not
    occurrences), under the registered token rule."""
    return (
        batch.select(
            F.col(id_col).alias("doc_id"),
            F.explode(F.split(F.col(text_col), " ")).alias("term"),
        )
        .where(F.length("term") >= MIN_TERM_LEN)
        .where(F.col("term") != DOC_COUNT_KEY)
        .distinct()
    )


def _partial_df(batch: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """One batch's additive (term, df) partials plus the reserved
    doc-count row — one frame, so both land in the same atomic delta."""
    terms = (
        _terms(batch, id_col, text_col)
        .groupBy("term")
        .agg(F.count("*").alias("df"))
    )
    n = batch.agg(
        F.lit(DOC_COUNT_KEY).alias("term"), F.count("*").alias("df")
    )
    return terms.unionByName(n)


SPEC = segments.StoreSpec(
    name="df",
    key=("term",),
    values=("df",),
    merge=segments.additive,
    sum_types=("long",),
    bucket_expr=lambda n: F.pmod(F.xxhash64(F.col("term")), F.lit(n)).cast("int"),
)


def _visible(spark: SparkSession, store_path: str) -> list[segments.Segment]:
    segs = segments.visible_frames(SPEC, spark, store_path)
    if not segs:
        raise FileNotFoundError(f"empty df store at {store_path}")
    return segs


def read_df_store(
    spark: SparkSession, store_path: str, terms_filter: DataFrame | None = None
) -> DataFrame:
    """The store's current (term, df) view, sum-merged; the reserved
    doc-count row is excluded (use ``corpus_doc_count``). Terms netted
    to 0 by negative delete partials are hidden. ``terms_filter``
    semi-join-prunes the rows to a term set BEFORE the sum-merge."""

    def prune(rows: DataFrame) -> DataFrame:
        if terms_filter is not None:
            rows = rows.join(F.broadcast(terms_filter), "term", "left_semi")
        return rows.where(F.col("term") != DOC_COUNT_KEY)

    return segments.additive(SPEC, _visible(spark, store_path), prune)


def corpus_doc_count(spark: SparkSession, store_path: str) -> DataFrame:
    """1-row (n_docs): how many documents the store has ingested."""
    rows = segments.union_rows(SPEC, _visible(spark, store_path)).where(
        F.col("term") == DOC_COUNT_KEY
    )
    # negative delete partials decrement; coalesce covers the fully
    # emptied store (every doc retracted → the reserved row nets to 0
    # and compaction drops it)
    return rows.agg(
        F.coalesce(F.sum("df"), F.lit(0)).cast("long").alias("n_docs")
    )


def df_store_update_batch(
    batch: DataFrame,
    store_path: str,
    batch_id: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    compact_every: int = COMPACT_EVERY,
    n_buckets: int = segments.START_N_BUCKETS,
) -> None:
    """Ingest one micro-batch's (term, df) partials + doc count as an
    atomic delta — O(batch), the existing state is NOT read."""

    def build(_meta: dict, _bid: int) -> DataFrame:
        return _partial_df(batch, id_col, text_col)

    segments.ingest(
        SPEC, store_path, batch_id, compact_every, build, df_store_compact,
        n_buckets=n_buckets,
    )


# Fold live deltas into a new term-bucketed base. The reserved doc-count
# row sum-merges like any term; it only nets to 0 when every doc was
# retracted.
df_store_compact = functools.partial(segments.compact, SPEC)


def df_store_delete_batch(
    deleted_docs: DataFrame,
    store_path: str,
    batch_id: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    compact_every: int = COMPACT_EVERY,
) -> None:
    """Retract documents from the vocabulary statistics (the additive
    half of right-to-erasure): one atomic delta carrying the deleted
    docs' own (term, df) partials AND the reserved doc-count row, all
    negated — both decrement in the SAME rename, so df and n_docs can
    never be torn by a crash. A term contained only in deleted docs
    nets to 0 and vanishes from every read; shared terms decrement.
    Partials recompute from the supplied documents under the ingest
    token rule. Contract: delete only previously-ingested docs, each
    at most once."""

    def build(_meta: dict, _bid: int) -> DataFrame:
        return (
            _partial_df(deleted_docs, id_col, text_col)
            .select("term", (-F.col("df")).cast("long").alias("df"))
        )

    segments.ingest(
        SPEC, store_path, batch_id, compact_every, build, df_store_compact
    )


def tfidf_batch_against_store(
    batch: DataFrame,
    store_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Top-k TF-IDF terms per incoming document, where df and n_docs
    cover everything ever ingested PLUS the batch itself (pre-ingest
    contract, like the gram store's scoring: the batch's own partial
    counts are unioned in) — so the result equals the one-shot
    ``doc_tfidf_top_terms`` over (history ∪ batch) restricted to the
    batch's docs, which is the registered oracle. Scale: tf shuffles
    on the BATCH's (doc, term) only; the store is semi-join-pruned to
    the batch's vocabulary before its sum-merge; n_docs is a 1-row
    broadcast. Output: (doc_id, term, tfidf)."""
    from pyspark.sql import Window

    spark = batch.sparkSession
    toks = (
        batch.select(
            F.col(id_col).alias("doc_id"),
            F.explode(F.split(F.col(text_col), " ")).alias("term"),
        )
        .where(F.length("term") >= MIN_TERM_LEN)
        # same reserved-key filter _terms applies on ingest (r12,
        # ADVICE fix): a document containing the literal DOC_COUNT_KEY
        # token must tokenize identically on the scoring side, or it
        # would be scored with batch-only df for that term
        .where(F.col("term") != DOC_COUNT_KEY)
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    batch_df = tf.groupBy("term").agg(F.count("*").alias("df"))
    batch_n = batch.agg(F.count("*").alias("n_docs"))
    try:
        vocab = batch_df.select("term")
        hist_df = read_df_store(spark, store_path, terms_filter=vocab)
        hist_n = corpus_doc_count(spark, store_path)
        df_total = (
            batch_df.unionByName(hist_df)
            .groupBy("term")
            .agg(F.sum("df").cast("long").alias("df"))
        )
        n_total = batch_n.unionByName(
            hist_n.select(F.col("n_docs"))
        ).agg(F.sum("n_docs").cast("long").alias("n_docs"))
    except FileNotFoundError:
        df_total, n_total = batch_df, batch_n
    scored = (
        tf.join(df_total, "term")
        .join(F.broadcast(n_total))
        .select(
            "doc_id",
            "term",
            (
                F.floor(
                    F.col("tf")
                    * F.log(F.col("n_docs").cast("double") / F.col("df"))
                    * 10000
                )
                / 10000
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("doc_id", "term", "tfidf")
    )


# foreachBatch driver: maintain the vocabulary store as documents stream in.
stream_df_store = segments.streamer(df_store_update_batch)


def df_store_bootstrap(
    corpus: DataFrame,
    store_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Day-0 bulk load (``segments.bootstrap``): the whole existing
    corpus' (term, df) totals plus its doc count as the first
    compacted base. Bucket count sized by the corpus' document count
    (vocabulary row count is sublinear in documents, so this
    over-provisions — the safe direction). Equivalent state to
    update-then-compact, pinned by test."""
    segments.bootstrap(
        SPEC, store_path, _partial_df(corpus, id_col, text_col), corpus.count()
    )
