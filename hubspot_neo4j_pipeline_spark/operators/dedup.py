"""Deduplication operators: exact, MinHash-LSH, SimHash, n-gram Jaccard.

All computation is JVM-side (array expressions + xxhash64) — no Python
UDFs in any hot path. Reference analog: the reference dedups only by
key/set membership (graph_transformer.py:27-28,477-493); these
generalize that to content-level dedup for training-data pipelines.

Scale design:
- exact_dedup: one shuffle on sha256(content) — uniform keys, no skew.
- MinHash-LSH: per-doc signature (narrow), explode to (band, band_hash)
  buckets, self-join on the bucket key. Candidate volume is controlled
  by bands×rows, NEVER an all-pairs crossJoin. Verified Jaccard is
  computed only for candidate pairs.
- SimHash: explode tokens → 64 bit-vote partial aggregates (map-side
  combinable) → one shuffle on doc id.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .caching import tracked_cache

DEFAULT_SHINGLE = 5
# 4 bands × 4 rows (r6; was 8 × 2): a band collides with prob J^rows,
# so 4-row bands push the SUB-threshold candidate floor from J² to J⁴
# — with 2-row bands, measured candidate growth at 10x data was 78x
# against 10x true-pair growth (J≈0.3 shared-boilerplate pairs
# colliding at 0.09/band; tools/candidate_counts.py, PERF.md r6 note),
# a quadratic-in-N floor no df cap can absorb because it spreads over
# many small buckets. Recall on the observed true-pair distribution
# (95% of pairs at J≥0.9, none below 0.7): 1-(1-J⁴)⁴ ≥ 0.98 at J=0.9.
# Production raises perms (128 = 16 bands × 8 rows, see PERF.md table)
# rather than dropping rows: signature cost is linear, the floor falls
# to J⁸.
DEFAULT_PERMS = 16
DEFAULT_BANDS = 4  # bands × rows_per_band == n_perms

MOD31 = 2147483648  # 2^31 — base-hash range
MERSENNE = 2147483647  # 2^31 - 1 — universal-hash modulus


def _perm_coeffs(i: int) -> tuple[int, int]:
    """Deterministic (a, b) for permutation i of the (a·h+b) mod p
    family — shared with the DuckDB oracle in plans/text_queries.py."""
    return 2 * i + 1, (i * 40503) % MERSENNE + 7


def _words(text_col: str | Column) -> Column:
    return F.split(text_col, " ")


def shingle_set(text_col: str | Column, k: int = DEFAULT_SHINGLE) -> Column:
    """Distinct k-word shingles of a document (empty array if < k words).

    For a plain column NAME the expression is built as ONE SQL parse
    (F.expr) instead of nested Python Column calls: the py4j round
    trips of lambda construction are the dominant fixed cost of the
    MinHash query (~1 s per call at 16 perms, measured r4), while a
    SQL string parses in ~1 ms and yields the identical Catalyst tree.
    """
    if isinstance(text_col, str):
        w = f"split({text_col}, ' ')"
        return F.expr(
            f"case when size({w}) >= {k} then "
            f"array_distinct(transform(sequence(1, size({w}) - {k - 1}), "
            f"i -> array_join(slice({w}, i, {k}), ' '))) "
            f"else cast(array() as array<string>) end"
        )
    words = _words(text_col)
    return F.when(
        F.size(words) >= k,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(words) - (k - 1)),
                lambda i: F.array_join(F.slice(words, i, k), " "),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))


def hashed_shingle_sql(
    text_col: str,
    k: int = DEFAULT_SHINGLE,
    hash_sql: str = "xxhash64({gram})",
) -> str:
    """Guarded distinct k-gram hash array as ONE SQL string.

    Docs with fewer than k words yield an EMPTY array, so explode()
    emits no rows — exactly what the DuckDB oracles' generate_series(1,
    n-k+1) does for n < k. Without the guard, sequence(1, n-k+1) with a
    negative span steps -1 down through index 0 and slice(words, 0, k)
    raises INVALID_PARAMETER_VALUE.START at runtime (one short doc in a
    streaming micro-batch would kill the whole query).

    `text_col` is interpolated as a quoted identifier — never via
    post-hoc str.replace on a finished expression, which silently
    corrupts expressions whose column name collides with another token.
    `hash_sql` is a format template receiving the shingle string
    expression as {gram}; the result type must be BIGINT.
    """
    w = f"split(`{text_col}`, ' ')"
    gram = f"array_join(slice({w}, cast(i as int), {k}), ' ')"
    h = hash_sql.format(gram=gram)
    return (
        f"if(size({w}) < {k}, cast(array() as array<bigint>), "
        f"array_distinct(transform(sequence(1, size({w}) - {k - 1}), i -> {h})))"
    )


def sliding_gram_rows(
    df: DataFrame, id_col: str, text_col: str, k: int = DEFAULT_SHINGLE
) -> DataFrame:
    """(_did, _ntok, _pos, _h): one row per SLIDING k-gram position
    (overlapping — unlike shingle_set's distinct set), hash from the
    house md5->bigint family. The shared gram extraction of the
    exact-substring dedup family: `_dup_span_frame` consumes it
    directly; `streaming/gram_store.gram_store_update_batch` counts
    it per micro-batch into the persisted gram store."""
    gram_h = (
        f"cast(conv(substring(md5(array_join(slice(t, i, {k}), ' ')), "
        "1, 15), 16, 10) as bigint)"
    )
    return (
        df.select(
            F.col(id_col).alias("_did"),
            F.expr(f"split(`{text_col}`, ' ')").alias("t"),
        )
        .where(F.size("t") >= k)
        .select(
            "_did",
            F.size("t").alias("_ntok"),
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(t) - {k - 1}), "
                    f"i -> named_struct('pos', i, 'h', {gram_h}))"
                )
            ).alias("_g"),
        )
        .select("_did", "_ntok", F.col("_g.pos").alias("_pos"), F.col("_g.h").alias("_h"))
    )


def _dup_span_frame(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    min_count: int,
    gram_counts: DataFrame | None = None,
    gram_rows: DataFrame | None = None,
) -> DataFrame:
    """(_did, _ntok, _s, _e) — maximal duplicated token spans per doc;
    the shared core of `duplicated_spans` (report) and
    `remove_duplicated_spans` (action). See duplicated_spans for the
    algorithm and scale notes. ``gram_counts``: optional externally
    maintained (h, n) frame (the streaming gram store) — duplicate
    grams then come from it instead of a fresh corpus count, which is
    how a stream scores INCOMING docs against everything already
    ingested. ``gram_rows``: optional precomputed
    ``sliding_gram_rows(df, ...)`` frame — callers that already built
    the positional grams (the gram store's score path derives the
    batch's partial counts from the same rows) pass it so the
    tokenize + md5 pass runs once, not twice (guide §1.2: don't
    compute things twice). Must be exactly the frame
    ``sliding_gram_rows`` would return for the same arguments."""
    rows = (
        gram_rows
        if gram_rows is not None
        else sliding_gram_rows(df, id_col, text_col, k)
    )
    if gram_counts is None:
        dup_h = (
            rows.groupBy("_h")
            .agg(F.count("*").alias("_c"))
            .where(F.col("_c") >= min_count)
            .select("_h")
        )
    else:
        dup_h = (
            gram_counts.select(F.col("h").alias("_h"), F.col("n").alias("_c"))
            .where(F.col("_c") >= min_count)
            .select("_h")
        )
    dup_pos = rows.join(dup_h, "_h")
    w_prev = (
        Window.partitionBy("_did")
        .orderBy("_pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_cur = Window.partitionBy("_did").orderBy("_pos")
    marked = dup_pos.withColumn(
        "_prev_end", F.max(F.col("_pos") + (k - 1)).over(w_prev)
    ).withColumn(
        "_new",
        F.when(
            F.col("_prev_end").isNull()
            | (F.col("_pos") > F.col("_prev_end") + 1),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    return (
        marked.withColumn("_span", F.sum("_new").over(w_cur))
        .groupBy("_did", "_ntok", "_span")
        .agg(
            F.min("_pos").alias("_s"),
            (F.max("_pos") + (k - 1)).alias("_e"),
        )
    )


def duplicated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = DEFAULT_SHINGLE,
    min_count: int = 2,
    gram_counts: DataFrame | None = None,
    gram_rows: DataFrame | None = None,
) -> DataFrame:
    """Exact duplicated-substring spans per document: every maximal
    token span covered by sliding k-grams that occur >= ``min_count``
    times in the corpus (self-repetition included) — the
    exact-substring sibling of MinHash near-dup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better",
    arXiv:2107.06499, suffix-array method re-expressed as DataFrame
    algebra over sliding grams).

    Pipeline: SLIDING (positional, overlapping — unlike shingle_set's
    distinct set) k-grams hashed with the house md5->bigint family
    (both engines compute the identical hash, so the DuckDB oracle is
    cell-exact by construction); grams occurring >= min_count times
    anywhere mark their [pos, pos+k-1] interval duplicated; per doc,
    overlapping/adjacent intervals merge into maximal spans via the
    running-max island window (prev_end = max(pos+k-1) over preceding
    rows; a gap > 1 token starts a new span).

    Output: one row per document that has at least one duplicated
    span — (id, n_dup_spans, dup_tokens, n_tokens).

    Scale: NO pair formation anywhere — a stop-phrase gram shared by a
    million documents contributes its positions linearly (the reason
    this beats pair-based passage dedup on skewed corpora). Three
    linear shuffles: gram-count groupBy on the 8-byte hash, the
    dup-hash equi-join (same key), and the per-doc window; gram rows
    are slim (id, pos, hash, token count).

    ``gram_counts``: optional (h, n) frame — e.g. the streamed gram
    store (streaming/gram_store.read_gram_store) — used as
    the duplicate-gram source instead of counting this frame, so the
    same operator scores a new batch against the full ingested corpus.
    """
    spans = _dup_span_frame(
        df, id_col, text_col, k, min_count, gram_counts, gram_rows
    )
    return spans.groupBy("_did", "_ntok").agg(
        F.count("*").alias("n_dup_spans"),
        F.sum(F.col("_e") - F.col("_s") + 1).alias("dup_tokens"),
    ).select(
        F.col("_did").alias(id_col),
        "n_dup_spans",
        F.col("dup_tokens").cast("long").alias("dup_tokens"),
        F.col("_ntok").cast("long").alias("n_tokens"),
    )


def remove_duplicated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = DEFAULT_SHINGLE,
    min_count: int = 2,
) -> DataFrame:
    """The ACTION half of exact-substring dedup (Lee et al. 2022): drop
    every token covered by a duplicated span (see `duplicated_spans`)
    and rebuild the text, returning every document —
    (id, cleaned text, tokens_removed, n_tokens); span-free documents
    pass through with tokens_removed = 0.

    The per-doc span set is bounded (spans are disjoint, each >= k
    tokens, so <= n_tokens/k of them), so spans collect into ONE array
    per doc and rebuild is a single positional filter — exists(span
    covering i) per token, no second explode. Same linear-shuffle
    scale shape as duplicated_spans plus one broadcast-sized-per-row
    join back to the corpus."""
    spans = _dup_span_frame(df, id_col, text_col, k, min_count)
    per_doc = spans.groupBy("_did").agg(
        F.collect_list(F.struct(F.col("_s").alias("s"), F.col("_e").alias("e"))).alias(
            "_sp"
        )
    )
    src = df.select(
        F.col(id_col).alias("_did"), F.expr(f"split(`{text_col}`, ' ')").alias("t")
    )
    joined = src.join(per_doc, "_did", "left")
    # positional filter: Spark lambda index i is 0-based; spans are
    # 1-based token positions
    kept = F.expr(
        "case when _sp is null then t else "
        "filter(t, (tok, i) -> not exists(_sp, x -> x.s <= i + 1 and i + 1 <= x.e)) "
        "end"
    )
    return joined.select(
        F.col("_did").alias(id_col),
        F.array_join(kept, " ").alias("cleaned_text"),
        (F.size("t") - F.size(kept)).cast("long").alias("tokens_removed"),
        F.size("t").cast("long").alias("n_tokens"),
    )


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup: keep the min-id row per identical content hash."""
    hashed = df.withColumn("content_hash", F.sha2(F.col(text_col), 256))
    canonical = hashed.groupBy("content_hash").agg(
        F.min(id_col).alias(id_col), F.count("*").alias("n_copies")
    )
    return hashed.drop("n_copies").join(canonical, [id_col, "content_hash"], "inner")


def minhash_signature(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_perms: int = DEFAULT_PERMS,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """(id, shingles, sig: array<long>) — n_perms seeded-xxhash64 minima.

    One pass over the shingle array per permutation; all codegen'd.

    ``shingles``: optional pre-computed (id_col, shingles) frame — pass
    it when another pipeline stage already tokenized/shingled the same
    corpus (e.g. dedup_method_agreement runs the exact-overlap AND the
    MinHash pair generators over one cached shingle scan instead of
    re-deriving the grams twice). Must carry the ``shingle_set``
    semantics (distinct k-word grams); the empty-array filter is
    re-applied here, so an unfiltered frame is fine.
    """
    if shingles is not None:
        with_sh = shingles.select(id_col, "shingles").where(
            F.size("shingles") > 0
        )
    else:
        # Pre-filter on the WORD COUNT, not on size(shingles): a
        # filter over the computed array gets pushed below the project
        # and re-evaluates the whole md5/distinct shingle construction
        # inside the predicate — measured 7.6 -> 37.9 s at sf10 for
        # the construction alone (r9). word count >= k is exactly
        # "shingle set non-empty" (shingle_set's own guard), and the
        # predicate is one split+size at the scan.
        with_sh = df.where(
            F.size(_words(F.col(text_col) if isinstance(text_col, str) else text_col))
            >= DEFAULT_SHINGLE
        ).select(id_col, shingle_set(text_col).alias("shingles"))
    # One base hash per shingle, then n_perms universal-hash
    # permutations (a·h+b mod p) over the 31-bit base — tiny arithmetic
    # expressions instead of n_perms inlined hash routines (which
    # dominate whole-stage-codegen compile time). The mod is essential:
    # without it a·h+b is monotone in h and every permutation would
    # pick the same argmin shingle.
    #
    # Base = md5-derived integer, NOT xxhash64: md5 is computable
    # identically in DuckDB (('0x'||substr(md5(s),1,15))::BIGINT), so
    # the whole MinHash-LSH pipeline is oracle-checkable cross-engine.
    #
    # Built as TWO SQL parses, not 16 Python-built transform lambdas:
    # py4j construction cost was ~1 s per query call (r4 profile) vs
    # ~5 ms for the parse; the Catalyst tree — flat per-permutation
    # array_min(transform(...)) expressions — is IDENTICAL, preserving
    # the earlier finding that flat expressions beat a nested
    # transform-over-coefficient-array by ~40% in execution.
    base = (
        "transform(shingles, s -> "
        f"cast(conv(substring(md5(s), 1, 15), 16, 10) as bigint) % {MOD31}L)"
    )
    mins = ",".join(
        "array_min(transform(hs, h -> "
        f"(h * {_perm_coeffs(i)[0]}L + {_perm_coeffs(i)[1]}L) % {MERSENNE}L))"
        for i in range(n_perms)
    )
    return (
        with_sh.withColumn("hs", F.expr(base))
        .withColumn("sig", F.expr(f"array({mins})"))
        .drop("hs")
    )


def minhash_bands(
    sigs: DataFrame,
    id_col: str,
    n_perms: int = DEFAULT_PERMS,
    n_bands: int = DEFAULT_BANDS,
) -> DataFrame:
    """(id, band_id, band_hash) — one row per band per doc, from a
    ``minhash_signature`` frame.

    Bands carry ONLY (id, band_id, band_hash) into the self-join —
    shingle arrays would multiply the shuffle volume by the band
    count; they re-attach after candidate pairs are deduped.
    md5 over the joined band values — reproducible in the DuckDB
    oracle (F.hash is Spark-internal). One SQL parse for the whole
    band array (see minhash_signature's construction-cost note);
    sig[i] is 0-based in SQL, matching element_at(sig, i+1).
    Shared by minhash_lsh_pairs and tools/candidate_counts.py (the
    scale probe that reports band-bucket candidate volume).
    """
    rows = n_perms // n_bands
    band_structs = ",".join(
        "named_struct('band_id', {b}, 'band_hash', md5(concat_ws('|', {vals})))".format(
            b=b,
            vals=", ".join(
                f"cast(sig[{b * rows + r}] as string)" for r in range(rows)
            ),
        )
        for b in range(n_bands)
    )
    return sigs.select(
        id_col, F.expr(f"explode(array({band_structs}))").alias("band")
    ).select(id_col, "band.band_id", "band.band_hash")


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_perms: int = DEFAULT_PERMS,
    n_bands: int = DEFAULT_BANDS,
    threshold: float = 0.5,
    max_band_df: int | None = None,
    shingles: DataFrame | None = None,
    band_slice: tuple[int, int] | None = None,
    no_cache: bool = False,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b) with verified shingle-Jaccard.

    LSH banding: signature split into n_bands bands; docs sharing any
    band hash become candidates (equi-join on the band key). Exact
    Jaccard is then computed from the shingle sets of candidates only.

    ``threshold`` is the VERIFY cutoff, not a recall promise: LSH
    recall at Jaccard J is 1-(1-J^rows)^bands — with the 4×4 default
    that is ≥0.98 at J≥0.9 but only ~0.23 at J=0.5. The default is
    tuned for near-duplicate detection (high-J pairs); a caller who
    needs recall down at J≈0.5 should raise n_perms and keep rows per
    band ≥4 (e.g. 32 perms × 8 bands → 1-(1-J⁴)⁸ ≈ 0.41 at J=0.5,
    128 × 32 → 0.87) rather than dropping to 2-row bands, whose J²
    collision floor is quadratic in corpus size (see DEFAULT_BANDS).

    ``max_band_df``: optional cap on a band bucket's document count
    before the self-join. A bucket of k docs emits k² candidate rows,
    so a boilerplate-dominated corpus (one text repeated across a large
    fraction of docs — after exact dedup this means a hot TEMPLATE, not
    true copies) turns one reducer quadratic. Capping drops those
    buckets; pairs that also collide in a cold band are still found
    (OR-construction recall), and a production pipeline runs
    exact_dedup FIRST so identical texts never reach this join.
    Default None preserves exact oracle semantics for the registered
    query; the skew-stress tests pin the capped path.

    ``shingles``: optional pre-computed (id_col, shingles) frame shared
    with other consumers of the same corpus scan — see
    ``minhash_signature``.

    Caching contract: the signature frame is cached internally (three
    downstream consumers) and the cache OUTLIVES this call — Spark
    unpins cached plans lazily, so a long-lived session invoking this
    repeatedly accumulates cached blocks until storage eviction. Batch
    tools call ``spark.catalog.clearCache()`` between queries
    (bench.py, tools/verify_queries.py do); library callers either
    pass ``no_cache=True`` (skip caching — bounded recompute, zero
    storage footprint) or call
    ``operators.caching.release_caches()`` after materializing
    results. The same contract applies to simhash_near_pairs' chunk
    cache, bucket_self_pairs' grouped cache, and lsh_topk's bucket
    cache in operators/similarity.py.

    ``band_slice=(K, r)``: keep only band buckets whose first two
    band_hash hex digits satisfy ``int(hex2, 16) % K == r`` — a
    deterministic 1/K sample OF BUCKETS (not documents). Both engines
    compute the identical md5 band_hash, so the slice is cross-engine
    exact: it makes full-pipeline oracle verification affordable at
    100x data (the DuckDB candidate self-join shrinks Kx while Spark
    still exercises the full signature/banding path). Verification
    aid, not a recall knob — production leaves it None.
    """
    # cache: the signature plan (n_perms array transforms) feeds three
    # downstream joins; caching cuts the expression tree so Catalyst
    # analyzes the big plan once, not once per consumer.
    sigs = tracked_cache(
        minhash_signature(df, id_col, text_col, n_perms, shingles=shingles),
        no_cache,
    )
    return lsh_pairs_from_signatures(
        sigs,
        id_col,
        n_perms=n_perms,
        n_bands=n_bands,
        threshold=threshold,
        max_band_df=max_band_df,
        band_slice=band_slice,
        no_cache=no_cache,
    )


def band_slice_pred(band_slice: tuple[int, int]):
    """The deterministic 1/K band-bucket sample predicate (see
    ``minhash_lsh_pairs``' band_slice doc) — factored (r12) so the
    streaming store's split batch/history band frames filter with the
    IDENTICAL expression the one-shot kernel applies to its one band
    frame (a bucket is kept or dropped as a whole, so filtering the
    two sides separately is the same as filtering their union)."""
    k, r = band_slice
    return F.expr(
        f"cast(conv(substr(band_hash, 1, 2), 16, 10) as bigint) % {k} = {r}"
    )


def lsh_pairs_from_signatures(
    sigs: DataFrame,
    id_col: str,
    n_perms: int = DEFAULT_PERMS,
    n_bands: int = DEFAULT_BANDS,
    threshold: float = 0.5,
    max_band_df: int | None = None,
    band_slice: tuple[int, int] | None = None,
    no_cache: bool = False,
) -> DataFrame:
    """``minhash_lsh_pairs`` from a pre-built (id, shingles, sig)
    frame — factored out (r10) so the streaming LSH store
    (streaming/lsh_store.py) runs the IDENTICAL banding / candidate /
    verified-Jaccard path over (history ∪ batch) signatures that the
    one-shot operator runs over a corpus: pair-set equality with the
    registered oracle is then by construction, not by re-derivation.
    Contract and knobs are minhash_lsh_pairs' (see its docstring)."""
    bands = minhash_bands(sigs, id_col, n_perms, n_bands)
    if max_band_df is not None:
        # df computation reuses the (band_id, band_hash) shuffle key of
        # the self-join that follows — one extra partial-agg pass, no
        # new partitioning
        cold = (
            bands.groupBy("band_id", "band_hash")
            .agg(F.count("*").alias("df"))
            .where(F.col("df") <= max_band_df)
            .select("band_id", "band_hash")
        )
        bands = bands.join(cold, ["band_id", "band_hash"])
    if band_slice is not None:
        bands = bands.where(band_slice_pred(band_slice))

    # in-bucket pair expansion (one shuffle, i < j only) instead of a
    # two-sided band self-join — see operators/skew.bucket_self_pairs
    from .skew import bucket_self_pairs

    candidates = (
        bucket_self_pairs(bands, ["band_id", "band_hash"], id_col, no_cache=no_cache)
        .select(F.col("a").alias("id_a"), F.col("b").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    return verified_jaccard_pairs(candidates, sigs, id_col, threshold)


def verified_jaccard_pairs(
    candidates: DataFrame,
    sigs: DataFrame,
    id_col: str,
    threshold: float,
) -> DataFrame:
    """Exact shingle-Jaccard VERIFY over candidate (id_a, id_b) rows:
    attach both shingle sets by equi-join against the signature frame,
    compute |A∩B| / (|A|+|B|-|A∩B|), keep >= threshold. Factored from
    ``lsh_pairs_from_signatures`` (r12) so the streaming LSH store's
    batch-restricted candidate path runs the IDENTICAL verify
    expressions the one-shot operator runs — pair-value equality stays
    by construction, not by re-derivation."""
    sh = sigs.select(F.col(id_col), F.col("shingles"))
    pairs = candidates.join(
        sh.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a")), "id_a"
    ).join(
        sh.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b")), "id_b"
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    # shingle arrays are distinct ⇒ |A∪B| = |A|+|B|-|A∩B| (same
    # formulation as the DuckDB oracle, which lacks array_union)
    union = F.size("sh_a") + F.size("sh_b") - inter
    jaccard = inter.cast("double") / union
    return (
        pairs.select("id_a", "id_b", jaccard.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_shared: int = 3,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Candidate pairs sharing ≥ min_shared distinct shingles (exact
    inverted-index join — the non-probabilistic sibling of LSH).

    ``max_shingle_df`` caps the document frequency of a shingle before
    the self-join: a stop-phrase shingle shared by k documents would
    otherwise emit k² candidate rows (quadratic blowup on skewed
    corpora at scale). Dropping hot shingles is the standard
    candidate-generation trade: shared_shingles then undercounts pairs
    whose overlap is ONLY stop-phrases, which is exactly the overlap
    near-dup detection should ignore. The df computation is one extra
    groupBy on the same shuffle key, so the partitioning is reused.
    """
    sh = df.select(
        id_col, F.explode(shingle_set(text_col)).alias("shingle")
    )
    if max_shingle_df is not None:
        keep = (
            sh.groupBy("shingle")
            .agg(F.count("*").alias("df"))
            .where(F.col("df") <= max_shingle_df)
            .select("shingle")
        )
        sh = sh.join(keep, "shingle")
    # in-bucket pair expansion — one row per shared shingle per pair,
    # exactly what the count needs (see operators/skew.bucket_self_pairs)
    from .skew import bucket_self_pairs

    return (
        bucket_self_pairs(sh, ["shingle"], id_col)
        .groupBy(F.col("a").alias("id_a"), F.col("b").alias("id_b"))
        .agg(F.count("*").alias("shared_shingles"))
        .where(F.col("shared_shingles") >= min_shared)
    )


SIMHASH_BITS = 60  # md5-derived 15-hex-digit base → fits signed 64 w/o sign tricks


def simhash(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """60-bit SimHash per document via token-hash bit voting.

    explode(tokens) → md5-derived 60-bit hash → per-bit ±1 votes
    aggregated per doc (map-side combinable) → sign bits packed into
    one BIGINT. The md5 base makes the whole computation reproducible
    in the DuckDB oracle (plans/text_queries.py).
    """
    # One hash per token, then 60 map-side-combinable bit-vote sums.
    # The vote columns and the final bit-pack are SQL parses, not ~240
    # Python-built Column calls (construction-cost note in
    # minhash_signature); the aggregation tree is unchanged.
    toks = df.select(id_col, F.explode(_words(text_col)).alias("tok")).withColumn(
        "h", F.expr("cast(conv(substring(md5(tok), 1, 15), 16, 10) as bigint)")
    )
    votes = toks.groupBy(id_col).agg(
        *[
            F.expr(
                f"sum(case when (shiftrightunsigned(h, {j}) & 1) = 1 "
                f"then 1 else -1 end)"
            ).alias(f"b{j}")
            for j in range(SIMHASH_BITS)
        ]
    )
    packed = " + ".join(
        f"(case when b{j} > 0 then {1 << j}L else 0L end)"
        for j in range(SIMHASH_BITS)
    )
    return votes.select(id_col, F.expr(packed).alias("simhash"))


def _chunk_bounds(n_bits: int, n_chunks: int) -> list[tuple[int, int]]:
    """Split [0, n_bits) into n_chunks contiguous (start, width) spans
    whose widths differ by at most one bit."""
    base, extra = divmod(n_bits, n_chunks)
    bounds, start = [], 0
    for c in range(n_chunks):
        width = base + (1 if c < extra else 0)
        bounds.append((start, width))
        start += width
    return bounds


def _refine_masks(n_bits: int, bounds: list[tuple[int, int]], i: int, n_sub: int) -> list[int]:
    """n_sub bit masks partitioning the positions OUTSIDE chunk i into
    near-equal contiguous runs — the pigeonhole refinement keys for a
    hot chunk bucket."""
    s, w = bounds[i]
    positions = [p for p in range(n_bits) if not s <= p < s + w]
    base, extra = divmod(len(positions), n_sub)
    masks, idx = [], 0
    for j in range(n_sub):
        width = base + (1 if j < extra else 0)
        m = 0
        for p in positions[idx : idx + width]:
            m |= 1 << p
        masks.append(m)
        idx += width
    return masks


def simhash_near_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    hot_chunk_df: int | None = None,
    chunk_slice: tuple[int, int] | None = None,
    no_cache: bool = False,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance, candidate-bucketed
    on (max_hamming + 1) contiguous bit chunks.

    Recall contract (pigeonhole): a pair differing in ≤ max_hamming
    bits can touch at most max_hamming of the max_hamming + 1 chunks,
    so it MUST share at least one exact chunk and is always generated
    as a candidate — exact recall at the requested radius, for any
    radius. Cost scales with the chunk count: larger radii mean more,
    narrower chunks and hence more bucket collisions; the exact-
    Hamming post-filter keeps precision at 100%. Guarded by the recall
    test in tests/test_dedup.py (exhaustive compare vs brute-force
    Hamming at radii 3 and 7).

    ``hot_chunk_df`` (r6): chunk values have LOW ENTROPY on real
    corpora (common tokens bias the vote bits corpus-wide), so a
    15-bit chunk bucket grows with N — measured 14,896 docs in one
    bucket at 500k docs and 1.39 B candidate pairs (176x wall at 100x
    data). Buckets above the bound are RE-SPLIT, not dropped: each hot
    row emits max_hamming+1 refinement keys (chunk_id, chunk, sub_id,
    simhash & mask) where the masks partition the bit positions
    OUTSIDE the chunk into equal runs. A ≤ max_hamming pair sharing
    the hot chunk has all its differing bits outside it, so some mask
    group is untouched and the pair still shares a refinement key —
    recall stays EXACT (the pigeonhole applied recursively), which is
    why the registered query's oracle stays the simple unrefined SQL
    and the output is bit-identical in every mode (equality pinned in
    tests/test_dedup.py). A hot bucket of k docs collapses from k²/2
    candidates to the sum over its sub-buckets — bounded by residual
    bit entropy, measured 43x fewer candidates at 500k docs. Cold
    buckets join exactly as before (their rows carry a sentinel
    sub key), and a bucket is entirely hot or entirely cold, so the
    union never cross-matches.

    Caching contract: on the hot-chunk path ``chunks`` is cached
    (four consumers) and the cache outlives this call — see
    minhash_lsh_pairs' caching contract; long-lived sessions pass
    ``no_cache=True`` or call
    ``operators.caching.release_caches()``.

    ``chunk_slice=(K, r)``: keep only buckets with chunk % K == r — a
    deterministic 1/K sample of CANDIDATE BUCKETS, identical in both
    engines (chunk is a non-negative bit segment of the signature).
    Applied before refinement, so hot-bucket handling is unchanged for
    kept buckets. Verification aid for 100x-scale oracle runs (see
    minhash_lsh_pairs.band_slice); production leaves it None."""
    return hamming_near_pairs(
        simhash(df, id_col, text_col),
        id_col,
        max_hamming=max_hamming,
        hot_chunk_df=hot_chunk_df,
        chunk_slice=chunk_slice,
        no_cache=no_cache,
    )


def hamming_near_pairs(
    sigs: DataFrame,
    id_col: str,
    sig_col: str = "simhash",
    n_bits: int = SIMHASH_BITS,
    max_hamming: int = 3,
    hot_chunk_df: int | None = None,
    chunk_slice: tuple[int, int] | None = None,
    no_cache: bool = False,
) -> DataFrame:
    """Signature-level Hamming near-pair machinery (r14: factored out
    of simhash_near_pairs unchanged, so ANY n_bits-wide signature —
    text SimHash, image dHash (operators/multimodal.perceptual_dhash)
    — shares the pigeonhole chunk buckets, hot-chunk refinement, and
    in-expansion verify; recall/equality contracts and the caching
    note are documented on simhash_near_pairs). ``sigs`` is one row
    per id with the signature in ``sig_col`` (non-negative, fits
    signed 64)."""
    n_chunks = max_hamming + 1
    if n_chunks > n_bits:
        raise ValueError(f"max_hamming must be < {n_bits}")
    bounds = _chunk_bounds(n_bits, n_chunks)
    sh = sigs if sig_col == "simhash" else sigs.withColumnRenamed(sig_col, "simhash")
    chunks = sh.select(
        id_col,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk_id"),
                        F.shiftrightunsigned("simhash", start)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("chunk"),
                    )
                    for c, (start, width) in enumerate(bounds)
                ]
            )
        ).alias("c"),
    ).select(id_col, "simhash", "c.chunk_id", "c.chunk")
    if chunk_slice is not None:
        k, r = chunk_slice
        chunks = chunks.where(F.col("chunk") % k == r)
    if hot_chunk_df is not None:
        # cache: the refined path consumes `chunks` four times (df
        # count, size join, both join sides); without it the 60-vote
        # simhash aggregation re-executes per consumer (measured 4x
        # wall at sf0.1). The cached rows are slim (id, hash, chunk).
        chunks = tracked_cache(chunks, no_cache)
        # df count reuses the (chunk_id, chunk) shuffle key of the
        # self-join that follows — one extra partial-agg pass
        sizes = chunks.groupBy("chunk_id", "chunk").agg(
            F.count("*").alias("_cdf")
        )
        # r15 adaptive gate (guide §1.2): ONE max-df probe over the
        # cached slim chunk rows decides whether any bucket actually
        # exceeds hot_chunk_df. When none does — the normal case for
        # healthy signature entropy (measured: zero hot buckets at
        # sf0.1 for all three registered callers, yet the refinement
        # machinery cost ~1.2 s of size-join/union/4-key plan
        # overhead per query to refine nothing) — the plain
        # (chunk_id, chunk) keys feed the SAME in-expansion-verify
        # grouped path below. Hot inputs engage the refinement
        # exactly as before; the kept pair set is identical across
        # modes by the pigeonhole contract (pinned by the
        # refined-vs-plain equality tests). With no_cache the probe
        # would run the whole signature plan once more, so that mode
        # skips it and always takes the refined path.
        if no_cache or (sizes.agg(F.max("_cdf")).first()[0] or 0) > hot_chunk_df:
            sized = chunks.join(sizes, ["chunk_id", "chunk"])
            cold = sized.where(F.col("_cdf") <= hot_chunk_df).select(
                id_col,
                "simhash",
                "chunk_id",
                "chunk",
                F.lit(-1).alias("sub_id"),
                F.lit(0).cast("long").alias("sub_val"),
            )
            mask_cases = " ".join(
                f"when chunk_id = {i} and sub_id = {j} then cast(simhash as bigint) & {m}L"
                for i in range(n_chunks)
                for j, m in enumerate(
                    _refine_masks(n_bits, bounds, i, n_chunks)
                )
            )
            hot = (
                sized.where(F.col("_cdf") > hot_chunk_df)
                .select(
                    id_col,
                    "simhash",
                    "chunk_id",
                    "chunk",
                    F.explode(
                        F.array(*[F.lit(j) for j in range(n_chunks)])
                    ).alias("sub_id"),
                )
                .withColumn("sub_val", F.expr(f"case {mask_cases} end"))
            )
            chunks = cold.unionByName(hot)
            join_keys = ["chunk_id", "chunk", "sub_id", "sub_val"]
        else:
            join_keys = ["chunk_id", "chunk"]
    else:
        join_keys = ["chunk_id", "chunk"]
    # in-bucket pair expansion (one shuffle, i < j only) instead of a
    # two-sided chunk self-join — see operators/skew.bucket_self_pairs.
    # The item struct leads with the id, so pair order is id order;
    # the signature rides along and never needs a re-attach join.
    from .skew import bucket_self_pairs

    item = F.struct(F.col(id_col).alias("i"), F.col("simhash").alias("h"))
    if hot_chunk_df is not None:
        # r9: verify hamming IN the pair expansion, not after the
        # pair-dedup shuffle. The r8 shape shuffled EVERY candidate
        # through dropDuplicates before the xor/bit_count filter —
        # at sf10 that was 180.8M candidate rows deduped to 168.8M
        # (6% removed) of which only 559k survived the radius filter:
        # two candidate-sized shuffles to carry a 0.3% survivor set.
        # The verify is one xor+bit_count on values already sitting in
        # the bucket row, so filtering inside the flatten keeps the
        # expansion OUTPUT survivor-sized; dropDuplicates then runs on
        # survivors. Cross-chunk duplicates reproduce the identical
        # hamming (same two longs), so the kept set is exactly the r8
        # one — equality across modes stays pinned in tests.
        # Memory guard mirrors bucket_self_pairs: buckets past the
        # expansion cap (possible only under adversarial skew — the
        # refinement bounds buckets by residual bit entropy, not
        # structurally) take a streaming self-join instead, filtered
        # the same way; a bucket is entirely in one path.
        cap = 4096
        grouped = (
            chunks.select(*join_keys, item.alias("_it"))
            .groupBy(*join_keys)
            .agg(F.sort_array(F.collect_set("_it")).alias("_items"))
            .where(F.size("_items") > 1)
        )
        grouped = tracked_cache(grouped, no_cache)
        scored = F.expr(
            "flatten(transform(_items, (it_x, i) -> "
            "filter(transform(slice(_items, i + 2, size(_items) - i - 1), "
            "it_y -> struct(it_x.i as id_a, it_y.i as id_b, "
            "bit_count(it_x.h ^ it_y.h) as hamming)), "
            f"s -> s.hamming <= {int(max_hamming)})))"
        )
        small = (
            grouped.where(F.size("_items") <= cap)
            .select(F.explode(scored).alias("_p"))
            .select("_p.id_a", "_p.id_b", "_p.hamming")
        )
        big_src = grouped.where(F.size("_items") > cap).select(
            *join_keys, F.explode("_items").alias("_it")
        )
        big = (
            big_src.alias("x")
            .join(big_src.alias("y"), join_keys)
            .where(F.col("x._it") < F.col("y._it"))
            .select(
                F.col("x._it.i").alias("id_a"),
                F.col("y._it.i").alias("id_b"),
                F.bit_count(
                    F.col("x._it.h").bitwiseXOR(F.col("y._it.h"))
                ).alias("hamming"),
            )
            .where(F.col("hamming") <= max_hamming)
        )
        return small.unionByName(big).dropDuplicates(["id_a", "id_b"])
    hamming = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
    return (
        bucket_self_pairs(
            chunks.select(id_col, "simhash", *join_keys),
            join_keys,
            item,
            no_cache=no_cache,
        )
        .select(
            F.col("a.i").alias("id_a"),
            F.col("b.i").alias("id_b"),
            F.col("a.h").alias("h_a"),
            F.col("b.h").alias("h_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .select("id_a", "id_b", hamming.alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
    )
