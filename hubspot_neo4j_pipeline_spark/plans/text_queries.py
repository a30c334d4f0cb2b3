"""Text-analysis / deduplication operators over the `documents` table.

These are the training-data-pipeline operators (exact dedup, near-dup,
token stats, quality scoring, language ID, fingerprinting). All hot-path
logic is JVM-side built-ins (split/filter/transform/sha2/xxhash64/md5) —
no Python UDFs. Hash-choice rule: where a hash is ONLY an equality key
(shingle/passage/gram buckets — never output, never ordered on) we use
xxhash64, which is far cheaper than md5 and shuffles as an 8-byte long;
equality over xxhash64 == equality over the raw string == the oracles'
md5 equality, so cross-engine results are unchanged. md5 is kept ONLY
where the hash VALUE itself must be reproduced in DuckDB (MinHash
permutation bases, SimHash bit votes, fingerprints, sampling buckets).
At 64 bits a corpus needs ~2^32 distinct shingles before a collision is
likely; at trillion-shingle scale swap in two independent xxhash64 seeds
(or sha2 truncation) — the plan shape is unchanged. MinHash accuracy is
additionally pytest-verified against exact Jaccard in tests/.

Cross-engine determinism: ratios use floor(x*10000)/10000 (identical
double ops in both engines) instead of round(), whose tie-breaking
differs between engines.

Scale notes: every dedup/near-dup below is bucket-structured (hash
groupBy or LSH band join) — never an all-pairs crossJoin; at 100 TB the
shuffle key is the content hash / band hash, which is uniformly
distributed by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.caching import tracked_cache
from ..operators.dedup import hashed_shingle_sql
from ..sources.tpch import load_table
from .registry import register


def _rate4(col):
    """Deterministic 4-decimal truncation (identical in Spark & DuckDB)."""
    return F.floor(col * 10000) / 10000


@register(
    "doc_exact_dedup",
    oracle="""
        WITH hashed AS (
            SELECT doc_id, sha256(text) AS content_hash FROM documents
        ), groups AS (
            SELECT content_hash, count(*) AS n_copies, min(doc_id) AS canonical_id
            FROM hashed GROUP BY content_hash
        )
        SELECT count(*) AS n_groups,
               CAST(sum(n_copies) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN n_copies > 1 THEN n_copies - 1 ELSE 0 END) AS BIGINT) AS n_duplicates
        FROM groups
    """,
    covers=("D1", "D2", "D3"),
    doc="Exact dedup via content-hash groupBy: canonical id per group, duplicate counts. Scale: shuffle on sha256 — uniform.",
)
def doc_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    groups = (
        docs.select("doc_id", F.sha2("text", 256).alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.count("*").alias("n_copies"), F.min("doc_id").alias("canonical_id"))
    )
    return groups.agg(
        F.count("*").alias("n_groups"),
        F.sum("n_copies").alias("n_docs"),
        F.sum(
            F.when(F.col("n_copies") > 1, F.col("n_copies") - 1).otherwise(0)
        ).alias("n_duplicates"),
    )


@register(
    "doc_token_stats",
    oracle="""
        SELECT doc_id,
               len(string_split(text, ' ')) AS n_tokens,
               len(regexp_extract_all(text, '[a-z0-9]+|[^a-z0-9 ]')) AS n_bpe_tokens,
               length(text) AS n_chars,
               len(list_distinct(string_split(text, ' '))) AS n_unique_tokens,
               floor(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                     / len(string_split(text, ' ')) * 10000) / 10000 AS ttr
        FROM documents
    """,
    covers=("P1", "F4"),
    doc="Token counting per document: whitespace tokenizer + BPE-ish regex pre-tokenizer (alnum runs | single non-alnum), type-token ratio. All JVM-side.",
)
def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", spread=False)
    words = F.split("text", " ")
    n_tokens = F.size(words)
    n_unique = F.size(F.array_distinct(words))
    # GPT-style pre-tokenization skeleton: alnum runs or single symbols
    bpe = F.size(F.regexp_extract_all("text", F.lit("[a-z0-9]+|[^a-z0-9 ]"), 0))
    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        bpe.alias("n_bpe_tokens"),
        F.length("text").alias("n_chars"),
        n_unique.alias("n_unique_tokens"),
        _rate4(n_unique.cast("double") / n_tokens).alias("ttr"),
    )


@register(
    "doc_quality_score",
    oracle="""
        WITH toks AS (
            SELECT doc_id, n_chars, string_split(text, ' ') AS words FROM documents
        )
        SELECT doc_id,
               len(words) AS n_tokens,
               len(list_filter(words, w -> w = 'the' OR w = 'a')) AS n_stopwords,
               floor(CAST(len(list_filter(words, w -> w = 'the' OR w = 'a')) AS DOUBLE)
                     / len(words) * 10000) / 10000 AS stopword_ratio,
               CAST(n_chars AS DOUBLE) / len(words) AS avg_token_len,
               CASE WHEN len(words) >= 20
                         AND len(list_filter(words, w -> w = 'the' OR w = 'a')) > 0
                    THEN 'keep' ELSE 'flag' END AS quality_verdict
        FROM toks
    """,
    covers=("P5", "A8"),
    doc="Heuristic quality scoring: length / stopword-density gates (C4-style filters, JVM array exprs).",
)
def doc_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", spread=False)
    words = F.split("text", " ")
    stop = F.size(F.filter(words, lambda w: (w == "the") | (w == "a")))
    n = F.size(words)
    return docs.select(
        "doc_id",
        n.alias("n_tokens"),
        stop.alias("n_stopwords"),
        _rate4(stop.cast("double") / n).alias("stopword_ratio"),
        (F.col("n_chars").cast("double") / n).alias("avg_token_len"),
        F.when((n >= 20) & (stop > 0), "keep").otherwise("flag").alias("quality_verdict"),
    )


@register(
    "doc_language_id",
    oracle="""
        WITH scored AS (
            SELECT doc_id, lang AS labeled_lang,
                   len(list_filter(string_split(text, ' '),
                                   w -> w = 'the' OR w = 'a' OR w = 'of'))
                       AS en_hits,
                   len(string_split(text, ' ')) AS n_tokens
            FROM documents
        )
        SELECT labeled_lang,
               CASE WHEN CAST(en_hits AS DOUBLE) / n_tokens > 0.05
                    THEN 'en' ELSE 'other' END AS predicted_lang,
               count(*) AS n_docs
        FROM scored GROUP BY labeled_lang, predicted_lang
    """,
    covers=("P5", "A9"),
    doc="N-gram/stopword-density language ID vs labeled lang (confusion counts).",
)
def doc_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", spread=False)
    words = F.split("text", " ")
    en_hits = F.size(
        F.filter(words, lambda w: (w == "the") | (w == "a") | (w == "of"))
    )
    pred = F.when(
        en_hits.cast("double") / F.size(words) > 0.05, "en"
    ).otherwise("other")
    return (
        docs.select(F.col("lang").alias("labeled_lang"), pred.alias("predicted_lang"))
        .groupBy("labeled_lang", "predicted_lang")
        .agg(F.count("*").alias("n_docs"))
    )


@register(
    "doc_fingerprint",
    oracle="""
        SELECT doc_id,
               md5(array_to_string(list_slice(string_split(text, ' '), 1, 8), ' '))
                   AS head_fingerprint,
               sha256(lower(trim(text))) AS normalized_hash,
               list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                       list_transform(string_split(text, ' '),
                           t -> CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT)
                                % 2147483648)),
                   (acc, h) -> (acc * 31 + h) % 2147483647) AS rolling_hash
        FROM documents
    """,
    covers=("F9", "D1"),
    doc="Document fingerprinting: head-shingle md5, normalized full hash, and a token-order-sensitive polynomial rolling hash (mod 2^31-1) — all cross-engine exact.",
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    # polynomial rolling hash over md5-derived token hashes: order-
    # sensitive (unlike shingle sets), exact in both engines since the
    # fold is sequential integer arithmetic mod the Mersenne-31 prime
    # (intermediates stay under 2^36 — no ANSI overflow in either engine).
    tok_h = F.transform(
        words,
        lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long") % 2147483648,
    )
    rolling = F.aggregate(
        tok_h,
        F.lit(0).cast("long"),
        lambda acc, h: (acc * 31 + h) % F.lit(2147483647),
    )
    return docs.select(
        "doc_id",
        F.md5(F.array_join(F.slice(words, 1, 8), " ")).alias("head_fingerprint"),
        F.sha2(F.lower(F.trim("text")), 256).alias("normalized_hash"),
        rolling.alias("rolling_hash"),
    )


@register(
    "doc_shingle_candidates",
    oracle="""
        WITH shingled AS (
            SELECT doc_id, unnest(list_distinct(list_transform(
                       generate_series(1, len(string_split(text, ' ')) - 4),
                       i -> md5(array_to_string(string_split(text, ' ')[i:i+4], ' '))
                   ))) AS shingle
            FROM documents
        ), buckets AS (
            SELECT shingle, list_sort(list(doc_id)) AS docs, count(*) AS n
            FROM shingled GROUP BY shingle
        )
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared_shingles
        FROM shingled a JOIN shingled b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
        HAVING count(*) >= 3
    """,
    covers=("D1", "J1"),
    doc="Near-dup candidate pairs via shared 5-gram shingles (bucket join on shingle hash, never crossJoin).",
)
def doc_shingle_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    # 5-gram shingles hashed with xxhash64: the hash is ONLY an equality
    # key (never output, never ordered on), so equality over xxhash64 ==
    # equality over the raw shingle == the oracle's md5 equality, and the
    # shuffle rows carry an 8-byte long instead of a 32-char hex string.
    shingles = docs.select(
        "doc_id",
        F.expr(f"explode({hashed_shingle_sql('text')})").alias("shingle"),
    )
    a = shingles.alias("a")
    b = shingles.alias("b")
    return (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("shared_shingles"))
        .where(F.col("shared_shingles") >= 3)
    )


# ---------------------------------------------------------------------------
# MinHash-LSH near-dup — FULLY oracle-checked: the base hash is
# md5-derived (('0x'||substr(md5(s),1,15))::BIGINT) and permutations /
# band hashes are plain arithmetic + md5, so DuckDB reproduces the
# entire pipeline bit-for-bit. SimHash stays rows-only (64 bit-vote
# aggregates are impractical in one SQL statement).
# ---------------------------------------------------------------------------


def _minhash_oracle(
    band_slice: tuple[int, int] | None = None,
    doc_where: str = "",
    max_band_df: int | None = None,
) -> str:
    """``band_slice=(K, r)`` mirrors minhash_lsh_pairs' band_slice: a
    deterministic 1/K bucket sample keyed on the first two band_hash
    hex digits, making the candidate self-join affordable for
    100x-scale oracle runs. ``doc_where`` (r12): an extra predicate on
    the source documents (e.g. ``doc_id % 2 = 0``) so a slice-twin
    query can restrict its CORPUS identically on both engines — the
    Spark side filters the same way before signing. ``max_band_df``
    (r13, r12 VERDICT task 4): mirrors minhash_lsh_pairs' hot-band cap
    — band buckets holding more than this many docs are dropped BEFORE
    the candidate join (a HAVING on the band CTE; both engines count
    the identical md5 band keys, so the kept bucket set is exact)."""
    from ..operators.dedup import (
        DEFAULT_BANDS,
        DEFAULT_PERMS,
        MERSENNE,
        MOD31,
        _perm_coeffs,
    )

    slice_pred = ""
    if band_slice is not None:
        k, r = band_slice
        slice_pred = (
            f"\n             AND CAST(('0x' || substr(a.band_hash, 1, 2)) "
            f"AS BIGINT) % {k} = {r}"
        )

    bands_body = "\n            SELECT * FROM all_bands"
    if max_band_df is not None:
        bands_body = f"""
            SELECT ab.* FROM all_bands ab
            JOIN (SELECT band_id, band_hash FROM all_bands
                  GROUP BY band_id, band_hash
                  HAVING count(*) <= {max_band_df}) cold
            USING (band_id, band_hash)"""

    rows = DEFAULT_PERMS // DEFAULT_BANDS
    sig_exprs = ",\n                   ".join(
        f"list_min(list_transform(hs, h -> (h * {a} + {b}) % {MERSENNE})) AS s{i}"
        for i, (a, b) in ((i, _perm_coeffs(i)) for i in range(DEFAULT_PERMS))
    )
    band_rows = "\n            UNION ALL\n".join(
        "            SELECT doc_id, shingles, {b} AS band_id, "
        "md5(concat_ws('|', {cols})) AS band_hash FROM sigs".format(
            b=b,
            cols=", ".join(f"s{b * rows + r}" for r in range(rows)),
        )
        for b in range(DEFAULT_BANDS)
    )
    return f"""
        WITH shingled AS (
            SELECT doc_id,
                   list_distinct(list_transform(
                       generate_series(1, len(string_split(text, ' ')) - 4),
                       i -> array_to_string(string_split(text, ' ')[i:i+4], ' ')
                   )) AS shingles
            FROM documents
            WHERE len(string_split(text, ' ')) >= 5
              {f"AND ({doc_where})" if doc_where else ""}
        ), hashed AS (
            SELECT doc_id, shingles,
                   list_transform(shingles,
                       s -> CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) % {MOD31})
                       AS hs
            FROM shingled
        ), sigs AS (
            SELECT doc_id, shingles,
                   {sig_exprs}
            FROM hashed
        ), all_bands AS (
{band_rows}
        ), bands AS ({bands_body}
        ), candidates AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                   a.shingles AS sh_a, b.shingles AS sh_b
            FROM bands a JOIN bands b
              ON a.band_id = b.band_id AND a.band_hash = b.band_hash
             AND a.doc_id < b.doc_id{slice_pred}
        )
        SELECT id_a, id_b,
               CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)
               / (len(sh_a) + len(sh_b) - len(list_intersect(sh_a, sh_b)))
                   AS jaccard
        FROM (SELECT DISTINCT id_a, id_b, sh_a, sh_b FROM candidates)
        WHERE CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)
              / (len(sh_a) + len(sh_b) - len(list_intersect(sh_a, sh_b))) >= 0.5
    """


@register(
    "doc_minhash_lsh_pairs",
    oracle=_minhash_oracle(),
    covers=("D1",),
    doc=(
        "MinHash(16 perms, md5-based universal-hash family) + LSH(4 "
        "bands × 4 rows, r6) near-dup pairs with verified Jaccard ≥ "
        "0.5 — full cross-engine oracle. LSH recall at Jaccard J is "
        "1-(1-J⁴)⁴ (≥0.98 at J≥0.9, where this corpus's true pairs "
        "live); 4-row bands keep the sub-threshold candidate floor at "
        "J⁴ — see DEFAULT_BANDS in operators/dedup.py."
    ),
)
def doc_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import minhash_lsh_pairs

    docs = load_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(docs, id_col="doc_id", text_col="text")


# Deterministic bucket-sample fraction for the *_slice verification
# queries (r7): keep band/chunk/bucket keys ≡ 0 (mod VERIFY_SLICE_K).
# The slice recipe: run the FULL pipeline (signatures, banding,
# skew handling) in both engines, then keep only the 1/K of candidate
# BUCKETS selected by the house hash family — both engines compute
# identical bucket keys, so outputs stay cell-exact while the DuckDB
# oracle's quadratic candidate join shrinks K-fold, which is what
# makes exact verification affordable at 100x data (sf10).
VERIFY_SLICE_K = 8


@register(
    "doc_minhash_lsh_pairs_slice",
    oracle=_minhash_oracle(band_slice=(VERIFY_SLICE_K, 0)),
    covers=("D1",),
    doc=(
        "doc_minhash_lsh_pairs restricted to the deterministic 1/8 "
        "band-bucket slice (first two band_hash hex digits % 8 == 0) — "
        "the 100x-scale exact-verification variant (r6 VERDICT task 4): "
        "Spark still runs the full signature/banding path, the oracle's "
        "candidate join shrinks 8x, and because both engines compute "
        "the identical md5 band_hash the kept pair set is cell-exact. "
        "Also a useful production audit shape: a deterministic bucket "
        "sample of a dedup pipeline's output."
    ),
)
def doc_minhash_lsh_pairs_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import minhash_lsh_pairs

    docs = load_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(
        docs, id_col="doc_id", text_col="text", band_slice=(VERIFY_SLICE_K, 0)
    )


# Hot-band cap for the PRODUCTION (skew-capped) configuration's oracle
# rows (r13, r12 VERDICT task 4: the capped configs were the only ones
# never DuckDB-pinned — equivalence-tested in pytest at unit scale but
# a 100 TB deployment runs exactly these knobs). 2 is chosen so the cap
# provably BITES on the synthetic corpora at every tested scale (the
# hottest band bucket holds 3 docs at sf0.01, 4 at sf0.001, 10 at
# sf1.0 — a cap that drops nothing would pin nothing); the production
# value for a real corpus is the PERF.md constants-table entry
# (~10-100, sized to bound one bucket's k² expansion).
CAP_BAND_DF = 2


@register(
    "doc_minhash_lsh_pairs_capped",
    oracle=_minhash_oracle(max_band_df=CAP_BAND_DF),
    covers=("D1",),
    doc=(
        "doc_minhash_lsh_pairs under the PRODUCTION skew guard: band "
        "buckets holding > max_band_df docs are dropped before the "
        "candidate join (operators/dedup.lsh_pairs_from_signatures), "
        "bounding any one bucket's pair expansion at k² ≤ "
        f"{CAP_BAND_DF * CAP_BAND_DF} while OR-construction recall keeps "
        "pairs that also collide in a cold band. The oracle mirrors the "
        "cap with a HAVING count(*) <= K on the identical md5 band keys, "
        "so the kept pair set is cell-exact — the first cross-engine pin "
        "of a capped (skew-mitigated) configuration."
    ),
)
def doc_minhash_lsh_pairs_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import minhash_lsh_pairs

    docs = load_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(
        docs, id_col="doc_id", text_col="text", max_band_df=CAP_BAND_DF
    )


@register(
    "doc_shingle_candidates_capped",
    oracle="""
        WITH shingled AS (
            SELECT doc_id, unnest(list_distinct(list_transform(
                       generate_series(1, len(string_split(text, ' ')) - 4),
                       i -> md5(array_to_string(string_split(text, ' ')[i:i+4], ' '))
                   ))) AS shingle
            FROM documents
        ), cold AS (
            SELECT s.* FROM shingled s
            JOIN (SELECT shingle FROM shingled
                  GROUP BY shingle HAVING count(*) <= 2) keep
            USING (shingle)
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared_shingles
        FROM cold a JOIN cold b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
        HAVING count(*) >= 3
    """,
    covers=("D1", "J1"),
    doc=(
        "doc_shingle_candidates under the PRODUCTION skew guard "
        "(operators/dedup.ngram_jaccard_pairs max_shingle_df=2): "
        "shingles shared by more than max_shingle_df documents are "
        "dropped before the inverted-index self-join, bounding a "
        "stop-phrase shingle's k² expansion and sweeping the uncapped "
        "query's superquadratic 100x candidate growth into a linear "
        "shape. The oracle mirrors the cap with HAVING count(*) <= K "
        "on the identical shingle keys; the cap provably bites at "
        "every tested scale (hottest shingle df: 4 at sf0.001, 3 at "
        "sf0.01, 20 at sf1.0)."
    ),
)
def doc_shingle_candidates_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import ngram_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(
        docs, id_col="doc_id", text_col="text", min_shared=3, max_shingle_df=2
    )


def _simhash_oracle() -> str:
    from ..operators.dedup import SIMHASH_BITS

    vote_cols = ",\n                   ".join(
        f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS b{j}"
        for j in range(SIMHASH_BITS)
    )
    pack = " + ".join(
        f"CASE WHEN b{j} > 0 THEN CAST({1 << j} AS BIGINT) ELSE 0 END"
        for j in range(SIMHASH_BITS)
    )
    return f"""
        WITH toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
        ), hashed AS (
            SELECT doc_id,
                   CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h
            FROM toks
        ), votes AS (
            SELECT doc_id,
                   {vote_cols}
            FROM hashed GROUP BY doc_id
        )
        SELECT doc_id, {pack} AS simhash FROM votes
    """


@register(
    "doc_simhash",
    oracle=_simhash_oracle(),
    covers=("D1",),
    doc="60-bit SimHash per document (md5-derived token hashes, bit voting) — full cross-engine oracle.",
)
def doc_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import simhash

    docs = load_table(spark, sf_dir, "documents")
    return simhash(docs, id_col="doc_id", text_col="text")


# ---------------------------------------------------------------------------
# Dedup CLUSTERS (pairs -> connected components), corpus term stats,
# and deterministic stratified sampling — the remaining training-data
# curation primitives. The CC oracle is a DuckDB recursive CTE; the
# Spark side is hash-min label propagation (operators/graph.py).
# ---------------------------------------------------------------------------


# Shared recursive-CTE transitive closure over the shingle-overlap
# pair graph — the oracle prefix for both cluster-level and per-doc
# dedup outputs (comp: id -> cluster_id = min reachable doc id).
_CC_ORACLE_PREFIX = """
        WITH RECURSIVE shingled AS (
            SELECT doc_id, unnest(list_distinct(list_transform(
                       generate_series(1, len(string_split(text, ' ')) - 4),
                       i -> md5(array_to_string(string_split(text, ' ')[i:i+4], ' '))
                   ))) AS shingle
            FROM documents
        ), pairs AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM shingled a JOIN shingled b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
            HAVING count(*) >= 3
        ), sym AS (
            SELECT doc_a AS a, doc_b AS b FROM pairs
            UNION ALL
            SELECT doc_b, doc_a FROM pairs
        ), nodes AS (
            SELECT DISTINCT a AS id FROM sym
        ), reach(id, root) AS (
            SELECT id, id FROM nodes
            UNION
            SELECT s.b, r.root FROM reach r JOIN sym s ON s.a = r.id
        ), comp AS (
            SELECT id, min(root) AS cluster_id FROM reach GROUP BY id
        )
"""


def _dup_pairs(docs: DataFrame) -> DataFrame:
    """Near-dup candidate pairs: >= 3 shared distinct 5-gram shingles.

    Shingles are keyed by xxhash64 — equality-only use (the hash is
    never output), so it matches the oracle's md5-equality while being
    far cheaper to compute and 4x narrower on the shuffle wire.
    """
    return _dup_pairs_from_exploded(
        docs.select(
            "doc_id",
            F.expr(f"explode({hashed_shingle_sql('text')})").alias("shingle"),
        )
    )


def _dup_pairs_from_exploded(shingles: DataFrame) -> DataFrame:
    """The >=3-shared-shingles pair join over an exploded
    (doc_id, shingle: bigint) frame — factored out so
    dedup_method_agreement can feed it from a shingle scan SHARED with
    the MinHash branch instead of re-deriving the grams (r6 VERDICT:
    the two branches each rebuilt the tokenize/shingle work — the
    registry's second-heaviest query at sf10).

    Pair generation is the in-bucket expansion kernel in its PACKED
    form (r10): the count aggregates ~116M pair-incidence rows at 100x
    before the HAVING, so the pair key rides the shuffle as one
    8-byte long (a*2^32+b) and is decoded only for the >=3 survivors —
    measured 19.0 -> 10.7 s on that arm at sf10, bit-identical pair
    set (range-guarded: out-of-range ids raise, never corrupt — see
    operators/skew.packed_self_pairs)."""
    from ..operators.skew import packed_self_pairs, unpack_pair

    pairs = (
        packed_self_pairs(shingles, ["shingle"], "doc_id")
        .groupBy("pk")
        .agg(F.count("*").alias("shared"))
        .where(F.col("shared") >= 3)
    )
    id_a, id_b = unpack_pair("pk")
    return pairs.select(id_a.alias("id_a"), id_b.alias("id_b"))


@register(
    "doc_dup_clusters",
    oracle=_CC_ORACLE_PREFIX
    + """
        SELECT cluster_id, count(*) AS n_members,
               min(id) AS min_member, max(id) AS max_member
        FROM comp GROUP BY cluster_id
    """,
    covers=("D1", "J1"),
    doc="Near-dup pairs (shared 5-gram shingles >= 3) folded into duplicate CLUSTERS via distributed hash-min connected components; cluster_id = min member. Oracle: recursive-CTE transitive closure.",
)
def doc_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import dedup_clusters

    docs = load_table(spark, sf_dir, "documents")
    return dedup_clusters(_dup_pairs(docs))


@register(
    "doc_dedup_keeplist",
    oracle=_CC_ORACLE_PREFIX
    + """
        SELECT d.doc_id,
               COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
               d.doc_id = COALESCE(c.cluster_id, d.doc_id) AS keep
        FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
    """,
    covers=("D1", "D3", "J12"),
    doc=(
        "The consumable output of the dedup pipeline: one verdict row per "
        "document — its duplicate-cluster id (own id for singletons) and "
        "whether it is the cluster canonical (min member) to KEEP. "
        "Downstream training reads `WHERE keep`; the cluster_id column "
        "preserves the audit trail of what was dropped and why. Scale: "
        "connected components over the bounded near-dup pair graph "
        "(pointer-jump hash-min, lineage truncated per round) plus one "
        "left join back to the corpus on the doc id."
    ),
)
def doc_dedup_keeplist(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import components_min_label

    docs = load_table(spark, sf_dir, "documents")
    comp = components_min_label(_dup_pairs(docs), src="id_a", dst="id_b").select(
        F.col("id").alias("doc_id"), F.col("comp").alias("_cluster")
    )
    return docs.select("doc_id").join(comp, "doc_id", "left").select(
        "doc_id",
        F.coalesce("_cluster", F.col("doc_id")).alias("cluster_id"),
        (F.col("doc_id") == F.coalesce("_cluster", F.col("doc_id"))).alias("keep"),
    )


@register(
    "doc_dedup_quality_keeplist",
    oracle=_CC_ORACLE_PREFIX
    + """
        , members AS (
            SELECT d.doc_id,
                   COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
                   len(string_split(d.text, ' ')) AS n_tokens
            FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
        ), canon AS (
            SELECT cluster_id, doc_id AS canonical_id FROM (
                SELECT cluster_id, doc_id,
                       row_number() OVER (PARTITION BY cluster_id
                                          ORDER BY n_tokens DESC, doc_id)
                           AS rn
                FROM members
            ) WHERE rn = 1
        )
        SELECT m.doc_id, m.cluster_id, m.n_tokens, k.canonical_id,
               m.doc_id = k.canonical_id AS keep
        FROM members m JOIN canon k USING (cluster_id)
    """,
    covers=("D1", "D3", "W1"),
    doc=(
        "Dedup keeplist with a QUALITY-canonical keep rule (r11): "
        "within each duplicate cluster the survivor is the doc with "
        "the most tokens (ties -> lowest id), not the minimum id — "
        "the rule production pipelines actually want (near-dup "
        "clusters mix full documents with truncated re-crawls; min-id "
        "keeps whichever was crawled first, argmax-quality keeps the "
        "most complete copy). cluster_id stays the CC min-member "
        "label, so the audit trail is unchanged and the two keeplists "
        "are directly joinable. Scale: the same pointer-jump CC over "
        "the bounded pair graph plus ONE window over cluster_id "
        "(latest-per-entity shape, W1) — no new pair work; the "
        "quality key is computed at the corpus scan."
    ),
)
def doc_dedup_quality_keeplist(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import components_min_label

    docs = load_table(spark, sf_dir, "documents")
    comp = components_min_label(_dup_pairs(docs), src="id_a", dst="id_b").select(
        F.col("id").alias("doc_id"), F.col("comp").alias("_cluster")
    )
    members = (
        docs.select("doc_id", F.size(F.split("text", " ")).alias("n_tokens"))
        .join(comp, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("_cluster", F.col("doc_id")).alias("cluster_id"),
            "n_tokens",
        )
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_tokens").desc(), F.col("doc_id")
    )
    canon = (
        members.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("cluster_id", F.col("doc_id").alias("canonical_id"))
    )
    return members.join(canon, "cluster_id").select(
        "doc_id",
        "cluster_id",
        "n_tokens",
        "canonical_id",
        (F.col("doc_id") == F.col("canonical_id")).alias("keep"),
    )


# --- 100x-verifiable SLICE twins of the CC pipelines (r9) ---------------
# doc_dup_clusters / doc_dedup_keeplist are oracle-infeasible at sf10
# (the shared-shingle CTE is the quadratic, not the Spark side), so they
# sat on verify_sf10_chunked.sh's exclusion list with only a 10x
# scale-probe row. Same recipe as the r7 pair-family slices: slice the
# SHINGLE SET deterministically (house md5->bigint hash % K == 0,
# computed identically in both engines), then run the UNCHANGED pair
# join + connected-components pipeline over the sliced shingles. The
# oracle's candidate join shrinks ~K-fold; the Spark side still
# exercises the full bucket_self_pairs + hash-min CC machinery, and the
# outputs are cell-exact by construction. (The slice is over shingles,
# not pairs: a pair needs >= 3 shared shingles INSIDE the slice, so the
# sliced graph is itself a well-defined dedup pipeline — a production
# audit shape, not just a test artifact.)

_MD5_SHINGLE_SQL = "cast(conv(substring(md5({gram}), 1, 15), 16, 10) as bigint)"


def _cc_slice_oracle_prefix(k_mod: int) -> str:
    return f"""
        WITH RECURSIVE shingled AS (
            SELECT doc_id, unnest(list_distinct(list_transform(
                       generate_series(1, len(string_split(text, ' ')) - 4),
                       i -> CAST(('0x' || substr(md5(array_to_string(
                                string_split(text, ' ')[i:i+4], ' ')), 1, 15))
                            AS BIGINT)
                   ))) AS shingle
            FROM documents
        ), sliced AS (
            SELECT doc_id, shingle FROM shingled WHERE shingle % {k_mod} = 0
        ), pairs AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM sliced a JOIN sliced b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
            HAVING count(*) >= 3
        ), sym AS (
            SELECT doc_a AS a, doc_b AS b FROM pairs
            UNION ALL
            SELECT doc_b, doc_a FROM pairs
        ), nodes AS (
            SELECT DISTINCT a AS id FROM sym
        ), reach(id, root) AS (
            SELECT id, id FROM nodes
            UNION
            SELECT s.b, r.root FROM reach r JOIN sym s ON s.a = r.id
        ), comp AS (
            SELECT id, min(root) AS cluster_id FROM reach GROUP BY id
        )
"""


def _dup_pairs_sliced(docs: DataFrame, k_mod: int, residue: int = 0) -> DataFrame:
    """_dup_pairs restricted to the deterministic 1/k_mod shingle slice.

    Unlike the full pipeline (xxhash64 equality keys), the slice twin
    hashes shingles with the house md5->bigint family because the
    slice PREDICATE must be computed identically in DuckDB — md5 is
    the only hash both engines share."""
    shingles = docs.select(
        "doc_id",
        F.expr(
            f"explode({hashed_shingle_sql('text', hash_sql=_MD5_SHINGLE_SQL)})"
        ).alias("shingle"),
    ).where(F.pmod(F.col("shingle"), F.lit(k_mod)) == residue)
    return _dup_pairs_from_exploded(shingles)


@register(
    "doc_dup_clusters_slice",
    oracle=_cc_slice_oracle_prefix(VERIFY_SLICE_K)
    + """
        SELECT cluster_id, count(*) AS n_members,
               min(id) AS min_member, max(id) AS max_member
        FROM comp GROUP BY cluster_id
    """,
    covers=("D1", "J1"),
    doc=(
        "doc_dup_clusters over the deterministic 1/8 shingle slice "
        "(md5-bigint shingle % 8 == 0, identical in both engines) — the "
        "100x-scale exact-verification variant of the connected-components "
        "dedup pipeline (r8 VERDICT task 2): full bucket_self_pairs + "
        "hash-min CC machinery, 8x-smaller oracle candidate join."
    ),
)
def doc_dup_clusters_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import dedup_clusters

    docs = load_table(spark, sf_dir, "documents")
    return dedup_clusters(_dup_pairs_sliced(docs, VERIFY_SLICE_K))


@register(
    "doc_dedup_keeplist_slice",
    oracle=_cc_slice_oracle_prefix(VERIFY_SLICE_K)
    + """
        SELECT d.doc_id,
               COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
               d.doc_id = COALESCE(c.cluster_id, d.doc_id) AS keep
        FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
    """,
    covers=("D1", "D3", "J12"),
    doc=(
        "doc_dedup_keeplist over the deterministic 1/8 shingle slice — "
        "per-document keep/cluster verdicts from the sliced pair graph; "
        "the 100x-scale exact-verification twin (see doc_dup_clusters_slice)."
    ),
)
def doc_dedup_keeplist_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import components_min_label

    docs = load_table(spark, sf_dir, "documents")
    comp = components_min_label(
        _dup_pairs_sliced(docs, VERIFY_SLICE_K), src="id_a", dst="id_b"
    ).select(F.col("id").alias("doc_id"), F.col("comp").alias("_cluster"))
    return docs.select("doc_id").join(comp, "doc_id", "left").select(
        "doc_id",
        F.coalesce("_cluster", F.col("doc_id")).alias("cluster_id"),
        (F.col("doc_id") == F.coalesce("_cluster", F.col("doc_id"))).alias("keep"),
    )


@register(
    "doc_dedup_quality_keeplist_slice",
    oracle=_cc_slice_oracle_prefix(VERIFY_SLICE_K)
    + """
        , members AS (
            SELECT d.doc_id,
                   COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
                   len(string_split(d.text, ' ')) AS n_tokens
            FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
        ), canon AS (
            SELECT cluster_id, doc_id AS canonical_id FROM (
                SELECT cluster_id, doc_id,
                       row_number() OVER (PARTITION BY cluster_id
                                          ORDER BY n_tokens DESC, doc_id)
                           AS rn
                FROM members
            ) WHERE rn = 1
        )
        SELECT m.doc_id, m.cluster_id, m.n_tokens, k.canonical_id,
               m.doc_id = k.canonical_id AS keep
        FROM members m JOIN canon k USING (cluster_id)
    """,
    covers=("D1", "D3", "W1"),
    doc=(
        "doc_dedup_quality_keeplist over the deterministic 1/8 shingle "
        "slice — per-document argmax-quality keep verdicts from the "
        "sliced pair graph; the 100x-scale exact-verification twin "
        "(see doc_dup_clusters_slice for the slice recipe)."
    ),
)
def doc_dedup_quality_keeplist_slice(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.graph import components_min_label

    docs = load_table(spark, sf_dir, "documents")
    comp = components_min_label(
        _dup_pairs_sliced(docs, VERIFY_SLICE_K), src="id_a", dst="id_b"
    ).select(F.col("id").alias("doc_id"), F.col("comp").alias("_cluster"))
    members = (
        docs.select("doc_id", F.size(F.split("text", " ")).alias("n_tokens"))
        .join(comp, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("_cluster", F.col("doc_id")).alias("cluster_id"),
            "n_tokens",
        )
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_tokens").desc(), F.col("doc_id")
    )
    canon = (
        members.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("cluster_id", F.col("doc_id").alias("canonical_id"))
    )
    return members.join(canon, "cluster_id").select(
        "doc_id",
        "cluster_id",
        "n_tokens",
        "canonical_id",
        (F.col("doc_id") == F.col("canonical_id")).alias("keep"),
    )


@register(
    "cluster_safe_split",
    oracle=_CC_ORACLE_PREFIX
    + """
        , members AS (
            SELECT d.doc_id,
                   COALESCE(c.cluster_id, d.doc_id) AS cluster_id
            FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
        )
        SELECT doc_id, cluster_id,
               CAST(('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 8))
                    AS BIGINT) % 100 AS bucket,
               CASE WHEN CAST(('0x' || substr(md5(CAST(cluster_id AS VARCHAR)),
                                1, 8)) AS BIGINT) % 100 < 80 THEN 'train'
                    WHEN CAST(('0x' || substr(md5(CAST(cluster_id AS VARCHAR)),
                                1, 8)) AS BIGINT) % 100 < 90 THEN 'val'
                    ELSE 'test' END AS split
        FROM members
    """,
    covers=("D1", "F9"),
    doc=(
        "Leakage-free train/val/test split (r11): the deterministic "
        "md5-bucket split rule of dataset_split_assignment applied at "
        "duplicate-CLUSTER granularity — every member of a near-dup "
        "cluster hashes on the cluster's min-member id, so a document "
        "and its near-copies can NEVER straddle train and test (the "
        "eval-leakage channel a doc-level split leaves open: the "
        "re-crawl of a test doc lands in train and the model "
        "memorizes it). Scale: the same pointer-jump CC plus pure map "
        "work — no window, no new pair work; the split column is what "
        "a 100 TB run would partitionBy on write."
    ),
)
def cluster_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import components_min_label

    docs = load_table(spark, sf_dir, "documents")
    comp = components_min_label(_dup_pairs(docs), src="id_a", dst="id_b").select(
        F.col("id").alias("doc_id"), F.col("comp").alias("_cluster")
    )
    members = docs.select("doc_id").join(comp, "doc_id", "left").select(
        "doc_id", F.coalesce("_cluster", F.col("doc_id")).alias("cluster_id")
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("cluster_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 100
    )
    return members.select(
        "doc_id",
        "cluster_id",
        bucket.alias("bucket"),
        F.when(bucket < 80, "train")
        .when(bucket < 90, "val")
        .otherwise("test")
        .alias("split"),
    )


@register(
    "cluster_safe_split_slice",
    oracle=_cc_slice_oracle_prefix(VERIFY_SLICE_K)
    + """
        , members AS (
            SELECT d.doc_id,
                   COALESCE(c.cluster_id, d.doc_id) AS cluster_id
            FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
        )
        SELECT doc_id, cluster_id,
               CAST(('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 8))
                    AS BIGINT) % 100 AS bucket,
               CASE WHEN CAST(('0x' || substr(md5(CAST(cluster_id AS VARCHAR)),
                                1, 8)) AS BIGINT) % 100 < 80 THEN 'train'
                    WHEN CAST(('0x' || substr(md5(CAST(cluster_id AS VARCHAR)),
                                1, 8)) AS BIGINT) % 100 < 90 THEN 'val'
                    ELSE 'test' END AS split
        FROM members
    """,
    covers=("D1", "F9"),
    doc=(
        "cluster_safe_split over the deterministic 1/8 shingle slice — "
        "the 100x-scale exact-verification twin (see "
        "doc_dup_clusters_slice for the slice recipe)."
    ),
)
def cluster_safe_split_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import components_min_label

    docs = load_table(spark, sf_dir, "documents")
    comp = components_min_label(
        _dup_pairs_sliced(docs, VERIFY_SLICE_K), src="id_a", dst="id_b"
    ).select(F.col("id").alias("doc_id"), F.col("comp").alias("_cluster"))
    members = docs.select("doc_id").join(comp, "doc_id", "left").select(
        "doc_id", F.coalesce("_cluster", F.col("doc_id")).alias("cluster_id")
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("cluster_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 100
    )
    return members.select(
        "doc_id",
        "cluster_id",
        bucket.alias("bucket"),
        F.when(bucket < 80, "train")
        .when(bucket < 90, "val")
        .otherwise("test")
        .alias("split"),
    )


@register(
    "doc_novelty",
    oracle="""
        WITH sh AS (
            SELECT doc_id, unnest(list_distinct(list_transform(
                       generate_series(1, len(string_split(text, ' ')) - 4),
                       i -> md5(array_to_string(string_split(text, ' ')[i:i+4], ' '))
                   ))) AS shingle
            FROM documents
        ), first_owner AS (
            SELECT shingle, min(doc_id) AS owner FROM sh GROUP BY shingle
        )
        SELECT sh.doc_id,
               count(*) AS n_shingles,
               CAST(sum(CASE WHEN f.owner = sh.doc_id THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_novel,
               floor(CAST(sum(CASE WHEN f.owner = sh.doc_id THEN 1 ELSE 0 END)
                          AS DOUBLE) / count(*) * 10000) / 10000
                   AS novelty_rate
        FROM sh JOIN first_owner f ON sh.shingle = f.shingle
        GROUP BY sh.doc_id
    """,
    covers=("D1", "A8", "J1"),
    doc=(
        "Marginal-novelty scoring: in canonical doc_id order, the fraction "
        "of each document's distinct 5-gram shingles FIRST contributed by "
        "it (min owning doc id == itself) — the ordered-dedup metric a "
        "curation pipeline uses to rank what each source actually adds "
        "to the corpus. Scale: explode -> min-agg on the shingle hash "
        "(uniform key) -> re-join on the same key -> per-doc counts; the "
        "same two-shuffle shape as passage dedup, never pairwise."
    ),
)
def doc_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id",
        F.expr(f"explode({hashed_shingle_sql('text')})").alias("shingle"),
    )
    first_owner = sh.groupBy("shingle").agg(F.min("doc_id").alias("owner"))
    novel = F.sum(F.when(F.col("owner") == F.col("doc_id"), 1).otherwise(0))
    return (
        sh.join(first_owner, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            novel.alias("n_novel"),
            (F.floor(novel.cast("double") / F.count("*") * 10000) / 10000).alias(
                "novelty_rate"
            ),
        )
    )


@register(
    "doc_top_terms",
    oracle="""
        WITH terms AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
        )
        SELECT term,
               count(DISTINCT doc_id) AS doc_freq,
               count(*) AS term_freq
        FROM terms WHERE length(term) >= 3
        GROUP BY term
        ORDER BY doc_freq DESC, term_freq DESC, term
        LIMIT 20
    """,
    covers=("A2", "W2"),
    doc="Corpus vocabulary stats: explode tokens, doc-frequency + term-frequency per term, top-20 (tie-broken). Scale: shuffle on term — uniform; count(DISTINCT) is a two-phase partial aggregate.",
)
def doc_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    terms = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    ).where(F.length("term") >= 3)
    return (
        terms.groupBy("term")
        .agg(
            F.countDistinct("doc_id").alias("doc_freq"),
            F.count("*").alias("term_freq"),
        )
        .orderBy(F.desc("doc_freq"), F.desc("term_freq"), F.asc("term"))
        .limit(20)
    )


PASSAGE_WORDS = 10  # consecutive-word block size for passage-level dedup


@register(
    "doc_passage_dedup",
    oracle=f"""
        WITH p AS (
            SELECT doc_id, unnest(list_transform(
                       generate_series(0, CAST(floor(
                           (len(string_split(text, ' ')) - 1) / {PASSAGE_WORDS}
                       ) AS BIGINT)),
                       i -> md5(array_to_string(
                           string_split(text, ' ')
                               [i*{PASSAGE_WORDS}+1 : i*{PASSAGE_WORDS}+{PASSAGE_WORDS}],
                           ' '))
                   )) AS ph
            FROM documents
        ), dup AS (
            SELECT ph FROM p GROUP BY ph HAVING count(DISTINCT doc_id) >= 2
        ), tot AS (
            SELECT doc_id, count(*) AS n_passages FROM p GROUP BY doc_id
        ), d AS (
            SELECT p.doc_id, count(*) AS n_dup
            FROM p JOIN dup ON p.ph = dup.ph GROUP BY p.doc_id
        )
        SELECT t.doc_id, t.n_passages,
               COALESCE(d.n_dup, 0) AS n_dup_passages,
               floor(CAST(COALESCE(d.n_dup, 0) AS DOUBLE) / t.n_passages
                     * 10000) / 10000 AS dup_frac,
               CAST(COALESCE(d.n_dup, 0) AS DOUBLE) / t.n_passages <= 0.3 AS keep
        FROM tot t LEFT JOIN d ON t.doc_id = d.doc_id
    """,
    covers=("D1", "A9", "J12"),
    doc=(
        "Passage-level dedup (RefinedWeb/Dolma-style): split each document "
        "into consecutive fixed-width word blocks, hash each, and score "
        "every document by the fraction of its passages that also appear in "
        "ANOTHER document (cross-doc count(DISTINCT doc) >= 2) — catches "
        "boilerplate shared across pages that whole-document dedup misses. "
        "Scale: explode -> groupBy xxhash64 passage hash (uniform key) -> "
        "left-semi re-join on the same key -> per-doc counts; two shuffles, "
        "both on uniform hashes, never an all-pairs compare."
    ),
)
def doc_passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = PASSAGE_WORDS
    # single SQL parse (construction-cost note in operators/dedup.py)
    passages = docs.select(
        "doc_id",
        F.expr(
            f"explode(transform("
            f"sequence(0, cast(floor((size(split(text, ' ')) - 1) / {w}) as bigint)), "
            f"i -> xxhash64(array_join(slice(split(text, ' '), cast(i*{w}+1 as int), {w}), ' '))"
            f"))"
        ).alias("ph"),
    )
    dup = (
        passages.groupBy("ph")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .where(F.col("nd") >= 2)
        .select("ph")
    )
    tot = passages.groupBy("doc_id").agg(F.count("*").alias("n_passages"))
    dups = (
        passages.join(dup, "ph", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_dup"))
    )
    n_dup = F.coalesce(F.col("n_dup"), F.lit(0).cast("long"))
    frac = n_dup.cast("double") / F.col("n_passages")
    return (
        tot.join(dups, "doc_id", "left")
        .select(
            "doc_id",
            "n_passages",
            n_dup.alias("n_dup_passages"),
            (F.floor(frac * 10000) / 10000).alias("dup_frac"),
            (frac <= 0.3).alias("keep"),
        )
    )


@register(
    "doc_incremental_dedup",
    oracle="""
        WITH corpus AS (
            SELECT sha256(text) AS content_hash, count(*) AS n_existing
            FROM documents WHERE doc_id % 7 <> 0 GROUP BY content_hash
        ), batch AS (
            SELECT doc_id, source, sha256(text) AS content_hash
            FROM documents WHERE doc_id % 7 = 0
        )
        SELECT b.doc_id, b.source,
               (c.content_hash IS NOT NULL) AS seen_before,
               COALESCE(c.n_existing, 0) AS n_existing_copies
        FROM batch b LEFT JOIN corpus c ON b.content_hash = c.content_hash
    """,
    covers=("D1", "D3", "J12"),
    doc=(
        "Incremental dedup for continuous ingest: an incoming batch "
        "(doc_id % 7 = 0 stands in for the new partition) is checked "
        "against the existing corpus by content hash — each new document "
        "gets a seen-before verdict plus the existing copy count, the "
        "decision a daily crawl append needs before admitting documents "
        "to the training set. Scale: the corpus side pre-aggregates to "
        "one row per distinct hash BEFORE the join (hash-keyed, uniform), "
        "so the join input is bounded by distinct content, not corpus "
        "rows; the same shape backfills from a Delta/Iceberg hash index."
    ),
)
def doc_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    hashed = docs.select(
        "doc_id", "source", F.sha2("text", 256).alias("content_hash")
    )
    corpus = (
        hashed.where(F.col("doc_id") % 7 != 0)
        .groupBy("content_hash")
        .agg(F.count("*").alias("n_existing"))
    )
    batch = hashed.where(F.col("doc_id") % 7 == 0)
    return batch.join(corpus, "content_hash", "left").select(
        "doc_id",
        "source",
        F.col("n_existing").isNotNull().alias("seen_before"),
        F.coalesce("n_existing", F.lit(0).cast("long")).alias("n_existing_copies"),
    )


VOCAB_K = 100  # top-K corpus vocabulary for the OOV audit


@register(
    "doc_vocab_oov",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS term
            FROM documents
        ), freq AS (
            SELECT term, count(*) AS tf FROM toks GROUP BY term
        ), vocab AS (
            SELECT term FROM freq ORDER BY tf DESC, term LIMIT {VOCAB_K}
        )
        SELECT t.doc_id, count(*) AS n_tokens,
               CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_oov,
               floor(CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END)
                          AS DOUBLE) / count(*) * 10000) / 10000 AS oov_rate
        FROM toks t LEFT JOIN vocab v ON t.term = v.term
        GROUP BY t.doc_id
    """,
    covers=("A1", "W2", "J1"),
    doc=(
        "Vocabulary build + out-of-vocabulary audit: top-K corpus terms by "
        "frequency (deterministic tie-break: tf desc, term asc), then each "
        "document's OOV token rate against that vocabulary — the standard "
        "tokenizer-coverage / corpus-drift check before training. Scale: "
        "term frequency shuffles on the term (uniform); the K-row "
        "vocabulary is a TakeOrdered result and BROADCASTS to the token "
        "stream, so the audit pass adds no extra shuffle."
    ),
)
def doc_vocab_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    vocab = (
        toks.groupBy("term")
        .agg(F.count("*").alias("tf"))
        .orderBy(F.desc("tf"), F.asc("term"))
        .limit(VOCAB_K)
        .select("term", F.lit(1).alias("in_vocab"))
    )
    oov = F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
    return (
        toks.join(F.broadcast(vocab), "term", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            oov.alias("n_oov"),
            (F.floor(oov.cast("double") / F.count("*") * 10000) / 10000).alias(
                "oov_rate"
            ),
        )
    )


@register(
    "stratified_doc_sample",
    oracle="""
        SELECT doc_id, lang, sample_rank FROM (
            SELECT doc_id, lang,
                   row_number() OVER (
                       PARTITION BY lang
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                   ) AS sample_rank
            FROM documents)
        WHERE sample_rank <= 5
    """,
    covers=("W1", "W4"),
    doc="Deterministic stratified sampling: per-language top-5 by md5(doc_id) order — a reproducible training-mix sampler (no rand(), identical across engines/runs). Scale: per-group window, no global sort.",
)
def stratified_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.asc("doc_id")
    )
    return (
        docs.select("doc_id", "lang")
        .withColumn("sample_rank", F.row_number().over(w))
        .where(F.col("sample_rank") <= 5)
    )


@register(
    "source_overlap_matrix",
    oracle="""
        WITH sh AS (
            SELECT source, unnest(list_distinct(list_transform(
                       generate_series(1, len(string_split(text, ' ')) - 4),
                       i -> array_to_string(string_split(text, ' ')[i:i+4], ' ')
                   ))) AS shingle
            FROM documents
        ), dist AS (SELECT DISTINCT source, shingle FROM sh),
        sizes AS (SELECT source, count(*) AS n FROM dist GROUP BY source)
        SELECT a.source AS src_a, b.source AS src_b,
               count(*) AS shared_shingles,
               sa.n AS n_a, sb.n AS n_b,
               floor(CAST(count(*) AS DOUBLE)
                     / (sa.n + sb.n - count(*)) * 10000) / 10000 AS jaccard
        FROM dist a
        JOIN dist b ON a.shingle = b.shingle AND a.source < b.source
        JOIN sizes sa ON sa.source = a.source
        JOIN sizes sb ON sb.source = b.source
        GROUP BY a.source, b.source, sa.n, sb.n
    """,
    covers=("D1", "A9", "J1"),
    doc=(
        "Cross-source contamination matrix: for every source pair, the "
        "number of distinct 5-gram shingles they share and the shingle "
        "Jaccard — the audit a curation pipeline runs to find sources "
        "that are near-copies of each other (mirror sites, re-crawls) "
        "before weighting the mixture. Scale: shingles collapse to "
        "DISTINCT (source, hash) first, so the self-join fan-out per "
        "shingle is bounded by the number of SOURCES (tens), not by "
        "document count — the blowup a doc-level pair join would have. "
        "The hash is equality-only (xxhash64; see the hash-choice rule "
        "in the module docstring) — the oracle uses the raw shingle "
        "string, which has identical equality classes."
    ),
)
def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    dist = docs.select(
        "source",
        F.expr(f"explode({hashed_shingle_sql('text')})").alias("h"),
    ).distinct()
    sizes = dist.groupBy("source").agg(F.count("*").alias("n"))
    a, b = dist.alias("a"), dist.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h")) & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b")
        )
        .agg(F.count("*").alias("shared_shingles"))
    )
    na = sizes.select(F.col("source").alias("src_a"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col("source").alias("src_b"), F.col("n").alias("n_b"))
    return (
        shared.join(F.broadcast(na), "src_a")
        .join(F.broadcast(nb), "src_b")
        .select(
            "src_a",
            "src_b",
            "shared_shingles",
            "n_a",
            "n_b",
            (
                F.floor(
                    F.col("shared_shingles").cast("double")
                    / (F.col("n_a") + F.col("n_b") - F.col("shared_shingles"))
                    * 10000
                )
                / 10000
            ).alias("jaccard"),
        )
    )


@register(
    "doc_length_quantiles",
    oracle="""
        WITH lens AS (
            SELECT source, doc_id,
                   len(string_split(text, ' ')) AS n_tokens
            FROM documents
        ), ranked AS (
            SELECT source, n_tokens,
                   row_number() OVER (PARTITION BY source
                                      ORDER BY n_tokens, doc_id) AS rn,
                   count(*) OVER (PARTITION BY source) AS cnt
            FROM lens
        )
        SELECT source,
               max(cnt) AS n_docs,
               max(CASE WHEN rn = CAST(ceil(0.5 * cnt) AS BIGINT)
                        THEN n_tokens END) AS p50_tokens,
               max(CASE WHEN rn = CAST(ceil(0.9 * cnt) AS BIGINT)
                        THEN n_tokens END) AS p90_tokens,
               max(CASE WHEN rn = CAST(ceil(0.99 * cnt) AS BIGINT)
                        THEN n_tokens END) AS p99_tokens
        FROM ranked GROUP BY source
    """,
    covers=("W1", "A9"),
    doc=(
        "Per-source document-length quantiles (exact p50/p90/p99 token "
        "counts) — the length-distribution audit behind truncation and "
        "packing decisions. Rank-selection, not interpolation: the "
        "quantile is the value at rank ceil(q*n) with a doc_id "
        "tie-break, so both engines pick the identical row (no "
        "percentile_cont interpolation-mode ambiguity). Scale: one "
        "shuffle on source; the per-source sort assumes a source fits "
        "a partition (same contract as doc_shard_packing) — past that, "
        "swap in approx_percentile or a two-pass rank search; the "
        "output contract is unchanged."
    ),
)
def doc_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents", spread=False)
    lens = docs.select(
        "source",
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )
    w = Window.partitionBy("source").orderBy("n_tokens", "doc_id")
    wc = Window.partitionBy("source")
    ranked = lens.select(
        "source",
        "n_tokens",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wc).alias("cnt"),
    )

    def at(q: float):
        return F.max(
            F.when(
                F.col("rn") == F.ceil(F.lit(q) * F.col("cnt")).cast("long"),
                F.col("n_tokens"),
            )
        )

    return ranked.groupBy("source").agg(
        F.max("cnt").alias("n_docs"),
        at(0.5).alias("p50_tokens"),
        at(0.9).alias("p90_tokens"),
        at(0.99).alias("p99_tokens"),
    )


def _agreement_oracle() -> str:
    """Composes the two existing oracle pipelines (shingle-overlap and
    MinHash-LSH verified) into one pair-set agreement report — the
    Spark side composes the same two operators, so drift in either
    pipeline breaks this oracle too."""
    return f"""
        WITH mh AS ({_minhash_oracle()}),
        shingled2 AS (
            SELECT doc_id, unnest(list_distinct(list_transform(
                       generate_series(1, len(string_split(text, ' ')) - 4),
                       i -> md5(array_to_string(string_split(text, ' ')[i:i+4], ' '))
                   ))) AS shingle
            FROM documents
        ),
        sp AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b
            FROM shingled2 a JOIN shingled2 b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
            HAVING count(*) >= 3
        ),
        bb AS (SELECT id_a, id_b FROM mh),
        na AS (SELECT count(*) AS n_shingle_pairs FROM sp),
        nb AS (SELECT count(*) AS n_minhash_pairs FROM bb),
        nboth AS (
            SELECT count(*) AS n_both FROM sp JOIN bb USING (id_a, id_b)
        )
        SELECT n_shingle_pairs, n_minhash_pairs, n_both,
               n_shingle_pairs - n_both AS n_only_shingle,
               n_minhash_pairs - n_both AS n_only_minhash,
               CASE WHEN n_shingle_pairs + n_minhash_pairs - n_both = 0
                    THEN CAST(0 AS DOUBLE)
                    ELSE floor(CAST(n_both AS DOUBLE)
                         / (n_shingle_pairs + n_minhash_pairs - n_both)
                         * 10000) / 10000
               END AS agreement
        FROM na CROSS JOIN nb CROSS JOIN nboth
    """


@register(
    "dedup_method_agreement",
    oracle=_agreement_oracle(),
    covers=("D1", "U3", "A8"),
    doc=(
        "Dedup method-agreement audit: the pair sets found by exact "
        "shingle overlap (>= 3 shared 5-grams) and by MinHash-LSH with "
        "verified Jaccard >= 0.5 are compared — counts unique to each, "
        "shared, and the pair-set Jaccard. This is the calibration "
        "report a pipeline owner reads before trusting a cheaper "
        "signal at full scale: if the probabilistic method misses "
        "pairs the exact one finds (or vice versa), the thresholds "
        "need adjusting BEFORE a 100 TB run, not after. Scale: both "
        "pair generators are the registry's own bucket-join operators "
        "and share ONE cached shingle scan (r7 — previously each "
        "branch re-tokenized the corpus, the registry's second-"
        "heaviest query at sf10); the comparison joins id-pairs only "
        "(slim rows), and the final roll-up is three 1-row frames."
    ),
)
def dedup_method_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import minhash_lsh_pairs, shingle_set

    docs = load_table(spark, sf_dir, "documents")
    # ONE tokenize/shingle pass feeds BOTH pair generators: the
    # exact-overlap branch hashes the cached string shingles to
    # xxhash64 (array_distinct after hashing = hashed_shingle_sql's
    # semantics exactly, collisions and all), the MinHash branch
    # consumes them directly. The cached frame is (doc_id, shingles)
    # — the grams each branch would otherwise re-derive from text.
    # word-count pre-filter, not size(shingles) > 0: the latter pushes
    # below the project and re-runs the shingle construction inside
    # the predicate (operators/dedup.minhash_signature, same r9 fix)
    shingled = (
        docs.where(F.size(F.split(F.col("text"), " ")) >= 5)
        .select("doc_id", shingle_set("text").alias("shingles"))
        .transform(tracked_cache)
    )
    # cache: each pair set feeds two consumers (its own count and the
    # intersection) — without it both full pair pipelines run twice.
    # The cached frames are id-pairs only, tiny at any scale.
    sp = (
        _dup_pairs_from_exploded(
            shingled.select(
                "doc_id",
                F.expr(
                    "explode(array_distinct("
                    "transform(shingles, s -> xxhash64(s))))"
                ).alias("shingle"),
            )
        )
        .select("id_a", "id_b")
        .transform(tracked_cache)
    )
    mh = (
        minhash_lsh_pairs(
            docs, id_col="doc_id", text_col="text", shingles=shingled
        )
        .select("id_a", "id_b")
        .transform(tracked_cache)
    )
    # materialize the shared shingle cache once, then fill the two
    # arms' pair caches one after the other (r15). Without the
    # sequencing, the final plan's broadcast subtrees (nb, nboth) and
    # the main job (na) race to build the same caches concurrently and
    # recompute partitions the other already stored (measured:
    # duplicated cache fills, full query slower than the sum of its
    # stages). The roll-up below then reads warm caches; results are
    # unchanged — the caches live and die inside this query
    # (tracked_cache lifecycle).
    shingled.count()
    sp.count()
    mh.count()
    na = sp.agg(F.count("*").alias("n_shingle_pairs"))
    nb = mh.agg(F.count("*").alias("n_minhash_pairs"))
    nboth = sp.join(mh, ["id_a", "id_b"]).agg(F.count("*").alias("n_both"))
    denom = (
        F.col("n_shingle_pairs") + F.col("n_minhash_pairs") - F.col("n_both")
    )
    return (
        na.join(F.broadcast(nb))
        .join(F.broadcast(nboth))
        .select(
            "n_shingle_pairs",
            "n_minhash_pairs",
            "n_both",
            (F.col("n_shingle_pairs") - F.col("n_both")).alias("n_only_shingle"),
            (F.col("n_minhash_pairs") - F.col("n_both")).alias("n_only_minhash"),
            F.when(denom == 0, F.lit(0.0))
            .otherwise(F.floor(F.col("n_both").cast("double") / denom * 10000) / 10000)
            .alias("agreement"),
        )
    )


def _agreement_slice_oracle(k_mod: int) -> str:
    """The agreement roll-up over BOTH arms' deterministic 1/k_mod
    slices: the exact arm keeps only md5-bigint shingles ≡ 0 (mod
    k_mod) — the CC slice twins' predicate — and the MinHash arm keeps
    only band buckets ≡ 0 (mod k_mod) — doc_minhash_lsh_pairs_slice's
    predicate. Both slices are computable identically in DuckDB, so
    the agreement MATRIX itself gets a 100x cell-exact row (r10
    VERDICT task 6; the full query's shared-shingle CTE is the
    oracle-side quadratic that keeps it on the sf10 exclusion list)."""
    return f"""
        WITH mh AS ({_minhash_oracle(band_slice=(k_mod, 0))}),
        shingled2 AS (
            SELECT doc_id, unnest(list_distinct(list_transform(
                       generate_series(1, len(string_split(text, ' ')) - 4),
                       i -> CAST(('0x' || substr(md5(array_to_string(
                                string_split(text, ' ')[i:i+4], ' ')), 1, 15))
                            AS BIGINT)
                   ))) AS shingle
            FROM documents
        ),
        sliced AS (
            SELECT doc_id, shingle FROM shingled2 WHERE shingle % {k_mod} = 0
        ),
        sp AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b
            FROM sliced a JOIN sliced b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
            HAVING count(*) >= 3
        ),
        bb AS (SELECT id_a, id_b FROM mh),
        na AS (SELECT count(*) AS n_shingle_pairs FROM sp),
        nb AS (SELECT count(*) AS n_minhash_pairs FROM bb),
        nboth AS (
            SELECT count(*) AS n_both FROM sp JOIN bb USING (id_a, id_b)
        )
        SELECT n_shingle_pairs, n_minhash_pairs, n_both,
               n_shingle_pairs - n_both AS n_only_shingle,
               n_minhash_pairs - n_both AS n_only_minhash,
               CASE WHEN n_shingle_pairs + n_minhash_pairs - n_both = 0
                    THEN CAST(0 AS DOUBLE)
                    ELSE floor(CAST(n_both AS DOUBLE)
                         / (n_shingle_pairs + n_minhash_pairs - n_both)
                         * 10000) / 10000
               END AS agreement
        FROM na CROSS JOIN nb CROSS JOIN nboth
    """


@register(
    "dedup_method_agreement_slice",
    oracle=_agreement_slice_oracle(VERIFY_SLICE_K),
    covers=("D1", "U3", "A8"),
    doc=(
        "dedup_method_agreement over BOTH arms' deterministic 1/8 "
        "slices (exact arm: md5-bigint shingle % 8 == 0, the CC slice "
        "twins' universe; MinHash arm: band buckets % 8 == 0, "
        "doc_minhash_lsh_pairs_slice's bands) — the 100x-scale exact-"
        "verification variant of the method-agreement audit itself, "
        "not just of its arms (r10 VERDICT task 6). The sliced report "
        "is a well-defined production audit (both pair generators run "
        "their full machinery on the shared sliced universe); the "
        "oracle's quadratic candidate joins shrink ~8x each. Shares "
        "ONE cached string-shingle scan across both arms like the "
        "full query."
    ),
)
def dedup_method_agreement_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import minhash_lsh_pairs, shingle_set

    docs = load_table(spark, sf_dir, "documents")
    shingled = (
        docs.where(F.size(F.split(F.col("text"), " ")) >= 5)
        .select("doc_id", shingle_set("text").alias("shingles"))
        .transform(tracked_cache)
    )
    md5_hash = _MD5_SHINGLE_SQL.format(gram="s")
    sp = (
        _dup_pairs_from_exploded(
            shingled.select(
                "doc_id",
                F.expr(
                    f"explode(array_distinct("
                    f"transform(shingles, s -> {md5_hash})))"
                ).alias("shingle"),
            ).where(F.pmod(F.col("shingle"), F.lit(VERIFY_SLICE_K)) == 0)
        )
        .select("id_a", "id_b")
        .transform(tracked_cache)
    )
    mh = (
        minhash_lsh_pairs(
            docs,
            id_col="doc_id",
            text_col="text",
            shingles=shingled,
            band_slice=(VERIFY_SLICE_K, 0),
        )
        .select("id_a", "id_b")
        .transform(tracked_cache)
    )
    # same cache fills as the full query (r15) — see
    # dedup_method_agreement for the measurement
    shingled.count()
    sp.count()
    mh.count()
    na = sp.agg(F.count("*").alias("n_shingle_pairs"))
    nb = mh.agg(F.count("*").alias("n_minhash_pairs"))
    nboth = sp.join(mh, ["id_a", "id_b"]).agg(F.count("*").alias("n_both"))
    denom = (
        F.col("n_shingle_pairs") + F.col("n_minhash_pairs") - F.col("n_both")
    )
    return (
        na.join(F.broadcast(nb))
        .join(F.broadcast(nboth))
        .select(
            "n_shingle_pairs",
            "n_minhash_pairs",
            "n_both",
            (F.col("n_shingle_pairs") - F.col("n_both")).alias("n_only_shingle"),
            (F.col("n_minhash_pairs") - F.col("n_both")).alias("n_only_minhash"),
            F.when(denom == 0, F.lit(0.0))
            .otherwise(F.floor(F.col("n_both").cast("double") / denom * 10000) / 10000)
            .alias("agreement"),
        )
    )


def _simhash_pairs_oracle(
    max_hamming: int = 3, chunk_slice: tuple[int, int] | None = None
) -> str:
    """Chunk-bucketed SimHash pairs, composed over the signature
    oracle: 60 bits split into max_hamming+1 contiguous chunks
    (pigeonhole recall), exact Hamming verify via bit_count(xor).
    ``chunk_slice=(K, r)`` mirrors simhash_near_pairs' chunk_slice
    (deterministic 1/K bucket sample for 100x oracle runs)."""
    from ..operators.dedup import SIMHASH_BITS, _chunk_bounds

    bounds = _chunk_bounds(SIMHASH_BITS, max_hamming + 1)
    values = ",".join(
        f"({c},{s},{w})" for c, (s, w) in enumerate(bounds)
    )
    slice_pred = ""
    if chunk_slice is not None:
        k, r = chunk_slice
        slice_pred = (
            f"\n            WHERE ((simhash >> c.s) & "
            f"((CAST(1 AS BIGINT) << c.w) - 1)) % {k} = {r}"
        )
    return f"""
        WITH sigs AS ({_simhash_oracle()}),
        chunks AS (
            SELECT doc_id, simhash, c.chunk_id,
                   (simhash >> c.s) & ((CAST(1 AS BIGINT) << c.w) - 1) AS chunk
            FROM sigs CROSS JOIN (VALUES {values}) AS c(chunk_id, s, w){slice_pred}
        ),
        pairs AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                   a.simhash AS h_a, b.simhash AS h_b
            FROM chunks a JOIN chunks b
              ON a.chunk_id = b.chunk_id AND a.chunk = b.chunk
             AND a.doc_id < b.doc_id
        )
        SELECT id_a, id_b,
               CAST(bit_count(xor(h_a, h_b)) AS BIGINT) AS hamming
        FROM pairs WHERE bit_count(xor(h_a, h_b)) <= {max_hamming}
    """


@register(
    "doc_simhash_pairs",
    oracle=_simhash_pairs_oracle(),
    covers=("D1", "J1"),
    doc=(
        "SimHash near-dup PAIRS (Hamming <= 3 over the 60-bit "
        "signatures), candidate-bucketed on 4 contiguous bit chunks — "
        "the pigeonhole guarantees a <=3-bit pair shares at least one "
        "exact chunk, so recall at the radius is exact (tested "
        "exhaustively vs brute-force Hamming in tests/test_dedup.py). "
        "Now fully oracle-checked end-to-end: bit_count(xor(...)) "
        "evaluates identically in Spark and DuckDB, closing the r3 "
        "note that the pair stage was pytest-only. Scale (r6): chunk "
        "values have low entropy at scale (measured 14,896-doc bucket "
        "at 500k docs → 1.39 B candidates, 176x wall at 100x data), "
        "so buckets past hot_chunk_df=512 are pigeonhole-REFINED on "
        "masked remaining bits (operators/dedup.simhash_near_pairs) — "
        "recall stays exact, so this oracle remains the simple "
        "unrefined SQL and output is bit-identical in every mode; "
        "measured 176x → 15.7x wall at 100x data. The bucket join "
        "shuffles (chunk_id, chunk, sub, id, sig) rows only."
    ),
)
def doc_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import simhash_near_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = simhash_near_pairs(
        docs, id_col="doc_id", text_col="text", max_hamming=3, hot_chunk_df=512
    )
    return pairs.select("id_a", "id_b", F.col("hamming").cast("long").alias("hamming"))


@register(
    "doc_simhash_pairs_slice",
    oracle=_simhash_pairs_oracle(chunk_slice=(VERIFY_SLICE_K, 0)),
    covers=("D1", "J1"),
    doc=(
        "doc_simhash_pairs restricted to the deterministic 1/8 "
        "chunk-bucket slice (chunk % 8 == 0, applied before the "
        "hot-chunk refinement so skew handling still runs) — the "
        "100x-scale exact-verification variant (r6 VERDICT task 4). "
        "The chunk is a bit segment of the signature, identical in "
        "both engines, so the kept pair set is cell-exact while the "
        "oracle's candidate join shrinks 8x."
    ),
)
def doc_simhash_pairs_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import simhash_near_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = simhash_near_pairs(
        docs,
        id_col="doc_id",
        text_col="text",
        max_hamming=3,
        hot_chunk_df=512,
        chunk_slice=(VERIFY_SLICE_K, 0),
    )
    return pairs.select("id_a", "id_b", F.col("hamming").cast("long").alias("hamming"))


@register(
    "doc_dup_spans",
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
        "Exact duplicated-substring spans (Lee et al. 2022, "
        "arXiv:2107.06499 — the suffix-array exact-substring dedup "
        "standard, re-expressed Spark-first over SLIDING 5-grams): "
        "every gram occurring >= 2 times anywhere in the corpus "
        "(cross-doc or self-repetition) marks its token interval "
        "duplicated; per doc, overlapping/adjacent intervals merge "
        "into maximal spans via the running-max island window. "
        "Returns per-doc span count, duplicated-token total, and "
        "token count for documents with at least one span — the "
        "per-doc removal/trim signal an exact-substring dedup pass "
        "feeds on. Hashes are the house md5->bigint family, so both "
        "engines mark the identical gram set and the oracle is "
        "cell-exact. Scale: NO pair formation — a boilerplate gram in "
        "a million docs contributes its positions linearly, where "
        "pair-based passage dedup would go quadratic; three linear "
        "shuffles (gram count on the 8-byte hash, dup-hash equi-join, "
        "per-doc window). operators/dedup.py:duplicated_spans."
    ),
)
def doc_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import duplicated_spans

    docs = load_table(spark, sf_dir, "documents")
    return duplicated_spans(docs, "doc_id", "text")


@register(
    "doc_dup_span_removal",
    oracle="""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ), grams AS (
            SELECT doc_id, i AS pos,
                   CAST(('0x' || substring(md5(array_to_string(
                        t[i:i+4], ' ')), 1, 15)) AS BIGINT) AS h
            FROM toks, LATERAL unnest(generate_series(1, len(t) - 4)) AS u(i)
            WHERE len(t) >= 5
        ), dup AS (
            SELECT h FROM grams GROUP BY h HAVING count(*) >= 2
        ), dp AS (
            SELECT g.doc_id, g.pos FROM grams g JOIN dup USING (h)
        ), marked AS (
            SELECT doc_id, pos,
                   max(pos + 4) OVER (PARTITION BY doc_id ORDER BY pos
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       AS prev_end
            FROM dp
        ), islands AS (
            SELECT doc_id, pos,
                   sum(CASE WHEN prev_end IS NULL OR pos > prev_end + 1
                            THEN 1 ELSE 0 END)
                     OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
            FROM marked
        ), spans AS (
            SELECT doc_id, span_id, min(pos) AS s, max(pos) + 4 AS e
            FROM islands GROUP BY doc_id, span_id
        ), per_doc AS (
            SELECT doc_id, list({'s': s, 'e': e}) AS sp
            FROM spans GROUP BY doc_id
        )
        SELECT toks.doc_id,
               CASE WHEN sp IS NULL THEN array_to_string(t, ' ')
                    ELSE coalesce(array_to_string(
                        [t[i] FOR i IN generate_series(1, len(t))
                         IF len(list_filter(sp,
                             x -> x.s <= i AND i <= x.e)) = 0], ' '), '')
               END AS cleaned_text,
               CAST(CASE WHEN sp IS NULL THEN 0 ELSE
                   len(t) - len([t[i] FOR i IN generate_series(1, len(t))
                        IF len(list_filter(sp,
                            x -> x.s <= i AND i <= x.e)) = 0])
               END AS BIGINT) AS tokens_removed,
               CAST(len(t) AS BIGINT) AS n_tokens
        FROM toks LEFT JOIN per_doc ON toks.doc_id = per_doc.doc_id
    """,
    covers=("D1", "J12"),
    doc=(
        "The ACTION half of exact-substring dedup (Lee et al. 2022, "
        "arXiv:2107.06499): every token covered by a duplicated span "
        "(doc_dup_spans semantics — sliding 5-grams occurring >= 2 "
        "times anywhere, islands merged) is dropped and the text "
        "rebuilt; span-free documents pass through byte-identical. "
        "Per-doc span sets are bounded (disjoint, >= 5 tokens each), "
        "so rebuild is one positional NOT-EXISTS filter over a "
        "collected span array — no second explode, no pair formation; "
        "linear shuffles as doc_dup_spans plus one join back to the "
        "corpus. The full cleaned TEXT is hash-compared cross-engine, "
        "pinning tokenization, span cover, and reassembly byte-for-"
        "byte. operators/dedup.py:remove_duplicated_spans."
    ),
)
def doc_dup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import remove_duplicated_spans

    docs = load_table(spark, sf_dir, "documents")
    return remove_duplicated_spans(docs, "doc_id", "text")
