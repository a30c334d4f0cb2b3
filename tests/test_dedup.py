"""Dedup operator accuracy: MinHash-LSH against exact Jaccard,
SimHash Hamming behavior, exact dedup canonical selection."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hubspot_neo4j_pipeline_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    shingle_set,
    simhash,
    simhash_near_pairs,
)
from hubspot_neo4j_pipeline_spark.operators.caching import release_caches
from tests.conftest import count_jobs

BASE = "the quick brown fox jumps over the lazy dog again and again until dawn breaks over the hill"
NEAR = BASE + " tonight"  # one appended word → shingle Jaccard ≈ 0.93
FAR = "completely different content with no overlap whatsoever in any shingle of this text body here"


@pytest.fixture(scope="module")
def docs(spark):
    rows = [(0, BASE), (1, BASE), (2, NEAR), (3, FAR)]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup_keeps_min_id(docs):
    out = exact_dedup(docs, "doc_id", "text")
    ids = {r["doc_id"] for r in out.collect()}
    assert ids == {0, 2, 3}  # doc 1 is an exact copy of doc 0


def test_minhash_finds_near_dups_not_far(docs):
    pairs = {
        (r["id_a"], r["id_b"]) for r in minhash_lsh_pairs(docs, "doc_id", "text").collect()
    }
    assert (0, 1) in pairs  # identical
    assert (0, 2) in pairs and (1, 2) in pairs  # near-dup
    assert all(3 not in p for p in pairs)  # unrelated never pairs


def test_minhash_jaccard_matches_exact(spark, docs):
    """Verified jaccard on candidate pairs equals exact set Jaccard."""
    mh = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_lsh_pairs(docs, "doc_id", "text").collect()
    }
    sh = {
        r["doc_id"]: set(r["s"])
        for r in docs.select("doc_id", shingle_set("text").alias("s")).collect()
    }
    for (a, b), j in mh.items():
        exact = len(sh[a] & sh[b]) / len(sh[a] | sh[b])
        assert abs(j - exact) < 1e-12


def test_ngram_jaccard_candidates(docs):
    pairs = {
        (r["id_a"], r["id_b"]) for r in ngram_jaccard_pairs(docs, "doc_id", "text").collect()
    }
    assert (0, 1) in pairs and (0, 2) in pairs
    assert all(3 not in p for p in pairs)


def test_simhash_identical_and_near(docs):
    h = {r["doc_id"]: r["simhash"] for r in simhash(docs, "doc_id", "text").collect()}
    assert h[0] == h[1]  # identical text → identical simhash
    ham_near = bin((h[0] ^ h[2]) & ((1 << 64) - 1)).count("1")
    ham_far = bin((h[0] ^ h[3]) & ((1 << 64) - 1)).count("1")
    assert ham_near < ham_far  # near-dup closer than unrelated


def test_simhash_near_pairs(docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_near_pairs(docs, "doc_id", "text", max_hamming=16).collect()
    }
    assert pairs[(0, 1)] == 0
    assert (0, 2) in pairs
    assert (0, 3) not in pairs and (1, 3) not in pairs and (2, 3) not in pairs


def test_simhash_near_pairs_exact_recall(spark):
    """Recall contract: at radius h the chunked candidate join must find
    EVERY pair within Hamming ≤ h (pigeonhole over h+1 chunks), compared
    exhaustively against brute-force Hamming over the signatures."""
    base = (
        "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
        "kilo lima mike november oscar papa quebec romeo sierra tango"
    ).split()
    rows = [(0, " ".join(base))]
    # single- and multi-token substitutions → a spread of small distances
    for i, (pos, word) in enumerate(
        [(0, "zulu"), (3, "yankee"), (7, "xray"), (11, "whiskey"),
         (2, "victor"), (5, "uniform"), (9, "tangent"), (13, "sigma")],
        start=1,
    ):
        toks = list(base)
        toks[pos] = word
        if i % 2 == 0:  # every other variant gets a second substitution
            toks[(pos + 4) % len(toks)] = f"extra{i}"
        rows.append((i, " ".join(toks)))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    sigs = {r["doc_id"]: r["simhash"] for r in simhash(docs, "doc_id", "text").collect()}
    for radius in (3, 7):
        expected = {
            (a, b)
            for a in sigs
            for b in sigs
            if a < b and bin((sigs[a] ^ sigs[b]) & ((1 << 64) - 1)).count("1") <= radius
        }
        found = {
            (r["id_a"], r["id_b"])
            for r in simhash_near_pairs(docs, "doc_id", "text", max_hamming=radius).collect()
        }
        assert found == expected, f"radius {radius}: missed {expected - found}"


def test_ngram_jaccard_hot_shingle_cap(spark):
    """A stop-phrase shared by k docs must not produce k² candidates
    when max_shingle_df caps shingle document frequency; genuinely
    overlapping pairs (unique shared content) survive the cap."""
    hot = "please read our terms and conditions before you continue today"
    rows = [(i, f"{hot} unique{i} filler{i} pad{i} words{i} here{i}") for i in range(200)]
    # one genuine near-dup pair: long unique overlap beyond the stop-phrase
    shared = "zeta eta theta iota kappa lambda unique overlap body text"
    rows.append((900, f"{shared} ending one"))
    rows.append((901, f"{shared} ending two"))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    uncapped = ngram_jaccard_pairs(docs, "doc_id", "text").count()
    assert uncapped > 10_000  # the k² blowup the cap exists to stop
    capped = ngram_jaccard_pairs(docs, "doc_id", "text", max_shingle_df=50)
    pairs = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert (900, 901) in pairs  # real overlap survives
    assert len(pairs) < 10  # stop-phrase pairs are gone


def test_minhash_on_real_documents(spark, sf_dir):
    """Smoke on the driver's documents table: pairs are symmetric-free,
    jaccard within [0.5, 1]."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = minhash_lsh_pairs(docs, "doc_id", "text").collect()
    assert all(r["id_a"] < r["id_b"] for r in pairs)
    assert all(0.5 <= r["jaccard"] <= 1.0 for r in pairs)


def test_simhash_refined_equals_unrefined(spark, sf_dir):
    """Pigeonhole refinement of hot chunk buckets must be output-
    invariant: a <=3-bit pair sharing a hot chunk also shares one of
    the 4 masked-remainder refinement keys, so recall stays exact and
    the registered query's simple oracle remains valid. Force a tiny
    hot_chunk_df so the refined path runs even on small fixtures."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    base = {
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_near_pairs(docs, "doc_id", "text").collect()
    }
    for cap in (1, 16, 512):
        refined = {
            (r.id_a, r.id_b, r.hamming)
            for r in simhash_near_pairs(
                docs, "doc_id", "text", hot_chunk_df=cap
            ).collect()
        }
        assert refined == base, f"refined(cap={cap}) diverged"


def test_simhash_no_cache_skips_max_df_probe(spark, sf_dir):
    """With no_cache=True the hot-chunk gate's max-df probe would run
    the whole uncached signature plan once more just to pick a path, so
    that mode skips it and always refines: building the frame runs no
    job, and the pairs equal the probed (cached) mode's."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )

    def pairs(no_cache):
        df, build_jobs = count_jobs(
            spark,
            lambda: simhash_near_pairs(
                docs, "doc_id", "text", hot_chunk_df=10**6, no_cache=no_cache
            ),
        )
        return {(r.id_a, r.id_b, r.hamming) for r in df.collect()}, build_jobs

    probed, probed_jobs = pairs(no_cache=False)
    release_caches()
    refined, refined_jobs = pairs(no_cache=True)
    assert probed_jobs > 0 and refined_jobs == 0
    assert refined == probed and probed


def test_duplicated_spans_hand_computed(spark):
    """Planted exact-substring duplication (k=5, min_count=2):
    - d1/d2 share a 7-token run -> sliding grams at 3 consecutive
      positions merge into ONE maximal 7-token span per doc;
    - d3 repeats its own 5-token phrase (self-repetition counts),
      with the two occurrences separated -> TWO spans;
    - d4 shares nothing -> absent from the output."""
    from hubspot_neo4j_pipeline_spark.operators.dedup import duplicated_spans

    shared = "a b c d e f g"  # 7 tokens -> grams at pos 1..3
    phrase = "p q r s t"  # 5 tokens -> one gram
    docs = spark.createDataFrame(
        [
            (1, f"x1 y1 {shared} z1"),  # span = tokens 3..9
            (2, f"{shared} w1 w2 w3"),  # span = tokens 1..7
            (3, f"{phrase} gap1 gap2 {phrase}"),  # spans 1..5 and 8..12
            (4, "entirely unique words only here today friend"),
        ],
        "doc_id int, text string",
    )
    out = {
        r.doc_id: r
        for r in duplicated_spans(docs, "doc_id", "text").collect()
    }
    assert set(out) == {1, 2, 3}
    assert (out[1].n_dup_spans, out[1].dup_tokens, out[1].n_tokens) == (1, 7, 10)
    assert (out[2].n_dup_spans, out[2].dup_tokens, out[2].n_tokens) == (1, 7, 10)
    assert (out[3].n_dup_spans, out[3].dup_tokens, out[3].n_tokens) == (2, 10, 12)


def test_duplicated_spans_adjacent_intervals_merge(spark):
    """Two dup grams whose intervals touch end-to-end (gap == 1 token
    boundary, pos2 == end1 + 1) must merge into one span."""
    from hubspot_neo4j_pipeline_spark.operators.dedup import duplicated_spans

    a = "t1 t2 t3 t4 t5"  # gram A
    b = "u1 u2 u3 u4 u5"  # gram B
    docs = spark.createDataFrame(
        [
            (1, f"{a} {b}"),  # A at pos 1 (ends 5), B at pos 6 -> adjacent
            (2, f"{a} mid1 mid2 mid3 mid4 mid5 {b}"),  # separated copies
        ],
        "doc_id int, text string",
    )
    out = {r.doc_id: r for r in duplicated_spans(docs, "doc_id", "text").collect()}
    # doc 1: grams A(1..5) and B(6..10) merge -> one 10-token span?
    # No: in doc 1 the SLIDING grams bridging A|B (pos 2..6) are unique
    # to doc 1 and appear once -> not duplicated; A and B intervals are
    # [1,5] and [6,10], adjacent (6 == 5+1) -> merge into one span.
    assert (out[1].n_dup_spans, out[1].dup_tokens) == (1, 10)
    assert (out[2].n_dup_spans, out[2].dup_tokens) == (2, 10)


def test_remove_duplicated_spans_hand_computed(spark):
    """Removal = the report's complement: duplicated tokens drop, the
    rest keep original order; span-free docs pass through
    byte-identical (including doc 4's untouched text)."""
    from hubspot_neo4j_pipeline_spark.operators.dedup import (
        remove_duplicated_spans,
    )

    shared = "a b c d e f g"
    docs = spark.createDataFrame(
        [
            (1, f"x1 y1 {shared} z1"),
            (2, f"{shared} w1 w2 w3"),
            (4, "entirely unique words only here today friend"),
        ],
        "doc_id int, text string",
    )
    out = {r.doc_id: r for r in remove_duplicated_spans(docs, "doc_id", "text").collect()}
    assert set(out) == {1, 2, 4}
    assert out[1].cleaned_text == "x1 y1 z1" and out[1].tokens_removed == 7
    assert out[2].cleaned_text == "w1 w2 w3" and out[2].tokens_removed == 7
    assert out[4].cleaned_text == "entirely unique words only here today friend"
    assert out[4].tokens_removed == 0 and out[4].n_tokens == 7


def test_duplicated_spans_gram_rows_param_equal(spark):
    """r14: passing a precomputed sliding_gram_rows frame (the gram
    store's shared-scan score path) must be cell-identical to the
    self-derived path."""
    from hubspot_neo4j_pipeline_spark.operators.dedup import (
        duplicated_spans,
        sliding_gram_rows,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h a b c d e f g h"),
            (2, "a b c d e f g h x y z w q r s t"),
            (3, "p q r s t u v w"),
        ],
        "doc_id long, text string",
    )
    base = duplicated_spans(docs, "doc_id", "text")
    rows = sliding_gram_rows(docs, "doc_id", "text").localCheckpoint(eager=False)
    shared = duplicated_spans(docs, "doc_id", "text", gram_rows=rows)
    assert base.columns == shared.columns
    assert sorted(map(tuple, base.collect())) == sorted(
        map(tuple, shared.collect())
    )
