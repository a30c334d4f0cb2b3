"""Segment-store lifecycle checks shared by every store spec
(streaming/segments.py): bucket-partial compaction under live deletes
for all seven stores, and ``write_meta``'s tmp-file cleanup."""
from __future__ import annotations

import glob
import json
import os

import pyarrow.parquet as pq
import pytest

from hubspot_neo4j_pipeline_spark.streaming import segments


def _docs(spark, ids, tag="w"):
    # twelve words per doc, so every doc yields several 5-word grams
    return spark.createDataFrame(
        [
            (
                i,
                f"{tag}{i} alpha{i % 5} beta{i % 3} gamma{i} delta{i * 7 % 11} "
                f"epsilon{i % 4} zeta{i} eta{i % 6} theta iota kappa{i} tail",
            )
            for i in ids
        ],
        "doc_id long, text string",
    )


def _hash(spark, store):
    from hubspot_neo4j_pipeline_spark.streaming import hash_store as m

    m.hash_store_update_batch(_docs(spark, range(40)), store, 0, compact_every=99)
    m.hash_store_compact(spark, store)
    m.hash_store_update_batch(_docs(spark, [100], "x"), store, 1, compact_every=99)
    m.hash_store_delete_batch(_docs(spark, [3]), store, 2, compact_every=99)
    read = lambda: sorted(  # noqa: E731
        tuple(r) for r in m.read_hash_store(spark, store).collect()
    )
    survivors = _docs(spark, [i for i in range(40) if i != 3]).unionByName(
        _docs(spark, [100], "x")
    )
    want = sorted(
        tuple(r) for r in m._partial_hashes(survivors, "doc_id", "text").collect()
    )
    return read, lambda: m.hash_store_compact(spark, store), want


def _lsh(spark, store):
    from hubspot_neo4j_pipeline_spark.streaming import lsh_store as m

    m.lsh_store_update_batch(_docs(spark, range(40)), store, 0, compact_every=99)
    m.lsh_store_compact(spark, store)
    m.lsh_store_update_batch(_docs(spark, [100], "x"), store, 1, compact_every=99)
    m.lsh_store_delete_batch(
        spark.createDataFrame([(3,)], "doc_id long"), store, 2, compact_every=99
    )
    read = lambda: sorted(  # noqa: E731
        (r.doc_id, tuple(r.shingles), tuple(r.sig))
        for r in m.read_lsh_store(spark, store).collect()
    )
    survivors = _docs(spark, [i for i in range(40) if i != 3]).unionByName(
        _docs(spark, [100], "x")
    )
    want = sorted(
        (r.doc_id, tuple(r.shingles), tuple(r.sig))
        for r in m._doc_rows(survivors, "doc_id", "text").collect()
    )
    return read, lambda: m.lsh_store_compact(spark, store), want


def _cluster(spark, store):
    from hubspot_neo4j_pipeline_spark.streaming import cluster_store as m

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 60, 3)], "id_a long, id_b long"
    )
    m.cluster_store_update_batch(pairs, store, 0, compact_every=99)
    m.cluster_store_compact(spark, store)
    m.cluster_store_update_batch(
        spark.createDataFrame([(200, 201)], "id_a long, id_b long"),
        store, 1, compact_every=99,
    )
    m.cluster_store_delete_batch(
        spark.createDataFrame([(3,)], "doc_id long"), store, 2, compact_every=99
    )
    read = lambda: sorted(  # noqa: E731
        tuple(r) for r in m.read_cluster_assignments(spark, store).collect()
    )
    # every pair (i, i + 1) is its own component labelled i
    want = sorted(
        [(i, i) for i in range(0, 60, 3) if i != 3]
        + [(i + 1, i) for i in range(0, 60, 3)]
        + [(200, 200), (201, 200)]
    )
    return read, lambda: m.cluster_store_compact(spark, store), want


def _vector(spark, store):
    from hubspot_neo4j_pipeline_spark.streaming import vector_store as m

    def vecs(ids):
        return spark.createDataFrame(
            [(i, [float(i % 7), float((i * 3) % 5), 1.0]) for i in ids],
            "vec_id long, embedding array<double>",
        )

    m.vector_store_update_batch(vecs(range(1, 41)), store, 0, compact_every=99)
    m.vector_store_compact(spark, store)
    m.vector_store_update_batch(vecs([100]), store, 1, compact_every=99)
    read = lambda: sorted(  # noqa: E731
        (r.vec_id, tuple(r.e), r._n, tuple(r.buckets))
        for r in m.read_vector_store(spark, store).collect()
    )
    # bucket arrays depend on the pinned planes: the oracle is the
    # pre-delete view without the deleted vector
    want = [r for r in read() if r[0] != 3]
    m.vector_store_delete_batch(
        spark.createDataFrame([(3,)], "vec_id long"), store, 2, compact_every=99
    )
    return read, lambda: m.vector_store_compact(spark, store), want


def _gram(spark, store):
    from hubspot_neo4j_pipeline_spark.streaming import gram_store as m

    m.gram_store_update_batch(_docs(spark, range(40)), store, 0, compact_every=99)
    m.gram_store_compact(spark, store)
    m.gram_store_update_batch(_docs(spark, [100], "x"), store, 1, compact_every=99)
    m.gram_store_delete_batch(_docs(spark, [3]), store, 2, compact_every=99)
    read = lambda: sorted(  # noqa: E731
        tuple(r) for r in m.read_gram_store(spark, store).collect()
    )
    survivors = _docs(spark, [i for i in range(40) if i != 3]).unionByName(
        _docs(spark, [100], "x")
    )
    want = sorted(
        tuple(r) for r in m._partial_counts(survivors, "doc_id", "text", None).collect()
    )
    return read, lambda: m.gram_store_compact(spark, store), want


def _df(spark, store):
    from hubspot_neo4j_pipeline_spark.streaming import df_store as m

    m.df_store_update_batch(_docs(spark, range(40)), store, 0, compact_every=99)
    m.df_store_compact(spark, store)
    m.df_store_update_batch(_docs(spark, [100], "x"), store, 1, compact_every=99)
    m.df_store_delete_batch(_docs(spark, [3]), store, 2, compact_every=99)
    read = lambda: (  # noqa: E731
        sorted(tuple(r) for r in m.read_df_store(spark, store).collect()),
        m.corpus_doc_count(spark, store).collect()[0]["n_docs"],
    )
    survivors = _docs(spark, [i for i in range(40) if i != 3]).unionByName(
        _docs(spark, [100], "x")
    )
    want = (
        sorted(
            tuple(r)
            for r in m._partial_df(survivors, "doc_id", "text").collect()
            if r.term != m.DOC_COUNT_KEY
        ),
        40,
    )
    return read, lambda: m.df_store_compact(spark, store), want


def _window(spark, store):
    from hubspot_neo4j_pipeline_spark.streaming import window_store as m

    def events(ids):
        return spark.createDataFrame(
            [(i, f"2024-03-0{1 + i % 5} 10:00:00", f"u{i}", i * 1.25) for i in ids],
            "event_id long, ts string, user_id string, value double",
        ).selectExpr("event_id", "CAST(ts AS TIMESTAMP) AS ts", "user_id", "value")

    m.window_store_update_batch(events(range(40)), store, 0, compact_every=99)
    m.window_store_compact(spark, store)
    m.window_store_update_batch(events([100]), store, 1, compact_every=99)
    m.window_store_delete_batch(events([3]), store, 2, compact_every=99)
    read = lambda: sorted(  # noqa: E731
        tuple(r) for r in m.read_window_store(spark, store).collect()
    )
    survivors = events([i for i in range(40) if i != 3] + [100])
    want = sorted(tuple(r) for r in m._partial_counts(survivors).collect())
    return read, lambda: m.window_store_compact(spark, store), want


STORES = {
    "hash": (_hash, "_bucket"),
    "lsh": (_lsh, "_bucket"),
    "cluster": (_cluster, "_bucket"),
    "vector": (_vector, "_bucket"),
    "gram": (_gram, "bucket"),
    "df": (_df, "_bucket"),
    "window": (_window, "_bucket"),
}


def _inodes(base: str) -> dict[str, int]:
    return {
        os.path.relpath(os.path.join(dp, f), base): os.stat(os.path.join(dp, f)).st_ino
        for dp, _d, fs in os.walk(base)
        for f in fs
    }


@pytest.mark.parametrize("name", sorted(STORES))
def test_partial_compaction_under_deletes(spark, tmp_path_factory, name):
    """A second compaction on an existing base takes the bucket-partial
    path (touched < n_buckets) while a tombstone / negative partial is
    live: the visible state equals the surviving inputs before and
    after the fold, the new base carries no ``_del`` column, and every
    untouched bucket dir is hard-linked from the old base."""
    setup, bucket_col = STORES[name]
    store = str(tmp_path_factory.mktemp(f"partial_{name}")) + "/store"
    read, compact, want = setup(spark, store)

    meta = segments.read_meta(store)
    old_base = os.path.join(store, meta["base"])
    deltas = segments.live_deltas(store, meta)
    assert sorted(deltas) == [1, 2]
    touched = segments.touched_buckets(deltas, bucket_col)
    assert touched and len(touched) < meta["n_buckets"]
    ino0 = _inodes(old_base)
    before = read()
    assert before == want  # the live delete is already visible

    compact()

    meta = segments.read_meta(store)
    assert meta["consumed_through"] == 2
    assert segments.live_deltas(store, meta) == {}
    new_base = os.path.join(store, meta["base"])
    assert read() == before
    cols: set = set()
    for f in glob.glob(os.path.join(new_base, "**", "*.parquet"), recursive=True):
        cols |= set(pq.read_schema(f).names)
    assert "_del" not in cols
    carried = 0
    for p, ino in _inodes(new_base).items():
        top = p.split(os.sep)[0]
        if top.startswith(f"{bucket_col}=") and int(top.split("=")[1]) not in touched:
            assert ino == ino0[p], f"untouched bucket file {p} was rewritten"
            carried += 1
    assert carried


def test_write_meta_failure_leaves_no_tmp(tmp_path_factory):
    """A failing dump propagates, leaves the committed meta.json as it
    was, and removes the writer's own tmp file."""
    store = str(tmp_path_factory.mktemp("meta_fail"))
    good = {"base": None, "consumed_through": 4, "n_buckets": 32}
    segments.write_meta(store, good)
    with pytest.raises(TypeError):
        segments.write_meta(store, {**good, "bad": object()})
    assert segments.read_meta(store) == good
    with open(os.path.join(store, segments.META)) as fh:
        assert json.load(fh) == good
    assert not [n for n in os.listdir(store) if n.startswith("meta.json.tmp-")]


def test_first_ingest_pins_meta_in_one_write(spark, tmp_path, monkeypatch):
    """Concurrent first ingests into one store (streaming/backfill.py)
    must write identical meta dicts. With a write per pin, one writer's
    gram_k write could land between the other's bucket-count write and
    its read-back; the bucket count and the builder's pins now go in
    one write, and a later ingest with the same pins writes nothing."""
    from hubspot_neo4j_pipeline_spark.streaming import gram_store as m

    written = []
    real = segments.write_meta

    def record(path, meta):
        written.append(dict(meta))
        real(path, meta)

    monkeypatch.setattr(segments, "write_meta", record)
    store = str(tmp_path / "grams")
    m.gram_store_update_batch(_docs(spark, range(4)), store, 0, k=8, compact_every=99)
    assert written == [
        {"base": None, "consumed_through": -1, "n_buckets": m.GRAM_STORE_BUCKETS, "gram_k": 8}
    ]
    m.gram_store_update_batch(_docs(spark, range(4, 8)), store, 1, k=8, compact_every=99)
    assert len(written) == 1
