"""Segment-store lifecycle checks shared by every store spec
(streaming/segments.py): bucket-partial compaction under live deletes
for all seven stores, and ``write_meta``'s tmp-file cleanup."""
from __future__ import annotations

import glob
import json
import logging
import os
import threading

import pyarrow.parquet as pq
import pytest

from hubspot_neo4j_pipeline_spark.streaming import segments

LOGGER = "hubspot_neo4j_pipeline_spark"


def _compaction_logs(caplog) -> list[str]:
    return [
        r.getMessage()
        for r in caplog.records
        if r.name == LOGGER and r.getMessage().startswith("compacted ")
    ]


def _bucket_dirs(base: str) -> list[str]:
    return sorted(n for n in os.listdir(base) if "=" in n)


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


def _steps(read, trace, *steps):
    """Run ``steps`` in order; with a ``trace`` list, append ``read()``
    after each one."""
    for step in steps:
        step()
        if trace is not None:
            trace.append(read())


# Each setup ingests batch 0 under ``n_buckets``, compacts, ingests
# batch 1 and deletes in batch 2; it returns the store's read, its
# compaction and the expected view. At 32 buckets the batch-1 and
# batch-2 deltas touch few buckets, so the next compaction is partial.


def _hash(spark, store, n_buckets, trace=None):
    from hubspot_neo4j_pipeline_spark.streaming import hash_store as m

    read = lambda: sorted(  # noqa: E731
        tuple(r) for r in m.read_hash_store(spark, store).collect()
    )
    compact = lambda: m.hash_store_compact(spark, store)  # noqa: E731
    _steps(
        read, trace,
        lambda: m.hash_store_update_batch(
            _docs(spark, range(40)), store, 0, compact_every=99, n_buckets=n_buckets
        ),
        compact,
        lambda: m.hash_store_update_batch(
            _docs(spark, [100], "x"), store, 1, compact_every=99
        ),
        lambda: m.hash_store_delete_batch(_docs(spark, [3]), store, 2, compact_every=99),
    )
    survivors = _docs(spark, [i for i in range(40) if i != 3]).unionByName(
        _docs(spark, [100], "x")
    )
    want = sorted(
        tuple(r) for r in m._partial_hashes(survivors, "doc_id", "text").collect()
    )
    return read, compact, want


def _lsh(spark, store, n_buckets, trace=None):
    from hubspot_neo4j_pipeline_spark.streaming import lsh_store as m

    read = lambda: sorted(  # noqa: E731
        (r.doc_id, tuple(r.shingles), tuple(r.sig))
        for r in m.read_lsh_store(spark, store).collect()
    )
    compact = lambda: m.lsh_store_compact(spark, store)  # noqa: E731
    _steps(
        read, trace,
        lambda: m.lsh_store_update_batch(
            _docs(spark, range(40)), store, 0, compact_every=99, n_buckets=n_buckets
        ),
        compact,
        lambda: m.lsh_store_update_batch(
            _docs(spark, [100], "x"), store, 1, compact_every=99
        ),
        lambda: m.lsh_store_delete_batch(
            spark.createDataFrame([(3,)], "doc_id long"), store, 2, compact_every=99
        ),
    )
    survivors = _docs(spark, [i for i in range(40) if i != 3]).unionByName(
        _docs(spark, [100], "x")
    )
    want = sorted(
        (r.doc_id, tuple(r.shingles), tuple(r.sig))
        for r in m._doc_rows(survivors, "doc_id", "text").collect()
    )
    return read, compact, want


def _cluster(spark, store, n_buckets, trace=None):
    from hubspot_neo4j_pipeline_spark.streaming import cluster_store as m

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 60, 3)], "id_a long, id_b long"
    )
    read = lambda: sorted(  # noqa: E731
        tuple(r) for r in m.read_cluster_assignments(spark, store).collect()
    )
    compact = lambda: m.cluster_store_compact(spark, store)  # noqa: E731
    _steps(
        read, trace,
        lambda: m.cluster_store_update_batch(
            pairs, store, 0, compact_every=99, n_buckets=n_buckets
        ),
        compact,
        lambda: m.cluster_store_update_batch(
            spark.createDataFrame([(200, 201)], "id_a long, id_b long"),
            store, 1, compact_every=99,
        ),
        lambda: m.cluster_store_delete_batch(
            spark.createDataFrame([(3,)], "doc_id long"), store, 2, compact_every=99
        ),
    )
    # every pair (i, i + 1) is its own component labelled i
    want = sorted(
        [(i, i) for i in range(0, 60, 3) if i != 3]
        + [(i + 1, i) for i in range(0, 60, 3)]
        + [(200, 200), (201, 200)]
    )
    return read, compact, want


def _vector(spark, store, n_buckets, trace=None):
    from hubspot_neo4j_pipeline_spark.streaming import vector_store as m

    def vecs(ids):
        return spark.createDataFrame(
            [(i, [float(i % 7), float((i * 3) % 5), 1.0]) for i in ids],
            "vec_id long, embedding array<double>",
        )

    read = lambda: sorted(  # noqa: E731
        (r.vec_id, tuple(r.e), r._n, tuple(r.buckets))
        for r in m.read_vector_store(spark, store).collect()
    )
    compact = lambda: m.vector_store_compact(spark, store)  # noqa: E731
    _steps(
        read, trace,
        lambda: m.vector_store_update_batch(
            vecs(range(1, 41)), store, 0, compact_every=99, n_buckets=n_buckets
        ),
        compact,
        lambda: m.vector_store_update_batch(vecs([100]), store, 1, compact_every=99),
    )
    # bucket arrays depend on the pinned planes: the oracle is the
    # pre-delete view without the deleted vector
    want = [r for r in read() if r[0] != 3]
    _steps(
        read, trace,
        lambda: m.vector_store_delete_batch(
            spark.createDataFrame([(3,)], "vec_id long"), store, 2, compact_every=99
        ),
    )
    return read, compact, want


def _gram(spark, store, n_buckets, trace=None):
    from hubspot_neo4j_pipeline_spark.streaming import gram_store as m

    read = lambda: sorted(  # noqa: E731
        tuple(r) for r in m.read_gram_store(spark, store).collect()
    )
    compact = lambda: m.gram_store_compact(spark, store)  # noqa: E731
    _steps(
        read, trace,
        lambda: m.gram_store_update_batch(
            _docs(spark, range(40)), store, 0, compact_every=99, n_buckets=n_buckets
        ),
        compact,
        lambda: m.gram_store_update_batch(
            _docs(spark, [100], "x"), store, 1, compact_every=99
        ),
        lambda: m.gram_store_delete_batch(_docs(spark, [3]), store, 2, compact_every=99),
    )
    survivors = _docs(spark, [i for i in range(40) if i != 3]).unionByName(
        _docs(spark, [100], "x")
    )
    want = sorted(
        tuple(r) for r in m._partial_counts(survivors, "doc_id", "text", None).collect()
    )
    return read, compact, want


def _df(spark, store, n_buckets, trace=None):
    from hubspot_neo4j_pipeline_spark.streaming import df_store as m

    read = lambda: (  # noqa: E731
        sorted(tuple(r) for r in m.read_df_store(spark, store).collect()),
        m.corpus_doc_count(spark, store).collect()[0]["n_docs"],
    )
    compact = lambda: m.df_store_compact(spark, store)  # noqa: E731
    _steps(
        read, trace,
        lambda: m.df_store_update_batch(
            _docs(spark, range(40)), store, 0, compact_every=99, n_buckets=n_buckets
        ),
        compact,
        lambda: m.df_store_update_batch(
            _docs(spark, [100], "x"), store, 1, compact_every=99
        ),
        lambda: m.df_store_delete_batch(_docs(spark, [3]), store, 2, compact_every=99),
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
    return read, compact, want


def _window(spark, store, n_buckets, trace=None):
    from hubspot_neo4j_pipeline_spark.streaming import window_store as m

    def events(ids):
        return spark.createDataFrame(
            [(i, f"2024-03-0{1 + i % 5} 10:00:00", f"u{i}", i * 1.25) for i in ids],
            "event_id long, ts string, user_id string, value double",
        ).selectExpr("event_id", "CAST(ts AS TIMESTAMP) AS ts", "user_id", "value")

    read = lambda: sorted(  # noqa: E731
        tuple(r) for r in m.read_window_store(spark, store).collect()
    )
    compact = lambda: m.window_store_compact(spark, store)  # noqa: E731
    _steps(
        read, trace,
        lambda: m.window_store_update_batch(
            events(range(40)), store, 0, compact_every=99, n_buckets=n_buckets
        ),
        compact,
        lambda: m.window_store_update_batch(events([100]), store, 1, compact_every=99),
        lambda: m.window_store_delete_batch(events([3]), store, 2, compact_every=99),
    )
    survivors = events([i for i in range(40) if i != 3] + [100])
    want = sorted(tuple(r) for r in m._partial_counts(survivors).collect())
    return read, compact, want


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
def test_partial_compaction_under_deletes(spark, tmp_path_factory, name, caplog):
    """A second compaction on an existing base takes the bucket-partial
    path (touched < n_buckets) while a tombstone / negative partial is
    live: the visible state equals the surviving inputs before and
    after the fold, the new base carries no ``_del`` column, and every
    untouched bucket dir is hard-linked from the old base."""
    setup, bucket_col = STORES[name]
    store = str(tmp_path_factory.mktemp(f"partial_{name}")) + "/store"
    read, compact, want = setup(spark, store, 32)

    meta = segments.read_meta(store)
    old_base = os.path.join(store, meta["base"])
    deltas = segments.live_deltas(store, meta)
    assert sorted(deltas) == [1, 2]
    touched = segments.touched_buckets(deltas, bucket_col)
    assert touched and len(touched) < meta["n_buckets"]
    ino0 = _inodes(old_base)
    before = read()
    assert before == want  # the live delete is already visible

    caplog.set_level(logging.INFO, logger=LOGGER)
    compact()
    assert _compaction_logs(caplog) == [f"compacted {store}: partial, buckets 32 -> 32"]

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


def _scd2(spark, store, n_buckets, trace=None):
    from hubspot_neo4j_pipeline_spark.streaming.incremental import (
        read_current,
        read_history,
        scd2_store_compact,
        upsert_batch,
    )

    schema = "k long, v string"

    def read():
        frames = (read_current(spark, store), read_history(spark, store))
        return [[] if f is None else sorted(tuple(r) for r in f.collect()) for f in frames]

    compact = lambda: scd2_store_compact(spark, store)  # noqa: E731
    _steps(
        read, trace,
        lambda: upsert_batch(
            spark.createDataFrame([(i, f"v{i}") for i in range(40)], schema),
            store, key="k", now="2024-01-01 00:00:00", batch_id=0,
            n_buckets=n_buckets,
        ),
        compact,
        lambda: upsert_batch(
            spark.createDataFrame([(7, "CHANGED"), (100, "new")], schema),
            store, key="k", now="2024-01-01 00:01:00", batch_id=1,
        ),
    )
    return read, compact, None


PARITY = {**STORES, "scd2": (_scd2, "_bucket")}


@pytest.mark.parametrize("name", sorted(PARITY))
def test_one_bucket_start_reads_like_32_buckets(spark, tmp_path_factory, name):
    """The same ingest / compact / ingest / delete / compact sequence
    (SCD2: no delete) on a store started at one bucket and on one
    started at 32 reads cell-equal after every step. Neither store
    outgrows its count, and the one-bucket base stays one
    ``<bucket_col>=0`` dir."""
    assert segments.START_N_BUCKETS == 1
    setup, bucket_col = PARITY[name]
    traces, bases = {}, {}
    for n in (1, 32):
        store = str(tmp_path_factory.mktemp(f"parity_{name}_{n}")) + "/store"
        trace: list = []
        read, compact, _want = setup(spark, store, n, trace)
        compact()
        trace.append(read())
        traces[n] = trace
        meta = segments.read_meta(store)
        assert meta["n_buckets"] == meta["base_n_buckets"] == n
        bases[n] = os.path.join(store, meta["base"])
    assert len(traces[1]) == (4 if name == "scd2" else 5)
    assert traces[1] == traces[32]
    assert _bucket_dirs(bases[1]) == [f"{bucket_col}=0"]


def test_fresh_store_first_compaction_writes_one_bucket(spark, tmp_path, caplog):
    """A store streamed into from empty starts at one bucket: its first
    compaction writes one ``_bucket=0`` dir holding one file, records
    ``base_n_buckets == 1`` and logs one full compaction, 1 -> 1."""
    from hubspot_neo4j_pipeline_spark.streaming import hash_store as m

    caplog.set_level(logging.INFO, logger=LOGGER)
    store = str(tmp_path / "hash")
    m.hash_store_update_batch(_docs(spark, range(40)), store, 0, compact_every=99)
    assert segments.read_meta(store)["n_buckets"] == 1
    m.hash_store_compact(spark, store)
    meta = segments.read_meta(store)
    assert meta["n_buckets"] == meta["base_n_buckets"] == 1
    assert meta["base_rows"] == 40
    base = os.path.join(store, meta["base"])
    assert _bucket_dirs(base) == ["_bucket=0"]
    assert len(glob.glob(os.path.join(base, "_bucket=0", "*.parquet"))) == 1
    assert _compaction_logs(caplog) == [f"compacted {store}: full, buckets 1 -> 1"]


def test_bucket_count_grows_from_one(spark, tmp_path, caplog):
    """With 30 rows per bucket, a hash store started at one bucket
    grows 1 -> 2 at 40 rows and 2 -> 4 at 80, each a full rewrite
    logged once with both counts; a later compaction of an empty delta
    carries the base over at 4. Reads stay exact across every bump,
    and every base row sits in the bucket its key hashes to."""
    from pyspark.sql import functions as F

    from hubspot_neo4j_pipeline_spark.streaming import hash_store as m

    caplog.set_level(logging.INFO, logger=LOGGER)
    store = str(tmp_path / "hash")
    compact = lambda: m.hash_store_compact(spark, store, rows_per_bucket=30)  # noqa: E731
    steps = [
        (lambda: m.hash_store_update_batch(
            _docs(spark, range(40)), store, 0, compact_every=99
        ), range(40), "full, buckets 1 -> 2", 2),
        (lambda: m.hash_store_update_batch(
            _docs(spark, range(40, 80)), store, 1, compact_every=99
        ), range(80), "full, buckets 2 -> 4", 4),
        (lambda: m.hash_store_delete_batch(
            _docs(spark, []), store, 2, compact_every=99
        ), range(80), "carry, buckets 4 -> 4", 4),
    ]
    for ingest, ids, logged, n in steps:
        ingest()
        caplog.clear()
        compact()
        assert _compaction_logs(caplog) == [f"compacted {store}: {logged}"]
        meta = segments.read_meta(store)
        assert meta["n_buckets"] == meta["base_n_buckets"] == n
        got = sorted(tuple(r) for r in m.read_hash_store(spark, store).collect())
        want = sorted(
            tuple(r) for r in m._partial_hashes(_docs(spark, ids), "doc_id", "text").collect()
        )
        assert got == want
        base = segments.read_parquet(
            spark, os.path.join(store, meta["base"]), partitions={"_bucket": "int"}
        )
        assert base.where(F.col("_bucket") != m.SPEC.bucket_expr(n)).count() == 0
        assert _bucket_dirs(os.path.join(store, meta["base"])) == [
            f"_bucket={k}" for k in range(n)
        ]


def test_scd2_compaction_logs_growth_and_carry(spark, tmp_path, caplog):
    """The SCD2 store's own compaction logs the same record: a growth
    to two buckets at 100 keys with 60 rows per bucket, then a carry
    of the base for an upsert that changed nothing."""
    from hubspot_neo4j_pipeline_spark.streaming.incremental import (
        read_current,
        scd2_store_compact,
        upsert_batch,
    )

    caplog.set_level(logging.INFO, logger=LOGGER)
    store = str(tmp_path / "scd2")
    rows = spark.createDataFrame([(i, f"v{i}") for i in range(100)], "k long, v string")
    want = sorted((i, f"v{i}") for i in range(100))
    for bid, logged in ((0, "full, buckets 1 -> 2"), (1, "carry, buckets 2 -> 2")):
        upsert_batch(rows, store, key="k", now="2024-01-01 00:00:00", batch_id=bid)
        caplog.clear()
        scd2_store_compact(spark, store, rows_per_bucket=60)
        assert _compaction_logs(caplog) == [f"compacted {store}: {logged}"]
        assert segments.read_meta(store)["base_n_buckets"] == 2
        got = sorted((r.k, r.v) for r in read_current(spark, store).collect())
        assert got == want


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


def test_sweep_removes_stranded_meta_tmps(tmp_path):
    """A crash between write_meta's dump and its replace strands a
    ``meta.json.tmp-<pid>`` file (older writers added a thread id).
    sweep removes every such file, this process's own included, and
    leaves the committed meta.json."""
    store = str(tmp_path)
    meta = {"base": None, "consumed_through": -1, "n_buckets": 32}
    segments.write_meta(store, meta)
    own = os.getpid()
    for tag in (own, f"{own}-{threading.get_ident()}", 999999999):
        with open(os.path.join(store, f"meta.json.tmp-{tag}"), "w") as fh:
            fh.write("{")
    segments.sweep(store, meta)
    assert sorted(os.listdir(store)) == [segments.META]
    assert segments.read_meta(store) == meta


def test_first_ingest_pins_meta_in_one_write(spark, tmp_path, monkeypatch):
    """A first ingest commits the bucket count and the builder's pins
    (here gram_k) in one meta write, and a later ingest with the same
    pins writes nothing."""
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
        {
            "base": None,
            "consumed_through": -1,
            "n_buckets": segments.START_N_BUCKETS,
            "gram_k": 8,
        }
    ]
    m.gram_store_update_batch(_docs(spark, range(4, 8)), store, 1, k=8, compact_every=99)
    assert len(written) == 1


# ---------------------------------------------------------------------------
# The SCD2 store on the kernel: its compaction reaches the kernel's
# crash hook, and its stream driver stamps a valid time for any batch id.

SCD2_SCHEMA = "k long, v string"
# (n_buckets, batch 1's rows, the retried compaction's logged path)
SCD2_PATHS = {
    "carry": (32, [(i, f"v{i}") for i in range(40)], "carry, buckets 32 -> 32"),
    "partial": (32, [(7, "CHANGED"), (100, "new")], "partial, buckets 32 -> 32"),
    "full": (1, [(7, "CHANGED"), (100, "new")], "full, buckets 1 -> 1"),
}


def _scd2_two_batches(spark, store, n_buckets, batch1):
    from hubspot_neo4j_pipeline_spark.streaming.incremental import (
        scd2_store_compact,
        upsert_batch,
    )

    upsert_batch(
        spark.createDataFrame([(i, f"v{i}") for i in range(40)], SCD2_SCHEMA),
        store, key="k", now="2024-01-01 00:00:00", batch_id=0, n_buckets=n_buckets,
    )
    scd2_store_compact(spark, store)
    upsert_batch(
        spark.createDataFrame(batch1, SCD2_SCHEMA),
        store, key="k", now="2024-01-01 00:01:00", batch_id=1,
    )


def _scd2_views(spark, store):
    from hubspot_neo4j_pipeline_spark.streaming.incremental import (
        read_current,
        read_history,
    )

    return [
        [] if f is None else sorted(tuple(r) for r in f.collect())
        for f in (read_current(spark, store), read_history(spark, store))
    ]


@pytest.mark.parametrize("path", sorted(SCD2_PATHS))
def test_scd2_crash_before_commit_on_every_path(spark, tmp_path, caplog, path):
    """A compaction that does all its work, history segment included,
    and crashes before the meta replace leaves both views as they
    were: the new base and ``seg-<hi>`` stay unresolved. Compacting
    again takes the same path and reads cell-equal to a twin that
    never crashed."""
    from hubspot_neo4j_pipeline_spark.streaming.incremental import (
        _history_segments,
        scd2_store_compact,
    )

    n_buckets, batch1, logged = SCD2_PATHS[path]
    store, twin = str(tmp_path / "store"), str(tmp_path / "twin")
    for p in (store, twin):
        _scd2_two_batches(spark, p, n_buckets, batch1)
    before = _scd2_views(spark, store)
    meta = segments.read_meta(store)

    scd2_store_compact(spark, store, crash_before_commit=True)
    assert segments.read_meta(store) == meta
    assert os.path.isdir(os.path.join(store, "history", "seg-1")) == (path != "carry")
    assert not [
        p for p in _history_segments(store, segments.read_meta(store))
        if p.endswith("seg-1")
    ]
    assert _scd2_views(spark, store) == before

    caplog.set_level(logging.INFO, logger=LOGGER)
    scd2_store_compact(spark, store)
    assert _compaction_logs(caplog) == [f"compacted {store}: {logged}"]
    scd2_store_compact(spark, twin)
    assert segments.read_meta(store)["consumed_through"] == 1
    assert _scd2_views(spark, store) == _scd2_views(spark, twin) == before
    assert sorted(os.listdir(os.path.join(store, "history"))) == sorted(
        os.listdir(os.path.join(twin, "history"))
    )


def test_scd2_first_upsert_compacts_at_compact_every_one(spark, tmp_path):
    """An upsert into an empty store runs the compaction trigger like
    any other ingest: with ``compact_every=1`` batch 0 commits a base
    and leaves no live delta."""
    from hubspot_neo4j_pipeline_spark.streaming.incremental import upsert_batch

    store = str(tmp_path / "scd2")
    upsert_batch(
        spark.createDataFrame([(1, "a"), (2, "b")], SCD2_SCHEMA),
        store, key="k", now="2024-01-01 00:00:00", batch_id=0, compact_every=1,
    )
    meta = segments.read_meta(store)
    assert (meta["base"], meta["consumed_through"], meta["base_rows"]) == ("base-0", 0, 2)
    assert segments.live_deltas(store, meta) == {}
    current, history = _scd2_views(spark, store)
    assert [r[:2] for r in current] == [(1, "a"), (2, "b")] and history == []


def test_stream_into_store_stamps_minutes_past_the_hour(spark, tmp_path):
    """``stream_into_store`` stamps micro-batch ``i`` at epoch + i
    minutes; batch 60 is 01:00, not an invalid 00:60."""
    from pyspark.sql import functions as F

    from hubspot_neo4j_pipeline_spark.streaming.incremental import (
        _upsert_at_batch_minute,
        read_current,
    )

    store = str(tmp_path / "scd2")
    for bid in (0, 59, 60, 61):
        _upsert_at_batch_minute(
            spark.createDataFrame([(bid, "v")], SCD2_SCHEMA), store, bid, key="k"
        )
    got = read_current(spark, store).select(
        "k", F.date_format("valid_from", "yyyy-MM-dd HH:mm").alias("t")
    )
    assert sorted(tuple(r) for r in got.collect()) == [
        (0, "2024-01-01 00:00"),
        (59, "2024-01-01 00:59"),
        (60, "2024-01-01 01:00"),
        (61, "2024-01-01 01:01"),
    ]
