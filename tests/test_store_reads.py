"""Store reads: the rows the hash and cluster verdict plans return,
the schema ``segments.read_parquet`` takes from parquet footers, and
the Spark jobs a store read starts."""
from __future__ import annotations

import datetime
import hashlib
import os
from decimal import Decimal

import pytest
from pyspark.errors import AnalysisException

from hubspot_neo4j_pipeline_spark.operators import sinks
from hubspot_neo4j_pipeline_spark.streaming import (
    cluster_store,
    hash_store,
    segments,
    tombstones,
)
from hubspot_neo4j_pipeline_spark.streaming.incremental import _history_segments
from tests.conftest import count_jobs
from tests.test_segment_kernel import STORES


def _sha(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()


def test_hash_verdict_rows_pinned(spark, tmp_path):
    """A hash already in the store, an intra-batch duplicate, a new
    owner smaller than the stored one, and a null ``text`` row, which
    is dropped (as ``exact_dedup`` drops it)."""
    store = str(tmp_path / "hash")
    hash_store.hash_store_update_batch(
        spark.createDataFrame([(1, "a"), (2, "b")], "doc_id long, text string"),
        store, 0, compact_every=99,
    )
    batch = spark.createDataFrame(
        [(3, "a"), (4, None), (5, "c"), (6, "c"), (0, "b")],
        "doc_id long, text string",
    )
    out = hash_store.dedup_batch_against_store(batch, store)
    assert out.columns == [
        "doc_id", "text", "content_hash", "canonical_id", "is_duplicate"
    ]
    assert sorted(tuple(r) for r in out.collect()) == [
        (0, "b", _sha("b"), 0, False),
        (3, "a", _sha("a"), 1, True),
        (5, "c", _sha("c"), 5, False),
        (6, "c", _sha("c"), 5, True),
    ]


def test_cluster_verdict_rows_pinned(spark, tmp_path):
    """Cluster {1, 2, 3} with its canonical 1 erased, the untouched
    cluster {10, 11}, and doc 99 the store never saw. Only the erased
    cluster's answers depend on ``reelect_keepers``."""
    store = str(tmp_path / "cluster")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    cluster_store.cluster_store_update_batch(pairs, store, 0, compact_every=99)
    cluster_store.cluster_store_delete_batch(
        spark.createDataFrame([(1,)], "doc_id long"), store, 1, compact_every=99
    )
    docs = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 10, 11, 99)], "doc_id long"
    )

    def rows(reelect):
        out = cluster_store.dedup_verdicts_from_store(
            docs, store, reelect_keepers=reelect
        )
        assert out.columns == ["doc_id", "cluster_id", "keep"]
        return sorted(tuple(r) for r in out.collect())

    untouched = [(10, 10, True), (11, 10, False), (99, 99, True)]
    # the erased doc 1 left the store: it answers as its own singleton
    assert rows(False) == [(1, 1, True), (2, 1, False), (3, 1, False), *untouched]
    assert rows(True) == [(1, 1, True), (2, 1, True), (3, 1, False), *untouched]


# ---------------------------------------------------------------------------
# segments.read_parquet: the footer schema equals Spark's own inference


def _scd2(spark, store):
    from hubspot_neo4j_pipeline_spark.streaming.incremental import (
        scd2_store_compact,
        upsert_batch,
    )

    schema = "entity_key long, amount decimal(18,2), status string, seen timestamp"

    def batch(rows):
        return spark.createDataFrame(
            [(k, a, s, datetime.datetime(2024, 1, k)) for k, a, s in rows], schema
        )

    def up(rows, bid, day):
        upsert_batch(
            batch(rows), store, key="entity_key", now=f"2024-02-0{day}",
            batch_id=bid, compact_every=99,
        )

    up([(1, Decimal("10.00"), "a"), (2, Decimal("20.00"), "a")], 0, 1)
    up([(1, Decimal("11.00"), "a"), (3, Decimal("30.00"), "b")], 1, 2)
    scd2_store_compact(spark, store)
    up([(2, Decimal("21.00"), "c")], 2, 3)
    scd2_store_compact(spark, store)  # a second history segment
    up([(1, Decimal("12.00"), "d")], 3, 4)
    up([(4, None, None)], 4, 5)


@pytest.fixture(scope="module")
def stores(spark, tmp_path_factory):
    """The seven segment stores of test_segment_kernel (a compacted
    base, a data delta and a tombstone delta each) and an SCD2 store
    (a base, two history segments and two live deltas)."""
    root = tmp_path_factory.mktemp("reads")
    out = {}
    for name, (setup, bucket_col) in sorted(STORES.items()):
        setup(spark, str(root / name), 32)
        out[name] = (str(root / name), bucket_col)
    _scd2(spark, str(root / "scd2"))
    out["scd2"] = (str(root / "scd2"), "_bucket")
    return out


def _assert_same_read(spark, *paths, partitions=None):
    want = spark.read.parquet(*paths)
    got = segments.read_parquet(spark, *paths, partitions=partitions)
    assert got.schema == want.schema, paths
    rows = sorted(map(str, want.collect()))
    assert sorted(map(str, got.collect())) == rows and rows, paths


def _recommit(spark, delta_dir, dest, driver, monkeypatch):
    """``delta_dir``'s rows committed again as delta b0 of ``dest`` by
    the driver (pyarrow) writer or by the Spark writer."""
    frame = spark.read.parquet(delta_dir)
    if not driver:
        monkeypatch.setattr(sinks, "_try_driver_table", lambda df, est=None: None)
    segments.commit_delta(frame, dest, 0)
    monkeypatch.undo()
    out = os.path.join(dest, "deltas", "b0")
    assert os.path.exists(os.path.join(out, "part-00000-driver.parquet")) == driver
    return out


TOMBSTONE_STORES = {"hash", "lsh", "cluster", "vector"}


@pytest.mark.parametrize("name", [*sorted(STORES), "scd2"])
def test_read_parquet_matches_inferred_read(
    spark, stores, name, tmp_path, monkeypatch
):
    """For every segment kind of every store — the partitioned base, a
    Spark-written delta, a driver-written delta, a tombstone delta and
    the SCD2 store's history segments —
    ``read_parquet`` returns the schema and rows of
    ``spark.read.parquet``."""
    store, bucket_col = stores[name]
    meta = segments.read_meta(store)
    _assert_same_read(
        spark, os.path.join(store, meta["base"]), partitions={bucket_col: "int"}
    )
    deltas = segments.live_deltas(store, meta)
    assert len(deltas) == 2
    for bid, path in sorted(deltas.items()):
        for driver in (True, False):
            dest = str(tmp_path / f"b{bid}-{'driver' if driver else 'spark'}")
            _assert_same_read(
                spark, _recommit(spark, path, dest, driver, monkeypatch)
            )
    if name == "scd2":
        segs = _history_segments(store, meta)
        assert len(segs) == 2
        _assert_same_read(spark, *segs)
    else:
        # the delete delta: tombstones, or negated partials in the
        # additive stores
        deleted = spark.read.parquet(deltas[max(deltas)]).columns
        assert (tombstones.TOMB_COL in deleted) == (name in TOMBSTONE_STORES)


def test_read_parquet_without_data_file_raises_like_spark(spark, tmp_path):
    empty = tmp_path / "empty"
    empty.mkdir()
    (empty / "_SUCCESS").write_text("")
    for path in (str(empty), str(tmp_path / "missing")):
        with pytest.raises(AnalysisException) as want:
            spark.read.parquet(path)
        with pytest.raises(AnalysisException) as got:
            segments.read_parquet(spark, path)
        assert got.value.getCondition() == want.value.getCondition()


# ---------------------------------------------------------------------------
# Spark jobs per store read


@pytest.mark.parametrize("name", sorted(STORES))
def test_read_store_plan_starts_no_job(spark, stores, name):
    """Building the visible frame of a store with a base and two live
    deltas schedules nothing; the parent's schema inference started one
    job per segment (3)."""
    import importlib

    store, _ = stores[name]
    spec = importlib.import_module(
        f"hubspot_neo4j_pipeline_spark.streaming.{name}_store"
    ).SPEC
    _, jobs = count_jobs(spark, lambda: segments.read_store(spec, spark, store))
    assert jobs == 0


def test_scd2_read_plans_start_no_job(spark, stores):
    from hubspot_neo4j_pipeline_spark.streaming.incremental import (
        read_current,
        read_history,
    )

    store, _ = stores["scd2"]
    _, jobs = count_jobs(
        spark, lambda: (read_current(spark, store), read_history(spark, store))
    )
    assert jobs == 0


def test_verdict_jobs_pinned(spark, stores):
    """Both verdict plans over a store with a base and two live deltas
    (one of them tombstones): no schema inference and one scan of
    their input. Parent counts: 11 and 11."""
    batch = spark.createDataFrame(
        [(3, "a"), (4, None), (5, "c"), (6, "c"), (0, "b")],
        "doc_id long, text string",
    )
    hash_path, _ = stores["hash"]
    _, jobs = count_jobs(
        spark,
        lambda: hash_store.dedup_batch_against_store(batch, hash_path).collect(),
    )
    assert jobs == 6

    docs = spark.createDataFrame(
        [(i,) for i in (0, 1, 3, 4, 200, 999)], "doc_id long"
    )
    cluster_path, _ = stores["cluster"]
    _, jobs = count_jobs(
        spark,
        lambda: cluster_store.dedup_verdicts_from_store(
            docs, cluster_path, reelect_keepers=True
        ).collect(),
    )
    assert jobs == 6
