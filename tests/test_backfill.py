"""Concurrent-backfill surface (r14 round-2, guide §2.6):
independent delta ingests submitted from a driver thread pool must
produce the exact store state the sequential harness produces, and the
meta commit path must survive concurrent writers."""
from __future__ import annotations

import json
import os
import threading



def _corpus(spark):
    rows = [
        (i, f"alpha beta gamma delta epsilon doc {i % 7} tail {i % 3}")
        for i in range(40)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_concurrent_ingest_state_equals_sequential(spark, tmp_path_factory):
    """hash store: b0 ∥ b1 via run_concurrently + explicit compact ==
    sequential b0, b1 with the compact_every=2 trigger — same visible
    rows AND same layout meta (base generation, consumed_through,
    n_buckets, id_type pin)."""
    from hubspot_neo4j_pipeline_spark.streaming.backfill import run_concurrently
    from hubspot_neo4j_pipeline_spark.streaming.hash_store import (
        hash_store_compact,
        hash_store_update_batch,
        read_hash_store,
    )
    from hubspot_neo4j_pipeline_spark.streaming import segments

    docs = _corpus(spark)
    seq = str(tmp_path_factory.mktemp("bf_seq")) + "/hashes"
    par = str(tmp_path_factory.mktemp("bf_par")) + "/hashes"

    hash_store_update_batch(
        docs.where("doc_id % 2 = 0"), seq, batch_id=0, compact_every=2
    )
    hash_store_update_batch(
        docs.where("doc_id % 2 = 1"), seq, batch_id=1, compact_every=2
    )

    run_concurrently(
        lambda: hash_store_update_batch(
            docs.where("doc_id % 2 = 0"), par, batch_id=0, compact_every=99
        ),
        lambda: hash_store_update_batch(
            docs.where("doc_id % 2 = 1"), par, batch_id=1, compact_every=99
        ),
    )
    hash_store_compact(spark, par)

    rows_of = lambda p: sorted(  # noqa: E731
        (r["content_hash"], r["owner_id"])
        for r in read_hash_store(spark, p).collect()
    )
    assert rows_of(par) == rows_of(seq)
    ms, mp = segments.read_meta(seq), segments.read_meta(par)
    for key in ("base", "consumed_through", "n_buckets", "id_type"):
        assert mp[key] == ms[key], key
    # no live deltas left on either: the compaction consumed both
    assert segments.live_deltas(par) == {} and segments.live_deltas(seq) == {}


def test_run_concurrently_propagates_failure(spark):
    from hubspot_neo4j_pipeline_spark.streaming.backfill import run_concurrently

    state = {"ran": False}

    def ok():
        state["ran"] = True

    def boom():
        raise RuntimeError("ingest failed")

    try:
        run_concurrently(boom, ok)
    except RuntimeError as exc:
        assert "ingest failed" in str(exc)
    else:  # pragma: no cover
        raise AssertionError("failure was swallowed")
    assert state["ran"]  # the healthy thunk still completed (join-all)


def test_write_meta_survives_concurrent_writers(tmp_path_factory):
    """The shared-tmp write_meta lost a FileNotFoundError race under
    two concurrent pinners (measured, r14 round 2); per-writer tmp
    names must make any interleaving safe and leave valid JSON."""
    from hubspot_neo4j_pipeline_spark.streaming import segments

    store = str(tmp_path_factory.mktemp("meta_race"))
    errs: list[Exception] = []

    def hammer(n):
        try:
            for _ in range(300):
                segments.write_meta(
                    store, {"base": None, "consumed_through": -1, "n_buckets": 32}
                )
        except Exception as exc:  # pragma: no cover
            errs.append(exc)

    threads = [threading.Thread(target=hammer, args=(i,)) for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errs == []
    meta = segments.read_meta(store)
    assert meta["n_buckets"] == 32
    # no stranded tmp files survive a sweep
    segments.sweep(store, meta)
    stranded = [n for n in os.listdir(store) if n.startswith("meta.json.tmp")]
    assert stranded == []
    with open(os.path.join(store, "meta.json")) as fh:
        assert json.load(fh) == meta
