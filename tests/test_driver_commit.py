"""Driver-side small-delta commit (r14 round-2): the pyarrow-written
delta file must be indistinguishable — schema AND values — from a
Spark-written one when read back through spark.read.parquet, for every
column shape the eight stores commit. Readers union deltas and bases
across commits, so a dtype drift between the two writers would corrupt
the merge."""
from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from hubspot_neo4j_pipeline_spark.operators import sinks
from hubspot_neo4j_pipeline_spark.streaming import segments


def _delta_frames(spark):
    """One frame per distinct column-shape family the stores commit."""
    # range-rooted (known planner stats, like the real parquet-scan-
    # rooted deltas); a createDataFrame(list) plan reports unknown
    # size and deliberately keeps the Spark path
    docs = spark.range(30).select(
        F.col("id").alias("doc_id"),
        F.expr(
            "concat('alpha beta gamma delta epsilon ', id % 5, ' zeta eta')"
        ).alias("text"),
    )
    from hubspot_neo4j_pipeline_spark.streaming.hash_store import _partial_hashes

    hash_delta = _partial_hashes(docs, "doc_id", "text").withColumn(
        "_bucket", F.pmod(F.xxhash64("content_hash"), F.lit(32)).cast("int")
    )

    from hubspot_neo4j_pipeline_spark.streaming.gram_store import _partial_counts

    gram_delta = _partial_counts(docs, "doc_id", "text", None).withColumn(
        "bucket", F.pmod(F.col("h"), F.lit(32)).cast("int")
    )

    # SCD2-shaped: decimal, timestamps (incl. all-null valid_to),
    # booleans, kind/bucket meta columns
    scd2_delta = (
        spark.range(20)
        .select(
            F.col("id").alias("entity_key"),
            (F.lit(100.0) + F.col("id")).cast("decimal(18,2)").alias("amount"),
            F.lit("O").alias("status"),
        )
        .withColumn("valid_from", F.lit("2024-01-01 00:00:00").cast("timestamp"))
        .withColumn("valid_to", F.lit(None).cast("timestamp"))
        .withColumn("is_current", F.lit(True))
        .withColumn("is_deleted", F.lit(False))
        .withColumn("_kind", F.lit("current"))
        .withColumn("_ubid", F.lit(0).cast("long"))
        .withColumn(
            "_bucket",
            F.pmod(F.xxhash64(F.col("entity_key").cast("string")), F.lit(32)).cast(
                "int"
            ),
        )
    )

    # vector-store-shaped: array<double> payload, array<bigint> buckets
    vec_delta = (
        spark.range(15)
        .select(
            F.col("id").alias("vec_id"),
            F.expr(
                "transform(sequence(0, 7), j -> cast(id * 8 + j as double) / 7.0)"
            ).alias("e"),
        )
        .withColumn("_n", F.expr("sqrt(aggregate(e, 0d, (a, x) -> a + x * x))"))
        .withColumn("buckets", F.expr("transform(sequence(0, 3), t -> vec_id % 4)"))
        .withColumn("_ubid", F.lit(0).cast("long"))
        .withColumn(
            "_bucket",
            F.pmod(F.xxhash64(F.col("vec_id").cast("string")), F.lit(32)).cast("int"),
        )
    )
    # window-store-shaped (r15, r14 ADVICE): a genuine DATE column —
    # the pyarrow date32 vs Spark DATE writer-parity surface — plus
    # the store's day timestamp, long counts and decimal totals
    win_delta = (
        spark.range(12)
        .select(
            F.to_date(
                F.concat(F.lit("2024-01-"), F.lpad((F.col("id") % 9 + 1).cast("string"), 2, "0"))
            ).alias("day"),
            F.expr("timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,cast(id % 9 as int))").alias("day_ts"),
            (F.col("id") % 5).alias("user_id"),
            (F.col("id") + 1).cast("long").alias("n"),
            (F.lit(10.5) * F.col("id")).cast("decimal(18,2)").alias("total_value"),
        )
        .withColumn(
            "_bucket",
            F.pmod(F.xxhash64(F.col("user_id").cast("string")), F.lit(32)).cast("int"),
        )
    )
    return {
        "hash": (hash_delta, "_bucket"),
        "gram": (gram_delta, "bucket"),
        "scd2": (scd2_delta, "_bucket"),
        "vector": (vec_delta, "_bucket"),
        "window": (win_delta, "_bucket"),
    }


@pytest.mark.parametrize("shape", ["hash", "gram", "scd2", "vector", "window"])
def test_driver_commit_parity(spark, tmp_path_factory, shape, monkeypatch):
    df, bucket_col = _delta_frames(spark)[shape]

    drv = str(tmp_path_factory.mktemp(f"drv_{shape}"))
    segments.commit_delta(df, drv, 0, bucket_col=bucket_col)
    drv_dir = os.path.join(drv, "deltas", "b0")
    assert os.path.exists(
        os.path.join(drv_dir, "part-00000-driver.parquet")
    ), "small delta should take the driver path"

    spk = str(tmp_path_factory.mktemp(f"spk_{shape}"))
    monkeypatch.setattr(sinks, "_try_driver_table", lambda df, est=None: None)
    segments.commit_delta(df, spk, 0, bucket_col=bucket_col)
    spk_dir = os.path.join(spk, "deltas", "b0")
    assert not os.path.exists(os.path.join(spk_dir, "part-00000-driver.parquet"))
    monkeypatch.undo()

    a, b = spark.read.parquet(drv_dir), spark.read.parquet(spk_dir)
    assert dict(a.dtypes) == dict(b.dtypes)
    key = a.columns
    ra = sorted(map(str, a.collect()))
    rb = sorted(map(str, b.collect()))
    assert ra == rb and len(ra) > 0, key

    # identical manifests either way
    ma = segments.delta_manifest(drv_dir)
    mb = segments.delta_manifest(spk_dir)
    assert ma == mb and ma["rows"] == len(ra)


def test_driver_commit_respects_estimate_gate(spark, tmp_path_factory, monkeypatch):
    """A delta the planner estimates big must keep the distributed
    write (the gate, not the collect, is what protects the driver at
    bulk scale)."""
    df, bucket_col = _delta_frames(spark)["hash"]
    monkeypatch.setattr(sinks, "DRIVER_COMMIT_MAX_EST", 0)
    store = str(tmp_path_factory.mktemp("gate"))
    segments.commit_delta(df, store, 0, bucket_col=bucket_col)
    d = os.path.join(store, "deltas", "b0")
    assert not os.path.exists(os.path.join(d, "part-00000-driver.parquet"))
    assert segments.delta_manifest(d)["rows"] == df.count()


def test_driver_commit_fallback_on_misestimate(
    spark, tmp_path_factory, monkeypatch
):
    """Stats-hostile input (r15, r14 VERDICT hardening): when the
    planner's estimate passes the gate but the ACTUAL collected bytes
    exceed the hard cap — the underestimate case — the commit must
    fall back to the distributed write and stay correct, leaving no
    stranded _tmp dir."""
    df, bucket_col = _delta_frames(spark)["hash"]
    # force "actual over cap" for ANY delta: every collect is rejected
    monkeypatch.setattr(sinks, "DRIVER_COMMIT_MAX_ACTUAL", 0)
    store = str(tmp_path_factory.mktemp("misest"))
    segments.commit_delta(df, store, 0, bucket_col=bucket_col)
    d = os.path.join(store, "deltas", "b0")
    assert not os.path.exists(os.path.join(d, "part-00000-driver.parquet"))
    back = spark.read.parquet(d)
    assert sorted(map(str, back.collect())) == sorted(map(str, df.collect()))
    assert segments.delta_manifest(d)["rows"] == df.count()
    assert not any(n.startswith("_tmp") for n in os.listdir(store))


def test_driver_commit_fallback_on_write_failure(
    spark, tmp_path_factory, monkeypatch, caplog
):
    """A failure INSIDE the guarded driver path (write or manifest
    derivation — r15, r14 ADVICE: the manifest step used to sit
    outside the guard and strand the _tmp dir) must discard the tmp
    and fall through to the Spark write, logging one WARNING with the
    exception class; the normal driver path logs nothing."""
    import logging

    import pyarrow.parquet as pq

    caplog.set_level(logging.WARNING, logger="hubspot_neo4j_pipeline_spark")
    df, bucket_col = _delta_frames(spark)["hash"]
    ok = str(tmp_path_factory.mktemp("wok"))
    segments.commit_delta(df, ok, 0, bucket_col=bucket_col)
    assert os.path.exists(
        os.path.join(ok, "deltas", "b0", "part-00000-driver.parquet")
    )
    assert [r for r in caplog.records if r.name == "hubspot_neo4j_pipeline_spark"] == []

    def boom(*a, **kw):
        raise RuntimeError("simulated pyarrow failure")

    monkeypatch.setattr(pq, "write_table", boom)
    store = str(tmp_path_factory.mktemp("wfail"))
    segments.commit_delta(df, store, 0, bucket_col=bucket_col)
    logged = [r for r in caplog.records if r.name == "hubspot_neo4j_pipeline_spark"]
    assert len(logged) == 1
    assert logged[0].levelno == logging.WARNING
    assert "RuntimeError" in logged[0].getMessage()
    d = os.path.join(store, "deltas", "b0")
    assert os.path.isdir(d)
    assert not os.path.exists(os.path.join(d, "part-00000-driver.parquet"))
    assert segments.delta_manifest(d)["rows"] == df.count()
    assert not any(n.startswith("_tmp") for n in os.listdir(store))


def test_driver_commit_empty_delta(spark, tmp_path_factory):
    """A 0-row small delta commits a schema-bearing file both paths
    can read back (the tombstones-only / empty-batch case)."""
    df, bucket_col = _delta_frames(spark)["hash"]
    empty = df.where(F.lit(False))
    store = str(tmp_path_factory.mktemp("empty"))
    segments.commit_delta(empty, store, 0, bucket_col=bucket_col)
    d = os.path.join(store, "deltas", "b0")
    back = spark.read.parquet(d)
    assert back.count() == 0
    assert dict(back.dtypes) == dict(df.dtypes)
    assert segments.delta_manifest(d) == {
        "bucket_col": bucket_col, "touched": [], "rows": 0,
    }
