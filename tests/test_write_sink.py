"""The engine's parquet sink, ``operators.sinks.write_parquet``: one
driver-vs-Spark decision per write, one log record naming it, and a
driver-path failure that leaves nothing visible before the Spark
write runs once."""
from __future__ import annotations

import logging
import os

import pytest
from pyspark.sql import functions as F

from hubspot_neo4j_pipeline_spark.operators import sinks

LOGGER = "hubspot_neo4j_pipeline_spark"


def _edges(spark, rel_types=("OWNED_BY", "HAS_DEAL")):
    """A small partitionable frame with a map column, rooted in
    ``range`` so the planner knows its size."""
    return spark.range(12).select(
        F.element_at(F.array(*map(F.lit, rel_types)), (F.col("id") % len(rel_types) + 1).cast("int"))
        .alias("rel_type"),
        F.concat(F.lit("c"), F.col("id").cast("string")).alias("from_id"),
        F.create_map(F.lit("k"), F.col("id").cast("string")).alias("properties"),
    )


def _records(caplog) -> list[logging.LogRecord]:
    return [r for r in caplog.records if r.name == LOGGER]


def _rows(df) -> list[str]:
    return sorted(str(sorted(r.asDict().items())) for r in df.collect())


def _visible_files(path) -> list[str]:
    return sorted(
        os.path.relpath(os.path.join(root, f), path)
        for root, _dirs, files in os.walk(path)
        for f in files
        if f.endswith(".parquet") and not f.startswith("_")
    )


def _write_logged(caplog, path, df, **kw):
    caplog.set_level(logging.INFO, logger=LOGGER)
    caplog.clear()
    out = sinks.write_parquet(df, path, "overwrite", **kw)
    records = _records(caplog)
    assert len(records) == 1, [r.getMessage() for r in records]
    return out, records[0]


def test_driver_write_logs_driver(spark, tmp_path, caplog):
    df = _edges(spark)
    path = str(tmp_path / "t")
    tbl, rec = _write_logged(caplog, path, df, partition_by="rel_type")
    assert tbl is not None and tbl.num_rows == 12
    assert rec.levelno == logging.INFO
    assert rec.getMessage() == f"parquet write {path}: driver"
    assert _visible_files(path) == [
        "rel_type=HAS_DEAL/part-00000-driver.parquet",
        "rel_type=OWNED_BY/part-00000-driver.parquet",
    ]
    assert _rows(spark.read.parquet(path)) == _rows(df)


def test_spark_write_when_estimate_over_bound(spark, tmp_path, caplog):
    path = str(tmp_path / "t")
    est = sinks.DRIVER_COMMIT_MAX_EST + 1
    tbl, rec = _write_logged(caplog, path, _edges(spark), est_bytes=est)
    assert tbl is None and rec.levelno == logging.INFO
    assert rec.getMessage() == (
        f"parquet write {path}: spark (estimate {est} over {sinks.DRIVER_COMMIT_MAX_EST})"
    )
    assert not any(f.endswith("-driver.parquet") for f in _visible_files(path))


def test_spark_write_when_estimate_unknown(spark, tmp_path, caplog):
    """An RDD-rooted frame: the planner cannot size it."""
    df = spark.sparkContext.parallelize([(1, "a"), (2, "b")]).toDF(["k", "v"])
    path = str(tmp_path / "t")
    tbl, rec = _write_logged(caplog, path, df)
    assert tbl is None
    assert rec.getMessage() == f"parquet write {path}: spark (estimate unknown)"
    assert _rows(spark.read.parquet(path)) == _rows(df)


def test_spark_write_when_actual_over_cap(spark, tmp_path, caplog, monkeypatch):
    monkeypatch.setattr(sinks, "DRIVER_COMMIT_MAX_ACTUAL", 0)
    df = _edges(spark)
    path = str(tmp_path / "t")
    tbl, rec = _write_logged(caplog, path, df)
    assert tbl is None and rec.levelno == logging.INFO
    assert rec.getMessage().startswith(f"parquet write {path}: spark (actual ")
    assert rec.getMessage().endswith(" over 0)")
    assert _rows(spark.read.parquet(path)) == _rows(df)


@pytest.mark.parametrize("value", [None, "", "A/B", "x=y", "50%"])
def test_spark_write_when_partition_value_is_not_plain(
    spark, tmp_path, caplog, value
):
    """Null, empty and path-escaped partition values are named by
    Spark's own writer."""
    df = _edges(spark).withColumn(
        "rel_type",
        F.when(F.col("from_id") == "c0", F.lit(value).cast("string")).otherwise(
            F.col("rel_type")
        ),
    )
    path = str(tmp_path / "t")
    tbl, rec = _write_logged(caplog, path, df, partition_by="rel_type")
    assert tbl is None and rec.levelno == logging.INFO
    assert rec.getMessage() == (
        f"parquet write {path}: spark (partition value null, empty, escaped or not a string)"
    )
    assert len(spark.read.parquet(path).collect()) == 12


def test_driver_write_error_falls_back_once(spark, tmp_path, caplog, monkeypatch):
    """A pyarrow write that raises on the second partition file of an
    append: the first file is never visible, the one record is a
    WARNING naming the exception class, and the Spark path appends the
    output exactly once next to the rows already there."""
    import pyarrow.parquet as pq

    path = str(tmp_path / "t")
    before = _edges(spark, ("OLD",))
    sinks.write_parquet(before, path, "append", partition_by="rel_type")
    real = pq.write_table
    calls = []

    def second_fails(*a, **kw):
        calls.append(a[1])
        if len(calls) == 2:
            raise RuntimeError("simulated pyarrow failure")
        return real(*a, **kw)

    monkeypatch.setattr(pq, "write_table", second_fails)
    caplog.set_level(logging.INFO, logger=LOGGER)
    caplog.clear()
    df = _edges(spark)
    assert sinks.write_parquet(df, path, "append", partition_by="rel_type") is None
    records = _records(caplog)
    assert len(records) == 1 and records[0].levelno == logging.WARNING
    assert records[0].getMessage() == (
        f"parquet write {path}: spark (driver write failed: RuntimeError)"
    )
    assert len(calls) == 2
    assert all(os.path.basename(c).startswith("_") for c in calls)
    assert not any(os.path.exists(c) for c in calls)
    driver_files = [f for f in _visible_files(path) if f.endswith("-driver.parquet")]
    assert [f.split("/")[0] for f in driver_files] == ["rel_type=OLD"]
    assert _rows(spark.read.parquet(path)) == sorted(_rows(before) + _rows(df))


def test_driver_write_appends_uniquely_named_files(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.range(3).select(F.col("id"), F.lit("x").alias("s"))
    for _ in range(2):
        assert sinks.write_parquet(df, path, "append") is not None
    files = _visible_files(path)
    assert len(files) == 2 and files[0] != files[1]
    assert _rows(spark.read.parquet(path)) == sorted(_rows(df) * 2)
