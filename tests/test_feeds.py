"""Bronze feed readers: JSON round-trip, schema pinning, pushdown
arguments (S1-S10)."""

from __future__ import annotations

import json
import os

import pytest

from hubspot_neo4j_pipeline_spark.sources.feeds import (
    FEED_SCHEMAS,
    normalize_associations,
    read_feed,
)


@pytest.fixture(scope="module")
def feed_dir(spark, crm_feeds, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("feeds"))
    for name, df in crm_feeds.items():
        df.write.mode("overwrite").json(os.path.join(d, name))
    return d


def test_read_feed_roundtrip(spark, crm_feeds, feed_dir):
    for name in FEED_SCHEMAS:
        back = read_feed(spark, os.path.join(feed_dir, name), name)
        # file readers surface every field as nullable; names+types must pin
        assert [(f.name, f.dataType) for f in back.schema.fields] == [
            (f.name, f.dataType) for f in FEED_SCHEMAS[name].fields
        ]
        assert back.count() == crm_feeds[name].count()


def test_read_feed_pushdown_args(spark, feed_dir):
    df = read_feed(
        spark,
        os.path.join(feed_dir, "contacts"),
        "contacts",
        columns=["id", "properties"],
        where="id = 'c1'",
    )
    assert df.columns == ["id", "properties"]
    rows = df.collect()
    assert len(rows) == 1 and rows[0]["id"] == "c1"


def test_normalize_associations(spark, crm_feeds):
    from pyspark.sql import functions as F

    out = (
        crm_feeds["deals"]
        .where(F.col("associations.companies").isNotNull())
        .select(normalize_associations(F.col("associations.companies")).alias("ids"))
        .collect()
    )
    assert out[0]["ids"] == ["co1"]


def test_read_feed_quarantines_corrupt_records(spark, tmp_path):
    import pyspark.sql.functions as F

    p = tmp_path / "contacts.jsonl"
    good = {"id": "c9", "properties": {"email": "x@y.com"}}
    p.write_text(json.dumps(good) + "\n" + '{"id": "broken", notjson}\n')
    df = read_feed(spark, str(p), "contacts", keep_corrupt=True).cache()
    try:
        bad = df.where(F.col("_corrupt_record").isNotNull()).collect()
        ok = df.where(F.col("_corrupt_record").isNull()).collect()
        assert len(bad) == 1 and "notjson" in bad[0]["_corrupt_record"]
        assert bad[0]["id"] is None  # corrupt rows never half-parse
        assert len(ok) == 1 and ok[0]["id"] == "c9"
    finally:
        df.unpersist()


def test_read_feed_keep_corrupt_leaves_feed_schema_alone(spark, tmp_path):
    p = tmp_path / "contacts.jsonl"
    p.write_text(json.dumps({"id": "c9"}) + "\n")
    before = FEED_SCHEMAS["contacts"].fieldNames()
    df = read_feed(spark, str(p), "contacts", keep_corrupt=True)
    assert "_corrupt_record" in df.columns
    assert FEED_SCHEMAS["contacts"].fieldNames() == before
