"""End-to-end pipeline test — the Spark analog of the reference's
golden scenario suite run shape (tests/test_temporal_scenarios.py /
tests/run_test_pipeline.py): baseline load → idempotent re-run →
modified load with detected changes, against a parquet graph store."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hubspot_neo4j_pipeline_spark.pipeline import run_pipeline
from hubspot_neo4j_pipeline_spark.plans.temporal_reporting import (
    TemporalStore,
    compare_entity_versions,
    get_current_entities,
    get_deleted_entities,
    get_entity_lifecycle,
    get_recent_changes,
    get_relationship_change_statistics,
    get_temporal_statistics,
)
from tests.conftest import count_jobs, make_crm_feeds


def _modified_feeds(spark):
    """Round 2 of the feed: contact c1 gets a new owner (u2), contact
    c2 disappears (soft delete), new contact c5 appears."""
    feeds = make_crm_feeds(spark)
    contacts = [
        {
            "id": "c1",
            "properties": {
                "email": " John@Example.COM ",
                "firstname": "John",
                "lastname": "Doe",
                "lifecyclestage": "customer",
                "createdate": "2024-01-02T00:00:00Z",
                "hubspot_owner_id": "u2",  # ownership transfer
                "associatedcompanyid": "co1",
                "hs_email_open": "7",
                "hs_email_click": "not_a_number",
                "hs_analytics_last_url": "https://www.site.com/page",
            },
            "associations": {"deals": [{"id": "d1"}]},
            "created_at": None,
            "updated_at": None,
        },
        # c2 missing → soft delete
        {
            "id": "c5",
            "properties": {"email": "new@x.io", "firstname": "New"},
            "associations": None,
            "created_at": None,
            "updated_at": None,
        },
    ]
    from hubspot_neo4j_pipeline_spark.sources.feeds import FEED_SCHEMAS

    feeds["contacts"] = feeds["contacts"].sparkSession.createDataFrame(
        contacts, FEED_SCHEMAS["contacts"]
    )
    return feeds


@pytest.fixture(scope="module")
def store(tmp_path_factory):
    return str(tmp_path_factory.mktemp("graph_store"))


def test_initial_load(spark, crm_feeds, store):
    res = run_pipeline(spark, crm_feeds, store, now="2024-03-01 00:00:00")
    stats = {r["label"]: r for r in res.stats.collect()}
    assert stats["HUBSPOT_Contact"]["live"] == 2
    assert stats["HUBSPOT_User"]["live"] == 2
    assert stats["HUBSPOT_Deal"]["live"] == 2
    # first run: everything is 'new'
    log = res.node_changes["HUBSPOT_Contact"].collect()
    assert {r["change_type"] for r in log} == {"new"}
    # tracked edges recorded as added; immutable types never in changelog
    e_log = res.edge_changelog.collect()
    assert all(r["change_type"] == "added" for r in e_log)
    assert {"PERFORMED", "SUBMITTED_BY", "ON_PAGE"} & {
        r["rel_type"] for r in e_log
    } == set()


def test_idempotent_rerun(spark, crm_feeds, store):
    res = run_pipeline(spark, crm_feeds, store, now="2024-03-02 00:00:00")
    for label, log in res.node_changes.items():
        assert log.count() == 0, f"{label} changed on identical re-run"
    assert res.edge_changelog.count() == 0


def test_modified_run_detects_changes(spark, store):
    feeds2 = _modified_feeds(spark)
    res = run_pipeline(spark, feeds2, store, now="2024-03-03 00:00:00")
    log = {r["hubspot_id"]: r["change_type"] for r in res.node_changes["HUBSPOT_Contact"].collect()}
    assert log == {"c1": "updated", "c2": "deleted", "c5": "new"}
    e_log = {
        (r["rel_type"], r["from_id"], r["to_id"]): r["change_type"]
        for r in res.edge_changelog.collect()
    }
    assert e_log[("OWNED_BY", "c1", "u2")] == "added"
    assert e_log[("OWNED_BY", "c1", "u1")] == "removed"


def _node_hash_digest(spark, store) -> tuple[int, str]:
    """Row count and sha256 of the sorted (label, hubspot_id,
    snapshot_hash) rows of every stored ``nodes/`` table."""
    import hashlib
    import os

    rows = []
    for label in sorted(os.listdir(os.path.join(store, "nodes"))):
        path = os.path.join(store, "nodes", label)
        rows += [
            f"{label}|{r['hubspot_id']}|{r['snapshot_hash']}"
            for r in spark.read.parquet(path).select("hubspot_id", "snapshot_hash").collect()
        ]
    rows.sort()
    return len(rows), hashlib.sha256("\n".join(rows).encode()).hexdigest()


def test_stored_snapshot_hashes_pinned(spark, tmp_path):
    """The content hash stored with every node row, pinned on day 0 and
    after a second run in which one contact (c1) changed owner."""
    store = str(tmp_path / "graph")
    run_pipeline(spark, make_crm_feeds(spark), store, now="2024-03-01 00:00:00")
    assert _node_hash_digest(spark, store) == (
        17,
        "916836ec881ed6b57619bb3e21d388efa42aa0b96221f7a8474fbfc63d0a119e",
    )
    feeds = make_crm_feeds(spark)
    feeds["contacts"] = feeds["contacts"].where("id != 'c1'").unionByName(
        _modified_feeds(spark)["contacts"].where("id = 'c1'")
    )
    res = run_pipeline(spark, feeds, store, now="2024-03-02 00:00:00")
    log = res.node_changes["HUBSPOT_Contact"].collect()
    assert [(r["hubspot_id"], r["change_type"]) for r in log] == [("c1", "updated")]
    assert _node_hash_digest(spark, store) == (
        17,
        "32993be66ee4c70877c58de22c2b5de54ebdfb43abd905e33b9a4d88637c5140",
    )


@pytest.fixture(scope="module")
def empty_label_run(spark, tmp_path_factory):
    """Day-0 load of a feed whose engagements are empty, so the
    HUBSPOT_Activity table is written with no rows. Returns the result,
    its collected stats and the Spark jobs of that first collect (a
    second collect would reuse the finished shuffle stages)."""
    feeds = make_crm_feeds(spark)
    feeds["engagements"] = feeds["engagements"].limit(0)
    store = str(tmp_path_factory.mktemp("empty_label_store"))
    res = run_pipeline(spark, feeds, store, now="2024-03-01 00:00:00")
    rows, jobs = count_jobs(spark, res.stats.collect)
    return res, rows, jobs


def test_verify_stats_keep_empty_label(empty_label_run):
    """Verify stats: one row per node label in load order; a label
    whose table is empty still gets its row, with null counts."""
    res, rows, _ = empty_label_run
    assert [r["label"] for r in rows] == list(res.node_changes)
    got = {r["label"]: (r["live"], r["deleted"]) for r in rows}
    assert got["HUBSPOT_Activity"] == (None, None)
    assert got["HUBSPOT_Contact"] == (2, 0)
    assert got["HUBSPOT_Deal"] == (2, 0)
    assert res.stats.schema.simpleString() == (
        "struct<label:string,live:bigint,deleted:bigint>"
    )


def test_verify_stats_run_in_two_jobs(empty_label_run):
    """All labels' counts come from one aggregate: a shuffle job plus
    a result job, not a schema-inference and a shuffle job per label."""
    _, _, jobs = empty_label_run
    assert jobs <= 2


def test_temporal_queries_over_store(spark, store):
    cur = {"HUBSPOT_Contact": spark.read.parquet(f"{store}/nodes/HUBSPOT_Contact")}
    hist = {"HUBSPOT_Contact": spark.read.parquet(f"{store}/history/HUBSPOT_Contact")}
    logs = {"HUBSPOT_Contact": spark.read.parquet(f"{store}/changelog/HUBSPOT_Contact")}
    e_log = spark.read.parquet(f"{store}/edge_changelog")
    ts = TemporalStore(current=cur, history=hist, changelog=logs, edge_changelog=e_log)

    live = get_current_entities(ts, "HUBSPOT_Contact", limit=10).collect()
    assert {r["hubspot_id"] for r in live} == {"c1", "c5"}
    deleted = get_deleted_entities(ts, "HUBSPOT_Contact").collect()
    assert [r["hubspot_id"] for r in deleted] == ["c2"]

    lifecycle = get_entity_lifecycle(ts, "HUBSPOT_Contact", "c1").collect()
    assert len(lifecycle) == 2  # current + 1 closed version
    assert lifecycle[-1]["is_current"] in (True, False)

    diff = compare_entity_versions(
        ts, "HUBSPOT_Contact", "c1", ["owner_id", "email", "lifecycle_stage"]
    ).collect()
    changed = {r["field"]: (r["old_value"], r["new_value"]) for r in diff}
    assert changed == {"owner_id": ("u1", "u2")}

    stats = get_relationship_change_statistics(ts).collect()
    assert any(r["rel_type"] == "OWNED_BY" for r in stats)

    tstats = {r["entity_type"]: r for r in get_temporal_statistics(ts).collect()}
    c = tstats["HUBSPOT_Contact"]
    assert c["current_count"] == 2 and c["deleted_count"] == 1 and c["history_count"] >= 1

    recent = get_recent_changes(ts, "HUBSPOT_Contact", hours=48).collect()
    assert {r["hubspot_id"] for r in recent} == {"c1", "c2", "c5"}


def test_remaining_temporal_queries(spark, store):
    """Cover the temporal query functions not asserted above:
    entity history, relationship feed, ownership changes."""
    from hubspot_neo4j_pipeline_spark.plans.temporal_reporting import (
        TemporalStore,
        get_entity_history,
        get_entity_relationship_history,
        get_ownership_changes,
        get_relationship_changes,
    )

    ts = TemporalStore(
        current={"HUBSPOT_Contact": spark.read.parquet(f"{store}/nodes/HUBSPOT_Contact")},
        history={"HUBSPOT_Contact": spark.read.parquet(f"{store}/history/HUBSPOT_Contact")},
        changelog={"HUBSPOT_Contact": spark.read.parquet(f"{store}/changelog/HUBSPOT_Contact")},
        edge_changelog=spark.read.parquet(f"{store}/edge_changelog"),
    )
    h = get_entity_history(ts, "HUBSPOT_Contact", "c1").collect()
    assert len(h) >= 1 and all(r["hubspot_id"] == "c1" for r in h)
    assert all(not r["is_current"] for r in h)

    feed = get_relationship_changes(ts, limit=50).collect()
    assert len(feed) > 0
    assert all(r["change_type"] in ("added", "removed") for r in feed)

    own = get_ownership_changes(ts, entity_id="c1").collect()
    assert {(r["to_id"], r["change_type"]) for r in own} == {
        ("u1", "added"),  # initial load
        ("u1", "removed"),  # transfer away
        ("u2", "added"),  # transfer to u2
    }
    rel_hist = get_entity_relationship_history(ts, "c1").collect()
    assert len(rel_hist) >= 3
