"""End-to-end pipeline test — the Spark analog of the reference's
golden scenario suite run shape (tests/test_temporal_scenarios.py /
tests/run_test_pipeline.py): baseline load → idempotent re-run →
modified load with detected changes, against a parquet graph store."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hubspot_neo4j_pipeline_spark.pipeline import read_all_feeds, run_pipeline
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


# -- the write sink: driver path vs Spark path -------------------------------

_TABLES = ("nodes", "changelog", "history", "edges", "edges_immutable", "edge_changelog")


def _store_tables(spark, store) -> dict[str, tuple]:
    """Every table of the store as (column names and types, sorted
    canonical rows), keyed by its directory; the edge tables per
    ``rel_type``. A directory with no data file reads as None."""
    import json
    import os

    from hubspot_neo4j_pipeline_spark.streaming.segments import _first_data_file

    out: dict[str, tuple] = {}
    for top in _TABLES:
        root = os.path.join(store, top)
        if not os.path.isdir(root):
            continue
        labelled = top in ("nodes", "changelog", "history")
        for name in sorted(os.listdir(root)) if labelled else [""]:
            path = os.path.join(root, name)
            table = "/".join(filter(None, [top, name]))
            if _first_data_file(path) is None:
                out[table] = None
                continue
            df = spark.read.parquet(path)
            by = "rel_type" if "rel_type" in df.columns else None
            if by is None:
                out[table] = (df.dtypes, [])
            for r in df.collect():
                key = f"{table}/rel_type={r[by]}" if by else table
                rows = out.setdefault(key, (df.dtypes, []))[1]
                rows.append(json.dumps(r.asDict(recursive=True), sort_keys=True, default=str))
    return {k: v if v is None else (v[0], sorted(v[1])) for k, v in out.items()}


def _on_disk(spark, feeds, path):
    """``feeds`` written as JSON-lines feed files and read back through
    ``read_all_feeds``, as a real run reads them: file scans the sink
    can size (the in-memory fixture frames are RDD-rooted, so their
    size is unknown and every write would take the Spark path)."""
    import os

    for name, df in feeds.items():
        df.write.json(os.path.join(path, name))
    return read_all_feeds(spark, path)


def _day_runs(spark, store, feeds_dir):
    """Day 0 on the fixture feeds with no engagements (an empty
    HUBSPOT_Activity table), then day 1 on the modified feeds (c1
    changes owner, c2 is dropped, c5 is new; engagements are back)."""
    day0 = make_crm_feeds(spark)
    day0["engagements"] = day0["engagements"].limit(0)
    days = [(day0, "2024-03-01 00:00:00"), (_modified_feeds(spark), "2024-03-02 00:00:00")]
    for day, (feeds, now) in enumerate(days):
        feeds = _on_disk(spark, feeds, f"{feeds_dir}/day{day}")
        run_pipeline(spark, feeds, store, now=now).stats.collect()


def _sink_records(caplog) -> list[str]:
    return [
        r.getMessage()
        for r in caplog.records
        if r.name == "hubspot_neo4j_pipeline_spark" and "parquet write" in r.getMessage()
    ]


def test_driver_and_spark_paths_write_the_same_store(spark, tmp_path, monkeypatch, caplog):
    """Day 0 then day 1 through the sink's driver path and with the
    gate forced to the Spark path: every table (nodes incl. a table
    written empty on day 0, changelog, history, edges per rel_type incl.
    the map-typed ``properties``, edges_immutable, edge_changelog) reads
    back with the same column names and types and the same rows. On
    day 0 every write of the fixture takes the driver path."""
    import logging

    from hubspot_neo4j_pipeline_spark.operators import sinks

    caplog.set_level(logging.INFO, logger="hubspot_neo4j_pipeline_spark")
    driver = str(tmp_path / "driver")
    _day_runs(spark, driver, str(tmp_path / "feeds_d"))
    day0 = _sink_records(caplog)[:13]
    assert all(m.endswith(": driver") for m in day0), day0

    monkeypatch.setattr(sinks, "DRIVER_COMMIT_MAX_EST", -1)
    caplog.clear()
    distributed = str(tmp_path / "spark")
    _day_runs(spark, distributed, str(tmp_path / "feeds_s"))
    assert all(": spark (estimate" in m for m in _sink_records(caplog))

    got, want = _store_tables(spark, driver), _store_tables(spark, distributed)
    assert got.keys() == want.keys()
    for key in want:
        assert got[key] == want[key], key
    assert "map<string,string>" in dict(want["edges/rel_type=OWNED_BY"][0]).values()
    assert want["history/HUBSPOT_Contact"] is not None
    # empty on day 0, merged with day 1's engagements
    assert want["changelog/HUBSPOT_Activity"][1] != []


def test_day0_load_jobs_pinned(spark, tmp_path):
    """The fixture's day-0 load plus its verify stats run 21 Spark jobs:
    the collects of the ten node plans and of the cached edge plan's
    three outputs (with their shuffle and broadcast stages) and two for
    the stats. No write job, no changelog job."""
    feeds = _on_disk(spark, make_crm_feeds(spark), str(tmp_path / "feeds"))

    def load():
        res = run_pipeline(spark, feeds, str(tmp_path / "g"), now="2024-03-01 00:00:00")
        return res.stats.collect()

    _, jobs = count_jobs(spark, load)
    assert jobs == 21


def test_identical_rerun_compiles_nothing(spark, tmp_path):
    """The codegen cache holds a whole run: a second identical day-0
    load in the same session compiles no new class."""
    metric = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    feeds = _on_disk(spark, make_crm_feeds(spark), str(tmp_path / "feeds"))
    for i in range(2):
        before = metric.METRIC_COMPILATION_TIME().getCount()
        run_pipeline(spark, feeds, str(tmp_path / f"g{i}"), now="2024-03-01 00:00:00")\
            .stats.collect()
        compiled = metric.METRIC_COMPILATION_TIME().getCount() - before
    assert compiled == 0
