"""CRM-facing reporting library tests over the fixture graph —
mirrors what a reference user gets from report.py / query_ownership.py
(owner 'Olivia Owner' owns c1, co1; d1 belongs to co1; c1 performed
2 email events + 1 form submission)."""

from __future__ import annotations

import pytest

from hubspot_neo4j_pipeline_spark.operators.transforms import transform_all
from hubspot_neo4j_pipeline_spark.plans.reporting import (
    GraphTables,
    all_owners_summary,
    campaign_performance,
    contact_engagement_history,
    contacts_by_lifecycle_stage,
    contacts_by_owner,
    contacts_companies_by_owner_combined,
    contacts_with_recent_activity,
    contacts_without_company,
    conversion_funnel,
    deals_by_company,
    deals_by_owner,
    engaged_contacts,
    find_owner_by_name,
    get_all_ownerships,
    get_deals_with_owners,
    owner_summary,
    recent_email_activity,
    recent_form_submissions,
)
from hubspot_neo4j_pipeline_spark.plans.temporal_reporting import get_temporal_statistics


@pytest.fixture(scope="module")
def g(crm_feeds):
    nodes, edges = transform_all(crm_feeds)
    return GraphTables(nodes=nodes, edges=edges)


def test_contacts_by_owner(g):
    rows = contacts_by_owner(g, "Owner").collect()
    assert len(rows) == 1
    assert rows[0]["contact_email"] == "john@example.com"
    assert rows[0]["owner_name"] == "Olivia Owner"
    assert contacts_by_owner(g, "Nobody").count() == 0


def test_owner_summaries(g):
    s = {r["owner_name"]: r for r in all_owners_summary(g).collect()}
    olivia = s["Olivia Owner"]
    assert olivia["contacts_owned"] == 1
    assert olivia["companies_owned"] == 1
    assert olivia["deals_owned"] == 0  # d1 has no owner in fixtures
    assert s["Ora Old"]["contacts_owned"] == 0
    one = owner_summary(g, "Olivia").collect()
    assert len(one) == 1 and one[0]["contacts_owned"] == 1


def test_groupby_reports(g):
    stages = {r["lifecycle_stage"]: r["count"] for r in contacts_by_lifecycle_stage(g).collect()}
    assert stages["customer"] == 1 and stages[""] == 1
    from hubspot_neo4j_pipeline_spark.plans.reporting import companies_by_industry

    assert companies_by_industry(g).count() == 0  # industry empty in fixtures


def test_recent_activity_reports(g):
    subs = recent_form_submissions(g, days=30).collect()
    # only contact-matched submissions traverse SUBMITTED_BY (the
    # stranger@ one has no edge), exactly like the Cypher MATCH
    assert len(subs) == 1
    acts = recent_email_activity(g, days=30).collect()
    assert len(acts) == 2
    assert {r["event_type"] for r in acts} == {
        "HUBSPOT_EmailOpenEvent",
        "HUBSPOT_EmailClickEvent",
    }
    recents = contacts_with_recent_activity(g, "Owner", days=365).collect()
    assert len(recents) == 1
    assert recents[0]["recent_activities"] == 3  # 2 events + 1 submission


def test_engagement_history(g):
    h = contact_engagement_history(g, "john@example.com").collect()
    kinds = {(r["engagement_type"], r["related_entity_type"]) for r in h}
    assert ("PERFORMED", "HUBSPOT_EmailOpenEvent") in kinds
    assert ("PERFORMED", "HUBSPOT_EmailClickEvent") in kinds
    assert ("SUBMITTED_BY", "HUBSPOT_FormSubmission") in kinds
    assert ("VISITED", None) in kinds  # webpage has no timestamp row


def test_find_owner_and_combined_view(g):
    assert find_owner_by_name(g, "corp.com").count() == 2
    combined = contacts_companies_by_owner_combined(g, "Owner").collect()
    assert {r["entity_type"] for r in combined} == {"Contact", "Company"}
    assert len(combined) == 2


def test_ownership_rollups(g):
    own = {r["owner_name"]: r for r in get_all_ownerships(g).collect()}
    assert own["Olivia Owner"]["total_pipeline_value"] == 0.0  # no owned deals
    top = get_deals_with_owners(g, limit=5).collect()
    assert top == []  # deals have no owner in fixtures


def test_readme_analytics(g):
    dbc = deals_by_company(g).collect()
    assert len(dbc) == 1
    assert dbc[0]["company_name"] == "Acme"
    assert dbc[0]["deal_count"] == 1 and dbc[0]["total_value"] == 5000.25
    assert dbc[0]["deals"] == ["Big Deal"]

    eng = engaged_contacts(g).collect()
    assert len(eng) == 1 and eng[0]["contact_email"] == "john@example.com"

    no_co = contacts_without_company(g).collect()
    assert len(no_co) == 1 and no_co[0]["contact_email"] == "jane@x.io"

    funnel = conversion_funnel(g).collect()[0]
    assert funnel["total_contacts"] == 2
    assert funnel["opened"] == 1 and funnel["clicked"] == 1 and funnel["submitted"] == 1
    assert funnel["conversion_rate_pct"] == 50.0

    camp = campaign_performance(g).collect()
    assert len(camp) == 1
    assert camp[0]["opens"] == 1 and camp[0]["clicks"] == 1
    assert camp[0]["click_rate_pct"] == 100.0


def test_user_ownership_portfolio(g):
    from hubspot_neo4j_pipeline_spark.plans.reporting import (
        get_companies_with_owners,
        get_contacts_with_owners,
        get_user_ownership,
    )

    p = get_user_ownership(g, "owner@corp.com").collect()
    assert len(p) == 1
    row = p[0]
    assert row["owner"] == "Olivia Owner"
    assert row["contacts"] == ["John Doe"]
    assert row["companies"] == ["Acme"]
    assert row["deals"] is None  # no owned deals in fixtures
    assert row["total_pipeline_value"] == 0.0

    cw = get_contacts_with_owners(g).collect()
    assert len(cw) == 1 and cw[0]["owner_name"] == "Olivia Owner"
    cow = get_companies_with_owners(g).collect()
    assert len(cow) == 1 and cow[0]["company_name"] == "Acme"


# -- one aggregate per report: rows on an empty store, jobs per call ----------

REPORT_SCHEMAS = {
    "all_owners_summary": "struct<owner_email:string,owner_name:string,active:boolean,"
    "contacts_owned:bigint,companies_owned:bigint,deals_owned:bigint>",
    "conversion_funnel": "struct<total_contacts:bigint,opened:bigint,clicked:bigint,"
    "submitted:bigint,conversion_rate_pct:double>",
    "campaign_performance": "struct<campaign_id:string,campaign_name:string,opens:bigint,"
    "first_open:timestamp,last_open:timestamp,clicks:bigint,click_rate_pct:double>",
    "temporal_statistics": "struct<entity_type:string,current_count:bigint,"
    "deleted_count:bigint,history_count:bigint>",
}


def _temporal_store(g, history: bool):
    from hubspot_neo4j_pipeline_spark.operators.scd2 import with_temporal_fields
    from hubspot_neo4j_pipeline_spark.plans.temporal_reporting import TemporalStore

    current = {
        label: with_temporal_fields(df, "2024-03-01 00:00:00")
        for label, df in g.nodes.items()
    }
    # any SCD2-shaped rows do as closed-out versions: only counts are read
    hist = {"HUBSPOT_Contact": current["HUBSPOT_Contact"]} if history else {}
    return TemporalStore(current=current, history=hist, changelog={})


def _reports(g):
    return {
        "all_owners_summary": lambda: all_owners_summary(g),
        "conversion_funnel": lambda: conversion_funnel(g),
        "campaign_performance": lambda: campaign_performance(g),
        "temporal_statistics": lambda: get_temporal_statistics(
            _temporal_store(g, history=True)
        ),
    }


@pytest.fixture(scope="module")
def empty_g(crm_feeds):
    """A store whose feeds hold only the users: no contacts, companies,
    deals, events or edges."""
    feeds = {k: (df if k == "users" else df.limit(0)) for k, df in crm_feeds.items()}
    nodes, edges = transform_all(feeds)
    return GraphTables(nodes=nodes, edges=edges)


def test_reports_on_empty_store(empty_g):
    """Rows and schema of the one-aggregate reports when nothing is
    owned, opened or submitted: zero counts (not nulls), a 0.0
    conversion rate instead of a division by zero, and temporal stats
    with null live/deleted counts and a 0 history count per label."""
    got = {name: build() for name, build in _reports(empty_g).items()}
    for name, df in got.items():
        assert df.schema.simpleString() == REPORT_SCHEMAS[name], name
    owners = [tuple(r) for r in got["all_owners_summary"].collect()]
    assert sorted(owners) == [
        ("old@corp.com", "Ora Old", False, 0, 0, 0),
        ("owner@corp.com", "Olivia Owner", True, 0, 0, 0),
    ]
    assert [tuple(r) for r in got["conversion_funnel"].collect()] == [(0, 0, 0, 0, 0.0)]
    assert got["campaign_performance"].collect() == []
    stats = [tuple(r) for r in got["temporal_statistics"].collect()]
    assert stats == [
        (label, 2, 0, 0) if label == "HUBSPOT_User" else (label, None, None, 0)
        for label in sorted(empty_g.nodes)
    ]


def test_report_rows_and_schema(g):
    got = {name: build() for name, build in _reports(g).items()}
    for name, df in got.items():
        assert df.schema.simpleString() == REPORT_SCHEMAS[name], name
    funnel = [tuple(r) for r in got["conversion_funnel"].collect()]
    assert funnel == [(2, 1, 1, 1, 50.0)]
    camp = got["campaign_performance"].collect()
    assert [(r["campaign_id"], r["campaign_name"], r["opens"], r["clicks"],
             r["click_rate_pct"]) for r in camp] == [("camp1", "Launch", 1, 1, 100.0)]
    assert camp[0]["first_open"] == camp[0]["last_open"] is not None
    stats = {r["entity_type"]: tuple(r)[1:] for r in got["temporal_statistics"].collect()}
    assert [r for r in stats] == sorted(g.nodes)
    assert stats["HUBSPOT_Contact"] == (2, 0, 2)
    assert stats["HUBSPOT_WebPage"] == (3, 0, 0)


def test_report_job_counts(spark, g):
    """Spark jobs per call on the fixture graph (a fresh transform plan
    under every report). With an aggregate per table these were 11,
    19, 8 and 15."""
    from tests.conftest import count_jobs

    budget = {
        "all_owners_summary": 7,
        "conversion_funnel": 9,
        "campaign_performance": 6,
        "temporal_statistics": 6,
    }
    for name, build in _reports(g).items():
        _, jobs = count_jobs(spark, lambda: build().collect())
        assert jobs <= budget[name], (name, jobs)
