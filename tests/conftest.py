from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from hubspot_neo4j_pipeline_spark.session import get_spark

    return get_spark(app_name="tests", cpus=8, shuffle_partitions=4)


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


def make_crm_feeds(spark):
    """Tiny CRM-shaped feeds mirroring reference tests/test_graph_transformer.py
    + scripts/create_test_data.py (known cross-links, edge-case values)."""
    contacts = [
        {
            "id": "c1",
            "properties": {
                "email": " John@Example.COM ",
                "firstname": "John",
                "lastname": "Doe",
                "lifecyclestage": "customer",
                "createdate": "2024-01-02T00:00:00Z",
                "hubspot_owner_id": "u1",
                "associatedcompanyid": "co1",
                "hs_email_open": "7",
                "hs_email_click": "not_a_number",
                "hs_analytics_last_url": "https://www.site.com/page",
            },
            "associations": {"deals": [{"id": "d1"}]},
            "created_at": None,
            "updated_at": None,
        },
        {
            "id": "c2",
            "properties": {"email": "jane@x.io", "firstname": "Jane"},
            "associations": None,
            "created_at": None,
            "updated_at": None,
        },
    ]
    companies = [
        {
            "id": "co1",
            "properties": {
                "name": "Acme",
                "domain": "WWW.Acme.com",
                "numberofemployees": "250",
                "annualrevenue": "1000000.5",
                "hubspot_owner_id": "u1",
            },
        }
    ]
    deals = [
        {
            "id": "d1",
            "properties": {
                "dealname": "Big Deal",
                "amount": "5000.25",
                "dealstage": "closedwon",
                "hs_is_closed_won": "True",
            },
            "associations": {"companies": [{"id": "co1"}], "contacts": [{"id": "c1"}]},
        },
        {
            "id": "d2",
            "properties": {"dealname": "Open Deal", "amount": "bogus"},
            "associations": None,
        },
    ]
    engagements = [
        {
            "id": "e1",
            "properties": {
                "hs_engagement_type": "NOTE",
                "hs_note_body": "x" * 500,
                "hs_createdate": "2024-02-01T10:00:00Z",
            },
            "associations": {"contacts": [{"id": "c1"}], "companies": None, "deals": None},
        },
        {
            "id": "e2",
            "properties": {
                "hs_engagement_type": "CALL",
                "hs_call_title": "Intro call",
                "hs_call_duration": "360000",
                "hs_timestamp": "2024-02-02T10:00:00Z",
            },
            "associations": {"contacts": None, "companies": None, "deals": [{"id": "d1"}]},
        },
    ]
    users = [
        {
            "id": "u1",
            "email": "Owner@Corp.com",
            "first_name": "Olivia",
            "last_name": "Owner",
            "archived": False,
            "user_id": "101",
            "teams": [{"name": "Sales"}, {"name": "EMEA"}],
            "created_at": "2023-01-01T00:00:00Z",
            "updated_at": None,
        },
        {
            "id": "u2",
            "email": "old@corp.com",
            "first_name": "Ora",
            "last_name": "Old",
            "archived": True,
            "user_id": None,
            "teams": None,
            "created_at": None,
            "updated_at": None,
        },
    ]
    email_events = [
        {
            "id": "ev1",
            "event_type": "OPEN",
            "recipient": "John@Example.com",
            "created": "1706745600000",
            "emailCampaignId": "camp1",
            "emailCampaignName": "Launch",
            "subject": "Hello",
            "deviceType": "COMPUTER",
            "location": {"city": "Berlin"},
            "userAgent": "UA",
            "url": None,
        },
        {
            "id": "ev2",
            "event_type": "CLICK",
            "recipient": "john@example.com",
            "created": "1706832000000",
            "emailCampaignId": "camp1",
            "emailCampaignName": "Launch",
            "subject": "Hello",
            "deviceType": "MOBILE",
            "location": None,
            "userAgent": "UA",
            "url": "https://www.site.com/landing",
        },
        {  # filtered out: SENT type
            "id": "ev3",
            "event_type": "SENT",
            "recipient": "john@example.com",
            "created": "1706700000000",
            "emailCampaignId": "camp1",
            "emailCampaignName": None,
            "subject": None,
            "deviceType": None,
            "location": None,
            "userAgent": None,
            "url": None,
        },
        {  # filtered out: no recipient
            "id": "ev4",
            "event_type": "OPEN",
            "recipient": None,
            "created": "1706700000001",
            "emailCampaignId": "camp1",
            "emailCampaignName": None,
            "subject": None,
            "deviceType": None,
            "location": None,
            "userAgent": None,
            "url": None,
        },
    ]
    form_submissions = [
        {
            "form_guid": "f1",
            "form_name": "Contact Us",
            "submitted_at": 1706900000000,
            "page_url": "https://www.site.com/contact",
            "page_title": "Contact",
            "ip_address": "1.2.3.4",
            "values": [
                {"name": "email", "value": "John@Example.com"},
                {"name": "message", "value": "hi"},
            ],
        },
        {
            "form_guid": "f1",
            "form_name": "Contact Us",
            "submitted_at": 1706900001000,
            "page_url": "https://www.site.com/contact",
            "page_title": "Contact",
            "ip_address": "5.6.7.8",
            "values": [{"name": "email", "value": "stranger@nowhere.com"}],
        },
    ]
    raw = {
        "contacts": contacts,
        "companies": companies,
        "deals": deals,
        "engagements": engagements,
        "users": users,
        "email_events": email_events,
        "form_submissions": form_submissions,
    }
    from hubspot_neo4j_pipeline_spark.sources.feeds import FEED_SCHEMAS
    return {
        name: spark.createDataFrame(rows, FEED_SCHEMAS[name])
        for name, rows in raw.items()
    }


@pytest.fixture(scope="session")
def crm_feeds(spark):
    return make_crm_feeds(spark)


def count_jobs(spark, fn):
    """Run ``fn()`` under a fresh job group; return (result, Spark jobs
    it started), counted through the status tracker."""
    import uuid

    sc = spark.sparkContext
    group = f"count-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "count_jobs")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))
