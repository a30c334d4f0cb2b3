"""Bronze→silver transform tests on tiny in-memory feeds, mirroring
reference tests/test_graph_transformer.py (1 contact, 1 company,
1 deal, engagements, email events, form submissions with known
cross-links) plus the semantic edge cases the reference encodes:
'true'-string bools, NOTE body [:200] truncation, archived→active
inversion, null→''/0 conventions, email-matched edge resolution."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from hubspot_neo4j_pipeline_spark.operators.transforms import (
    resolve_email_edges,
    transform_all,
    transform_contacts,
    transform_deals,
    transform_email_events,
    transform_engagements,
    transform_form_submissions,
    transform_users,
)
from hubspot_neo4j_pipeline_spark.sources.feeds import FEED_SCHEMAS


@pytest.fixture(scope="module")
def feeds(crm_feeds):
    return crm_feeds


def test_contact_projection_semantics(feeds):
    node, edges = transform_contacts(feeds["contacts"])
    rows = {r["hubspot_id"]: r for r in node.collect()}
    c1 = rows["c1"]
    assert c1["email"] == "john@example.com"  # cleaned
    assert c1["total_email_opens"] == 7
    assert c1["total_email_clicks"] == 0  # garbage → 0
    assert c1["lifecycle_stage"] == "customer"
    assert rows["c2"]["last_name"] == ""  # missing → ''
    by_type = {
        (r["rel_type"], r["from_id"], r["to_id"]) for r in edges.collect()
    }
    assert ("OWNED_BY", "c1", "u1") in by_type
    assert ("WORKS_AT", "c1", "co1") in by_type
    assert ("ASSOCIATED_WITH", "c1", "d1") in by_type
    assert ("VISITED", "c1", "https://www.site.com/page") in by_type
    assert not any(t[1] == "c2" for t in by_type)  # c2 emits no edges


def test_deal_bool_and_safe_float(feeds):
    node, edges = transform_deals(feeds["deals"])
    rows = {r["hubspot_id"]: r for r in node.collect()}
    assert rows["d1"]["is_won"] is True  # 'True' string compare
    assert rows["d2"]["is_won"] is False  # default 'false'
    assert rows["d1"]["amount"] == 5000.25
    assert rows["d2"]["amount"] == 0.0  # bogus → 0.0
    assert rows["d2"]["pipeline"] == "default"
    e = {(r["rel_type"], r["from_id"], r["to_id"]) for r in edges.collect()}
    assert ("BELONGS_TO", "d1", "co1") in e
    assert ("ASSOCIATED_WITH", "c1", "d1") in e  # reverse direction


def test_engagement_type_dispatch(feeds):
    node, edges = transform_engagements(feeds["engagements"])
    rows = {r["hubspot_id"]: r for r in node.collect()}
    assert len(rows["e1"]["details"]) == 200  # NOTE body [:200]
    assert len(rows["e1"]["body"]) == 500
    assert rows["e2"]["details"] == "Intro call"
    assert rows["e2"]["duration"] == 360000
    e = {(r["rel_type"], r["from_id"], r["to_id"]) for r in edges.collect()}
    assert ("INVOLVES", "e1", "c1") in e
    assert ("RELATED_TO", "e2", "d1") in e


def test_user_archived_inversion_and_teams(feeds):
    node = transform_users(feeds["users"])
    rows = {r["hubspot_id"]: r for r in node.collect()}
    assert rows["u1"]["active"] is True and rows["u1"]["archived"] is False
    assert rows["u2"]["active"] is False and rows["u2"]["archived"] is True
    assert rows["u1"]["teams"] == "Sales, EMEA"
    assert rows["u2"]["teams"] == ""
    assert rows["u2"]["user_id"] == ""  # null → ''


def test_email_event_filter_and_campaign_dedup(feeds):
    opens, clicks, campaigns, edges = transform_email_events(feeds["email_events"])
    assert opens.count() == 1  # SENT + no-recipient filtered
    assert clicks.count() == 1
    camp = campaigns.collect()
    assert len(camp) == 1 and camp[0]["name"] == "Launch"  # D2 dedup
    click = clicks.collect()[0]
    assert click["clicked_url"] == "https://www.site.com/landing"
    assert click["location"] == ""  # null location struct → ''
    e = edges.collect()
    assert {r["rel_type"] for r in e} == {"PERFORMED", "FOR_CAMPAIGN", "CLICKED_URL"}
    performed = [r for r in e if r["rel_type"] == "PERFORMED"]
    assert all(r["from_email"] == "john@example.com" for r in performed)


def test_form_submission_email_match(feeds):
    contacts_node, _ = transform_contacts(feeds["contacts"])
    node, edges = transform_form_submissions(
        feeds["form_submissions"], contacts_node
    )
    assert node.count() == 2
    submitted = [r for r in edges.collect() if r["rel_type"] == "SUBMITTED_BY"]
    assert len(submitted) == 1  # stranger@ didn't match (A11 unmatched)
    assert submitted[0]["to_id"] == "c1"


def test_transform_all_end_to_end(feeds):
    nodes, edges = transform_all(feeds)
    counts = {k: df.count() for k, df in nodes.items()}
    assert counts["HUBSPOT_Contact"] == 2
    assert counts["HUBSPOT_User"] == 2
    assert counts["HUBSPOT_Deal"] == 2
    assert counts["HUBSPOT_WebPage"] == 3  # page, landing, contact (deduped)
    # all email-keyed edges resolved to ids
    assert edges.where("from_email is not null").count() == 0
    performed = edges.where("rel_type = 'PERFORMED'").collect()
    assert len(performed) == 2 and all(r["from_id"] == "c1" for r in performed)
    # deterministic event ids: re-running yields identical ids
    nodes2, _ = transform_all(feeds)
    ids1 = {r["hubspot_id"] for r in nodes["HUBSPOT_EmailOpenEvent"].collect()}
    ids2 = {r["hubspot_id"] for r in nodes2["HUBSPOT_EmailOpenEvent"].collect()}
    assert ids1 == ids2


def test_webpage_derivation(feeds):
    nodes, _ = transform_all(feeds)
    pages = {r["url"]: r for r in nodes["HUBSPOT_WebPage"].collect()}
    p = pages["https://www.site.com/page"]
    assert p["domain"] == "www.site.com" and p["path"] == "/page"


def test_resolve_email_edges_observation(feeds):
    """A11: matched/unmatched counters via the Spark-native Observation
    API, collected in the same job as the transform."""
    from pyspark.sql import Observation
    from hubspot_neo4j_pipeline_spark.operators.transforms import (
        transform_contacts,
        transform_email_events,
        resolve_email_edges,
    )

    contacts_node, _ = transform_contacts(feeds["contacts"])
    _, _, _, e_edges = transform_email_events(feeds["email_events"])
    obs = Observation("email_match")
    resolved = resolve_email_edges(e_edges, contacts_node, observation=obs)
    resolved.count()  # trigger the job
    metrics = obs.get
    assert metrics["email_edges_total"] == 2
    assert metrics["email_edges_matched"] == 2


# -- pinned edge output + plan shape -----------------------------------------

# the fixture feeds' resolved edge rows: (rel_type, from_type, from_id,
# to_type, to_id, from_email, properties), sorted
FIXTURE_EDGES = [
    ("ASSOCIATED_WITH", "HUBSPOT_Contact", "c1", "HUBSPOT_Deal", "d1", None, None),
    ("ASSOCIATED_WITH", "HUBSPOT_Contact", "c1", "HUBSPOT_Deal", "d1", None, None),
    ("BELONGS_TO", "HUBSPOT_Deal", "d1", "HUBSPOT_Company", "co1", None, None),
    ("CLICKED_URL", "HUBSPOT_EmailClickEvent", "email_event_2e4ce50b9fd9df31",
     "HUBSPOT_WebPage", "https://www.site.com/landing", None, None),
    ("FOR_CAMPAIGN", "HUBSPOT_EmailClickEvent", "email_event_2e4ce50b9fd9df31",
     "HUBSPOT_EmailCampaign", "camp1", None, None),
    ("FOR_CAMPAIGN", "HUBSPOT_EmailOpenEvent", "email_event_6700577f9a69aab5",
     "HUBSPOT_EmailCampaign", "camp1", None, None),
    ("INVOLVES", "HUBSPOT_Activity", "e1", "HUBSPOT_Contact", "c1", None, None),
    ("ON_PAGE", "HUBSPOT_FormSubmission", "form_submission_c7e987a7e793b45d",
     "HUBSPOT_WebPage", "https://www.site.com/contact", None, None),
    ("ON_PAGE", "HUBSPOT_FormSubmission", "form_submission_c994e57ef646f9bc",
     "HUBSPOT_WebPage", "https://www.site.com/contact", None, None),
    ("OWNED_BY", "HUBSPOT_Company", "co1", "HUBSPOT_User", "u1", None, None),
    ("OWNED_BY", "HUBSPOT_Contact", "c1", "HUBSPOT_User", "u1", None, None),
    ("PERFORMED", "HUBSPOT_Contact", "c1", "HUBSPOT_EmailClickEvent",
     "email_event_2e4ce50b9fd9df31", None, None),
    ("PERFORMED", "HUBSPOT_Contact", "c1", "HUBSPOT_EmailOpenEvent",
     "email_event_6700577f9a69aab5", None, None),
    ("RELATED_TO", "HUBSPOT_Activity", "e2", "HUBSPOT_Deal", "d1", None, None),
    ("SUBMITTED_BY", "HUBSPOT_FormSubmission", "form_submission_c7e987a7e793b45d",
     "HUBSPOT_Contact", "c1", None, None),
    ("VISITED", "HUBSPOT_Contact", "c1", "HUBSPOT_WebPage", "https://www.site.com/page",
     None, {"timestamp": None, "source": "direct"}),
    ("WORKS_AT", "HUBSPOT_Contact", "c1", "HUBSPOT_Company", "co1", None, None),
]

EDGE_SCHEMA_JSON = (
    '{"fields":[{"metadata":{},"name":"rel_type","nullable":false,"type":"string"},'
    '{"metadata":{},"name":"from_type","nullable":false,"type":"string"},'
    '{"metadata":{},"name":"from_id","nullable":true,"type":"string"},'
    '{"metadata":{},"name":"to_type","nullable":false,"type":"string"},'
    '{"metadata":{},"name":"to_id","nullable":true,"type":"string"},'
    '{"metadata":{},"name":"from_email","nullable":true,"type":"string"},'
    '{"metadata":{},"name":"properties","nullable":true,"type":{"keyType":"string",'
    '"type":"map","valueContainsNull":true,"valueType":"string"}}],"type":"struct"}'
)


def _sorted_edges(edges):
    return sorted((tuple(r) for r in edges.collect()), key=repr)


def _edge_digest(edges) -> tuple[int, str]:
    import hashlib

    rows = [repr(r) for r in _sorted_edges(edges)]
    return len(rows), hashlib.sha256("\n".join(rows).encode()).hexdigest()


def test_edge_rows_and_schema_pinned(feeds):
    """The resolved edge table of the fixture feeds, row for row, and
    its schema with nullability."""
    _, edges = transform_all(feeds)
    assert _sorted_edges(edges) == sorted(FIXTURE_EDGES, key=repr)
    assert edges.schema.json() == EDGE_SCHEMA_JSON


def _edge_case_feeds(spark, feeds):
    """The fixture feeds plus rows that reach every edge rule's corner:
    a second contact sharing c1's email (email-matched edges fan out
    to both, per-record edges do not), an association array holding a
    null element and a null id, a blank owner, and form submissions
    without an email or a page."""
    extra = {
        "contacts": [
            {"id": "c3", "properties": {"email": "john@example.com",
                                        "hubspot_owner_id": "",
                                        "hs_analytics_last_url": "https://www.site.com/p3",
                                        "hs_analytics_source": "ADS",
                                        "hs_analytics_last_visit_timestamp": "2024-01-05"},
             "associations": {"deals": [None, {"id": None}, {"id": "d2"}]},
             "created_at": None, "updated_at": None},
        ],
        "deals": [
            {"id": "d3", "properties": {"hubspot_owner_id": "u2"},
             "associations": {"companies": [], "contacts": [{"id": "c3"}, None]}},
        ],
        "engagements": [
            {"id": "e3", "properties": {"hs_engagement_type": "TASK"},
             "associations": {"contacts": [{"id": "c2"}], "companies": [{"id": "co1"}],
                              "deals": [{"id": None}]}},
        ],
        "email_events": [
            {"id": "ev5", "event_type": "CLICK", "recipient": "nobody@x.io",
             "created": "1706832000001", "emailCampaignId": None,
             "emailCampaignName": None, "subject": None, "deviceType": None,
             "location": None, "userAgent": None, "url": None},
        ],
        "form_submissions": [
            {"form_guid": "f2", "form_name": None, "submitted_at": 1706900002000,
             "page_url": None, "page_title": None, "ip_address": None,
             "values": [{"name": "email", "value": "john@example.com"}]},
            {"form_guid": "f2", "form_name": None, "submitted_at": 1706900003000,
             "page_url": "https://www.site.com/other", "page_title": None,
             "ip_address": None, "values": None},
        ],
    }
    out = dict(feeds)
    for name, rows in extra.items():
        out[name] = feeds[name].unionByName(spark.createDataFrame(rows, feeds[name].schema))
    return out


def test_edge_rows_pinned_on_edge_cases(spark, feeds):
    _, edges = transform_all(_edge_case_feeds(spark, feeds))
    assert _edge_digest(edges) == (
        30,
        "df4be5755d1a0140d00d3a46e4298a7139be98dc8dc46a29da5364fa146f2d7d",
    )
    assert edges.schema.json() == EDGE_SCHEMA_JSON


def test_edges_have_both_endpoints(spark, feeds):
    """Association arrays holding a null element or a null id emit no
    edge: every edge has a from_id and a to_id."""
    import pyspark.sql.functions as F

    _, edges = transform_all(_edge_case_feeds(spark, feeds))
    dangling = edges.where(F.col("from_id").isNull() | F.col("to_id").isNull())
    assert dangling.collect() == []


def _feed_scans(df) -> dict[str, int]:
    """File-scan leaves of ``df``'s optimized plan, counted per feed
    directory name."""
    import os

    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    out: dict[str, int] = {}
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() == "LogicalRelation":
            feed = os.path.basename(str(leaf.relation().location().rootPaths().apply(0)))
            out[feed] = out.get(feed, 0) + 1
    return out


def test_edge_plan_scans_each_feed_once(spark, feeds, tmp_path):
    """Every bronze feed that emits edges is read once by the edge
    plan; contacts is read once more, as the email dimension of the
    single resolve join. Users emit no edges."""
    from hubspot_neo4j_pipeline_spark.pipeline import read_all_feeds

    for name, df in feeds.items():
        df.write.json(str(tmp_path / name))
    _, edges = transform_all(read_all_feeds(spark, str(tmp_path)))
    assert _feed_scans(edges) == {
        "contacts": 2,
        "companies": 1,
        "deals": 1,
        "engagements": 1,
        "email_events": 1,
        "form_submissions": 1,
    }
    assert _sorted_edges(edges) == sorted(FIXTURE_EDGES, key=repr)
