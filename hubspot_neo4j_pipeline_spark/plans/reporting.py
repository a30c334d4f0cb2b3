"""CRM-facing reporting query library — the reference's user surface
(reporting/queries.py, query_ownership.py, query_temporal.py,
README.md analytics examples) re-expressed as parameterized DataFrame
functions over the silver node/edge tables produced by
``operators.transforms.transform_all`` and ``operators.scd2``.

A user of the reference runs `report.py --owner ... --type contacts`;
here the same report is ``contacts_by_owner(g, "Smith")``. Every
function cites its Cypher source so parity is line-checkable.

Conventions:
- ``g`` is a ``GraphTables`` (node DataFrames by label + one edge
  DataFrame with rel_type / from_id / to_id).
- Owner-name matching is CONTAINS on first/last name, as the
  reference's `$owner_name` parameter (reporting/queries.py:20-21).
- "now" defaults to the max event timestamp in the queried table
  (deterministic); pass ``now=`` for wall-clock behavior.
- The user/owner table is always broadcast (bounded: a CRM portal has
  10²-10³ users); event/fact tables are never broadcast.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.cleaning import name_concat


@dataclass
class GraphTables:
    nodes: dict[str, DataFrame]
    edges: DataFrame

    def n(self, label: str) -> DataFrame:
        return self.nodes[label]

    def e(self, rel_type: str) -> DataFrame:
        return self.edges.where(F.col("rel_type") == rel_type)


def _owner_match(users: DataFrame, pattern: str) -> DataFrame:
    """CONTAINS match on first/last name (reporting/queries.py:20-21)."""
    return users.where(
        F.col("first_name").contains(pattern) | F.col("last_name").contains(pattern)
    )


def _owned(g: GraphTables, entity_label: str, users: DataFrame) -> DataFrame:
    """entity ⋈ OWNED_BY ⋈ users (J7 traversal), users side broadcast."""
    owned_by = g.e("OWNED_BY").where(F.col("from_type") == entity_label)
    ent = g.n(entity_label)
    return (
        ent.join(owned_by, ent.hubspot_id == owned_by.from_id)
        .join(
            F.broadcast(
                users.select(
                    F.col("hubspot_id").alias("_uid"),
                    F.col("email").alias("owner_email"),
                    name_concat("first_name", "last_name").alias("owner_name"),
                    F.col("active").alias("owner_active"),
                )
            ),
            F.col("to_id") == F.col("_uid"),
        )
        .drop("_uid", "rel_type", "from_type", "from_id", "to_type", "to_id",
              "from_email", "properties")
    )


# -- reporting/queries.py ---------------------------------------------------


def contacts_by_owner(g: GraphTables, owner_name: str) -> DataFrame:
    """Ref reporting/queries.py:18-34."""
    users = _owner_match(g.n("HUBSPOT_User"), owner_name)
    return _owned(g, "HUBSPOT_Contact", users).select(
        "owner_email",
        "owner_name",
        F.col("hubspot_id").alias("contact_id"),
        F.col("email").alias("contact_email"),
        F.col("first_name").alias("contact_first_name"),
        F.col("last_name").alias("contact_last_name"),
        "job_title",
        "lifecycle_stage",
        "created_date",
        "last_modified",
    ).orderBy(F.desc("created_date"))


def companies_by_owner(g: GraphTables, owner_name: str) -> DataFrame:
    """Ref reporting/queries.py:46-65."""
    users = _owner_match(g.n("HUBSPOT_User"), owner_name)
    return _owned(g, "HUBSPOT_Company", users).select(
        "owner_email",
        "owner_name",
        F.col("hubspot_id").alias("company_id"),
        F.col("name").alias("company_name"),
        "domain",
        "industry",
        "employee_count",
        "annual_revenue",
        "city",
        "state",
        "country",
        "created_date",
        "last_modified",
    ).orderBy(F.desc("created_date"))


def deals_by_owner(g: GraphTables, owner_name: str) -> DataFrame:
    """Ref reporting/queries.py:77-93."""
    users = _owner_match(g.n("HUBSPOT_User"), owner_name)
    return _owned(g, "HUBSPOT_Deal", users).select(
        "owner_email",
        "owner_name",
        F.col("hubspot_id").alias("deal_id"),
        F.col("name").alias("deal_name"),
        "amount",
        "stage",
        "pipeline",
        "close_date",
        "created_date",
        "last_modified",
    ).orderBy(F.desc("created_date"))


def _ownership_counts(g: GraphTables, users: DataFrame) -> DataFrame:
    """Per-owner distinct entity counts (the reference's
    count(DISTINCT)) from one distinct over the OWNED_BY edges and one
    per-owner aggregate of label-conditioned counts, broadcast-joined to
    the owners (no OPTIONAL MATCH fan-out)."""
    labels = [
        ("HUBSPOT_Contact", "contacts_owned"),
        ("HUBSPOT_Company", "companies_owned"),
        ("HUBSPOT_Deal", "deals_owned"),
    ]
    per_owner = (
        g.e("OWNED_BY")
        .where(F.col("from_id").isNotNull())
        .select("to_id", "from_type", "from_id")
        .distinct()
        .groupBy("to_id")
        .agg(
            *[
                F.count(F.when(F.col("from_type") == label, 1)).alias(alias)
                for label, alias in labels
            ]
        )
    )
    out = users.select(
        "hubspot_id",
        F.col("email").alias("owner_email"),
        name_concat("first_name", "last_name").alias("owner_name"),
        "active",
    )
    return out.join(
        F.broadcast(per_owner), out.hubspot_id == per_owner.to_id, "left"
    ).select(
        *out.columns, *[F.coalesce(alias, F.lit(0)).alias(alias) for _, alias in labels]
    )


def owner_summary(g: GraphTables, owner_name: str) -> DataFrame:
    """Ref reporting/queries.py:105-119."""
    users = _owner_match(g.n("HUBSPOT_User"), owner_name)
    return _ownership_counts(g, users).drop("hubspot_id")


def all_owners_summary(g: GraphTables) -> DataFrame:
    """Ref reporting/queries.py:128-141."""
    return (
        _ownership_counts(g, g.n("HUBSPOT_User"))
        .drop("hubspot_id")
        .orderBy(F.desc("contacts_owned"))
    )


def contacts_by_lifecycle_stage(g: GraphTables) -> DataFrame:
    """Ref reporting/queries.py:150-156."""
    return (
        g.n("HUBSPOT_Contact")
        .groupBy("lifecycle_stage")
        .agg(F.count("*").alias("count"))
        .orderBy(F.desc("count"))
    )


def companies_by_industry(g: GraphTables) -> DataFrame:
    """Ref reporting/queries.py:165-172."""
    return (
        g.n("HUBSPOT_Company")
        .where(F.col("industry").isNotNull() & (F.col("industry") != ""))
        .groupBy("industry")
        .agg(F.count("*").alias("count"))
        .orderBy(F.desc("count"))
    )


def _with_now(df: DataFrame, ts_col: str, now: str | None) -> DataFrame:
    """Attach a `_now` column: explicit literal, or the data-derived
    max timestamp joined as a broadcast 1-row aggregate (scale-safe —
    an unpartitioned window would funnel every row through one
    partition)."""
    if now is not None:
        return df.withColumn("_now", F.lit(now).cast("timestamp"))
    anchor = df.agg(F.max(ts_col).alias("_now"))
    return df.join(F.broadcast(anchor))


def recent_form_submissions(
    g: GraphTables, days: int = 30, now: str | None = None
) -> DataFrame:
    """Ref reporting/queries.py:184-196 (SUBMITTED_BY traversal +
    recency window)."""
    subs = g.n("HUBSPOT_FormSubmission")
    sub_by = g.e("SUBMITTED_BY").select(
        F.col("from_id").alias("sub_id"), F.col("to_id").alias("contact_id")
    )
    contacts = g.n("HUBSPOT_Contact").select(
        F.col("hubspot_id").alias("contact_id"),
        F.col("email").alias("contact_email"),
        name_concat("first_name", "last_name").alias("contact_name"),
    )
    anchored = _with_now(subs, "timestamp", now)
    return (
        anchored.where(
            F.col("timestamp") >= F.col("_now") - F.expr(f"INTERVAL {days} DAYS")
        )
        .join(sub_by, anchored.hubspot_id == sub_by.sub_id)
        .join(contacts, "contact_id")
        .select(
            "contact_email",
            "contact_name",
            F.col("form_guid").alias("form_id"),
            F.col("form_name").alias("form_title"),
            F.col("timestamp").alias("submission_date"),
        )
        .orderBy(F.desc("submission_date"))
    )


def recent_email_activity(
    g: GraphTables, days: int = 30, now: str | None = None
) -> DataFrame:
    """Ref reporting/queries.py:203-219: PERFORMED events in window,
    with owner attached."""
    opens = g.n("HUBSPOT_EmailOpenEvent").withColumn(
        "event_type", F.lit("HUBSPOT_EmailOpenEvent")
    )
    clicks = g.n("HUBSPOT_EmailClickEvent").withColumn(
        "event_type", F.lit("HUBSPOT_EmailClickEvent")
    )
    events = opens.unionByName(clicks.drop("clicked_url"))
    performed = g.e("PERFORMED").select(
        F.col("from_id").alias("contact_id"), F.col("to_id").alias("event_id")
    )
    contacts = g.n("HUBSPOT_Contact").select(
        F.col("hubspot_id").alias("contact_id"),
        F.col("email").alias("contact_email"),
        name_concat("first_name", "last_name").alias("contact_name"),
        F.col("owner_id"),
    )
    users = g.n("HUBSPOT_User").select(
        F.col("hubspot_id").alias("_uid"),
        name_concat("first_name", "last_name").alias("owner_name"),
    )
    anchored = _with_now(events, "timestamp", now)
    return (
        anchored.where(
            F.col("timestamp") >= F.col("_now") - F.expr(f"INTERVAL {days} DAYS")
        )
        .join(performed, anchored.hubspot_id == performed.event_id)
        .join(contacts, "contact_id")
        .join(F.broadcast(users), F.col("owner_id") == F.col("_uid"), "left")
        .select(
            "contact_email",
            "contact_name",
            "owner_name",
            "event_type",
            F.col("timestamp").alias("event_date"),
            "campaign_id",
        )
        .orderBy(F.desc("event_date"))
    )


def contacts_with_recent_activity(
    g: GraphTables, owner_name: str, days: int = 30, now: str | None = None
) -> DataFrame:
    """Ref reporting/queries.py:227-246 (activity count + HAVING > 0)."""
    owned = _owned(
        g, "HUBSPOT_Contact", _owner_match(g.n("HUBSPOT_User"), owner_name)
    ).select(
        F.col("hubspot_id").alias("contact_id"),
        F.col("email").alias("contact_email"),
        name_concat("first_name", "last_name").alias("contact_name"),
        "lifecycle_stage",
        "owner_email",
    )
    opens = g.n("HUBSPOT_EmailOpenEvent").select("hubspot_id", "timestamp")
    clicks = g.n("HUBSPOT_EmailClickEvent").select("hubspot_id", "timestamp")
    subs = g.n("HUBSPOT_FormSubmission").select("hubspot_id", "timestamp")
    events = opens.unionByName(clicks).unionByName(subs)
    anchored = _with_now(events, "timestamp", now)
    recent = anchored.where(
        F.col("timestamp") >= F.col("_now") - F.expr(f"INTERVAL {days} DAYS")
    )
    touch = g.edges.where(
        F.col("rel_type").isin("PERFORMED", "SUBMITTED_BY")
    ).select(
        F.when(F.col("rel_type") == "SUBMITTED_BY", F.col("to_id"))
        .otherwise(F.col("from_id"))
        .alias("contact_id"),
        F.when(F.col("rel_type") == "SUBMITTED_BY", F.col("from_id"))
        .otherwise(F.col("to_id"))
        .alias("event_id"),
    )
    counts = (
        recent.join(touch, recent.hubspot_id == touch.event_id)
        .groupBy("contact_id")
        .agg(F.count("*").alias("recent_activities"))
        .where(F.col("recent_activities") > 0)
    )
    return (
        owned.join(counts, "contact_id")
        .select(
            "owner_email",
            "contact_email",
            "contact_name",
            "lifecycle_stage",
            "recent_activities",
        )
        .orderBy(F.desc("recent_activities"), "contact_email")
    )


def contact_engagement_history(g: GraphTables, contact_email: str) -> DataFrame:
    """Ref reporting/queries.py:254-270: every engagement edge from one
    contact, ordered by event time."""
    contact = g.n("HUBSPOT_Contact").where(F.col("email") == contact_email)
    edges = g.edges.where(
        F.col("rel_type").isin("PERFORMED", "SUBMITTED_BY", "VISITED")
    ).select(
        "rel_type",
        F.when(F.col("rel_type") == "SUBMITTED_BY", F.col("to_id"))
        .otherwise(F.col("from_id"))
        .alias("contact_id"),
        F.when(F.col("rel_type") == "SUBMITTED_BY", F.col("from_id"))
        .otherwise(F.col("to_id"))
        .alias("related_id"),
    )
    events = None
    for label in (
        "HUBSPOT_EmailOpenEvent",
        "HUBSPOT_EmailClickEvent",
        "HUBSPOT_FormSubmission",
    ):
        part = g.n(label).select(
            F.col("hubspot_id").alias("related_id"),
            F.lit(label).alias("related_entity_type"),
            "timestamp",
        )
        events = part if events is None else events.unionByName(part)
    return (
        contact.select(
            F.col("hubspot_id").alias("contact_id"),
            F.col("email").alias("contact_email"),
            name_concat("first_name", "last_name").alias("contact_name"),
        )
        .join(edges, "contact_id")
        .join(events, "related_id", "left")
        .select(
            "contact_email",
            "contact_name",
            F.col("rel_type").alias("engagement_type"),
            "related_entity_type",
            "timestamp",
        )
        .orderBy(F.desc_nulls_last("timestamp"))
    )


def find_owner_by_name(g: GraphTables, pattern: str) -> DataFrame:
    """Ref reporting/queries.py:278-293 (owner disambiguation)."""
    u = g.n("HUBSPOT_User")
    return u.where(
        F.col("first_name").contains(pattern)
        | F.col("last_name").contains(pattern)
        | F.col("email").contains(pattern)
    ).select(
        F.col("hubspot_id").alias("user_id"),
        "email",
        "first_name",
        "last_name",
        "active",
        "teams",
    )


def contacts_companies_by_owner_combined(
    g: GraphTables, owner_name: str
) -> DataFrame:
    """Ref reporting/queries.py:298-334 (intent: two filtered
    projections, unionByName, sort — the original Cypher is
    syntactically dubious; see SURVEY.md §7.6)."""
    users = _owner_match(g.n("HUBSPOT_User"), owner_name)
    contacts = _owned(g, "HUBSPOT_Contact", users).select(
        F.lit("Contact").alias("entity_type"),
        F.col("email").alias("identifier"),
        name_concat("first_name", "last_name").alias("name"),
        F.col("lifecycle_stage").alias("status"),
        "created_date",
        "owner_name",
        "owner_email",
    )
    companies = _owned(g, "HUBSPOT_Company", users).select(
        F.lit("Company").alias("entity_type"),
        F.col("domain").alias("identifier"),
        "name",
        F.col("industry").alias("status"),
        "created_date",
        "owner_name",
        "owner_email",
    )
    return contacts.unionByName(companies).orderBy(F.desc_nulls_last("created_date"))


# -- query_ownership.py -----------------------------------------------------


def get_all_ownerships(g: GraphTables) -> DataFrame:
    """Ref query_ownership.py:91-108: per-owner portfolio incl. total
    pipeline value, ordered by value."""
    deals_value = (
        g.e("OWNED_BY")
        .where(F.col("from_type") == "HUBSPOT_Deal")
        .join(
            g.n("HUBSPOT_Deal").select(
                F.col("hubspot_id").alias("from_id"),
                F.col("amount").cast("decimal(18,2)").alias("_amt"),
            ),
            "from_id",
        )
        .groupBy("to_id")
        .agg(F.sum("_amt").cast("double").alias("total_pipeline_value"))
    )
    base = _ownership_counts(g, g.n("HUBSPOT_User"))
    return (
        base.join(F.broadcast(deals_value), base.hubspot_id == deals_value.to_id, "left")
        .drop("to_id", "hubspot_id")
        .withColumn(
            "total_pipeline_value", F.coalesce("total_pipeline_value", F.lit(0.0))
        )
        .orderBy(F.desc("total_pipeline_value"))
    )


def get_user_ownership(g: GraphTables, user_email: str) -> DataFrame:
    """Ref query_ownership.py:70-89: one owner's full portfolio with
    collected entity-name lists (capped at 10, ordered — A5/A6) and
    total pipeline value."""
    user = g.n("HUBSPOT_User").where(F.col("email") == user_email)
    out = user.select(
        "hubspot_id",
        name_concat("first_name", "last_name").alias("owner"),
        F.col("email").alias("owner_email"),
    )
    for label, name_col, list_alias in [
        ("HUBSPOT_Contact", F.concat_ws(" ", "first_name", "last_name"), "contacts"),
        ("HUBSPOT_Company", F.col("name"), "companies"),
        ("HUBSPOT_Deal", F.col("name"), "deals"),
    ]:
        ent = g.n(label).select(
            F.col("hubspot_id").alias("from_id"), name_col.alias("_n")
        )
        per_owner = (
            g.e("OWNED_BY")
            .where(F.col("from_type") == label)
            .join(ent, "from_id")
            .groupBy(F.col("to_id"))
            .agg(
                F.slice(F.sort_array(F.collect_list("_n")), 1, 10).alias(list_alias)
            )
        )
        out = out.join(
            F.broadcast(per_owner), out.hubspot_id == per_owner.to_id, "left"
        ).drop("to_id")
    deal_value = (
        g.e("OWNED_BY")
        .where(F.col("from_type") == "HUBSPOT_Deal")
        .join(
            g.n("HUBSPOT_Deal").select(
                F.col("hubspot_id").alias("from_id"),
                F.col("amount").cast("decimal(18,2)").alias("_amt"),
            ),
            "from_id",
        )
        .groupBy("to_id")
        .agg(F.sum("_amt").cast("double").alias("total_pipeline_value"))
    )
    return (
        out.join(F.broadcast(deal_value), out.hubspot_id == deal_value.to_id, "left")
        .drop("to_id", "hubspot_id")
        .withColumn(
            "total_pipeline_value", F.coalesce("total_pipeline_value", F.lit(0.0))
        )
    )


def get_contacts_with_owners(g: GraphTables, limit: int = 100) -> DataFrame:
    """Ref query_ownership.py:110-122."""
    return (
        _owned(g, "HUBSPOT_Contact", g.n("HUBSPOT_User"))
        .select(
            name_concat("first_name", "last_name").alias("contact_name"),
            F.col("email").alias("contact_email"),
            "lifecycle_stage",
            "owner_name",
            "owner_email",
        )
        .orderBy("contact_email")
        .limit(limit)
    )


def get_companies_with_owners(g: GraphTables, limit: int = 100) -> DataFrame:
    """Ref query_ownership.py:124-136."""
    return (
        _owned(g, "HUBSPOT_Company", g.n("HUBSPOT_User"))
        .select(
            F.col("name").alias("company_name"),
            "domain",
            "industry",
            "owner_name",
            "owner_email",
        )
        .orderBy("company_name")
        .limit(limit)
    )


def get_deals_with_owners(g: GraphTables, limit: int = 100) -> DataFrame:
    """Ref query_ownership.py:138-152 (top deals with owner names)."""
    return (
        _owned(g, "HUBSPOT_Deal", g.n("HUBSPOT_User"))
        .select(
            F.col("name").alias("deal_name"),
            "amount",
            "stage",
            "owner_name",
            "owner_email",
        )
        .orderBy(F.desc("amount"), "deal_name")
        .limit(limit)
    )


def get_contact_owner(g: GraphTables, email: str) -> DataFrame:
    """Ref query_ownership.py:24-37: who owns this contact?"""
    return (
        _owned(g, "HUBSPOT_Contact", g.n("HUBSPOT_User"))
        .where(F.col("email") == email)
        .select(
            F.col("email").alias("contact_email"),
            name_concat("first_name", "last_name").alias("contact_name"),
            "owner_name",
            "owner_email",
        )
    )


def get_company_owner(g: GraphTables, company_name: str) -> DataFrame:
    """Ref query_ownership.py:39-52."""
    return (
        _owned(g, "HUBSPOT_Company", g.n("HUBSPOT_User"))
        .where(F.col("name") == company_name)
        .select(
            F.col("name").alias("company_name"), "domain", "owner_name", "owner_email"
        )
    )


def get_deal_owner(g: GraphTables, deal_name: str) -> DataFrame:
    """Ref query_ownership.py:54-67."""
    return (
        _owned(g, "HUBSPOT_Deal", g.n("HUBSPOT_User"))
        .where(F.col("name") == deal_name)
        .select(
            F.col("name").alias("deal_name"), "amount", "stage",
            "owner_name", "owner_email",
        )
    )


# -- README.md analytics examples ------------------------------------------


def deals_by_company(g: GraphTables, top: int = 10) -> DataFrame:
    """Ref README.md:341-346, main.py:170-172 (flagship roll-up)."""
    belongs = g.e("BELONGS_TO").select(
        F.col("from_id").alias("deal_id"), F.col("to_id").alias("company_id")
    )
    deals = g.n("HUBSPOT_Deal").select(
        F.col("hubspot_id").alias("deal_id"),
        F.col("amount").cast("decimal(18,2)").alias("_amt"),
        F.col("name").alias("deal_name"),
    )
    companies = g.n("HUBSPOT_Company").select(
        F.col("hubspot_id").alias("company_id"), F.col("name").alias("company_name")
    )
    return (
        deals.join(belongs, "deal_id")
        .join(companies, "company_id")
        .groupBy("company_id", "company_name")
        .agg(
            F.count("*").alias("deal_count"),
            F.sum("_amt").cast("double").alias("total_value"),
            F.slice(F.sort_array(F.collect_list("deal_name")), 1, 10).alias("deals"),
        )
        .orderBy(F.desc("total_value"), "company_id")
        .limit(top)
    )


def engaged_contacts(g: GraphTables) -> DataFrame:
    """Ref README.md:298-312: contacts with any engagement (OR of
    EXISTS → union of semi-joins)."""
    contacts = g.n("HUBSPOT_Contact")
    performed = g.e("PERFORMED").select(F.col("from_id").alias("cid"))
    submitted = g.e("SUBMITTED_BY").select(F.col("to_id").alias("cid"))
    involved = g.e("INVOLVES").where(
        F.col("to_type") == "HUBSPOT_Contact"
    ).select(F.col("to_id").alias("cid"))
    engaged_ids = performed.unionByName(submitted).unionByName(involved).distinct()
    return contacts.join(
        engaged_ids, contacts.hubspot_id == engaged_ids.cid, "left_semi"
    ).select(
        F.col("hubspot_id").alias("contact_id"),
        F.col("email").alias("contact_email"),
        name_concat("first_name", "last_name").alias("contact_name"),
        "lifecycle_stage",
    )


def contacts_without_company(g: GraphTables) -> DataFrame:
    """Ref README.md:375-381 (NOT EXISTS WORKS_AT)."""
    contacts = g.n("HUBSPOT_Contact")
    works_at = g.e("WORKS_AT").select(F.col("from_id").alias("cid"))
    return contacts.join(
        works_at, contacts.hubspot_id == works_at.cid, "left_anti"
    ).select(
        F.col("hubspot_id").alias("contact_id"),
        F.col("email").alias("contact_email"),
        name_concat("first_name", "last_name").alias("contact_name"),
    )


def conversion_funnel(g: GraphTables, days: int = 30, now: str | None = None) -> DataFrame:
    """Ref README.md:314-336: per-stage distinct contact counts +
    conversion rate (deterministic floor-rate; 0.0 with no contacts).

    One distinct over (stage, contact) rows, then one global aggregate
    of stage-conditioned counts."""
    performed = g.e("PERFORMED").select("to_id", F.col("from_id").alias("cid"))

    def performed_on(label: str) -> DataFrame:
        events = g.n(label).select(F.col("hubspot_id").alias("to_id"))
        return performed.join(events, "to_id", "left_semi").select("cid")

    stages = [
        ("total_contacts", g.n("HUBSPOT_Contact").select(F.col("hubspot_id").alias("cid"))),
        ("opened", performed_on("HUBSPOT_EmailOpenEvent")),
        ("clicked", performed_on("HUBSPOT_EmailClickEvent")),
        ("submitted", g.e("SUBMITTED_BY").select(F.col("to_id").alias("cid"))),
    ]
    tagged = None
    for i, (_, ids) in enumerate(stages):
        part = ids.select(F.lit(i).alias("_stage"), "cid")
        tagged = part if tagged is None else tagged.unionByName(part)
    out = tagged.distinct().agg(
        *[
            F.count(F.when(F.col("_stage") == i, F.col("cid"))).alias(name)
            for i, (name, _) in enumerate(stages)
        ]
    )
    rate = F.when(
        F.col("total_contacts") > 0,
        F.floor(F.col("submitted") * 1000000.0 / F.col("total_contacts")) / 10000.0,
    ).otherwise(F.lit(0.0))
    return out.withColumn("conversion_rate_pct", rate)


def campaign_performance(g: GraphTables) -> DataFrame:
    """Ref README.md:348-355: per-campaign opens/clicks + CTR, from one
    aggregate over opens ∪ clicks."""
    opened = F.col("_open")
    events = (
        g.n("HUBSPOT_EmailOpenEvent")
        .select("campaign_id", "timestamp", F.lit(True).alias("_open"))
        .unionByName(
            g.n("HUBSPOT_EmailClickEvent").select(
                "campaign_id", "timestamp", F.lit(False).alias("_open")
            )
        )
    )
    stats = events.groupBy("campaign_id").agg(
        F.count(F.when(opened, 1)).alias("opens"),
        F.min(F.when(opened, F.col("timestamp"))).alias("first_open"),
        F.max(F.when(opened, F.col("timestamp"))).alias("last_open"),
        F.count(F.when(~opened, 1)).alias("clicks"),
    )
    campaigns = g.n("HUBSPOT_EmailCampaign").select(
        F.col("hubspot_id").alias("campaign_id"), F.col("name").alias("campaign_name")
    )
    joined = campaigns.join(stats, "campaign_id", "left").fillna(
        0, subset=["opens", "clicks"]
    )
    ctr = F.when(
        F.col("opens") > 0,
        F.floor(F.col("clicks") * 1000000.0 / F.col("opens")) / 10000.0,
    ).otherwise(F.lit(0.0))
    return joined.withColumn("click_rate_pct", ctr).orderBy(
        F.desc("opens"), "campaign_id"
    )
