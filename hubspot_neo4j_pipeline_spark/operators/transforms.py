"""Bronze→silver entity transforms (SURVEY.md §2.2 P1-P8): whole-column
re-expressions of the reference's record-at-a-time loops
(graph_transformer.py:64-577).

Every transform is a pure ``DataFrame → (node_df, edge_df)`` function.
Edges share one schema so they union into a single partitioned edge
table:

    rel_type, from_type, from_id, to_type, to_id, from_email, properties

One scan per feed. The reference emits all of a record's relationships
while it visits that record (graph_transformer.py:131-138); here each
feed's edges come from ONE projection over that feed: every edge rule
is an array of edge structs (``_edge``) -- a property-gated edge is
``when(cond, struct)`` (``_if``), an association fan-out is
``transform(associations.x, ...)`` (``_each``) -- and ``_edges_of``
concatenates them, drops the gated-out nulls and ``inline``s the rest.
The email events' PERFORMED, FOR_CAMPAIGN and CLICKED_URL edges come
from one pass over the filtered events. A rule per ``select`` +
``unionByName`` instead re-reads and re-parses the feed once per
relationship type: 20 JSON scans and 18 union branches for the 7 feeds,
each its own codegen stage and task.

``from_email`` is set only on email-matched edges (PERFORMED, and
SUBMITTED_BY before resolution): the email of the edge's contact end,
whose id is left null. ``resolve_email_edges`` fills those ids with ONE
broadcast left join of the whole edge union on the contact dimension
and drops the email edges that match no contact -- the Spark
restatement of the in-memory dict probe at graph_transformer.py:501-506
and the Cypher email MATCH at loaders/temporal_loader.py:388-394.
Id-keyed edges pass through the join unmatched and unchanged.

Reference null conventions preserved exactly: missing string → '',
unparseable numeric → 0/0.0, bool from 'true' string compare.
Cross-entity ordering dependencies in the reference (form submissions
need contacts already transformed) disappear — matching is a join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.cleaning import (
    clean_domain,
    clean_email,
    deterministic_event_id,
    extract_email_from_values,
    parse_date_lenient,
    safe_float,
    safe_int,
)

EDGE_COLUMNS = (
    "rel_type",
    "from_type",
    "from_id",
    "to_type",
    "to_id",
    "from_email",
    "properties",
)

# Edge types excluded from change tracking live in operators.scd2
# (IMMUTABLE_EDGE_TYPES) — single source of truth.


def _p(name: str) -> Column:
    """properties map lookup, '' when missing (reference convention)."""
    return F.coalesce(F.col("properties").getItem(name), F.lit(""))


def _p_raw(name: str) -> Column:
    return F.col("properties").getItem(name)


def _present(c: Column) -> Column:
    return c.isNotNull() & (c != "")


def _edge(
    rel_type: str,
    from_type: str | Column,
    from_id: Column,
    to_type: str | Column,
    to_id: Column,
    from_email: Column | None = None,
    properties: Column | None = None,
) -> Column:
    """One edge as a struct with the EDGE_COLUMNS fields; node types are
    literals or, for one pass over several node kinds, columns."""

    def node_type(t: str | Column) -> Column:
        return F.lit(t) if isinstance(t, str) else t

    return F.struct(
        F.lit(rel_type).alias("rel_type"),
        node_type(from_type).alias("from_type"),
        from_id.cast("string").alias("from_id"),
        node_type(to_type).alias("to_type"),
        to_id.cast("string").alias("to_id"),
        (from_email if from_email is not None else F.lit(None).cast("string")).alias(
            "from_email"
        ),
        (
            properties
            if properties is not None
            else F.lit(None).cast("map<string,string>")
        ).alias("properties"),
    )


def _if(cond: Column, edge: Column) -> Column:
    """A property-gated edge: a one-element array whose element is null
    when ``cond`` does not hold."""
    return F.array(F.when(cond, edge))


def _each(assoc: str, edge) -> Column:
    """One edge per element of the association array ``assoc`` (built by
    ``edge(element)``); none when the array is null. A null element or
    one with a null ``id`` has no endpoint and emits no edge."""
    linked = F.filter(assoc, lambda a: a["id"].isNotNull())
    return F.coalesce(F.transform(linked, edge), F.array())


def _edges_of(df: DataFrame, *rules: Column) -> DataFrame:
    """All edges of a feed in one projection: the rules' edge arrays
    concatenated, gated-out nulls dropped, one row per edge."""
    return df.select(F.inline(F.array_compact(F.concat(*rules))))


def empty_edges(spark) -> DataFrame:
    return spark.createDataFrame(
        [],
        "rel_type string, from_type string, from_id string, to_type string, "
        "to_id string, from_email string, properties map<string,string>",
    )


def union_edges(*edge_dfs: DataFrame) -> DataFrame:
    out = edge_dfs[0]
    for e in edge_dfs[1:]:
        out = out.unionByName(e)
    return out


# -- P4: users (graph_transformer.py:64-92) ---------------------------------


def transform_users(users: DataFrame) -> DataFrame:
    archived = F.coalesce(F.col("archived"), F.lit(False))
    node = users.select(
        F.col("id").cast("string").alias("hubspot_id"),
        clean_email("email").alias("email"),
        F.coalesce("first_name", F.lit("")).alias("first_name"),
        F.coalesce("last_name", F.lit("")).alias("last_name"),
        (~archived).alias("active"),
        archived.alias("archived"),
        parse_date_lenient("created_at").alias("created_date"),
        parse_date_lenient("updated_at").alias("last_modified"),
        F.coalesce(F.col("user_id").cast("string"), F.lit("")).alias("user_id"),
        F.when(
            F.col("teams").isNotNull(),
            F.array_join(F.transform("teams", lambda t: F.coalesce(t["name"], F.lit(""))), ", "),
        )
        .otherwise(F.lit(""))
        .alias("teams"),
    )
    return node


# -- P1: contacts + 4 edge types (graph_transformer.py:94-180) --------------


def transform_contacts(contacts: DataFrame) -> tuple[DataFrame, DataFrame]:
    node = contacts.select(
        F.col("id").cast("string").alias("hubspot_id"),
        clean_email(_p_raw("email")).alias("email"),
        _p("firstname").alias("first_name"),
        _p("lastname").alias("last_name"),
        _p("jobtitle").alias("job_title"),
        _p("lifecyclestage").alias("lifecycle_stage"),
        parse_date_lenient(_p_raw("createdate")).alias("created_date"),
        parse_date_lenient(_p_raw("lastmodifieddate")).alias("last_modified"),
        _p("hubspot_owner_id").alias("owner_id"),
        safe_int(_p_raw("hs_email_open")).alias("total_email_opens"),
        safe_int(_p_raw("hs_email_click")).alias("total_email_clicks"),
        safe_int(_p_raw("hs_analytics_num_visits")).alias("total_page_views"),
        _p("hs_analytics_source").alias("source"),
        _p("hs_analytics_first_url").alias("first_page_seen"),
        _p("country").alias("country"),
        _p("city").alias("city"),
        _p("state").alias("state"),
    )

    cid = F.col("id")
    owner = _p_raw("hubspot_owner_id")
    company = _p_raw("associatedcompanyid")
    last_url = _p_raw("hs_analytics_last_url")
    edges = _edges_of(
        contacts,
        _if(_present(owner), _edge("OWNED_BY", "HUBSPOT_Contact", cid, "HUBSPOT_User", owner)),
        _if(
            _present(company),
            _edge("WORKS_AT", "HUBSPOT_Contact", cid, "HUBSPOT_Company", company),
        ),
        _each(
            "associations.deals",
            lambda d: _edge("ASSOCIATED_WITH", "HUBSPOT_Contact", cid, "HUBSPOT_Deal", d["id"]),
        ),
        _if(
            _present(last_url),
            _edge(
                "VISITED",
                "HUBSPOT_Contact",
                cid,
                "HUBSPOT_WebPage",
                last_url,
                properties=F.map_from_arrays(
                    F.array(F.lit("timestamp"), F.lit("source")),
                    F.array(
                        parse_date_lenient(
                            _p_raw("hs_analytics_last_visit_timestamp")
                        ).cast("string"),
                        F.coalesce(_p_raw("hs_analytics_source"), F.lit("direct")),
                    ),
                ),
            ),
        ),
    )
    return node, edges


# -- P2: companies (graph_transformer.py:182-222) ---------------------------


def transform_companies(companies: DataFrame) -> tuple[DataFrame, DataFrame]:
    node = companies.select(
        F.col("id").cast("string").alias("hubspot_id"),
        _p("name").alias("name"),
        clean_domain(_p_raw("domain")).alias("domain"),
        _p("industry").alias("industry"),
        safe_int(_p_raw("numberofemployees")).alias("employee_count"),
        safe_float(_p_raw("annualrevenue")).alias("annual_revenue"),
        _p("description").alias("description"),
        parse_date_lenient(_p_raw("createdate")).alias("created_date"),
        parse_date_lenient(_p_raw("hs_lastmodifieddate")).alias("last_modified"),
        _p("hubspot_owner_id").alias("owner_id"),
        _p("country").alias("country"),
        _p("city").alias("city"),
        _p("state").alias("state"),
    )
    owner = _p_raw("hubspot_owner_id")
    edges = _edges_of(
        companies,
        _if(
            _present(owner),
            _edge("OWNED_BY", "HUBSPOT_Company", F.col("id"), "HUBSPOT_User", owner),
        ),
    )
    return node, edges


# -- P3: deals + 3 edge types (graph_transformer.py:224-286) ----------------


def transform_deals(deals: DataFrame) -> tuple[DataFrame, DataFrame]:
    node = deals.select(
        F.col("id").cast("string").alias("hubspot_id"),
        _p("dealname").alias("name"),
        safe_float(_p_raw("amount")).alias("amount"),
        _p("dealstage").alias("stage"),
        F.coalesce(_p_raw("pipeline"), F.lit("default")).alias("pipeline"),
        parse_date_lenient(_p_raw("closedate")).alias("close_date"),
        parse_date_lenient(_p_raw("createdate")).alias("created_date"),
        parse_date_lenient(_p_raw("hs_lastmodifieddate")).alias("last_modified"),
        _p("hubspot_owner_id").alias("owner_id"),
        (
            F.lower(F.coalesce(_p_raw("hs_is_closed_won"), F.lit("false"))) == "true"
        ).alias("is_won"),
        safe_float(_p_raw("hs_forecast_probability")).alias("probability"),
    )
    did = F.col("id")
    owner = _p_raw("hubspot_owner_id")
    edges = _edges_of(
        deals,
        _if(_present(owner), _edge("OWNED_BY", "HUBSPOT_Deal", did, "HUBSPOT_User", owner)),
        _each(
            "associations.companies",
            lambda c: _edge("BELONGS_TO", "HUBSPOT_Deal", did, "HUBSPOT_Company", c["id"]),
        ),
        _each(
            "associations.contacts",
            lambda c: _edge("ASSOCIATED_WITH", "HUBSPOT_Contact", c["id"], "HUBSPOT_Deal", did),
        ),
    )
    return node, edges


# -- P5: engagements, type-dispatched (graph_transformer.py:288-368) --------


def transform_engagements(engagements: DataFrame) -> tuple[DataFrame, DataFrame]:
    eng_type = F.coalesce(
        _p_raw("hs_engagement_type"), F.col("properties").getItem("engagement_type"),
        F.lit("UNKNOWN"),
    )
    note_body = F.coalesce(_p_raw("hs_note_body"), F.lit(""))
    node = engagements.select(
        F.col("id").cast("string").alias("hubspot_id"),
        eng_type.alias("type"),
        parse_date_lenient(
            F.coalesce(_p_raw("hs_timestamp"), _p_raw("hs_createdate"))
        ).alias("timestamp"),
        parse_date_lenient(_p_raw("hs_createdate")).alias("created_date"),
        F.when(eng_type == "MEETING", _p("hs_meeting_title"))
        .when(eng_type == "CALL", _p("hs_call_title"))
        .when(eng_type == "NOTE", F.substring(note_body, 1, 200))
        .when(eng_type == "TASK", _p("hs_task_subject"))
        .otherwise(F.lit(""))
        .alias("details"),
        F.when(eng_type == "MEETING", _p("hs_meeting_body"))
        .when(eng_type == "CALL", _p("hs_call_body"))
        .when(eng_type == "NOTE", note_body)
        .when(eng_type == "TASK", _p("hs_task_body"))
        .otherwise(F.lit(""))
        .alias("body"),
        F.when(eng_type == "MEETING", parse_date_lenient(_p_raw("hs_meeting_start_time")))
        .otherwise(F.lit(None).cast("timestamp"))
        .alias("start_time"),
        F.when(eng_type == "MEETING", parse_date_lenient(_p_raw("hs_meeting_end_time")))
        .otherwise(F.lit(None).cast("timestamp"))
        .alias("end_time"),
        F.when(eng_type == "CALL", safe_int(_p_raw("hs_call_duration")))
        .otherwise(F.lit(0))
        .alias("duration"),
        F.when(eng_type == "TASK", _p("hs_task_status"))
        .otherwise(F.lit(""))
        .alias("status"),
    )

    def assoc(field: str, rel: str, to_type: str) -> Column:
        return _each(
            f"associations.{field}",
            lambda a: _edge(rel, "HUBSPOT_Activity", F.col("id"), to_type, a["id"]),
        )

    edges = _edges_of(
        engagements,
        assoc("contacts", "INVOLVES", "HUBSPOT_Contact"),
        assoc("companies", "INVOLVES", "HUBSPOT_Company"),
        assoc("deals", "RELATED_TO", "HUBSPOT_Deal"),
    )
    return node, edges


# -- P6/P7: email events + campaigns + webpages
#    (graph_transformer.py:370-493) ----------------------------------------


def transform_email_events(
    events: DataFrame,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """→ (open_events, click_events, campaigns, edges).

    Filter: recipient present AND type ∈ {OPEN, CLICK}
    (graph_transformer.py:392). Event ids are content hashes, not a
    sequential counter (§7 hard part 3 of SURVEY.md).
    """
    etype = F.coalesce(F.col("event_type"), F.lit("UNKNOWN"))
    kept = events.where(
        F.col("recipient").isNotNull() & etype.isin("OPEN", "CLICK")
    ).withColumn(
        "event_gen_id",
        deterministic_event_id(
            "email_event", etype, F.col("recipient"), F.col("created"),
            F.coalesce(F.col("emailCampaignId"), F.lit("unknown")), F.col("url"),
        ),
    )
    event_id = F.col("event_gen_id")
    campaign_id = F.coalesce(F.col("emailCampaignId").cast("string"), F.lit("unknown"))
    recipient_email = clean_email("recipient")
    url = F.coalesce("url", F.lit(""))
    common = [
        event_id.alias("hubspot_id"),
        parse_date_lenient("created").alias("timestamp"),
        campaign_id.alias("campaign_id"),
        recipient_email.alias("recipient_email"),
        F.coalesce("deviceType", F.lit("")).alias("device_type"),
        F.coalesce(F.col("location.city"), F.lit("")).alias("location"),
        F.coalesce("userAgent", F.lit("")).alias("browser"),
    ]
    is_open = etype == "OPEN"
    opens = kept.where(is_open).select(*common)
    clicks = kept.where(etype == "CLICK").select(*common, url.alias("clicked_url"))

    campaigns = (
        events.where(
            F.col("emailCampaignId").isNotNull()
            & (F.col("emailCampaignId").cast("string") != "unknown")
        )
        .groupBy(F.col("emailCampaignId").cast("string").alias("hubspot_id"))
        .agg(
            F.coalesce(
                F.first("emailCampaignName", ignorenulls=True),
                F.concat(F.lit("Campaign "), F.col("emailCampaignId").cast("string")),
            ).alias("name"),
            F.coalesce(F.first("subject", ignorenulls=True), F.lit("")).alias(
                "subject"
            ),
            F.min(parse_date_lenient(F.col("created"))).alias("sent_date"),
        )
    )

    # kept holds only OPEN and CLICK events
    event_type = F.when(is_open, F.lit("HUBSPOT_EmailOpenEvent")).otherwise(
        F.lit("HUBSPOT_EmailClickEvent")
    )
    edges = _edges_of(
        kept,
        F.array(
            _edge(
                "PERFORMED",
                "HUBSPOT_Contact",
                F.lit(None),
                event_type,
                event_id,
                from_email=recipient_email,
            ),
            _edge("FOR_CAMPAIGN", event_type, event_id, "HUBSPOT_EmailCampaign", campaign_id),
        ),
        _if(
            ~is_open & (url != ""),
            _edge("CLICKED_URL", "HUBSPOT_EmailClickEvent", event_id, "HUBSPOT_WebPage", url),
        ),
    )
    return opens, clicks, campaigns, edges


def derive_webpages(*url_cols: DataFrame) -> DataFrame:
    """P7: distinct URLs → (url, domain, path) via native parse_url
    (graph_transformer.py:477-493). Input frames each have one `url`
    column."""
    urls = url_cols[0]
    for u in url_cols[1:]:
        urls = urls.unionByName(u)
    urls = urls.where(F.col("url").isNotNull() & (F.col("url") != "")).distinct()
    return urls.select(
        F.col("url").alias("hubspot_id"),
        "url",
        F.coalesce(F.parse_url("url", F.lit("HOST")), F.lit("")).alias("domain"),
        F.coalesce(F.parse_url("url", F.lit("PATH")), F.lit("")).alias("path"),
        F.lit("").alias("title"),
    )


# -- P8: form submissions (graph_transformer.py:495-577) --------------------


def _form_submissions(submissions: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Form-submission nodes + ON_PAGE edges and SUBMITTED_BY edges still
    keyed by the submitter's email (contact id null)."""
    subs = submissions.withColumn(
        "email", F.coalesce(extract_email_from_values("values"), F.lit(""))
    ).withColumn(
        "sub_id",
        deterministic_event_id(
            "form_submission", "form_guid", "submitted_at", "email", "page_url"
        ),
    )
    node = subs.select(
        F.col("sub_id").alias("hubspot_id"),
        F.timestamp_millis("submitted_at").alias("timestamp"),
        F.timestamp_millis("submitted_at").alias("created_date"),
        F.coalesce("form_guid", F.lit("")).alias("form_guid"),
        F.coalesce("form_name", F.lit("")).alias("form_name"),
        F.coalesce("page_url", F.lit("")).alias("page_url"),
        F.coalesce("page_title", F.lit("")).alias("page_title"),
        F.coalesce("ip_address", F.lit("")).alias("ip_address"),
        "email",
    )
    sub_id, email, page_url = F.col("sub_id"), F.col("email"), F.col("page_url")
    edges = _edges_of(
        subs,
        _if(
            email != "",
            _edge(
                "SUBMITTED_BY",
                "HUBSPOT_FormSubmission",
                sub_id,
                "HUBSPOT_Contact",
                F.lit(None),
                from_email=email,
            ),
        ),
        _if(
            _present(page_url),
            _edge("ON_PAGE", "HUBSPOT_FormSubmission", sub_id, "HUBSPOT_WebPage", page_url),
        ),
    )
    return node, edges


def transform_form_submissions(
    submissions: DataFrame, contacts_node: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Form-submission nodes + SUBMITTED_BY (email-resolved via
    broadcast join — the reference's in-memory dict probe, J1) and
    ON_PAGE edges."""
    node, edges = _form_submissions(submissions)
    return node, resolve_email_edges(edges, contacts_node)


# -- J1/J2: email-matched edge resolution -----------------------------------


def resolve_email_edges(
    edges: DataFrame, contacts_node: DataFrame, observation=None
) -> DataFrame:
    """Resolve from_email-keyed edges to contact ids via one broadcast
    left join of all ``edges``: a matched edge gets the contact id on
    its null end, an unmatched email edge drops (reference: MATCH fails
    → no edge). Id-keyed edges (null from_email) match nothing and
    pass through untouched.

    Pass a ``pyspark.sql.Observation`` to collect matched/unmatched
    counters over the email-keyed rows in the same job (A11 — the
    Spark-native form of the reference's in-transform counters,
    graph_transformer.py:508-509).
    """
    contact_emails = contacts_node.where(F.col("email") != "").select(
        F.col("email").alias("_ce"), F.col("hubspot_id").alias("_cid")
    )
    joined = edges.join(
        F.broadcast(contact_emails), edges.from_email == F.col("_ce"), "left"
    )
    by_email = F.col("from_email").isNotNull()
    matched = F.col("_cid").isNotNull()
    if observation is not None:
        joined = joined.observe(
            observation,
            F.count(F.when(by_email, 1)).alias("email_edges_total"),
            F.sum(F.when(by_email, F.when(matched, 1).otherwise(0))).alias(
                "email_edges_matched"
            ),
        )
    return joined.where(~by_email | matched).select(
        "rel_type",
        "from_type",
        F.coalesce("from_id", "_cid").alias("from_id"),
        "to_type",
        F.coalesce("to_id", "_cid").alias("to_id"),
        F.lit(None).cast("string").alias("from_email"),  # resolved → id-keyed
        "properties",
    )


# -- Full pipeline ----------------------------------------------------------


def transform_all(feeds: dict[str, DataFrame]) -> tuple[dict[str, DataFrame], DataFrame]:
    """Whole bronze→silver stage (graph_transformer.py:32-62) as one
    declarative plan: 11 node tables + unified edge table with
    email-matched edges resolved. The edge plan reads each feed once
    and the contact feed once more, for the single resolve join."""
    users = transform_users(feeds["users"])
    contacts, c_edges = transform_contacts(feeds["contacts"])
    companies, co_edges = transform_companies(feeds["companies"])
    deals, d_edges = transform_deals(feeds["deals"])
    activities, a_edges = transform_engagements(feeds["engagements"])
    opens, clicks, campaigns, e_edges = transform_email_events(feeds["email_events"])
    forms, f_edges = _form_submissions(feeds["form_submissions"])

    webpages = derive_webpages(
        feeds["contacts"]
        .select(F.col("properties").getItem("hs_analytics_last_url").alias("url")),
        clicks.select(F.col("clicked_url").alias("url")),
        forms.select(F.col("page_url").alias("url")),
    )
    edges = resolve_email_edges(
        union_edges(c_edges, co_edges, d_edges, a_edges, e_edges, f_edges), contacts
    )
    nodes = {
        "HUBSPOT_User": users,
        "HUBSPOT_Contact": contacts,
        "HUBSPOT_Company": companies,
        "HUBSPOT_Deal": deals,
        "HUBSPOT_Activity": activities,
        "HUBSPOT_EmailOpenEvent": opens,
        "HUBSPOT_EmailClickEvent": clicks,
        "HUBSPOT_EmailCampaign": campaigns,
        "HUBSPOT_FormSubmission": forms,
        "HUBSPOT_WebPage": webpages,
    }
    return nodes, edges
