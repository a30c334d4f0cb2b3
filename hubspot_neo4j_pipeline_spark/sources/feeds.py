"""Bronze-layer entity feed schemas + readers (SURVEY.md §2.1 S1-S10).

The reference extracts 7 CRM entity collections from paginated REST
APIs into JSON files (extractors/*.py, main.py:52-92). Spark-first
restatement: the feed is whatever lands in storage (JSON lines or
parquet); these StructTypes pin the shape the transforms expect, with
the dynamic property bag as map<string,string> — the reference's fixed
property projections (config/neo4j_schema.py:96-114) happen at the
silver transform, so bronze stays schema-flexible.

Predicate/column pushdown: readers take optional `columns` and
`where` so Catalyst prunes at the scan — the Spark analog of the
Search-API filter_groups pushdown (extractors/base_extractor.py:106-114)
and fixed property-list projection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_ID_ASSOC = T.ArrayType(T.StructType([T.StructField("id", T.StringType())]))

CONTACTS_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("properties", T.MapType(T.StringType(), T.StringType())),
        T.StructField(
            "associations",
            T.StructType([T.StructField("deals", _ID_ASSOC)]),
        ),
        T.StructField("created_at", T.StringType()),
        T.StructField("updated_at", T.StringType()),
    ]
)

COMPANIES_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("properties", T.MapType(T.StringType(), T.StringType())),
    ]
)

DEALS_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("properties", T.MapType(T.StringType(), T.StringType())),
        T.StructField(
            "associations",
            T.StructType(
                [
                    T.StructField("companies", _ID_ASSOC),
                    T.StructField("contacts", _ID_ASSOC),
                ]
            ),
        ),
    ]
)

ENGAGEMENTS_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("properties", T.MapType(T.StringType(), T.StringType())),
        T.StructField(
            "associations",
            T.StructType(
                [
                    T.StructField("contacts", _ID_ASSOC),
                    T.StructField("companies", _ID_ASSOC),
                    T.StructField("deals", _ID_ASSOC),
                ]
            ),
        ),
    ]
)

USERS_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("email", T.StringType()),
        T.StructField("first_name", T.StringType()),
        T.StructField("last_name", T.StringType()),
        T.StructField("archived", T.BooleanType()),
        T.StructField("user_id", T.StringType()),
        T.StructField(
            "teams",
            T.ArrayType(T.StructType([T.StructField("name", T.StringType())])),
        ),
        T.StructField("created_at", T.StringType()),
        T.StructField("updated_at", T.StringType()),
    ]
)

EMAIL_EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("recipient", T.StringType()),
        T.StructField("created", T.StringType()),  # epoch-ms or ISO
        T.StructField("emailCampaignId", T.StringType()),
        T.StructField("emailCampaignName", T.StringType()),
        T.StructField("subject", T.StringType()),
        T.StructField("deviceType", T.StringType()),
        T.StructField(
            "location", T.StructType([T.StructField("city", T.StringType())])
        ),
        T.StructField("userAgent", T.StringType()),
        T.StructField("url", T.StringType()),
    ]
)

FORM_SUBMISSIONS_SCHEMA = T.StructType(
    [
        T.StructField("form_guid", T.StringType()),
        T.StructField("form_name", T.StringType()),
        T.StructField("submitted_at", T.LongType()),  # epoch-ms
        T.StructField("page_url", T.StringType()),
        T.StructField("page_title", T.StringType()),
        T.StructField("ip_address", T.StringType()),
        T.StructField(
            "values",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("name", T.StringType()),
                        T.StructField("value", T.StringType()),
                    ]
                )
            ),
        ),
    ]
)

FEED_SCHEMAS = {
    "contacts": CONTACTS_SCHEMA,
    "companies": COMPANIES_SCHEMA,
    "deals": DEALS_SCHEMA,
    "engagements": ENGAGEMENTS_SCHEMA,
    "users": USERS_SCHEMA,
    "email_events": EMAIL_EVENTS_SCHEMA,
    "form_submissions": FORM_SUBMISSIONS_SCHEMA,
}


def read_feed(
    spark: SparkSession,
    path: str,
    feed: str,
    columns: list[str] | None = None,
    where: str | None = None,
    keep_corrupt: bool = False,
) -> DataFrame:
    """Read a bronze entity feed (JSON lines or parquet by extension).

    `columns`/`where` reach the scan as pruning/pushdown — the Spark
    analog of the reference's property-list + filter_groups pushdown.

    `keep_corrupt=True` (JSON only) runs PERMISSIVE with an explicit
    `_corrupt_record` column: malformed lines land there verbatim with
    every schema field null, instead of silently degrading — route them
    to a quarantine sink and keep the pipeline running (the reference
    retries/raises per API page; a 100 TB batch can't stop per bad row).
    """
    schema = FEED_SCHEMAS[feed]
    if path.endswith((".parquet", ".pq")) or "parquet" in path:
        df = spark.read.schema(schema).parquet(path)
    elif keep_corrupt:
        # a new StructType: .add would append to the shared FEED_SCHEMAS entry
        with_corrupt = T.StructType(
            [*schema.fields, T.StructField("_corrupt_record", T.StringType())]
        )
        df = (
            spark.read.schema(with_corrupt)
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", "_corrupt_record")
            .json(path)
        )
    else:
        df = spark.read.schema(schema).json(path)
    if where:
        df = df.where(where)
    if columns:
        df = df.select(*columns)
    return df


def normalize_associations(col) -> F.Column:
    """S10 association flattener: heterogeneous payloads → array of id
    strings (base_extractor.py:224-260). Accepts array<struct<id>>."""
    return F.transform(col, lambda a: a["id"].cast("string"))
