"""Declared silver-layer schemas for the PROX domain tables.

Role model: the reference's hand-declared ``schemas`` dict of
StructTypes (reference glue_scripts/transformations_script.py:34-136)
merged with the v1 DDL columns that the KPI SQL needs
(reference sql/table_creation:1-153; see FIXTURES.md for the merge
rationale). Conventions preserved from the reference:

- keys are opaque integers here (fixtures are synthesis-friendly;
  the reference v2 uses UUID strings — the engine treats keys as
  comparable opaques either way)
- TIME columns are HH:mm:ss strings (Spark has no TIME type;
  reference transformations_script.py:44)
- money is DecimalType(10,2) (reference sql/table_creation:57)
"""

from __future__ import annotations

from pyspark.sql.types import (
    BooleanType,
    DataType,
    DateType,
    DecimalType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)


def _f(name: str, dtype: DataType, nullable: bool = True) -> StructField:
    return StructField(name, dtype, nullable)


SILVER_SCHEMAS: dict[str, StructType] = {
    "users": StructType([
        _f("user_id", LongType(), False),
        _f("email", StringType(), False),
        _f("password", StringType()),
        _f("first_name", StringType()),
        _f("last_name", StringType()),
        _f("role", StringType()),
        _f("profile_picture", StringType()),
        _f("phone_number", StringType()),
        _f("status", StringType()),
        _f("google_id", StringType()),
        _f("created_at", TimestampType()),
        _f("updated_at", TimestampType()),
    ]),
    "service_providers": StructType([
        _f("provider_id", LongType(), False),
        _f("user_id", LongType()),
        _f("business_name", StringType()),
        _f("email", StringType()),
        _f("phone_number", StringType()),
        _f("description", StringType()),
        _f("location", StringType()),
        _f("latitude", DoubleType()),
        _f("longitude", DoubleType()),
        _f("name", StringType()),
        _f("pricing", StringType()),
        _f("verification_status", StringType()),
        _f("is_ai_generated", BooleanType()),
        _f("created_at", TimestampType()),
        _f("updated_at", TimestampType()),
    ]),
    "categories": StructType([
        _f("category_id", LongType(), False),
        _f("category_name", StringType()),
        _f("description", StringType()),
        _f("status", StringType()),
        _f("created_at", TimestampType()),
        _f("updated_at", TimestampType()),
    ]),
    "provider_categories": StructType([
        _f("provider_id", LongType(), False),
        _f("category_id", LongType(), False),
        _f("created_at", TimestampType()),
    ]),
    "services": StructType([
        _f("service_id", LongType(), False),
        _f("provider_id", LongType()),
        _f("category_id", LongType()),
        _f("service_name", StringType()),
        _f("description", StringType()),
        _f("price", DecimalType(10, 2)),
        _f("availability", StringType()),  # opaque JSON text
        _f("created_at", TimestampType()),
        _f("updated_at", TimestampType()),
    ]),
    "bookings": StructType([
        _f("booking_id", LongType(), False),
        _f("service_id", LongType()),
        _f("user_id", LongType()),
        _f("provider_id", LongType()),
        _f("category_id", LongType()),
        _f("quote_id", LongType()),
        _f("description", StringType()),
        _f("location", StringType()),
        _f("status", StringType()),
        _f("scheduled_date", TimestampType()),
        _f("preferred_date", DateType()),
        _f("preferred_time", StringType()),  # TIME -> string
        _f("end_date", DateType()),
        _f("additional_information", StringType()),
        _f("created_at", TimestampType()),
        _f("updated_at", TimestampType()),
    ]),
    "quote_response": StructType([
        _f("quote_response_id", LongType(), False),
        _f("quote_request_id", LongType()),
        _f("provider_id", LongType()),
        _f("seeker_id", LongType()),
        _f("seeker_name", StringType()),
        _f("seeker_phone_number", StringType()),
        _f("service_type", StringType()),  # holds a category_id
        _f("sub_total", DoubleType()),
        _f("tax", DoubleType()),
        _f("total", DoubleType()),
        _f("valid_until", DateType()),
        _f("status", StringType()),
        _f("additional_notes", StringType()),
        _f("created_at", TimestampType()),
        _f("updated_at", TimestampType()),
    ]),
    "quote_item": StructType([
        _f("quote_item_id", LongType(), False),
        _f("quote_response_id", LongType()),
        _f("description", StringType()),
        _f("quantity", IntegerType()),
        _f("price", DoubleType()),
    ]),
    "payment_records": StructType([
        _f("payment_record_id", LongType(), False),
        _f("booking_id", LongType()),
        _f("payment_id", LongType()),
        _f("amount", DecimalType(10, 2)),
        _f("status", StringType()),
        _f("created_at", TimestampType()),
        _f("updated_at", TimestampType()),
    ]),
    "provider_reviews": StructType([
        _f("review_id", LongType(), False),
        _f("provider_id", LongType()),
        _f("user_id", LongType()),
        _f("rating", DoubleType()),
        _f("comment", StringType()),
        _f("is_anonymous", BooleanType()),
        _f("is_reported", BooleanType()),
        _f("created_at", TimestampType()),
    ]),
    "dispute_requests": StructType([
        _f("dispute_id", LongType(), False),
        _f("booking_id", LongType()),
        _f("review_id", LongType()),
        _f("user_id", LongType()),
        _f("reason", StringType()),
        _f("status", StringType()),
        _f("created_at", TimestampType()),
        _f("updated_at", TimestampType()),
    ]),
    "feedback_sentiment": StructType([
        _f("id", LongType(), False),
        _f("sentiment_label", StringType()),
        _f("sentiment_score", DoubleType()),
        _f("is_suspicious", BooleanType()),
    ]),
}

# Primary-key columns per table: dedup keys for the silver layer
# (replaces the reference's all-column dropDuplicates() —
# transformations_script.py:168 — which shuffles full text payloads).
PRIMARY_KEYS: dict[str, list[str]] = {
    "users": ["user_id"],
    "service_providers": ["provider_id"],
    "categories": ["category_id"],
    "provider_categories": ["provider_id", "category_id"],
    "services": ["service_id"],
    "bookings": ["booking_id"],
    "quote_response": ["quote_response_id"],
    "quote_item": ["quote_item_id"],
    "payment_records": ["payment_record_id"],
    "provider_reviews": ["review_id"],
    "dispute_requests": ["dispute_id"],
    "feedback_sentiment": ["id"],
}

# Foreign keys: child table -> [(child_col, parent_table, parent_col)].
# The reference *documents* FK checking but never implements it
# (README.md:55); the checker lives in prox_spark/validate.py.
FOREIGN_KEYS: dict[str, list[tuple[str, str, str]]] = {
    "service_providers": [("user_id", "users", "user_id")],
    "provider_categories": [
        ("provider_id", "service_providers", "provider_id"),
        ("category_id", "categories", "category_id"),
    ],
    "services": [
        ("provider_id", "service_providers", "provider_id"),
        ("category_id", "categories", "category_id"),
    ],
    "bookings": [
        ("service_id", "services", "service_id"),
        ("user_id", "users", "user_id"),
        ("quote_id", "quote_response", "quote_response_id"),
    ],
    "quote_item": [("quote_response_id", "quote_response", "quote_response_id")],
    "payment_records": [("booking_id", "bookings", "booking_id")],
    "provider_reviews": [
        ("provider_id", "service_providers", "provider_id"),
        ("user_id", "users", "user_id"),
    ],
    "dispute_requests": [("booking_id", "bookings", "booking_id")],
    "feedback_sentiment": [("id", "provider_reviews", "review_id")],
}

# The raw ``events`` testdata file (not a silver table): some
# driver-generated testdata writes ``ts`` as INT64
# TIMESTAMP(NANOS), which Spark 4 refuses to read natively; requesting
# it as BIGINT via an explicit schema makes the vectorized reader hand
# over the raw int64 — no session-wide legacy conf needed (the old
# approach mutated spark.sql.legacy.parquet.nanosAsLong as a side
# effect). Other generations write plain TIMESTAMP_MICROS;
# queries/events.py's _events sniffs the footer and handles both.
EVENTS_RAW_SCHEMA = (
    "event_id bigint, ts bigint, user_id bigint, event_type string, value double, props string"
)
