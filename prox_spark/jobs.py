"""End-to-end medallion job: the reference's whole Step Functions run
(bronze extract -> silver transform -> gold curation -> KPI load;
reference stepfunctions.tf:8-226 driving the four Glue scripts) as one
composed Pipeline a user invokes directly (`python -m prox_spark
medallion ...`).

Stage graph (each stage retried with backoff, failures cascade to
skips — O1-O4 semantics):

    load_bronze -> silver -> gold -> write_gold
                          \\-> kpis -> write_kpis

The gold branch and the KPI branch share only ``silver``, so the runner
runs them side by side: ``write_gold`` overlaps ``kpis``/``write_kpis``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from prox_spark import kpi
from prox_spark.gold import build_star_schema, write_gold
from prox_spark.io import read_parquet
from prox_spark.pipeline import Pipeline, StageResult
from prox_spark.schemas import SILVER_SCHEMAS
from prox_spark.silver import to_silver

KPI_BUILDERS = {
    "bookings_per_location_service": (
        kpi.bookings_per_location_service, ("bookings", "services", "service_providers")),
    "avg_rating_per_provider": (
        kpi.avg_rating_per_provider, ("service_providers", "provider_reviews")),
    "monthly_revenue_per_provider": (
        kpi.monthly_revenue_per_provider, ("payment_records", "bookings", "services")),
    "pct_ai_generated": (kpi.pct_ai_generated, ("service_providers",)),
    "top5_booked_categories_this_week": (
        kpi.top5_booked_categories_this_week, ("bookings", "services", "categories")),
    "top5_providers_by_bookings": (
        kpi.top5_providers_by_bookings, ("bookings", "services", "service_providers")),
    "top5_disputed_providers": (
        kpi.top5_disputed_providers,
        ("dispute_requests", "bookings", "services", "service_providers")),
    "top_rated_providers": (
        kpi.top_rated_providers, ("service_providers", "provider_reviews")),
}


def run_medallion(
    spark: SparkSession,
    bronze_dir: str,
    out_dir: str,
    on_failure=None,
) -> dict[str, StageResult]:
    """Run bronze->silver->gold->KPI over ``bronze_dir`` (one parquet
    file/dir per SILVER_SCHEMAS table name; missing tables are simply
    absent downstream) writing gold + KPI parquet under ``out_dir``."""

    def load_bronze(ctx) -> dict[str, DataFrame]:
        out = {}
        for name in SILVER_SCHEMAS:
            path = os.path.join(bronze_dir, f"{name}.parquet")
            if os.path.exists(path):
                out[name] = read_parquet(spark, path)
        if not out:
            raise FileNotFoundError(f"no bronze tables found under {bronze_dir}")
        return out

    def silver(ctx) -> dict[str, DataFrame]:
        return to_silver(ctx["load_bronze"])

    def gold(ctx) -> dict[str, DataFrame]:
        return build_star_schema(spark, ctx["silver"])

    def write_gold_stage(ctx) -> str:
        gold_dir = os.path.join(out_dir, "gold")
        write_gold(ctx["gold"], gold_dir)
        return gold_dir

    def kpis(ctx) -> dict[str, DataFrame]:
        tables = ctx["silver"]
        out = {}
        for name, (fn, needs) in KPI_BUILDERS.items():
            if all(n in tables for n in needs):
                out[name] = fn(*[tables[n] for n in needs])
        return out

    def write_kpis(ctx) -> str:
        kpi_dir = os.path.join(out_dir, "kpis")
        for name, df in ctx["kpis"].items():
            df.write.mode("overwrite").parquet(os.path.join(kpi_dir, name))
        return kpi_dir

    pipe = Pipeline(on_failure=on_failure)
    (
        pipe.add_stage("load_bronze", load_bronze)
        .add_stage("silver", silver, depends_on=["load_bronze"])
        .add_stage("gold", gold, depends_on=["silver"])
        .add_stage("write_gold", write_gold_stage, depends_on=["gold"])
        .add_stage("kpis", kpis, depends_on=["silver"])
        .add_stage("write_kpis", write_kpis, depends_on=["kpis"])
    )
    return pipe.run()
