"""Thin table registry — the Glue Data Catalog role.

The reference resolves table name -> S3 path + schema via Glue
crawlers + ``create_dynamic_frame.from_catalog``
(reference: glue_scripts/transformations_script.py:147-153,
gold_data_curation_script.py:35-46, main.tf:34-64). Open-source
Spark needs no crawler: parquet is self-describing, so the catalog
reduces to {table name -> path}, with optional registration as temp
views so SQL can address tables by name.

At 100 TB scale the same abstraction holds — paths become
``s3://bucket/layer/table/`` prefixes and Spark's vectorized parquet
reader + partition discovery do the rest. Swap for a real metastore
(``spark.read.table``) without touching call sites.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from prox_spark.io import read_parquet
from prox_spark.schemas import EVENTS_RAW_SCHEMA

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


@dataclass
class Catalog:
    """name -> parquet path registry with lazy reads.

    ``schemas`` holds optional per-table read schemas (DDL strings) for
    files whose parquet logical types Spark cannot infer natively —
    e.g. INT64 TIMESTAMP(NANOS) requested as BIGINT — so reads stay
    free of session-conf side effects."""

    spark: SparkSession
    paths: dict[str, str] = field(default_factory=dict)
    schemas: dict[str, str] = field(default_factory=dict)

    def register(self, name: str, path: str, schema: str | None = None) -> None:
        self.paths[name] = path
        if schema is not None:
            self.schemas[name] = schema

    def register_dir(self, directory: str, tables: tuple[str, ...] = TESTDATA_TABLES) -> None:
        """Register every ``<dir>/<table>.parquet`` that exists."""
        for t in tables:
            p = os.path.join(directory, f"{t}.parquet")
            if os.path.exists(p):
                self.paths[t] = p

    def table(self, name: str) -> DataFrame:
        if name not in self.paths:
            raise KeyError(f"table not registered: {name!r} (have {sorted(self.paths)})")
        reader = self.spark.read
        if name in self.schemas:
            reader = reader.schema(self.schemas[name])
        return reader.parquet(self.paths[name])

    def create_views(self) -> None:
        """Expose every registered table as a temp view for spark.sql."""
        for name in self.paths:
            self.table(name).createOrReplaceTempView(name)


def testdata_catalog(spark: SparkSession, sf_dir: str) -> Catalog:
    """Catalog over the driver-generated testdata directory."""
    cat = Catalog(spark)
    cat.register_dir(sf_dir)
    if "events" in cat.paths:
        # some testdata generations write events.ts as INT64
        # TIMESTAMP(NANOS), which Spark 4 cannot read natively; if the
        # plain footer read fails, fall back to an explicit BIGINT
        # schema (queries/events.py normalizes to timestamp_ntz).
        # TIMESTAMP_MICROS generations read as-is.
        try:
            read_parquet(spark, cat.paths["events"]).schema
        except Exception as exc:  # noqa: BLE001 - filtered below
            # Only the specific unsupported-type failure triggers the
            # fallback; corrupt files/permissions re-raise so the real
            # error surfaces here instead of downstream.
            msg = str(exc)
            if "Parquet type" not in msg and "TIMESTAMP(NANOS" not in msg:
                raise
            cat.schemas["events"] = EVENTS_RAW_SCHEMA
    return cat
