"""medallion_etl: the paper's own pipeline, write-heavy plain parquet.

Each operation is one ``jobs.run_medallion`` over the seeded bronze
tables: load_bronze -> silver -> gold -> write_gold, plus kpis ->
write_kpis. It exercises ``validate``/``silver``/``gold``/``kpi``/
``io``/``pipeline`` and bypasses the manifest table format.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import duckdb

import gen
from common import PIPELINE_STAGES, mean, tree_files
from tools.check_oracle import compare

N_BOOKINGS = 2_000
N_WARM_BOOKINGS = 100
# gold table -> primary key columns (dim_user keeps one row per
# (user, provider) pair: a user may own several providers)
GOLD_KEYS = {
    "fact_booking": ["booking_id"],
    "dim_date": ["date_key"],
    "dim_user": ["user_id", "provider_id"],
    "dim_service": ["service_id"],
    "dim_dispute": ["dispute_id"],
    "dim_review": ["review_id"],
}
# KPI output name -> the registry query whose DuckDB oracle computes it
KPI_ORACLE = {
    "bookings_per_location_service": "q51_kpi_bookings_per_location_service",
    "avg_rating_per_provider": "q52_kpi_avg_rating_per_provider",
    "monthly_revenue_per_provider": "q53_kpi_monthly_revenue_per_provider",
    "pct_ai_generated": "q54_kpi_pct_ai_generated",
    "top5_booked_categories_this_week": "q55_kpi_top5_booked_categories_week",
    "top5_providers_by_bookings": "q56_kpi_top5_providers_by_bookings",
    "top5_disputed_providers": "q57_kpi_top5_disputed_providers",
    "top_rated_providers": "q58_kpi_top_rated_providers",
}


class Etl:
    name = "medallion_etl"

    def __init__(self, run) -> None:
        self.run = run
        self.bronze = os.path.join(run.work, "bronze")
        self.warm_bronze = os.path.join(run.work, "warm_bronze")
        self.lat: list[float] = []
        self.last_out: str | None = None

    def generate(self) -> None:
        os.makedirs(self.bronze)
        gen.write_bronze(self.bronze, self.run.seed, max(100, int(self.run.scale * N_BOOKINGS)))
        os.makedirs(self.warm_bronze)
        gen.write_bronze(self.warm_bronze, self.run.seed + 1, N_WARM_BOOKINGS)

    def _medallion(self, spark, bronze: str, out: str, rec: dict) -> float:
        from prox_spark.jobs import run_medallion

        tracer = self.run.tracer
        with tracer.span("pipeline.run_medallion") as s:
            t0 = time.perf_counter()
            res = run_medallion(spark, bronze, out)
            dt = time.perf_counter() - t0
        bad = {k: r.error for k, r in res.items() if r.status != "succeeded"}
        self.run.check(not bad, f"run_medallion stage failures: {bad}")
        rec["run_s"] = dt
        rec["stage_s"] = {k: r.duration_s for k, r in res.items()}
        rec["attempts"] = [r.attempts for r in res.values()]
        if tracer.enabled:
            tracer.child_spans(s, [(f"pipeline.{k}", d) for k, d in rec["stage_s"].items()])
            files = tree_files(out)
            rec["bytes_written"] = sum(files.values())
            rec["files_written"] = len(files)
        return dt

    def warm_up(self, spark) -> float:
        """One run over a small bronze set: the code paths, not the data
        size, are what a fresh JVM has to load and compile."""
        out = os.path.join(self.run.work, "out_warm")
        dt = self._medallion(spark, self.warm_bronze, out, {})
        shutil.rmtree(out)
        return dt

    def measure(self, spark, seconds: float) -> None:
        deadline = time.perf_counter() + seconds
        i = 0
        while not self.lat or time.perf_counter() < deadline:
            out = os.path.join(self.run.work, f"out{i}")
            with self.run.tracer.op("medallion", f"run{i}") as rec:
                dt = self._medallion(spark, self.bronze, out, rec)
            self.lat.append(dt)
            self.run.count_op()
            if self.last_out:
                shutil.rmtree(self.last_out)
            self.last_out = out
            i += 1

    def end_to_end(self) -> dict:
        return {"batch_s": statistics.median(self.lat)}

    def gate(self, spark) -> None:
        """Untimed checks on the last run's output: gold primary keys
        are unique, fact_booking equals DuckDB's deduplicated bookings
        join, and every KPI equals its SQL evaluated by DuckDB over the
        same bronze files."""
        from prox_spark.fixture_store import stage_fixtures
        from prox_spark.queries import kpi_q
        from prox_spark.schemas import SILVER_SCHEMAS

        con = duckdb.connect()
        gold = os.path.join(self.last_out, "gold")
        for t, keys in GOLD_KEYS.items():
            k = ", ".join(keys)
            n, nk = con.execute(
                f"SELECT count(*), count(DISTINCT ({k})) FROM "
                f"read_parquet('{gold}/{t}/**/*.parquet', hive_partitioning=true)"
            ).fetchone()
            self.run.check(n > 0 and n == nk, f"gold {t}: {n} rows, {nk} distinct keys ({k})")
        # the registry's oracle SQL, pointed at this run's bronze files
        fixture_paths = stage_fixtures()
        oracles = kpi_q.oracles()

        def oracle(q: str) -> str:
            sql = oracles[q]
            for t in SILVER_SCHEMAS:
                sql = sql.replace(fixture_paths[t], f"{self.bronze}/{t}.parquet")
            # run_medallion's "this week" is the current week, not the
            # registry query's pinned anchor
            return sql.replace(f"DATE '{kpi_q.WEEK_ANCHOR}'", "current_date")

        got = con.execute(
            f"SELECT * REPLACE (CAST(year AS INTEGER) AS year, CAST(month AS INTEGER) AS month) "
            f"FROM read_parquet('{gold}/fact_booking/**/*.parquet', hive_partitioning=true)"
        ).df()
        problems = compare("fact_booking", got, con.execute(oracle("q59_gold_fact_booking")).df())
        self.run.check(not problems, f"fact_booking vs DuckDB: {problems[:3]}")
        kpis = os.path.join(self.last_out, "kpis")
        for name, q in KPI_ORACLE.items():
            got = con.execute(f"SELECT * FROM read_parquet('{kpis}/{name}/*.parquet')").df()
            problems = compare(name, got, con.execute(oracle(q)).df())
            self.run.check(not problems, f"KPI {name} vs DuckDB: {problems[:3]}")

    def op_latencies(self) -> list[float]:
        return self.lat

    def busy_s(self) -> float:
        return sum(self.lat)

    def per_layer(self, ops: list[dict], spark) -> dict:
        recs = [r for r in ops if "stage_s" in r]
        return pipeline_metrics(recs)


def pipeline_metrics(recs: list[dict]) -> dict:
    """Per pipeline run means of stage seconds, attempts, the runner's
    own overhead and the bytes/files it wrote."""
    out = {}
    for st in PIPELINE_STAGES:
        out[f"pipeline.{st}_s"] = mean([r["stage_s"].get(st, 0.0) for r in recs])
    out["pipeline.attempts"] = mean([a for r in recs for a in r["attempts"]])
    out["pipeline.overhead_s"] = mean([r["run_s"] - sum(r["stage_s"].values()) for r in recs])
    out["io.bytes_written"] = mean([r.get("bytes_written", 0) for r in recs])
    out["io.files_written"] = mean([r.get("files_written", 0) for r in recs])
    return out
