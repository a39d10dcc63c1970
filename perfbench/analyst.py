"""analyst_queries: the reference's user-facing query surface.

31 registry queries, each ``fn(spark, data_dir).collect()``:

- ``tpch``: q01-q17, the TPC-H-shaped KPI shapes over seeded sf0.1
  tables (scan, broadcast joins, grouped aggregates, top-k, windows,
  set operations, rollup);
- ``kpi``: q51-q64, the reference's 8 KPIs and 6 gold star-schema
  builders over the library's staged PROX fixture store.

Read-only and bound by per-job overhead. It never touches the table
format, so it is the control workload for format-layer changes.
"""

from __future__ import annotations

import os
import statistics
import time
from concurrent.futures import ThreadPoolExecutor

import gen
from common import canon, duck_views, frame_rows, timed
from tools.check_oracle import compare

SF = 0.1
MIN_PASSES = 2  # every query sampled twice, whatever --seconds is
TPCH = [
    "q01_pricing_summary", "q02_top5_suppliers", "q03_avg_acctbal_by_nation",
    "q04_monthly_revenue", "q05_status_pct_by_priority",
    "q06_lineitems_by_nation_flag", "q07_top5_suppliers_by_returns",
    "q08_top3_orders_per_segment", "q09_date_dim", "q10_distinct_nation_region",
    "q11_fk_orphans", "q12_segment_status_matrix", "q13_active_nations",
    "q14_orders_since_week", "q15_rollup", "q16_nation_setops",
    "q17_customers_without_orders",
]
KPI = [
    "q51_kpi_bookings_per_location_service", "q52_kpi_avg_rating_per_provider",
    "q53_kpi_monthly_revenue_per_provider", "q54_kpi_pct_ai_generated",
    "q55_kpi_top5_booked_categories_week", "q56_kpi_top5_providers_by_bookings",
    "q57_kpi_top5_disputed_providers", "q58_kpi_top_rated_providers",
    "q59_gold_fact_booking", "q60_gold_dim_user", "q61_gold_dim_service",
    "q62_gold_dim_location", "q63_gold_dim_review", "q64_gold_dim_dispute",
]
FAMILY = {**{n: "tpch" for n in TPCH}, **{n: "kpi" for n in KPI}}


class Analyst:
    name = "analyst_queries"

    def __init__(self, run) -> None:
        self.run = run
        self.dir = os.path.join(run.work, "tpch")
        self.lat: dict[str, list[float]] = {n: [] for n in FAMILY}
        self.ref: dict[str, list[tuple]] = {}

    # -- set-up: generation, staging, warm-up -----------------------------
    def generate(self) -> None:
        from prox_spark.fixture_store import stage_fixtures

        os.makedirs(self.dir, exist_ok=True)
        gen.write_tpch(self.dir, self.run.seed, self.run.scale * SF)
        stage_fixtures()

    def warm_up(self, spark) -> float:
        """One pass over every query (also the run's reference answers,
        checked against DuckDB untimed). Returns its wall seconds, DuckDB
        excluded."""
        from prox_spark.queries import kpi_q, relational

        self.fns = {**relational.QUERIES, **kpi_q.QUERIES}
        oracles = {**relational.ORACLES, **kpi_q.oracles()}
        # the first run of each query pays JVM class loading and code
        # generation; running them side by side overlaps that cost
        with ThreadPoolExecutor(self.run.cores) as pool:
            futures = {n: pool.submit(lambda n=n: self.fns[n](spark, self.dir).toPandas())
                       for n in FAMILY}
            frames, spark_s = timed(lambda: {n: f.result() for n, f in futures.items()})
        con = duck_views(self.dir, gen.TPCH_TABLES)
        for name, pdf in frames.items():
            problems = compare(name, pdf, con.execute(oracles[name]).df())
            self.run.check(not problems, f"{name} vs DuckDB: {problems[:3]}")
            self.ref[name] = canon(frame_rows(pdf))
        # the JIT keeps compiling through the measured passes (the second
        # ran 15-20% faster than the first); one more, sequential warm-up
        # pass cost ~20 s of set-up and left runs no steadier
        return spark_s

    # -- measured loop ------------------------------------------------------
    def measure(self, spark, seconds: float) -> None:
        deadline = time.perf_counter() + seconds
        tracer = self.run.tracer
        order = [n for p in gen.query_order(self.run.seed, list(FAMILY), 1000) for n in p]
        for i, name in enumerate(order):
            if time.perf_counter() >= deadline and i >= MIN_PASSES * len(FAMILY):
                break
            fn = self.fns[name]
            with tracer.op("query", name) as rec:
                t0 = time.perf_counter()
                if tracer.enabled:
                    with tracer.span("queries.build") as s:
                        df = fn(spark, self.dir)
                    rec["build_s"] = s["end"] - s["start"]
                    with tracer.span("queries.plan") as s:
                        df._jdf.queryExecution().executedPlan()
                    rec["plan_s"] = s["end"] - s["start"]
                    with tracer.span("queries.exec") as s:
                        rows = df.collect()
                    rec["exec_s"] = s["end"] - s["start"]
                else:
                    rows = fn(spark, self.dir).collect()
                dt = time.perf_counter() - t0
            rec["family"] = FAMILY[name]
            self.lat[name].append(dt)
            self.run.check(canon(rows) == self.ref[name],
                             f"{name}: result differs from its warm-up answer")

    def end_to_end(self) -> dict:
        return {"batch_s": sum(statistics.median(v) for v in self.lat.values() if v)}

    def gate(self, spark) -> None:
        """Every timed answer was already compared with the warm-up
        answer, which DuckDB checked; nothing left to check."""

    def op_latencies(self) -> list[float]:
        return [x for v in self.lat.values() for x in v]

    def busy_s(self) -> float:
        return sum(self.op_latencies())

    def per_layer(self, ops: list[dict], spark) -> dict:
        out = {}
        for fam in ("kpi", "tpch"):
            recs = [r for r in ops if r.get("family") == fam]
            for part in ("build_s", "plan_s", "exec_s"):
                out[f"queries.{fam}.{part}"] = (
                    sum(r[part] for r in recs) / len(recs) if recs else 0.0
                )
        return out
