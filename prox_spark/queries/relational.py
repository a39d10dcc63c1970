"""Core relational queries — the reference's KPI/ETL query shapes
(SURVEY.md §2.2-§2.8) transposed onto the driver testdata tables.

Shape provenance (reference file:line in /root/reference):

- multi-agg group-by            sql/service_provider_kpis:2-9 (A1/A2)
- monthly revenue bucket        sql/service_provider_kpis:20-27 (A3, F8)
- conditional %-of-total        sql/service_provider_kpis:31-36 (A4, F9, F10)
- 4-way join + count + top-k    sql/admin_kip_script:26-36 (A5, J8, T2)
- top-k ORDER BY ... LIMIT 5    sql/admin_kip_script:10-23 (T1/T2)
- range predicate on week       sql/admin_kip_script:8 (P8)
- distinct projection           glue gold_data_curation_script.py:176-183 (A7)
- date-dimension generator      glue gold_data_curation_script.py:96-110 (F5/F6)
- window top-k per group        README.md:125-128 Power BI implicit windows (§2.5)
- FK orphan check               README.md:55 documented-but-missing (V3)

Scale notes: every join here is either broadcast-able (nation,
region, supplier at ≤100k rows even at sf1000) — hinted explicitly —
or a large-large equi join that AQE handles with skew-join splitting.
Aggregations are partial+final (map-side combine) automatically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from prox_spark.io import read_parquet


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_parquet(spark, f"{sf_dir}/{name}.parquet")


# --- q01: pricing summary (TPC-H Q1 shape; multi-agg group-by, A1-A3) ------

def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") < F.lit("1998-09-02").cast("timestamp_ntz"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .withColumn("avg_qty", F.round(F.col("sum_qty") / F.col("count_order"), 6))
        .withColumn("avg_price", F.round(F.col("sum_base_price") / F.col("count_order"), 6))
        .orderBy("l_returnflag", "l_linestatus")
    )


ORACLE_Q01 = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2)                              AS sum_qty,
       round(sum(l_extendedprice), 2)                         AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 4)      AS sum_disc_price,
       count(*)                                               AS count_order,
       round(round(sum(l_quantity), 2) / count(*), 6)         AS avg_qty,
       round(round(sum(l_extendedprice), 2) / count(*), 6)    AS avg_price
FROM lineitem
WHERE l_shipdate < TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


# --- q02: top-5 suppliers by lineitem count (flagship; J5 + A1 + T2) -------

def q02_top5_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier")
    return (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey, "inner")
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("n_lineitems"))
        .orderBy(F.desc("n_lineitems"), F.asc("s_name"))
        .limit(5)
    )


ORACLE_Q02 = """
SELECT s_name, count(*) AS n_lineitems
FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
GROUP BY s_name
ORDER BY n_lineitems DESC, s_name ASC
LIMIT 5
"""


# --- q03: avg account balance per nation (J2-style join + A2 avg) ----------

def q03_avg_acctbal_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    return (
        cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey, "inner")
        .groupBy("n_name")
        .agg(
            F.round(F.sum("c_acctbal"), 2).alias("sum_acctbal"),
            F.count(F.lit(1)).alias("n_customers"),
        )
        .withColumn("avg_acctbal", F.round(F.col("sum_acctbal") / F.col("n_customers"), 6))
        .orderBy("n_name")
    )


ORACLE_Q03 = """
SELECT n_name,
       round(sum(c_acctbal), 2)                               AS sum_acctbal,
       count(*)                                               AS n_customers,
       round(round(sum(c_acctbal), 2) / count(*), 6)          AS avg_acctbal
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
ORDER BY n_name
"""


# --- q04: monthly revenue (A3: DATE_TRUNC bucket + SUM) --------------------

def q04_monthly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy(F.date_trunc("month", F.col("o_orderdate")).alias("month"))
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("month")
    )


ORACLE_Q04 = """
SELECT date_trunc('month', o_orderdate)  AS month,
       round(sum(o_totalprice), 2)       AS revenue,
       count(*)                          AS n_orders
FROM orders
GROUP BY 1
ORDER BY month
"""


# --- q05: conditional % of total per group (A4) ----------------------------

def q05_status_pct_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)).alias("n_finished"),
        )
        .withColumn("pct_finished", F.round(100.0 * F.col("n_finished") / F.col("n_orders"), 2))
        .orderBy("o_orderpriority")
    )


ORACLE_Q05 = """
SELECT o_orderpriority,
       count(*)                                                       AS n_orders,
       CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_finished,
       round(100.0 * sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) / count(*), 2) AS pct_finished
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# --- q06: two-key group count over 3-way join (A1 + J5) --------------------

def q06_lineitems_by_nation_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    return (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .groupBy("n_name", "l_returnflag")
        .agg(F.count(F.lit(1)).alias("n_items"))
        .orderBy("n_name", "l_returnflag")
    )


ORACLE_Q06 = """
SELECT n_name, l_returnflag, count(*) AS n_items
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
GROUP BY n_name, l_returnflag
ORDER BY n_name, l_returnflag
"""


# --- q07: 4-way join, filtered count, top-5 (A5 + J8 + T2) -----------------

def q07_top5_suppliers_by_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier")
    return (
        li.filter(F.col("l_returnflag") == "R")
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("n_returned"))
        .orderBy(F.desc("n_returned"), F.asc("s_name"))
        .limit(5)
    )


ORACLE_Q07 = """
SELECT s_name, count(*) AS n_returned
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
WHERE l_returnflag = 'R'
GROUP BY s_name
ORDER BY n_returned DESC, s_name ASC
LIMIT 5
"""


# --- q08: window top-k per group (§2.5 extension) --------------------------

def q08_top3_orders_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    w = W.partitionBy("c_mktsegment").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("c_mktsegment", "o_orderkey", "o_totalprice", "rn")
        .orderBy("c_mktsegment", "rn")
    )


ORACLE_Q08 = """
SELECT c_mktsegment, o_orderkey, o_totalprice, CAST(rn AS INTEGER) AS rn
FROM (
  SELECT c_mktsegment, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY c_mktsegment
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
  FROM orders JOIN customer ON o_custkey = c_custkey
)
WHERE rn <= 3
ORDER BY c_mktsegment, rn
"""


# --- q09: date-dimension generator (F5/F6 sequence+explode) ----------------

def q09_date_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    days = spark.sql(
        "SELECT explode(sequence(to_date('2024-01-01'), to_date('2024-12-31'), interval 1 day)) AS d"
    )
    return days.select(
        F.date_format("d", "yyyyMMdd").cast("int").alias("date_key"),
        # timestamp_ntz (not DATE) so toPandas dtype matches the oracle
        F.col("d").cast("timestamp_ntz").alias("full_date"),
        F.year("d").alias("year"),
        F.quarter("d").alias("quarter"),
        F.month("d").alias("month"),
        F.dayofmonth("d").alias("day_of_month"),
        F.dayofweek("d").alias("day_of_week"),
        F.date_format("d", "MMMM").alias("month_name"),
        F.date_format("d", "EEEE").alias("day_name"),
        F.dayofweek("d").isin([1, 7]).alias("is_weekend"),
    ).orderBy("date_key")


ORACLE_Q09 = """
SELECT CAST(strftime(d, '%Y%m%d') AS INTEGER)  AS date_key,
       d                                       AS full_date,
       CAST(year(d) AS INTEGER)                AS year,
       CAST(quarter(d) AS INTEGER)             AS quarter,
       CAST(month(d) AS INTEGER)               AS month,
       CAST(dayofmonth(d) AS INTEGER)          AS day_of_month,
       CAST(dayofweek(d) + 1 AS INTEGER)       AS day_of_week,
       monthname(d)                            AS month_name,
       dayname(d)                              AS day_name,
       dayofweek(d) IN (0, 6)                  AS is_weekend
FROM generate_series(DATE '2024-01-01', DATE '2024-12-31', INTERVAL 1 DAY) t(d)
ORDER BY date_key
"""


# --- q10: distinct projection (A7 dim_location shape) ----------------------

def q10_distinct_nation_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region")
    return (
        nat.join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .select("r_name", "n_name")
        .distinct()
        .orderBy("r_name", "n_name")
    )


ORACLE_Q10 = """
SELECT DISTINCT r_name, n_name
FROM nation JOIN region ON n_regionkey = r_regionkey
ORDER BY r_name, n_name
"""


# --- q11: FK orphan check (V3 — left-anti join) ----------------------------

def q11_fk_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    orphans = li.join(orders, li.l_orderkey == orders.o_orderkey, "left_anti")
    return orphans.agg(F.count(F.lit(1)).alias("n_orphans"))


ORACLE_Q11 = """
SELECT count(*) AS n_orphans
FROM lineitem l
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
"""


# --- q12: pivot-style conditional aggregation ------------------------------

def q12_segment_status_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    j = orders.join(cust, orders.o_custkey == cust.c_custkey)
    return (
        j.groupBy("c_mktsegment")
        .agg(
            F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)).alias("n_f"),
            F.sum(F.when(F.col("o_orderstatus") == "O", 1).otherwise(0)).alias("n_o"),
            F.sum(F.when(F.col("o_orderstatus") == "P", 1).otherwise(0)).alias("n_p"),
        )
        .orderBy("c_mktsegment")
    )


ORACLE_Q12 = """
SELECT c_mktsegment,
       CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
       CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
       CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


# --- q13: set operation (union distinct of active nations, §2.7) -----------

def q13_active_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    c_nations = cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey).select("n_name")
    s_nations = sup.join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey).select("n_name")
    return c_nations.union(s_nations).distinct().orderBy("n_name")


ORACLE_Q13 = """
SELECT n_name FROM customer JOIN nation ON c_nationkey = n_nationkey
UNION
SELECT n_name FROM supplier JOIN nation ON s_nationkey = n_nationkey
ORDER BY n_name
"""


# --- q14: range predicate on a week bucket (P8, fixed anchor) --------------

def q14_orders_since_week(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    anchor = F.date_trunc("week", F.lit("1997-06-15").cast("timestamp_ntz"))
    return (
        orders.filter(F.col("o_orderdate") >= anchor)
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("o_orderstatus")
    )


ORACLE_Q14 = """
SELECT o_orderstatus, count(*) AS n_orders
FROM orders
WHERE o_orderdate >= date_trunc('week', TIMESTAMP '1997-06-15')
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


# --- q15: rollup (grouping-sets family; extension beyond SURVEY §2.4) ------

def q15_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotals region -> nation -> grand total via
    ``rollup`` — one shuffle, Catalyst expands the grouping sets; the
    reference's BI layer derives these subtotals in Power BI instead
    (reference README.md:125-128)."""
    cust = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region")
    joined = (
        cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("sum_acctbal"),
        )
        .orderBy("r_name", "n_name")
    )


ORACLE_Q15 = """
SELECT r_name, n_name,
       count(*)                 AS n_customers,
       round(sum(c_acctbal), 2) AS sum_acctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
ORDER BY r_name, n_name
"""


# --- q16: set operations (SURVEY §2.7 — absent in reference, added) --------

SETOP_BAL = -900.0


def q16_nation_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT set semantics over two sparse nation sets
    (nations having a deeply-negative-balance customer vs supplier)."""
    cust = _t(spark, sf_dir, "customer")
    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    cn = (
        cust.filter(F.col("c_acctbal") < SETOP_BAL)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .select("n_name")
        .distinct()
    )
    sn = (
        sup.filter(F.col("s_acctbal") < SETOP_BAL)
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .select("n_name")
        .distinct()
    )
    both = cn.intersect(sn).select(F.lit("both").alias("tag"), "n_name")
    cust_only = cn.exceptAll(sn).select(F.lit("cust_only").alias("tag"), "n_name")
    supp_only = sn.exceptAll(cn).select(F.lit("supp_only").alias("tag"), "n_name")
    return both.unionAll(cust_only).unionAll(supp_only).orderBy("tag", "n_name")


ORACLE_Q16 = f"""
WITH cn AS (
  SELECT DISTINCT n_name FROM customer JOIN nation ON c_nationkey = n_nationkey
  WHERE c_acctbal < {SETOP_BAL}
), sn AS (
  SELECT DISTINCT n_name FROM supplier JOIN nation ON s_nationkey = n_nationkey
  WHERE s_acctbal < {SETOP_BAL}
)
SELECT 'both' AS tag, n_name FROM (SELECT n_name FROM cn INTERSECT SELECT n_name FROM sn)
UNION ALL
SELECT 'cust_only', n_name FROM (SELECT n_name FROM cn EXCEPT SELECT n_name FROM sn)
UNION ALL
SELECT 'supp_only', n_name FROM (SELECT n_name FROM sn EXCEPT SELECT n_name FROM cn)
ORDER BY tag, n_name
"""


# --- q17: semi/anti joins (SURVEY §2.3 — out of reference scope, added) ----

def q17_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left_semi / left_anti existence joins per nation. Scale: both are
    shuffle joins on c_custkey/o_custkey where only the key column of
    orders crosses the wire (semi/anti never materialize the payload);
    the nation attach is broadcast."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").select("o_custkey")
    nat = _t(spark, sf_dir, "nation")
    with_orders = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi")
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_with_orders"))
    )
    without_orders = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_without_orders"))
    )
    return (
        with_orders.join(without_orders, "n_name", "full_outer")
        .select(
            "n_name",
            F.coalesce("n_with_orders", F.lit(0)).alias("n_with_orders"),
            F.coalesce("n_without_orders", F.lit(0)).alias("n_without_orders"),
        )
        .orderBy("n_name")
    )


ORACLE_Q17 = """
SELECT n_name,
       CAST(sum(CASE WHEN has_order THEN 1 ELSE 0 END) AS BIGINT)     AS n_with_orders,
       CAST(sum(CASE WHEN has_order THEN 0 ELSE 1 END) AS BIGINT)     AS n_without_orders
FROM (
  SELECT c_nationkey,
         EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) AS has_order
  FROM customer
) c
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
ORDER BY n_name
"""


# --- q18: pivot (wide conditional aggregation) -----------------------------

ORDER_STATUSES = ("F", "O", "P")


def q18_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``groupBy().pivot()`` with an explicit value list — Catalyst
    compiles it to one pass of conditional aggregates (same single
    shuffle as a plain group-by; never give pivot an unbounded value
    set at scale, it widens the schema per value)."""
    orders = _t(spark, sf_dir, "orders")
    out = (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", list(ORDER_STATUSES))
        .count()
    )
    return out.select(
        "o_orderpriority",
        *[F.coalesce(F.col(s), F.lit(0)).alias(s) for s in ORDER_STATUSES],
    ).orderBy("o_orderpriority")


ORACLE_Q18 = """
SELECT o_orderpriority,
       count(*) FILTER (WHERE o_orderstatus = 'F') AS "F",
       count(*) FILTER (WHERE o_orderstatus = 'O') AS "O",
       count(*) FILTER (WHERE o_orderstatus = 'P') AS "P"
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# --- q19: HLL sketch (approx_count_distinct + exact twin, hash-gated) ------

# Band: |approx - exact| <= max(2, 5% of exact). The absolute floor
# covers tiny groups — Spark's HLL++ has no sparse representation, so
# single-digit cardinalities can already be off by one.
HLL_BAND = 0.05
HLL_ABS_FLOOR = 2


def q19_approx_distinct_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct-count sketch per nation — the constant-
    memory scale path for cardinality (exact distinct shuffles every
    key; the sketch is a few KB per group regardless of input size).

    Raw sketch values are engine-specific, so the hashable surface is
    the exact-distinct twin plus ``approx_ok`` — the 5%-band assertion
    computed Spark-side (deterministic: HLL++ is deterministic for
    fixed input). The DuckDB oracle emits literal TRUE, so a sketch
    drifting out of band fails the hash gate. Raw estimate values are
    additionally band-tested in tests/test_sketches.py."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    agg = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.countDistinct("o_custkey").alias("exact_custkeys"),
            F.approx_count_distinct("o_custkey", rsd=0.02).alias("approx_custkeys"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )
    return (
        agg.select(
            "n_name",
            "exact_custkeys",
            (
                F.abs(F.col("approx_custkeys") - F.col("exact_custkeys"))
                <= F.greatest(F.lit(HLL_ABS_FLOOR), HLL_BAND * F.col("exact_custkeys"))
            ).alias("approx_ok"),
            "n_orders",
        )
        .orderBy("n_name")
    )


ORACLE_Q19 = """
SELECT n_name,
       count(DISTINCT o_custkey) AS exact_custkeys,
       TRUE                      AS approx_ok,
       count(*)                  AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
GROUP BY n_name
ORDER BY n_name
"""


# --- q27: unpivot / melt (wide -> long reshape) ----------------------------

def q27_unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``DataFrame.unpivot`` — the inverse of q18's pivot: wide measure
    columns melt into (measure, value) rows. Map-side only (a generator
    expression per row, no shuffle beyond the feeding aggregation)."""
    li = _t(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.round(F.sum("l_discount"), 2).alias("sum_discount"),
    )
    return (
        wide.unpivot(
            ["l_returnflag"],
            ["sum_qty", "sum_base_price", "sum_discount"],
            "measure",
            "value",
        )
        .orderBy("l_returnflag", "measure")
    )


ORACLE_Q27 = """
WITH wide AS (
  SELECT l_returnflag,
         round(sum(l_quantity), 2)      AS sum_qty,
         round(sum(l_extendedprice), 2) AS sum_base_price,
         round(sum(l_discount), 2)      AS sum_discount
  FROM lineitem
  GROUP BY l_returnflag
)
SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS value FROM wide
UNION ALL
SELECT l_returnflag, 'sum_base_price', sum_base_price FROM wide
UNION ALL
SELECT l_returnflag, 'sum_discount', sum_discount FROM wide
ORDER BY l_returnflag, measure
"""


# --- q28: cube (all grouping-set combinations) -----------------------------

def q28_cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``cube`` — every combination of (status, priority) incl. both
    subtotal axes and the grand total; like rollup, one shuffle with
    Catalyst expanding the grouping sets."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        )
        .orderBy("o_orderstatus", "o_orderpriority")
    )


ORACLE_Q28 = """
SELECT o_orderstatus, o_orderpriority,
       count(*)                  AS n_orders,
       round(sum(o_totalprice), 2) AS sum_price
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
ORDER BY o_orderstatus, o_orderpriority
"""


# --- q29: ntile quartiles (rank-family window) -----------------------------

def q29_acctbal_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``ntile(4)`` per nation over a deterministic order (balance with
    custkey tie-break), aggregated to quartile boundaries."""
    cust = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    w = W.partitionBy("n_name").orderBy("c_acctbal", "c_custkey")
    return (
        cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .withColumn("quartile", F.ntile(4).over(w))
        .groupBy("n_name", "quartile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.min("c_acctbal"), 2).alias("lo"),
            F.round(F.max("c_acctbal"), 2).alias("hi"),
        )
        .orderBy("n_name", "quartile")
    )


ORACLE_Q29 = """
SELECT n_name, quartile,
       count(*)                AS n_customers,
       round(min(c_acctbal), 2) AS lo,
       round(max(c_acctbal), 2) AS hi
FROM (
  SELECT n_name, c_acctbal,
         CAST(ntile(4) OVER (PARTITION BY n_name ORDER BY c_acctbal, c_custkey) AS INTEGER) AS quartile
  FROM customer JOIN nation ON c_nationkey = n_nationkey
)
GROUP BY n_name, quartile
ORDER BY n_name, quartile
"""


# --- q48: promo revenue share per month (TPC-H Q14 shape; part⨝lineitem) ---

def q48_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly share of promo-part revenue — the part⨝lineitem large-dim
    join family (the reference's service/category dimension resolution,
    reference sql/admin_kip_script:6-7, at TPC-H shape).

    Scale: the join is deliberately UN-hinted — real TPC-H ``part`` is
    SF×200k rows (tens of billions at 100 TB), too big to pin to a
    driver broadcast; AQE broadcasts while it fits and falls back to a
    shuffle equi-join beyond that. Aggregation is partial+final on the
    month bucket. Determinism: both sums rounded to cents first, then
    one division of identical doubles (rules in queries/__init__.py)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    agg = (
        li.select("l_partkey", "l_shipdate", rev.alias("rev"))
        .join(part.select("p_partkey", "p_type"), li.l_partkey == part.p_partkey)
        .groupBy(F.date_trunc("month", "l_shipdate").alias("month"))
        .agg(
            F.round(F.sum(F.when(F.col("p_type") == "PROMO", F.col("rev")).otherwise(0.0)), 2)
            .alias("promo_revenue"),
            F.round(F.sum("rev"), 2).alias("total_revenue"),
        )
    )
    return (
        agg.withColumn(
            "promo_share_pct",
            F.round(100.0 * F.col("promo_revenue") / F.col("total_revenue"), 6),
        )
        .orderBy("month")
    )


ORACLE_Q48 = """
SELECT month,
       promo_revenue,
       total_revenue,
       round(100.0 * promo_revenue / total_revenue, 6) AS promo_share_pct
FROM (
  SELECT date_trunc('month', l_shipdate) AS month,
         round(sum(CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END), 2) AS promo_revenue,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY 1
)
ORDER BY month
"""


# --- q49: small-quantity revenue per brand (TPC-H Q17 shape) ---------------

def q49_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue from lineitems whose quantity is below 20% of that part's
    average quantity — TPC-H Q17's correlated-subquery shape as the
    idiomatic Spark self-aggregation: one groupBy(l_partkey) computes the
    per-part threshold, an equi-join re-attaches it (no correlated
    re-scan), then the brand dimension resolves via part.

    Scale: the threshold table is keyed by partkey (same key as the
    join) — AQE co-locates both shuffles; quantities are integer-valued
    so sum/count and the 0.2×avg threshold are exact in both engines."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    thr = (
        li.groupBy("l_partkey")
        .agg((F.lit(0.2) * F.sum("l_quantity") / F.count(F.lit(1))).alias("qty_thr"))
    )
    small = (
        li.select("l_partkey", "l_quantity", "l_extendedprice")
        .join(thr, "l_partkey")
        .filter(F.col("l_quantity") < F.col("qty_thr"))
    )
    return (
        small.join(part.select("p_partkey", "p_brand"), small.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_small_lineitems"),
            F.round(F.sum("l_extendedprice"), 2).alias("small_revenue"),
        )
        .orderBy("p_brand")
    )


ORACLE_Q49 = """
WITH thr AS (
  SELECT l_partkey, 0.2 * sum(l_quantity) / count(*) AS qty_thr
  FROM lineitem GROUP BY l_partkey
)
SELECT p_brand,
       count(*)                       AS n_small_lineitems,
       round(sum(l_extendedprice), 2) AS small_revenue
FROM lineitem
JOIN thr  USING (l_partkey)
JOIN part ON l_partkey = p_partkey
WHERE l_quantity < qty_thr
GROUP BY p_brand
ORDER BY p_brand
"""


# --- q50: part-type revenue by year (part⨝lineitem rollforward) ------------

def q50_parttype_yearly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yearly revenue and volume per part type — the wide-scan variant
    of the part join family (every lineitem row flows through; column
    pruning keeps the scan at 4 columns)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    return (
        li.select("l_partkey", "l_extendedprice", "l_discount", F.year("l_shipdate").alias("year"))
        .join(part.select("p_partkey", "p_type"), li.l_partkey == part.p_partkey)
        .groupBy("p_type", "year")
        .agg(
            F.count(F.lit(1)).alias("n_lineitems"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
            .alias("revenue"),
        )
        .orderBy("p_type", "year")
    )


ORACLE_Q50 = """
SELECT p_type,
       CAST(year(l_shipdate) AS INTEGER) AS year,
       count(*) AS n_lineitems,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_type, year
ORDER BY p_type, year
"""


# --- q68: salted skew-join (explicit hot-key scatter; J-family hardening) --

def q68_salted_segment_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per market segment through ``salted_join`` — the
    explicit plan-time skew mitigation (prox_spark/joins.py): orders
    rows scatter across 8 salt buckets (xxhash64 of the order key), the
    customer dim replicates per salt, and the join runs on
    (custkey, salt). Results are identical to the plain equi-join — the
    oracle IS the plain join — which is exactly the operator's
    contract: same answer, no hot-key straggler at 100 TB."""
    from prox_spark.joins import salted_join

    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"), "o_orderkey", "o_totalprice"
    )
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_mktsegment"
    )
    joined = salted_join(
        orders, cust, "custkey",
        salt_buckets=8, salt_from=F.xxhash64(F.col("o_orderkey")),
    )
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .orderBy("c_mktsegment")
    )


ORACLE_Q68 = """
SELECT c_mktsegment,
       count(*)                    AS n_orders,
       round(sum(o_totalprice), 2) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


# --- q70: approx median sketch + exact twin (quantile family) --------------

def q70_median_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation account-balance median two ways: the
    ``percentile_approx`` sketch (constant memory — the quantile analog
    of q19's HLL) and an EXACT median computed from row_number/count
    windows with fully deterministic arithmetic ((a+b)/2 of the middle
    elements — identical in both engines, unlike interpolated
    percentile built-ins whose fp association differs).

    The sketch's guarantee is RANK accuracy (default accuracy 10000 →
    ≤ max(1, n/10000) ranks), not value distance — adjacent balances
    can be hundreds apart — so ``approx_ok`` asserts the estimate lands
    within the VALUE RANGE of the middle ranks ±1, which that rank
    bound implies for n ≤ 10000 per group. The oracle pins it to TRUE:
    a sketch sliding further off-rank fails the hash gate."""
    cust = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    j = cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
    w = W.partitionBy("n_name")
    ranked = (
        j.withColumn("rn", F.row_number().over(w.orderBy("c_acctbal", "c_custkey")))
        .withColumn("cnt", F.count(F.lit(1)).over(w))
    )
    exact = (
        ranked.filter(F.expr("rn = (cnt + 1) div 2 or rn = (cnt + 2) div 2"))
        .groupBy("n_name")
        .agg(F.round(F.sum("c_acctbal") / F.count(F.lit(1)), 6).alias("exact_median"))
    )
    band = (
        ranked.filter(
            F.expr("rn between (cnt + 1) div 2 - 1 and (cnt + 2) div 2 + 1")
        )
        .groupBy("n_name")
        .agg(F.min("c_acctbal").alias("lo"), F.max("c_acctbal").alias("hi"))
    )
    approx = j.groupBy("n_name").agg(
        F.percentile_approx("c_acctbal", 0.5).alias("approx_median")
    )
    return (
        exact.join(band, "n_name")
        .join(approx, "n_name")
        .select(
            "n_name",
            "exact_median",
            F.col("approx_median").between(F.col("lo"), F.col("hi")).alias("approx_ok"),
        )
        .orderBy("n_name")
    )


ORACLE_Q70 = """
WITH r AS (
  SELECT n_name, c_acctbal,
         row_number() OVER (PARTITION BY n_name ORDER BY c_acctbal, c_custkey) AS rn,
         count(*)    OVER (PARTITION BY n_name)                                AS cnt
  FROM customer JOIN nation ON c_nationkey = n_nationkey
)
SELECT n_name,
       round(sum(c_acctbal) / count(*), 6) AS exact_median,
       TRUE                                AS approx_ok
FROM r
WHERE rn = (cnt + 1) // 2 OR rn = (cnt + 2) // 2
GROUP BY n_name
ORDER BY n_name
"""


# --- q73: per-group interpolated percentiles (exact, deterministic) --------

def q73_group_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation p25/p50/p75 of account balance, EXACT linear
    interpolation (the percentile_cont contract) with fully
    deterministic cross-engine arithmetic: for p = k/4 the 0-based
    index is k*(n-1)/4, so lo/rem come from INTEGER div/mod and the
    only float op is ``v_lo + ((v_hi - v_lo) * rem) / 4.0`` — written
    identically in both engines (built-in interpolated percentiles
    differ in fp association across engines, so they can't be
    hash-gated; this formulation can).

    Scale shape: one window shuffle on the group key (rank + count),
    then a partial+final agg picking the two bracketing ranks per p —
    no per-group arrays ever materialize, so million-row groups cost
    the same two passes as ten-row groups."""
    cust = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    j = cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
    # rn and cnt share ONE window spec (same partition + order; cnt just
    # widens the frame), so Catalyst plans a single Window node over a
    # single exchange on the group key
    w = W.partitionBy("n_name").orderBy("c_acctbal", "c_custkey")
    ranked = (
        j.withColumn("rn", F.row_number().over(w))
        .withColumn(
            "cnt",
            F.count(F.lit(1)).over(
                w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
            ),
        )
    )
    aggs = []
    for k in (1, 2, 3):
        lo = F.expr(f"({k} * (cnt - 1)) div 4")
        rem = F.expr(f"({k} * (cnt - 1)) % 4")
        aggs += [
            F.max(F.when(F.col("rn") == lo + 1, F.col("c_acctbal"))).alias(f"v_lo_{k}"),
            F.max(
                F.when(F.col("rn") == F.least(lo + 2, F.col("cnt")), F.col("c_acctbal"))
            ).alias(f"v_hi_{k}"),
            F.max(rem).alias(f"rem_{k}"),
        ]
    g = ranked.groupBy("n_name").agg(*aggs)
    out = g.select(
        "n_name",
        *[
            F.round(
                F.col(f"v_lo_{k}")
                + ((F.col(f"v_hi_{k}") - F.col(f"v_lo_{k}")) * F.col(f"rem_{k}")) / 4.0,
                6,
            ).alias(f"p{k * 25}")
            for k in (1, 2, 3)
        ],
    )
    return out.orderBy("n_name")


def _q73_oracle() -> str:
    cols = ",\n       ".join(
        f"round(v_lo_{k} + ((v_hi_{k} - v_lo_{k}) * rem_{k}) / 4.0, 6) AS p{k * 25}"
        for k in (1, 2, 3)
    )
    aggs = ",\n         ".join(
        f"max(CASE WHEN rn = ({k} * (cnt - 1)) // 4 + 1 THEN c_acctbal END) AS v_lo_{k},\n"
        f"         max(CASE WHEN rn = least(({k} * (cnt - 1)) // 4 + 2, cnt) THEN c_acctbal END) AS v_hi_{k},\n"
        f"         max(({k} * (cnt - 1)) % 4) AS rem_{k}"
        for k in (1, 2, 3)
    )
    return f"""
WITH r AS (
  SELECT n_name, c_acctbal,
         row_number() OVER (PARTITION BY n_name ORDER BY c_acctbal, c_custkey) AS rn,
         count(*)    OVER (PARTITION BY n_name)                                AS cnt
  FROM customer JOIN nation ON c_nationkey = n_nationkey
), g AS (
  SELECT n_name,
         {aggs}
  FROM r GROUP BY n_name
)
SELECT n_name,
       {cols}
FROM g
ORDER BY n_name
"""


ORACLE_Q73 = _q73_oracle()


# --- q74: arg-max per group via struct-max (map-side, no window) -----------

def q74_top_customer_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation top customer by account balance — the arg-max family
    (`max(struct)` + `max_by`), tie-broken by custkey so the answer is
    deterministic.

    Scale shape: this is the MAP-SIDE way to answer "row with the max
    per group" — a partial+final aggregate carrying one struct per
    group per partition. The window formulation (rank-then-filter, as
    q08 does for top-K>1) shuffles EVERY row to rank it; for k=1 that
    whole shuffle is replaced by a combiner, which at 100 TB is the
    difference between a full-corpus exchange and a few KB per
    partition."""
    cust = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    j = cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
    key = F.struct(F.col("c_acctbal"), F.col("c_custkey"))
    g = j.groupBy("n_name").agg(
        F.max(key).alias("s"),
        F.max_by("c_name", key).alias("top_name"),
    )
    return (
        g.select(
            "n_name",
            F.col("s.c_acctbal").alias("top_acctbal"),
            F.col("s.c_custkey").alias("top_custkey"),
            "top_name",
        )
        .orderBy("n_name")
    )


ORACLE_Q74 = """
SELECT n_name, c_acctbal AS top_acctbal, c_custkey AS top_custkey, c_name AS top_name
FROM (
  SELECT n_name, c_acctbal, c_custkey, c_name,
         row_number() OVER (PARTITION BY n_name
                            ORDER BY c_acctbal DESC, c_custkey DESC) AS rn
  FROM customer JOIN nation ON c_nationkey = n_nationkey
)
WHERE rn = 1
ORDER BY n_name
"""


# --- q89: rank-function family (percent_rank / cume_dist / lag / lead) ----

def q89_rank_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The remaining §2.5 rank-window functions in one pass:
    percent_rank ((rank-1)/(n-1) — int division of identical ints, so
    bit-exact cross-engine), cume_dist, and lag/lead neighbors, all
    over ONE window spec (single exchange + sort on the group key).
    Restricted to 5 nations to keep the gate output bounded."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_nationkey") < 5)
    w = W.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    return (
        cust.select(
            "c_nationkey",
            "c_custkey",
            "c_acctbal",
            F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
            F.round(F.cume_dist().over(w), 6).alias("cume"),
            F.lag("c_acctbal").over(w).alias("prev_bal"),
            F.lead("c_acctbal").over(w).alias("next_bal"),
        )
        .orderBy("c_nationkey", "c_custkey")
    )


ORACLE_Q89 = """
SELECT c_nationkey, c_custkey, c_acctbal,
       round(percent_rank() OVER w, 6) AS pct_rank,
       round(cume_dist() OVER w, 6)    AS cume,
       lag(c_acctbal) OVER w           AS prev_bal,
       lead(c_acctbal) OVER w          AS next_bal
FROM customer
WHERE c_nationkey < 5
WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
ORDER BY c_nationkey, c_custkey
"""


# --- q79: GROUPING SETS + grouping() via the SQL entry point ---------------

def q79_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS lattice (the general form behind q15's
    ROLLUP / q28's CUBE) through ``spark.sql`` — segment×priority
    detail, per-segment subtotal, and grand total in ONE pass, with
    ``grouping()`` flags disambiguating real NULLs from subtotal rows.
    Catalyst expands the sets into a single Expand + hash-agg, so the
    fact side is scanned once regardless of how many sets are listed."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    orders = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority", "o_totalprice"
    )
    orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey).createOrReplaceTempView(
        "q79_base"
    )
    return spark.sql(
        """
        SELECT coalesce(c_mktsegment, 'ALL')    AS segment,
               coalesce(o_orderpriority, 'ALL') AS priority,
               cast(grouping(c_mktsegment) AS bigint)    AS is_seg_total,
               cast(grouping(o_orderpriority) AS bigint) AS is_pri_total,
               count(*)                         AS n_orders,
               round(sum(o_totalprice), 2)      AS revenue
        FROM q79_base
        GROUP BY GROUPING SETS ((c_mktsegment, o_orderpriority), (c_mktsegment), ())
        ORDER BY segment, priority
        """
    )


ORACLE_Q79 = """
SELECT coalesce(c_mktsegment, 'ALL')    AS segment,
       coalesce(o_orderpriority, 'ALL') AS priority,
       CAST(grouping(c_mktsegment) AS BIGINT)    AS is_seg_total,
       CAST(grouping(o_orderpriority) AS BIGINT) AS is_pri_total,
       count(*)                         AS n_orders,
       round(sum(o_totalprice), 2)      AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY GROUPING SETS ((c_mktsegment, o_orderpriority), (c_mktsegment), ())
ORDER BY segment, priority
"""


# --- q90: late-order priority count (TPC-H Q4 shape; correlated EXISTS) ----

def q90_late_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-EXISTS family: orders in a half-year window that had
    at least one lineitem shipped >60 days after the order date,
    counted per priority. The EXISTS decorrelates to a LEFT SEMI
    equi-join on ``l_orderkey`` with the cross-table date predicate as
    a residual join condition — no dedup pass, no subquery re-scan.
    At 100 TB both sides shuffle once on the order key (AQE handles
    skew); the post-semi-join agg is partial+final on 5 groups."""
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1995-07-01").cast("timestamp_ntz"))
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("o_orderpriority")
    )


ORACLE_Q90 = """
SELECT o_orderpriority, count(*) AS n_orders
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1995-07-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# --- q91: dormant high-balance customers (TPC-H Q22 shape) -----------------

def q91_dormant_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-subquery + NOT-EXISTS family: customers whose balance
    exceeds the global positive-balance average and who placed no
    order since 1999, rolled up by market segment. The scalar average
    is a 1-row aggregate attached via a broadcast nested-loop join
    (exactly how Catalyst executes an uncorrelated scalar subquery —
    one row crosses the cluster, never the corpus); the NOT EXISTS is
    a LEFT ANTI equi-join against the date-pruned orders scan.
    Average derived as round(round(sum,2)/count,6) for cross-engine
    bit-identity (module docstring)."""
    cust = _t(spark, sf_dir, "customer")
    avg_bal = (
        cust.filter(F.col("c_acctbal") > 0)
        .agg(
            F.round(F.sum("c_acctbal"), 2).alias("s"),
            F.count(F.lit(1)).alias("c"),
        )
        .select(F.round(F.col("s") / F.col("c"), 6).alias("avg_bal"))
    )
    recent = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp_ntz")
    ).select("o_custkey")
    rich = cust.join(F.broadcast(avg_bal), F.col("c_acctbal") > F.col("avg_bal"), "inner")
    dormant = rich.join(recent, rich.c_custkey == recent.o_custkey, "left_anti")
    return (
        dormant.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_custs"),
            F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
        )
        .orderBy("c_mktsegment")
    )


ORACLE_Q91 = """
WITH ab AS (
  SELECT round(round(sum(c_acctbal), 2) / count(*), 6) AS avg_bal
  FROM customer WHERE c_acctbal > 0
)
SELECT c_mktsegment, count(*) AS n_custs, round(sum(c_acctbal), 2) AS total_bal
FROM customer c, ab
WHERE c_acctbal > ab.avg_bal
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderdate >= TIMESTAMP '1999-01-01')
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


# --- q94: nation revenue share vs global scalar (TPC-H Q11 HAVING shape) ---

def q94_nation_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAVING-against-a-global-scalar family: nations whose order
    revenue exceeds 4.2% of global revenue, with their share. The
    global total is NOT a second corpus scan — it re-aggregates the
    25-row per-nation frame, so the scalar costs one tiny agg over
    already-shuffled data and attaches as a 1-row broadcast (the same
    decorrelation Catalyst applies to ``HAVING sum() > (SELECT ...)``).
    One corpus shuffle total at any scale."""
    orders = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    nation_rev = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .groupBy("n_name")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("rev"))
    )
    global_rev = nation_rev.agg(F.round(F.sum("rev"), 2).alias("global_rev"))
    return (
        nation_rev.crossJoin(F.broadcast(global_rev))
        .filter(F.col("rev") > 0.042 * F.col("global_rev"))
        .select("n_name", "rev", F.round(F.col("rev") / F.col("global_rev"), 6).alias("share"))
        .orderBy(F.desc("rev"), "n_name")
    )


ORACLE_Q94 = """
WITH nr AS (
  SELECT n_name, round(sum(o_totalprice), 2) AS rev
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation   ON c_nationkey = n_nationkey
  GROUP BY n_name
), g AS (SELECT round(sum(rev), 2) AS global_rev FROM nr)
SELECT n_name, rev, round(rev / global_rev, 6) AS share
FROM nr, g
WHERE rev > 0.042 * global_rev
ORDER BY rev DESC, n_name
"""


# --- q95: suppliers per brand w/ NOT-IN exclusion (TPC-H Q16 shape) --------

def q95_brand_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT-IN-subquery family: distinct suppliers per part brand for
    selected sizes, excluding suppliers in bad standing. The NOT IN
    rewrites to a LEFT ANTI equi-join (safe here: ``l_suppkey`` is
    non-null, so NOT IN == anti-join); the exclusion list is a scan-
    filtered sliver that AQE broadcasts. part joins un-hinted —
    a dim table this size broadcasts at small SF and shuffle-joins at
    100 TB, both correct. count_distinct expands map-side."""
    bad = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    part = _t(spark, sf_dir, "part").filter(
        F.col("p_size").isin(1, 5, 10, 15, 20, 25)
    ).select("p_partkey", "p_brand")
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(bad, li.l_suppkey == bad.s_suppkey, "left_anti")
        .groupBy("p_brand")
        .agg(F.count_distinct("l_suppkey").alias("n_suppliers"))
        .orderBy(F.desc("n_suppliers"), "p_brand")
    )


ORACLE_Q95 = """
SELECT p_brand, count(DISTINCT l_suppkey) AS n_suppliers
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_size IN (1, 5, 10, 15, 20, 25)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand
ORDER BY n_suppliers DESC, p_brand
"""


# --- q96: large-quantity orders (TPC-H Q18 IN-over-HAVING shape) -----------

def q96_large_quantity_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-(subquery-with-HAVING) family: orders whose total lineitem
    quantity exceeds 300, with their customer. The IN-list subquery
    becomes an aggregate (one lineitem shuffle on the order key) whose
    surviving keys inner-join orders — at 100 TB the HAVING filter
    collapses the join input to a sliver BEFORE the join, which AQE
    then broadcasts; no semi-join dedup pass is needed because
    l_orderkey is the aggregation key (already distinct)."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .filter(F.col("total_qty") > 300)
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select("c_name", "o_orderkey", "o_orderdate", "total_qty")
        .orderBy(F.desc("total_qty"), "o_orderkey")
    )


ORACLE_Q96 = """
SELECT c_name, o_orderkey, o_orderdate, total_qty
FROM orders
JOIN (SELECT l_orderkey, round(sum(l_quantity), 2) AS total_qty
      FROM lineitem GROUP BY l_orderkey HAVING total_qty > 300) big
  ON o_orderkey = big.l_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY total_qty DESC, o_orderkey
"""


# --- q98: mergeable HLL sketch rollup (partial sketches -> union) ----------

def q98_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mergeable-sketch rollup — THE pattern that makes sketches
    matter at 100 TB: per-group Datasketches HLL sketches built in one
    pass, then *merged* (``hll_union_agg``) into the global sketch
    without ever revisiting the data. Exactly how a 1000-executor
    cluster maintains distinct counts per partition AND globally from
    one shuffle of kilobyte sketches.

    Hash surface follows q19: exact-distinct twins + in-band booleans
    the oracle pins to TRUE (sketch bytes are engine-specific)."""
    orders = _t(spark, sf_dir, "orders").select("o_orderpriority", "o_custkey")
    per_group = orders.groupBy("o_orderpriority").agg(
        F.hll_sketch_agg("o_custkey").alias("sk"),
        F.count_distinct("o_custkey").alias("exact_custkeys"),
    )
    est = per_group.select(
        "o_orderpriority",
        "exact_custkeys",
        F.hll_sketch_estimate("sk").alias("approx"),
        "sk",
    )
    glob = est.agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("g_approx"))
    g_exact = orders.agg(F.count_distinct("o_custkey").alias("g_exact"))

    def band(approx, exact):
        return F.abs(approx - exact) <= F.greatest(
            F.lit(HLL_ABS_FLOOR), HLL_BAND * exact
        )
    return (
        est.crossJoin(F.broadcast(glob))
        .crossJoin(F.broadcast(g_exact))
        .select(
            "o_orderpriority",
            "exact_custkeys",
            band(F.col("approx"), F.col("exact_custkeys")).alias("approx_ok"),
            "g_exact",
            band(F.col("g_approx"), F.col("g_exact")).alias("union_ok"),
        )
        .orderBy("o_orderpriority")
    )


ORACLE_Q98 = """
WITH g AS (SELECT count(DISTINCT o_custkey) AS g_exact FROM orders)
SELECT o_orderpriority,
       count(DISTINCT o_custkey) AS exact_custkeys,
       TRUE                      AS approx_ok,
       g_exact,
       TRUE                      AS union_ok
FROM orders, g
GROUP BY o_orderpriority, g_exact
ORDER BY o_orderpriority
"""


# --- q106: 6-table join-reordering stress (TPC-H Q5 shape) ------------------

def q106_local_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape — the canonical join-REORDERING stress: six
    tables (region→nation→customer→orders→lineitem→supplier) with the
    'local supplier' constraint (customer and supplier share a
    nation), a region filter, and a one-year date window. Declared as
    plain equi-joins; Catalyst + AQE pick the order and broadcast the
    three dim tables, and the date filter reaches the orders scan
    (PushedFilters). The only big-big shuffle is orders⨝lineitem on
    the order key — exactly the plan a 100 TB run wants."""
    reg = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    ).select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            sup,
            (li.l_suppkey == sup.s_suppkey) & (cust.c_nationkey == sup.s_nationkey),
        )
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
        .orderBy(F.desc("revenue"), "n_name")
    )


ORACLE_Q106 = """
SELECT n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
       count(*) AS n_lineitems
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1997-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


# --- q107: disjunctive multi-column predicate (TPC-H Q19 shape) -------------

def q107_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape — OR-of-ANDs across two tables: three
    (brand, quantity-band, size-band) triples, any of which qualifies
    a lineitem. The per-table halves of the disjunction
    (brand-or-brand-or-brand, size ≤ max) are pushed to the part scan
    by Catalyst's predicate simplification even though the full
    predicate spans the join — the optimizer-stress half of the
    family; q48/q50 cover the conjunctive shapes."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    j = li.join(part, li.l_partkey == part.p_partkey)
    cond = (
        ((F.col("p_brand") == "Brand#12") & F.col("l_quantity").between(1, 11) & F.col("p_size").between(1, 5))
        | ((F.col("p_brand") == "Brand#23") & F.col("l_quantity").between(10, 20) & F.col("p_size").between(1, 10))
        | ((F.col("p_brand") == "Brand#34") & F.col("l_quantity").between(20, 30) & F.col("p_size").between(1, 15))
    )
    return (
        j.filter(cond)
        .groupBy("p_brand")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
        .orderBy("p_brand")
    )


ORACLE_Q107 = """
SELECT p_brand,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
       count(*) AS n_lineitems
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND l_quantity BETWEEN 1 AND 11 AND p_size BETWEEN 1 AND 5)
   OR (p_brand = 'Brand#23' AND l_quantity BETWEEN 10 AND 20 AND p_size BETWEEN 1 AND 10)
   OR (p_brand = 'Brand#34' AND l_quantity BETWEEN 20 AND 30 AND p_size BETWEEN 1 AND 15)
GROUP BY p_brand
ORDER BY p_brand
"""


# --- q102: deterministic stratified sampling -------------------------------

def q102_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling with per-stratum rates — the train-set
    downsampling primitive (e.g. keep 50% of rare 'P' orders, 12.5% of
    'O', 6.25% of 'F'). Unlike ``df.sampleBy`` (seeded RNG, engine-
    specific), membership is a DETERMINISTIC hash test both engines
    agree on: the first 4 hex chars of ``md5(key)`` land uniformly in
    a 16-bit space, and a row is kept when they fall below the
    stratum's threshold. Reproducible across runs, engines, and
    cluster sizes — resampling with a different rate keeps a superset/
    subset (thresholds nest), which is what curriculum-style data
    mixes need.

    Scale: one corpus scan, map-side hash + conditional partial agg,
    single ~3-row shuffle. No RNG state, no second scan for the
    denominator (conditional aggregation folds sampled and total
    counts into one pass).
    """
    orders = _t(spark, sf_dir, "orders").select("o_orderstatus", "o_orderkey", "o_totalprice")
    bucket = F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 4)
    thresh = (
        F.when(F.col("o_orderstatus") == "P", F.lit("8000"))
        .when(F.col("o_orderstatus") == "O", F.lit("2000"))
        .otherwise(F.lit("1000"))
    )
    keep = bucket < thresh
    return (
        orders.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_total"),
            F.count(F.when(keep, 1)).alias("n_sampled"),
            F.round(F.sum(F.when(keep, F.col("o_totalprice"))), 2).alias("sampled_revenue"),
        )
        .withColumn("sample_rate", F.round(F.col("n_sampled") / F.col("n_total"), 6))
        .orderBy("o_orderstatus")
    )


ORACLE_Q102 = """
SELECT o_orderstatus,
       count(*) AS n_total,
       count(CASE WHEN substr(md5(cast(o_orderkey AS varchar)), 1, 4) <
                       (CASE o_orderstatus WHEN 'P' THEN '8000'
                                           WHEN 'O' THEN '2000'
                                           ELSE '1000' END)
                  THEN 1 END) AS n_sampled,
       round(sum(CASE WHEN substr(md5(cast(o_orderkey AS varchar)), 1, 4) <
                           (CASE o_orderstatus WHEN 'P' THEN '8000'
                                               WHEN 'O' THEN '2000'
                                               ELSE '1000' END)
                      THEN o_totalprice END), 2) AS sampled_revenue,
       round(count(CASE WHEN substr(md5(cast(o_orderkey AS varchar)), 1, 4) <
                             (CASE o_orderstatus WHEN 'P' THEN '8000'
                                                 WHEN 'O' THEN '2000'
                                                 ELSE '1000' END)
                        THEN 1 END) * 1.0 / count(*), 6) AS sample_rate
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


# --- q103: fixed-width histogram --------------------------------------------

def q103_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of order value: bin = floor(price/25k).
    The profiling primitive behind data-quality dashboards and skew
    detection. Binning is pure map-side arithmetic feeding a partial
    agg, so the shuffle carries ~20 bin rows per task regardless of
    corpus size — the histogram of a 100 TB table costs one scan."""
    orders = _t(spark, sf_dir, "orders").select("o_totalprice")
    bin_col = F.floor(F.col("o_totalprice") / 25000).cast("int")
    return (
        orders.groupBy(bin_col.alias("price_bin"))
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("bin_revenue"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
        .orderBy("price_bin")
    )


ORACLE_Q103 = """
SELECT cast(floor(o_totalprice / 25000) AS int) AS price_bin,
       count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS bin_revenue,
       round(min(o_totalprice), 2) AS lo,
       round(max(o_totalprice), 2) AS hi
FROM orders
GROUP BY 1
ORDER BY price_bin
"""


# --- q104: full-outer reconciliation ----------------------------------------

def q104_rich_accounts_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join family — the reconciliation shape (compare two
    independently-derived per-key aggregates where either side may
    miss keys): nations' high-balance customers vs high-balance
    suppliers. Both sides pre-aggregate to ≤25 rows BEFORE the outer
    join, so the full-outer is tiny however large the inputs; the
    nation name attaches via broadcast to the coalesced key."""
    cust = _t(spark, sf_dir, "customer").select("c_nationkey", "c_acctbal")
    supp = _t(spark, sf_dir, "supplier").select("s_nationkey", "s_acctbal")
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rich_c = (
        cust.filter(F.col("c_acctbal") > 9000)
        .groupBy("c_nationkey").agg(F.count("*").alias("rich_cust"))
    )
    rich_s = (
        supp.filter(F.col("s_acctbal") > 9000)
        .groupBy("s_nationkey").agg(F.count("*").alias("rich_supp"))
    )
    merged = rich_c.join(rich_s, rich_c.c_nationkey == rich_s.s_nationkey, "full_outer")
    key = F.coalesce(F.col("c_nationkey"), F.col("s_nationkey"))
    return (
        merged.select(
            key.alias("nationkey"),
            F.coalesce(F.col("rich_cust"), F.lit(0)).alias("rich_cust"),
            F.coalesce(F.col("rich_supp"), F.lit(0)).alias("rich_supp"),
        )
        .join(F.broadcast(nat), F.col("nationkey") == nat.n_nationkey)
        .select(
            "n_name", "rich_cust", "rich_supp",
            (F.col("rich_cust") - F.col("rich_supp")).alias("cust_minus_supp"),
        )
        .orderBy("n_name")
    )


ORACLE_Q104 = """
WITH rc AS (
  SELECT c_nationkey, count(*) AS rich_cust FROM customer
  WHERE c_acctbal > 9000 GROUP BY c_nationkey
), rs AS (
  SELECT s_nationkey, count(*) AS rich_supp FROM supplier
  WHERE s_acctbal > 9000 GROUP BY s_nationkey
)
SELECT n_name,
       coalesce(rich_cust, 0) AS rich_cust,
       coalesce(rich_supp, 0) AS rich_supp,
       coalesce(rich_cust, 0) - coalesce(rich_supp, 0) AS cust_minus_supp
FROM rc FULL OUTER JOIN rs ON c_nationkey = s_nationkey
JOIN nation ON coalesce(c_nationkey, s_nationkey) = n_nationkey
ORDER BY n_name
"""


# --- q144: approx quantile sketch gated in-band vs exact ---------------------

PCTL_BAND = 0.05  # relative error band for the sketch vs the exact quantile


def q144_approx_quantile_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``percentile_approx`` (Greenwald-Khanna sketch) per order
    priority — the constant-memory scale path for quantiles (the exact
    form sorts every group member; the sketch is bounded by 1/accuracy
    regardless of input size). Same gating trick as q19's HLL: the
    sketch value is engine-specific, so the hashed surface is the
    exact quantile twin plus an in-band boolean the oracle pins to
    TRUE — a sketch drifting beyond 5% fails the hash gate. GK is
    deterministic for a fixed input ordering per group; the accuracy
    parameter (10000) keeps the band comfortable."""
    from prox_spark.queries.text import _spread

    # spread the fact side: the single-row-group bench file scans as
    # ~1 non-empty split, so BOTH percentile partial aggregates (each
    # buffers and merges every group member it sees) ran on one core;
    # a no-op at real scale (guide §2.5 input parallelism)
    li = _spread(_t(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice"))
    agg = (
        li.join(
            _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority"),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .groupBy("o_orderpriority")
        .agg(
            F.expr("percentile(l_extendedprice, 0.5)").alias("exact_med"),
            F.percentile_approx("l_extendedprice", 0.5, 10000).alias("approx_med"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )
    return (
        agg.select(
            "o_orderpriority",
            F.round("exact_med", 2).alias("median_price"),
            (
                F.abs(F.col("approx_med") - F.col("exact_med"))
                <= PCTL_BAND * F.col("exact_med")
            ).alias("approx_ok"),
            "n_items",
        )
        .orderBy("o_orderpriority")
    )


ORACLE_Q144 = """
SELECT o_orderpriority,
       round(quantile_cont(l_extendedprice, 0.5), 2) AS median_price,
       TRUE AS approx_ok,
       count(*) AS n_items
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# --- q132: auto-skew join (detected hot keys -> broadcast isolation) --------

def q132_auto_skew_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event value per event type through
    :func:`prox_spark.joins.auto_skew_join`: users whose event count
    exceeds 1.2x the mean (the q130 threshold rule — genuinely FEW
    keys) take a broadcast isolation path whose fact rows never
    shuffle; the cold remainder takes the plain shuffle join; the hot
    set is additionally capped at the 64 hottest keys. The dim side is
    a per-user profile built from the same table. The oracle is the
    PLAIN join + aggregate — the operator must be result-invisible."""
    from prox_spark.joins import auto_skew_join
    from prox_spark.queries.events import _events

    ev = _events(spark, sf_dir).select("user_id", "event_type", "value")
    dim = ev.groupBy("user_id").agg(F.round(F.sum("value"), 2).alias("user_total"))
    # one pre-job, not two: total rows AND distinct users both fall out
    # of a single per-user count pass (map-side combined)
    t = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("__n"))
        .agg(F.sum("__n").alias("total"), F.count(F.lit(1)).alias("n_users"))
        .collect()[0]
    )
    thr = (12 * t.total) // (10 * t.n_users) + 1
    return (
        auto_skew_join(
            ev.select("user_id", "event_type"), dim, "user_id", hot_threshold=thr
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("user_total"), 2).alias("weighted_total"),
        )
        .orderBy("event_type")
    )


ORACLE_Q132 = """
WITH dim AS (
  SELECT user_id, round(sum(value), 2) AS user_total
  FROM events GROUP BY user_id
)
SELECT e.event_type,
       count(*) AS n_events,
       round(sum(d.user_total), 2) AS weighted_total
FROM events e JOIN dim d ON e.user_id = d.user_id
GROUP BY e.event_type
ORDER BY e.event_type
"""


# --- q131: Z-order clustered scan (multi-column data skipping) --------------

def q131_zorder_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D range scan over a Z-ORDER-clustered copy of lineitem
    (prox_spark/zorder.py — Morton-interleaved (l_partkey, l_suppkey),
    range-partitioned into files whose parquet min/max stats are tight
    on BOTH columns, so this scan's file/row-group pruning touches a
    small fraction of the table; tests/test_zorder.py measures the
    skipped-file ratio against a linearly-sorted layout). Clustering
    changes layout, never content, so the oracle runs the same
    predicate on the original table. Range bounds derive from
    max(l_partkey) by exact integer arithmetic — sf-invariant. The
    staged copy is per-sf and reused across runs."""
    import os

    from prox_spark.zorder import write_zordered

    li = _t(spark, sf_dir, "lineitem")
    stage = os.path.join(
        os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
        ".fixtures",
        f"zorder_lineitem_{os.path.basename(os.path.normpath(sf_dir))}",
    )
    if not os.path.exists(os.path.join(stage, "_SUCCESS")):
        write_zordered(li, stage, ["l_partkey", "l_suppkey"], n_files=16)
    max_pk, max_sk = li.agg(
        F.max("l_partkey"), F.max("l_suppkey")
    ).collect()[0]
    pk_lo, pk_hi = (4 * max_pk) // 10, (5 * max_pk) // 10
    sk_lo, sk_hi = (4 * max_sk) // 10, (5 * max_sk) // 10
    z = read_parquet(spark, stage)
    return (
        z.filter(
            F.col("l_partkey").between(pk_lo, pk_hi)
            & F.col("l_suppkey").between(sk_lo, sk_hi)
        )
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        )
        .orderBy("l_returnflag")
    )


ORACLE_Q131 = """
WITH b AS (
  SELECT (4 * max(l_partkey)) // 10 AS pk_lo, (5 * max(l_partkey)) // 10 AS pk_hi,
         (4 * max(l_suppkey)) // 10 AS sk_lo, (5 * max(l_suppkey)) // 10 AS sk_hi
  FROM lineitem
)
SELECT l_returnflag,
       count(*) AS n_items,
       round(sum(l_extendedprice), 2) AS sum_price
FROM lineitem, b
WHERE l_partkey BETWEEN pk_lo AND pk_hi
  AND l_suppkey BETWEEN sk_lo AND sk_hi
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


QUERIES = {
    "q131_zorder_scan": q131_zorder_scan,
    "q132_auto_skew_revenue": q132_auto_skew_revenue,
    "q144_approx_quantile_band": q144_approx_quantile_band,
    "q01_pricing_summary": q01_pricing_summary,
    "q02_top5_suppliers": q02_top5_suppliers,
    "q03_avg_acctbal_by_nation": q03_avg_acctbal_by_nation,
    "q04_monthly_revenue": q04_monthly_revenue,
    "q05_status_pct_by_priority": q05_status_pct_by_priority,
    "q06_lineitems_by_nation_flag": q06_lineitems_by_nation_flag,
    "q07_top5_suppliers_by_returns": q07_top5_suppliers_by_returns,
    "q08_top3_orders_per_segment": q08_top3_orders_per_segment,
    "q09_date_dim": q09_date_dim,
    "q10_distinct_nation_region": q10_distinct_nation_region,
    "q11_fk_orphans": q11_fk_orphans,
    "q12_segment_status_matrix": q12_segment_status_matrix,
    "q13_active_nations": q13_active_nations,
    "q14_orders_since_week": q14_orders_since_week,
    "q15_rollup": q15_rollup,
    "q16_nation_setops": q16_nation_setops,
    "q17_customers_without_orders": q17_customers_without_orders,
    "q18_pivot_status": q18_pivot_status,
    "q19_approx_distinct_custkeys": q19_approx_distinct_custkeys,
    "q27_unpivot_measures": q27_unpivot_measures,
    "q28_cube_status_priority": q28_cube_status_priority,
    "q29_acctbal_quartiles": q29_acctbal_quartiles,
    "q48_promo_revenue": q48_promo_revenue,
    "q49_small_qty_revenue": q49_small_qty_revenue,
    "q50_parttype_yearly_revenue": q50_parttype_yearly_revenue,
    "q68_salted_segment_revenue": q68_salted_segment_revenue,
    "q70_median_acctbal": q70_median_acctbal,
    "q73_group_percentiles": q73_group_percentiles,
    "q74_top_customer_per_nation": q74_top_customer_per_nation,
    "q79_grouping_sets": q79_grouping_sets,
    "q89_rank_functions": q89_rank_functions,
    "q90_late_order_priority": q90_late_order_priority,
    "q91_dormant_rich_customers": q91_dormant_rich_customers,
    "q94_nation_revenue_share": q94_nation_revenue_share,
    "q95_brand_supplier_counts": q95_brand_supplier_counts,
    "q96_large_quantity_orders": q96_large_quantity_orders,
    "q98_hll_rollup": q98_hll_rollup,
    "q102_stratified_sample": q102_stratified_sample,
    "q103_price_histogram": q103_price_histogram,
    "q104_rich_accounts_reconcile": q104_rich_accounts_reconcile,
    "q106_local_supplier_revenue": q106_local_supplier_revenue,
    "q107_disjunctive_revenue": q107_disjunctive_revenue,
}

ORACLES = {
    "q131_zorder_scan": ORACLE_Q131,
    "q132_auto_skew_revenue": ORACLE_Q132,
    "q144_approx_quantile_band": ORACLE_Q144,
    "q102_stratified_sample": ORACLE_Q102,
    "q103_price_histogram": ORACLE_Q103,
    "q104_rich_accounts_reconcile": ORACLE_Q104,
    "q106_local_supplier_revenue": ORACLE_Q106,
    "q107_disjunctive_revenue": ORACLE_Q107,
    "q90_late_order_priority": ORACLE_Q90,
    "q91_dormant_rich_customers": ORACLE_Q91,
    "q94_nation_revenue_share": ORACLE_Q94,
    "q95_brand_supplier_counts": ORACLE_Q95,
    "q96_large_quantity_orders": ORACLE_Q96,
    "q98_hll_rollup": ORACLE_Q98,
    "q68_salted_segment_revenue": ORACLE_Q68,
    "q70_median_acctbal": ORACLE_Q70,
    "q73_group_percentiles": ORACLE_Q73,
    "q74_top_customer_per_nation": ORACLE_Q74,
    "q79_grouping_sets": ORACLE_Q79,
    "q89_rank_functions": ORACLE_Q89,
    "q19_approx_distinct_custkeys": ORACLE_Q19,
    "q48_promo_revenue": ORACLE_Q48,
    "q49_small_qty_revenue": ORACLE_Q49,
    "q50_parttype_yearly_revenue": ORACLE_Q50,
    "q27_unpivot_measures": ORACLE_Q27,
    "q28_cube_status_priority": ORACLE_Q28,
    "q29_acctbal_quartiles": ORACLE_Q29,
    "q18_pivot_status": ORACLE_Q18,
    "q15_rollup": ORACLE_Q15,
    "q16_nation_setops": ORACLE_Q16,
    "q17_customers_without_orders": ORACLE_Q17,
    "q01_pricing_summary": ORACLE_Q01,
    "q02_top5_suppliers": ORACLE_Q02,
    "q03_avg_acctbal_by_nation": ORACLE_Q03,
    "q04_monthly_revenue": ORACLE_Q04,
    "q05_status_pct_by_priority": ORACLE_Q05,
    "q06_lineitems_by_nation_flag": ORACLE_Q06,
    "q07_top5_suppliers_by_returns": ORACLE_Q07,
    "q08_top3_orders_per_segment": ORACLE_Q08,
    "q09_date_dim": ORACLE_Q09,
    "q10_distinct_nation_region": ORACLE_Q10,
    "q11_fk_orphans": ORACLE_Q11,
    "q12_segment_status_matrix": ORACLE_Q12,
    "q13_active_nations": ORACLE_Q13,
    "q14_orders_since_week": ORACLE_Q14,
}
