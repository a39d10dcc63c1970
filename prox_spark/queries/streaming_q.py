"""Streaming queries materialized for the correctness gate: each
callable runs a REAL Structured Streaming pass (file source ->
stateful operator -> memory sink, availableNow trigger) and returns
the drained result as a batch DataFrame, so the DuckDB oracle can
check the stateful semantics end-to-end.

The reference has no streaming at all (SURVEY.md §2.10); these extend
the engine's event surface. prox_spark/streaming.py holds the
operators; tests/test_streaming.py covers incremental execution
against multi-file directories.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession, functions as F

from prox_spark.hashing import CMS_D, CMS_W, _cms_bucket_spark, cms_grid
from prox_spark.io import read_parquet
from prox_spark.ivf import _tag_centroids
from prox_spark.local_frames import values_df
from prox_spark.neardup import (
    DOT_SPARK,
    JACCARD_THRESHOLD,
    TOKENS_SPARK,
    bucket_pairs,
    jaccard,
    lsh_band_rows,
    shingle_arrays,
    shingle_overlaps,
)


@contextmanager
def _stream_partitions(
    spark: SparkSession, n: str | None = None, no_data_batch: bool = False
):
    """Streaming state (windowed aggs, dedup, stream-stream joins,
    applyInPandasWithState) is per-shuffle-partition: every partition
    gets its own state-store instance + checkpoint delta per
    micro-batch, so 32 partitions over a small batch is pure setup
    overhead (measured 8s -> ~2s on q78 at sf0.1 with 8; 4 shaves
    another ~25% off the JVM-state queries). On a real cluster this
    knob is sized to executor count. Streams pin the conf at start,
    so set/restore around the whole run. Python-stateful streams
    (applyInPandasWithState) pass a higher ``n``: their bottleneck is
    pandas throughput per worker, not state-store setup.

    ``no_data_batch``: availableNow appends one empty micro-batch after
    the data to advance the watermark (state eviction + append-mode
    emission) — ~0.5s of per-partition state-store commits here. Only
    append-mode watermark emission (q101's sessions) OBSERVABLY needs
    it in a drain-once run: update-mode aggs/dedup/joins emit with the
    data batches, so the rest skip it."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    prev_ndb = spark.conf.get("spark.sql.streaming.noDataMicroBatches.enabled")
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        n or os.environ.get("SPARK_GRAFT_STREAM_PARTITIONS", "4"),
    )
    spark.conf.set(
        "spark.sql.streaming.noDataMicroBatches.enabled", str(no_data_batch).lower()
    )
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", prev_ndb)

# staged event parquet per sf_dir, shared by q44/q69 (staging writes the
# full event table — do it once per process, not once per query run);
# removed at interpreter exit
_STAGE_CACHE: dict[str, str] = {}


def _staged_events(spark: SparkSession, sf_dir: str) -> str:
    from prox_spark.queries.events import _events

    if sf_dir not in _STAGE_CACHE:
        stage_dir = tempfile.mkdtemp(prefix="prox_spark_stream_stage_")
        ev = _events(spark, sf_dir).withColumn("ts", F.col("ts").cast("timestamp"))
        ev.coalesce(4).write.mode("overwrite").parquet(stage_dir)
        _STAGE_CACHE[sf_dir] = stage_dir
        atexit.register(shutil.rmtree, stage_dir, ignore_errors=True)
    return _STAGE_CACHE[sf_dir]


def q44_stateful_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running totals via applyInPandasWithState (custom group
    state), drained with an availableNow trigger. Raw double sums from
    the state are rounded JVM-side (determinism rules,
    queries/__init__.py)."""
    from prox_spark.streaming import read_event_stream, run_to_memory, stateful_user_totals

    stage_dir = _staged_events(spark, sf_dir)
    batch_schema = read_parquet(spark, stage_dir).schema

    stream = read_event_stream(spark, stage_dir, batch_schema)
    totals = stateful_user_totals(stream)
    with _stream_partitions(spark, os.environ.get("SPARK_GRAFT_PY_PARTITIONS", "8")):
        drained = run_to_memory(
            totals, f"q44_mem_{uuid.uuid4().hex[:8]}", output_mode="update"
        )
    # update-mode memory sink appends every micro-batch's updated
    # rows; a user touched in N batches yields N rows, of which the
    # LAST (largest running n_events — strictly monotone per user)
    # is the final state. Reduce instead of assuming one batch, so
    # maxFilesPerTrigger / file-batching changes can't break this.
    final = drained.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max_by("sum_value_raw", "n_events").alias("sum_value_raw"),
    )
    return (
        final.select(
            "user_id",
            "n_events",
            F.round("sum_value_raw", 2).alias("sum_value"),
        )
        .orderBy("user_id")
    )


def q69_streaming_hourly_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window aggregation run as a REAL stream
    (file source -> withWatermark + window groupBy -> memory sink,
    availableNow): the streaming counterpart of q20, gated against the same
    batch SQL. In a single availableNow pass the watermark cannot drop
    anything (it only advances between micro-batches), so stream output
    == batch aggregation — exactly the equivalence this query pins;
    multi-batch incremental behavior (late-data drops, state eviction)
    is covered by tests/test_streaming.py."""
    from prox_spark.streaming import hourly_stats, read_event_stream, run_to_memory

    stage_dir = _staged_events(spark, sf_dir)
    batch_schema = read_parquet(spark, stage_dir).schema

    stream = read_event_stream(spark, stage_dir, batch_schema)
    windowed = hourly_stats(stream, watermark="2 hours")
    with _stream_partitions(spark):
        drained = run_to_memory(
            windowed, f"q69_mem_{uuid.uuid4().hex[:8]}", output_mode="update"
        )
    # update-mode drain: last emission per (window, type) wins
    # (n_events is strictly monotone per key across batches)
    final = drained.groupBy("hour_start", "event_type").agg(
        F.max("n_events").alias("n_events"),
        F.max_by("sum_value", "n_events").alias("sum_value"),
    )
    return final.orderBy("hour_start", "event_type")


def q77_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join run as a REAL stream: the event
    stream joins a batch dimension (event_type -> weight, derived
    deterministically so the oracle can re-derive it) and aggregates a
    weighted value per type. The static side needs no watermark and no
    state — per micro-batch it is a broadcast hash join; only the
    downstream agg keeps state."""
    from prox_spark.streaming import enrich_with_dim, read_event_stream, run_to_memory

    stage_dir = _staged_events(spark, sf_dir)
    batch_schema = read_parquet(spark, stage_dir).schema

    dim = (
        read_parquet(spark, stage_dir)
        .select("event_type")
        .distinct()
        .withColumn("weight", F.length("event_type").cast("long"))
    )
    stream = read_event_stream(spark, stage_dir, batch_schema)
    enriched = enrich_with_dim(stream, dim)
    agg = enriched.groupBy("event_type", "weight").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum(F.col("value") * F.col("weight")), 2).alias("weighted_value"),
    )
    with _stream_partitions(spark):
        drained = run_to_memory(
            agg, f"q77_mem_{uuid.uuid4().hex[:8]}", output_mode="update"
        )
    # update-mode drain: last emission per key wins (n_events monotone)
    final = drained.groupBy("event_type", "weight").agg(
        F.max("n_events").alias("n_events"),
        F.max_by("weighted_value", "n_events").alias("weighted_value"),
    )
    return final.orderBy("event_type")


ORACLE_Q77 = """
SELECT event_type,
       CAST(length(event_type) AS BIGINT)        AS weight,
       count(*)                                  AS n_events,
       round(sum(value * length(event_type)), 2) AS weighted_value
FROM events
GROUP BY 1, 2
ORDER BY event_type
"""


def q78_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join run as a REAL stream: click and
    purchase streams (two readers over the same staged directory) join
    on user within a 30-minute attribution window; the drained pair
    stream is then batch-reduced to clicks-per-purchase. In a single
    availableNow pass the watermark drops nothing, so the result equals
    the batch interval join the oracle runs; incremental state eviction
    is covered by tests/test_streaming.py."""
    from prox_spark.streaming import clicks_before_purchases, read_event_stream, run_to_memory

    stage_dir = _staged_events(spark, sf_dir)
    batch_schema = read_parquet(spark, stage_dir).schema

    clicks = read_event_stream(spark, stage_dir, batch_schema).filter(
        F.col("event_type") == "click"
    )
    purchases = read_event_stream(spark, stage_dir, batch_schema).filter(
        F.col("event_type") == "purchase"
    )
    pairs = clicks_before_purchases(clicks, purchases, lookback="30 minutes")
    with _stream_partitions(spark):
        drained = run_to_memory(pairs, f"q78_mem_{uuid.uuid4().hex[:8]}")
    return (
        drained.groupBy(
            "purchase_id",
            F.col("p_user_id").alias("user_id"),
            "purchase_ts",
        )
        .agg(F.count(F.lit(1)).alias("n_clicks"))
        .orderBy("purchase_id")
    )


ORACLE_Q78 = """
SELECT p.event_id AS purchase_id,
       p.user_id,
       p.ts       AS purchase_ts,
       count(*)   AS n_clicks
FROM events p
JOIN events c
  ON c.user_id = p.user_id
 AND c.event_type = 'click'
 AND c.ts BETWEEN p.ts - INTERVAL '30 minutes' AND p.ts
WHERE p.event_type = 'purchase'
GROUP BY 1, 2, 3
ORDER BY purchase_id
"""


ORACLE_Q69 = """
SELECT date_trunc('hour', ts)      AS hour_start,
       event_type,
       count(*)                    AS n_events,
       round(sum(value), 2)        AS sum_value
FROM events
GROUP BY 1, 2
ORDER BY hour_start, event_type
"""


ORACLE_Q44 = """
SELECT user_id,
       count(*)             AS n_events,
       round(sum(value), 2) AS sum_value
FROM events
GROUP BY user_id
ORDER BY user_id
"""

# staged dir holding every event TWICE — the at-least-once upstream
# q100's dedup has to repair; cached per sf_dir like _STAGE_CACHE
_DUP_STAGE_CACHE: dict[str, str] = {}


def _staged_events_with_dups(spark: SparkSession, sf_dir: str) -> str:
    if sf_dir not in _DUP_STAGE_CACHE:
        base = _staged_events(spark, sf_dir)
        stage_dir = tempfile.mkdtemp(prefix="prox_spark_stream_dup_")
        ev = read_parquet(spark, base)
        ev.coalesce(4).write.mode("append").parquet(stage_dir)
        ev.coalesce(4).write.mode("append").parquet(stage_dir)
        _DUP_STAGE_CACHE[sf_dir] = stage_dir
        atexit.register(shutil.rmtree, stage_dir, ignore_errors=True)
    return _DUP_STAGE_CACHE[sf_dir]


def q100_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dropDuplicatesWithinWatermark`` as a REAL stream run: the
    source directory holds every event twice (an at-least-once
    upstream), the dedup operator must emit each event_id exactly
    once, and the drained feed is batch-reduced to per-type counts the
    oracle recomputes from the clean table. State is bounded by the
    watermark horizon — the horizon is set beyond the staged span so
    a single availableNow pass can never evict-then-readmit an id
    (incremental eviction is covered in tests/test_streaming.py)."""
    from prox_spark.streaming import dedup_within_watermark, read_event_stream, run_to_memory

    stage_dir = _staged_events_with_dups(spark, sf_dir)
    batch_schema = read_parquet(spark, stage_dir).schema

    stream = read_event_stream(spark, stage_dir, batch_schema)
    deduped = dedup_within_watermark(stream, watermark="35 days")
    with _stream_partitions(spark):
        drained = run_to_memory(deduped, f"q100_mem_{uuid.uuid4().hex[:8]}")
    return (
        drained.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .orderBy("event_type")
    )


ORACLE_Q100 = """
SELECT event_type,
       count(*)             AS n_events,
       round(sum(value), 2) AS sum_value
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def q101_streaming_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session windows (``F.session_window``) as a REAL stream
    run: gap-based sessions maintained as mergeable streaming state —
    the declarative, incremental form of q21's lag+cumsum
    sessionization. Session-window aggregations only support APPEND
    mode, which emits a session when the watermark passes its end; with
    a 0-second delay the final watermark is the corpus max event time,
    so every session except the still-open tail flushes in one
    availableNow pass. The oracle re-derives the same sessions via the
    island method with the session-window break rule (a gap of exactly
    the window size starts a NEW session — window end is exclusive) in
    exact integer microseconds, keeping only sessions the watermark
    closed (``session_end <= max(ts)``; Spark floors the watermark to
    milliseconds, a measure-zero boundary on microsecond-random data)."""
    from prox_spark.streaming import read_event_stream, run_to_memory, session_stats

    stage_dir = _staged_events(spark, sf_dir)
    batch_schema = read_parquet(spark, stage_dir).schema

    # scope to a user subset: the operator/state semantics are identical,
    # and the gate's full-result drain+collect stops dominating the run
    # (full-corpus batch sessionization is covered by q21)
    stream = read_event_stream(spark, stage_dir, batch_schema).filter(
        F.col("user_id") < 200
    )
    sess = session_stats(stream, watermark="0 seconds")
    with _stream_partitions(spark, no_data_batch=True):
        drained = run_to_memory(
            sess, f"q101_mem_{uuid.uuid4().hex[:8]}", output_mode="append"
        )
    return drained.select(
        "user_id", "session_start", "session_end", "n_events", "sum_value"
    ).orderBy("user_id", "session_start")


ORACLE_Q101 = """
WITH scoped AS (
  SELECT user_id, ts, value FROM events WHERE user_id < 200
), ordered AS (
  SELECT user_id, ts, value,
         epoch_us(ts) - lag(epoch_us(ts))
           OVER (PARTITION BY user_id ORDER BY ts) AS gap
  FROM scoped
), flagged AS (
  SELECT *, CASE WHEN gap IS NULL OR gap >= 30 * 60 * 1000000
                 THEN 1 ELSE 0 END AS is_new
  FROM ordered
), sessions AS (
  SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM flagged
)
SELECT user_id,
       min(ts)                       AS session_start,
       max(ts) + INTERVAL 30 MINUTE  AS session_end,
       count(*)                      AS n_events,
       round(sum(value), 2)          AS sum_value
FROM sessions
GROUP BY user_id, sid
HAVING max(ts) + INTERVAL 30 MINUTE <= (SELECT max(ts) FROM scoped)
ORDER BY user_id, session_start
"""


# --- q109: streaming dedup against a persistent digest store ----------------

_DOC_DUP_STAGE_CACHE: dict[str, str] = {}


def _staged_docs_with_dups(spark: SparkSession, sf_dir: str) -> str:
    """documents.parquet staged as a multi-file dir with every file
    delivered twice — the at-least-once crawl feed q109 dedups."""
    if sf_dir not in _DOC_DUP_STAGE_CACHE:
        stage_dir = tempfile.mkdtemp(prefix="prox_spark_doc_dup_")
        docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
        docs.coalesce(2).write.mode("append").parquet(stage_dir)
        docs.coalesce(2).write.mode("append").parquet(stage_dir)
        _DOC_DUP_STAGE_CACHE[sf_dir] = stage_dir
        atexit.register(shutil.rmtree, stage_dir, ignore_errors=True)
    return _DOC_DUP_STAGE_CACHE[sf_dir]


def q109_streaming_dedup_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-batch exact dedup against a PERSISTENT digest store — the
    100 TB crawl pattern q100 can't express: watermark dedup bounds
    state by TIME, but deduping a new crawl against ALL history needs
    a store that outlives the stream. Each micro-batch foreachBatch-
    merges (digest → representative doc) into a parquet store via the
    order-independent keep-max upsert, so replays and batch order
    cannot change the converged store (exactly-once EFFECT from an
    at-least-once feed; the staged dir delivers every file twice).

    At scale the store is a digest-keyed parquet table (32-char md5 +
    two narrow columns per unique doc); each merge shuffles one
    struct-max aggregate over batch ∪ store. The gate reads the final
    store and aggregates per source; the oracle recomputes the same
    arg-max representative set from the clean table."""
    from prox_spark.upsert import upsert_keep_max

    stage_dir = _staged_docs_with_dups(spark, sf_dir)
    batch_schema = read_parquet(spark, stage_dir).schema
    run = uuid.uuid4().hex[:8]
    store = tempfile.mkdtemp(prefix=f"prox_spark_dedup_store_{run}_") + "/store"
    ckpt = tempfile.mkdtemp(prefix=f"prox_spark_dedup_ckpt_{run}_")
    atexit.register(shutil.rmtree, os.path.dirname(store), ignore_errors=True)
    atexit.register(shutil.rmtree, ckpt, ignore_errors=True)

    def _merge(batch_df: DataFrame, _batch_id: int) -> None:
        b = batch_df.select(
            F.md5(F.col("text")).alias("digest"), "doc_id", "source"
        )
        upsert_keep_max(batch_df.sparkSession, store, b, ["digest"], ["doc_id"])

    stream = (
        spark.readStream.schema(batch_schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(stage_dir)
    )
    with _stream_partitions(spark):
        q = (
            stream.writeStream.foreachBatch(_merge)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            if not q.awaitTermination(600):
                raise RuntimeError(
                    "stream did not drain within 600s"
                )
        finally:
            q.stop()

    from prox_spark.table import read_table

    return (
        read_table(spark, store)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_unique"),
            F.max("doc_id").alias("max_rep"),
        )
        .orderBy("source")
    )


ORACLE_Q109 = """
SELECT source, count(*) AS n_unique, max(doc_id) AS max_rep
FROM (
  SELECT md5(text) AS digest,
         arg_max(source, doc_id) AS source,
         max(doc_id) AS doc_id
  FROM documents
  GROUP BY digest
)
GROUP BY source
ORDER BY source
"""


# --- q136: streaming NEAR-dup against a persistent fingerprint store --------

def q136_streaming_neardup_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming NEAR-duplicate curation against a persistent
    fingerprint store — q109's exact-digest pattern upgraded to
    similarity: each micro-batch computes map-side SimHash
    fingerprints (queries/text.py:simhash_of — the identical
    expression the batch path uses) and keep-max-merges
    (fingerprint -> representative doc, source) into a parquet store.
    The staged feed delivers every file TWICE, so convergence under
    replay is part of what the gate checks.

    Determinism design: which doc SURVIVES a hamming-<=1 suppression
    depends on ingest order if decided per batch, so the store merge
    (order-independent keep-max — replays and reordering cannot
    change the converged store) is the streaming-incremental half,
    and the radius-1 suppression runs over the CONVERGED store
    fingerprints: band-blocked (2x8-bit bands, pigeonhole-exact at
    radius 1 like q105), a fingerprint group is dropped iff some
    neighbor group carries a larger representative. Both halves are
    batch-order-independent, which is exactly the property a resumable
    100 TB crawl pipeline needs. The oracle recomputes store +
    suppression from the clean table in one SQL shot."""
    from prox_spark.queries.text import (
        SIMHASH_BAND_BITS,
        SIMHASH_HAM_MAX,
        SIMHASH_N_BANDS,
        simhash_of,
    )
    from prox_spark.table import read_table
    from prox_spark.upsert import upsert_keep_max

    stage_dir = _staged_docs_with_dups(spark, sf_dir)
    batch_schema = read_parquet(spark, stage_dir).schema
    run = uuid.uuid4().hex[:8]
    store = tempfile.mkdtemp(prefix=f"prox_spark_neardup_store_{run}_") + "/store"
    ckpt = tempfile.mkdtemp(prefix=f"prox_spark_neardup_ckpt_{run}_")
    atexit.register(shutil.rmtree, os.path.dirname(store), ignore_errors=True)
    atexit.register(shutil.rmtree, ckpt, ignore_errors=True)

    def _merge(batch_df: DataFrame, _batch_id: int) -> None:
        fp = simhash_of(batch_df, extra_cols=("source",))
        upsert_keep_max(
            batch_df.sparkSession, store, fp, ["simhash"], ["doc_id"]
        )

    stream = (
        spark.readStream.schema(batch_schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(stage_dir)
    )
    with _stream_partitions(spark):
        q = (
            stream.writeStream.foreachBatch(_merge)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            if not q.awaitTermination(600):
                raise RuntimeError(
                    "stream did not drain within 600s"
                )
        finally:
            q.stop()

    s = read_table(spark, store).cache()  # (simhash, doc_id=max rep, source)
    band = F.explode(
        F.expr(
            f"transform(sequence(0, {SIMHASH_N_BANDS - 1}), b -> named_struct("
            f"'band', b, 'val', (simhash div shiftleft(1L, b * {SIMHASH_BAND_BITS})) % {1 << SIMHASH_BAND_BITS}))"
        )
    ).alias("bv")
    hb = s.select("simhash", "doc_id", band).select(
        "simhash", "doc_id", F.col("bv.band").alias("band"), F.col("bv.val").alias("val")
    )
    suppressed = (
        hb.alias("a")
        .join(hb.alias("b"), ["band", "val"])
        .filter(F.expr(f"bit_count(a.simhash ^ b.simhash) <= {SIMHASH_HAM_MAX}"))
        .filter(F.col("b.doc_id") > F.col("a.doc_id"))
        .select(F.col("a.simhash").alias("simhash"))
        .distinct()
    )
    return (
        s.join(suppressed, "simhash", "left_anti")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.max("doc_id").alias("max_kept_doc"),
        )
        .orderBy("source")
    )


def _oracle_q136() -> str:
    from prox_spark.queries.text import (
        SIMHASH_BAND_BITS,
        SIMHASH_HAM_MAX,
        SIMHASH_N_BANDS,
        _simhash_oracle,
    )

    return f"""
WITH s0 AS ({_simhash_oracle()}),
store AS (
  SELECT simhash, max(doc_id) AS doc_id
  FROM s0 GROUP BY simhash
), store_src AS (
  SELECT st.simhash, st.doc_id, d.source
  FROM store st JOIN documents d ON st.doc_id = d.doc_id
), bands AS (
  SELECT simhash, doc_id, b.b AS band,
         (simhash // (1 << (b.b * {SIMHASH_BAND_BITS}))) % {1 << SIMHASH_BAND_BITS} AS val
  FROM store_src CROSS JOIN (SELECT unnest(range(0, {SIMHASH_N_BANDS})) AS b) b
), suppressed AS (
  SELECT DISTINCT a.simhash
  FROM bands a JOIN bands b ON a.band = b.band AND a.val = b.val
  WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_HAM_MAX}
    AND b.doc_id > a.doc_id
)
SELECT source,
       count(*) AS n_kept,
       max(doc_id) AS max_kept_doc
FROM store_src
WHERE simhash NOT IN (SELECT simhash FROM suppressed)
GROUP BY source
ORDER BY source
"""


# --- q189: streaming Count-Min-Sketch maintenance ---------------------------

_DOC_FEED_STAGE_CACHE: dict[str, str] = {}


def _staged_docs_feed(spark: SparkSession, sf_dir: str) -> str:
    """documents.parquet staged as a 4-file arrival dir delivered
    exactly once — the clean feed q189's additive sketch merge
    consumes (additive merges are NOT idempotent under content
    re-delivery; delivery-level replays are handled by the batch-id
    guard instead)."""
    if sf_dir not in _DOC_FEED_STAGE_CACHE:
        stage_dir = tempfile.mkdtemp(prefix="prox_spark_doc_feed_")
        docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
        docs.repartition(4).write.mode("overwrite").parquet(stage_dir)
        _DOC_FEED_STAGE_CACHE[sf_dir] = stage_dir
        atexit.register(shutil.rmtree, stage_dir, ignore_errors=True)
    return _DOC_FEED_STAGE_CACHE[sf_dir]


def _cms_partial(df: DataFrame) -> DataFrame:
    """One micro-batch's (d, bucket, c) partial sketch — the same
    md5-bucketed grid q174 builds over the whole corpus."""
    cnt = (
        df.select(F.explode(F.expr(TOKENS_SPARK)).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    return cms_grid(cnt, CMS_D, CMS_W)


def cms_merge_batch(batch_df: DataFrame, batch_id: int, store: str) -> None:
    """Transactional additive sketch sink for foreachBatch: fold one
    micro-batch's partial CMS into the persisted artifact table, with
    an APPLIED-BATCH marker row (d = -1, bucket = batch_id) making the
    fold idempotent — a replayed batch id is skipped, so the additive
    merge stays exactly-once under at-least-once delivery (the
    foreachBatch txnAppId/txnVersion recipe, carried inside the
    artifact itself so it travels with the table). Each fold is one
    atomic commit_snapshot: the sketch's version history IS the
    stream's progress, time-travelable like any table."""
    from prox_spark.table import commit_snapshot, is_manifest_table, read_table

    sp = batch_df.sparkSession
    cur = None
    if is_manifest_table(sp, store):
        cur = read_table(sp, store)
        applied = {
            int(r["bucket"])
            for r in cur.filter(F.col("d") == -1).select("bucket").collect()
        }
        if int(batch_id) in applied:
            return
    # VALUES, not createDataFrame: no Python-RDD scan per micro-batch
    marker = values_df(
        sp, [(-1, int(batch_id), 1)], "d int, bucket long, c long"
    )
    partial = _cms_partial(batch_df).unionByName(marker)
    merged = (
        (cur.unionByName(partial) if cur is not None else partial)
        .groupBy("d", "bucket")
        .agg(F.sum("c").cast("long").alias("c"))
    )
    commit_snapshot(sp, store, merged)


_CMS_STORE_CACHE: dict[str, str] = {}


def _cms_store(spark: SparkSession, sf_dir: str) -> str:
    """Staged once per process: the CMS artifact table maintained by a
    REAL micro-batch stream over the staged documents feed (one file
    per trigger -> several batch folds through the transactional
    additive sink). The q218/q221 staging idiom (VERDICT r10 #7): the
    stream run is the lifecycle under test and is deterministic per
    (process, sf_dir); re-running it per bench rep re-measured only
    stream startup, so reps read the committed store instead."""
    from ._staging import staged

    def build(scratch: str) -> str:
        stage_dir = _staged_docs_feed(spark, sf_dir)
        batch_schema = read_parquet(spark, stage_dir).schema
        store = scratch + "/cms"
        ckpt = scratch + "/ckpt"
        stream = (
            spark.readStream.schema(batch_schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage_dir)
        )
        with _stream_partitions(spark):
            q = (
                stream.writeStream.foreachBatch(
                    lambda bdf, bid: cms_merge_batch(bdf, bid, store)
                )
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            try:
                if not q.awaitTermination(600):
                    raise RuntimeError("stream did not drain within 600s")
            finally:
                q.stop()
        return store

    return staged(_CMS_STORE_CACHE, sf_dir, "prox_spark_cms_store_", build)


def q189_streaming_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min-Sketch maintained BY A STREAM — the sketch family
    (q174) composed with the streaming store pattern (q109/q136):
    each micro-batch folds its partial D×W grid into a persisted
    artifact table through the transactional additive sink
    (:func:`cms_merge_batch`). Sketch addition is associative, so the
    stream-merged artifact equals the batch-computed sketch EXACTLY —
    the gate output (true top-k counts vs artifact estimates) is
    q174's, verified against q174's own oracle: a dropped batch, a
    double-applied batch, or a non-associative merge all surface as a
    wrong estimate.

    Scale shape: per batch, one token partial-agg (shuffle ∝ distinct
    tokens in the batch) plus a rewrite of a D×W-row table —
    kilobytes regardless of corpus size; this is how a 100 TB ingest
    keeps a global frequency oracle fresh without ever re-scanning
    history. The stream run itself stages once per process
    (:func:`_cms_store`); serving reads the committed artifact."""
    from prox_spark.queries.text import CMS_TOPK
    from prox_spark.table import read_table

    store = _cms_store(spark, sf_dir)
    sketch = read_table(spark, store).filter(F.col("d") >= 0)
    cnt = (
        read_parquet(spark, f"{sf_dir}/documents.parquet")
        .select(F.explode(F.expr(TOKENS_SPARK)).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    top = (
        cnt.orderBy(F.desc("cnt"), F.asc("tok"))
        .limit(CMS_TOPK)
        .withColumnRenamed("cnt", "true_cnt")
    )
    probes = top.select(
        "tok", "true_cnt",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(d).alias("d"),
                    F.expr(_cms_bucket_spark(d)).alias("bucket"),
                )
                for d in range(CMS_D)
            ])
        ).alias("p"),
    ).select("tok", "true_cnt", "p.d", "p.bucket")
    return (
        probes.join(F.broadcast(sketch), ["d", "bucket"])
        .groupBy("tok", "true_cnt")
        .agg(F.min("c").cast("long").alias("cms_est"))
        .withColumn(
            "overestimate",
            (F.col("cms_est") - F.col("true_cnt")).cast("long"),
        )
        .orderBy(F.desc("true_cnt"), F.asc("tok"))
    )


def _oracle_q189() -> str:
    # the stream-merged sketch must equal the batch-computed one
    # exactly (associative addition + exactly-once folds), so q174's
    # oracle IS q189's oracle
    from prox_spark.queries.text import _oracle_q174

    return _oracle_q174()


# --- q191: table-as-stream source maintaining a join view -------------------

_TSV_CACHE: dict = {}


def _tsv_region_expr():
    """source srcN -> region r{N % 4}: the dim derivation both engines
    express identically (documents' sources are srcN literals)."""
    return F.expr(
        "concat('r', cast(cast(substring(source, 4, 8) as int) % 4 as string))"
    )


def _fold_view(sp, store: str, part: DataFrame, batch_id: int) -> None:
    """Fold one micro-batch's per-region partial aggregate into the
    additive view artifact, exactly once: an applied-batch marker row
    (region='__b<id>', counts −1) rides in the artifact, so a replayed
    batch id is a no-op and the fold survives at-least-once delivery
    (the :func:`cms_merge_batch` recipe). Shared by the append-only
    sink (q191) and the signed change-feed sink (q197)."""
    from prox_spark.table import commit_snapshot, is_manifest_table, read_table

    cur = None
    if is_manifest_table(sp, store):
        cur = read_table(sp, store)
        applied = {
            r["region"]
            for r in cur.filter(F.col("n_docs") < 0).select("region").collect()
        }
        if f"__b{int(batch_id)}" in applied:
            return
    marker = values_df(
        sp,
        [(f"__b{int(batch_id)}", -1, -1)],
        "region string, n_docs long, sum_chars long",
    )
    merged = (
        (cur.unionByName(part.unionByName(marker)) if cur is not None
         else part.unionByName(marker))
        .groupBy("region")
        .agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("sum_chars").cast("long").alias("sum_chars"),
        )
    )
    commit_snapshot(sp, store, merged)


def view_merge_batch(
    batch_df: DataFrame, batch_id: int, store: str, dim_path: str
) -> None:
    """Transactional additive JOIN-VIEW sink for foreachBatch: fold one
    micro-batch of appended docs into the per-region (n_docs,
    sum_chars) view — the append-only corner of q190's delta algebra
    (ΔA⋈B; B static per batch), maintained against a REAL stream of
    table commits."""
    sp = batch_df.sparkSession
    dim = read_parquet(sp, dim_path)
    part = (
        batch_df.join(F.broadcast(dim), "source")
        .groupBy("region")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
    )
    _fold_view(sp, store, part, batch_id)


def signed_view_merge_batch(
    batch_df: DataFrame, batch_id: int, store: str, dim_path: str
) -> None:
    """The SIGNED counterpart of :func:`view_merge_batch` for change-feed
    batches (readChangeFeed=true): insert rows contribute +1/+chars,
    delete rows −1/−chars — so the maintained view tracks a table
    through deletes and updates (delete+insert pairs net), the full
    q190 delta algebra driven by a real stream instead of a batch
    version diff. Rewrite echo pairs (an upsert's co-rewritten
    unchanged rows) cancel inside the per-batch partial aggregate and
    never even reach the artifact."""
    sp = batch_df.sparkSession
    dim = read_parquet(sp, dim_path)
    sign = F.when(F.col("_change_type") == "insert", F.lit(1)).otherwise(
        F.lit(-1)
    )
    part = (
        batch_df.join(F.broadcast(dim), "source")
        .groupBy("region")
        .agg(
            F.sum(sign).cast("long").alias("n_docs"),
            F.sum(sign * F.col("n_chars")).cast("long").alias("sum_chars"),
        )
    )
    _fold_view(sp, store, part, batch_id)


def _table_stream_view(spark: SparkSession, sf_dir: str) -> tuple[str, int]:
    """Staged once per process: a manifest table committed in three
    versions (doc_id%10 ≤ 5, then {6,7}, then {8} — %10==9 never
    committed, so a leak past the manifest log into the raw parquet
    would surface), consumed by TWO readStream runs of the
    prox_table_changes source sharing ONE checkpoint: run 1 sees only
    v1; v2+v3 are committed while the stream is DOWN; run 2 resumes
    from the checkpointed offset and delivers exactly the missed
    versions. Returns (view store path, marker count)."""
    from prox_spark.queries._staging import staged
    from prox_spark.table import (
        commit_delta,
        commit_snapshot,
        read_manifest,
        read_table,
    )
    from prox_spark.table_stream import TableChangesDataSource

    def build(scratch: str) -> tuple[str, int]:
        spark.dataSource.register(TableChangesDataSource)
        docs = read_parquet(spark, f"{sf_dir}/documents.parquet").select(
            "doc_id", "source", "n_chars"
        )
        t = f"{scratch}/docs_t"
        store = f"{scratch}/view"
        ckpt = f"{scratch}/ckpt"
        dim_path = f"{scratch}/dim"
        (
            docs.select("source").distinct()
            .withColumn("region", _tsv_region_expr())
            .coalesce(1).write.parquet(dim_path)
        )

        def _run_stream() -> None:
            with _stream_partitions(spark):
                q = (
                    spark.readStream.format("prox_table_changes")
                    .option("path", t)
                    .load()
                    .writeStream.foreachBatch(
                        lambda bdf, bid: view_merge_batch(
                            bdf, bid, store, dim_path
                        )
                    )
                    .option("checkpointLocation", ckpt)
                    .trigger(availableNow=True)
                    .start()
                )
                try:
                    if not q.awaitTermination(600):
                        raise RuntimeError(
                            "stream did not drain within 600s"
                        )
                finally:
                    q.stop()

        commit_snapshot(
            spark, t, docs.filter(F.col("doc_id") % 10 <= 5),
            stat_cols=["doc_id"], n_files=4,
        )
        _run_stream()
        # two more commits land while the stream is DOWN; the resumed
        # run must pick up exactly these from the checkpointed offset
        for pred in (
            (F.col("doc_id") % 10).isin(6, 7),
            (F.col("doc_id") % 10) == 8,
        ):
            prev = read_manifest(spark, t)
            commit_delta(
                spark, t, docs.filter(pred),
                list(prev["files"]), update_key_ranges={},
            )
        _run_stream()
        markers = read_table(spark, store).filter(F.col("n_docs") < 0).count()
        return store, int(markers)

    return staged(_TSV_CACHE, sf_dir, "prox_tsv_", build)


def q191_table_stream_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TABLE-AS-STREAM SOURCE (Delta/Iceberg streaming-read parity):
    the manifest log consumed incrementally by Structured Streaming —
    each committed version's added files become a micro-batch
    (prox_spark/table_stream.py, a PySpark Python Data Source whose
    offsets are table versions), feeding the q190-style join-view
    maintenance with a REAL stream of commits instead of a batch
    version diff. The maintained per-region view must equal the
    direct join over the table's FINAL version (the oracle computes
    exactly that), and the gate bakes in checkpoint recovery: two
    versions are committed while the stream is stopped, and the
    resumed run must deliver exactly the missed commits — a dropped
    batch, a re-delivered batch, or an offset rewind all surface as
    wrong counts. ``resumed`` pins that ≥2 distinct micro-batches
    were applied across the two runs (one availableNow run would fold
    everything into one).

    Scale shape: offset resolution is driver-side metadata IO over
    NEW manifests only; each micro-batch reads just the files its
    versions added (work ∝ commit volume); the view fold is one
    broadcast dim join + partial agg per batch plus a rewrite of a
    regions-sized table — the standing-ingest pattern that keeps a
    100 TB corpus's serving aggregates fresh without rescanning
    history."""
    from prox_spark.table import read_table

    store, markers = _table_stream_view(spark, sf_dir)
    return (
        read_table(spark, store)
        .filter(F.col("n_docs") >= 0)
        .withColumn("resumed", F.lit(markers >= 2))
        .select("region", "n_docs", "sum_chars", "resumed")
        .orderBy("region")
    )


ORACLE_Q191 = """
WITH streamed AS (
  SELECT * FROM documents WHERE doc_id % 10 <= 8
),
dim AS (
  SELECT DISTINCT source,
         'r' || CAST(CAST(substr(source, 4, 8) AS INT) % 4 AS VARCHAR) AS region
  FROM documents
)
SELECT region,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       TRUE AS resumed
FROM streamed JOIN dim USING (source)
GROUP BY region
ORDER BY region
"""


# --- q197: change-feed stream maintaining a view THROUGH deletes -------------

_SCF_CACHE: dict = {}


def _stream_cdf_view(spark: SparkSession, sf_dir: str) -> tuple[str, int]:
    """Staged once per process: the q196 change workload (append →
    merge-on-read delete → upsert) consumed as a readChangeFeed STREAM
    by two runs sharing ONE checkpoint — run 1 sees only v1; the
    delete and the update land while the stream is DOWN; run 2 resumes
    from the checkpointed offset and folds exactly the missed signed
    rows. Returns (view store path, marker count)."""
    from prox_spark.queries._staging import staged
    from prox_spark.table import (
        commit_delta,
        commit_snapshot,
        read_manifest,
        read_table,
    )
    from prox_spark.table_stream import TableChangesDataSource
    from prox_spark.upsert import delete_keys_mor, upsert_parquet

    def build(scratch: str) -> tuple[str, int]:
        spark.dataSource.register(TableChangesDataSource)
        docs = read_parquet(spark, f"{sf_dir}/documents.parquet").select(
            "doc_id", "source", "n_chars"
        )
        t = f"{scratch}/docs_t"
        store = f"{scratch}/view"
        ckpt = f"{scratch}/ckpt"
        dim_path = f"{scratch}/dim"
        (
            docs.select("source").distinct()
            .withColumn("region", _tsv_region_expr())
            .coalesce(1).write.parquet(dim_path)
        )

        def _run_stream() -> None:
            with _stream_partitions(spark):
                q = (
                    spark.readStream.format("prox_table_changes")
                    .option("path", t)
                    .option("readChangeFeed", "true")
                    .load()
                    .writeStream.foreachBatch(
                        lambda bdf, bid: signed_view_merge_batch(
                            bdf, bid, store, dim_path
                        )
                    )
                    .option("checkpointLocation", ckpt)
                    .trigger(availableNow=True)
                    .start()
                )
                try:
                    if not q.awaitTermination(600):
                        raise RuntimeError(
                            "stream did not drain within 600s"
                        )
                finally:
                    q.stop()

        commit_snapshot(
            spark, t, docs.filter(F.col("doc_id") % 10 <= 5),
            stat_cols=["doc_id"], n_files=4,
        )
        _run_stream()
        # the rest of the change workload lands while the stream is
        # DOWN; the resumed run must deliver it as signed rows
        prev = read_manifest(spark, t)
        commit_delta(
            spark, t, docs.filter((F.col("doc_id") % 10).isin(6, 7)),
            list(prev["files"]), update_key_ranges={},
        )
        delete_keys_mor(
            spark, t,
            docs.filter(
                (F.col("doc_id") % 10 <= 7) & (F.col("doc_id") % 5 == 0)
            ).select("doc_id"),
            ["doc_id"],
        )
        ups = (
            read_table(spark, t)
            .filter(F.col("doc_id") % 10 == 3)
            .withColumn("n_chars", F.col("n_chars") + F.lit(1000))
        )
        upsert_parquet(spark, t, ups, ["doc_id"])
        _run_stream()
        markers = read_table(spark, store).filter(F.col("n_docs") < 0).count()
        return store, int(markers)

    return staged(_SCF_CACHE, sf_dir, "prox_scf_", build)


def q197_stream_changefeed_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CDC loop closed END-TO-END through the STREAM: the table's
    commits — including a merge-on-read DELETE and an UPSERT — flow as
    signed change-feed rows (table_stream readChangeFeed=true, the
    q196 reconstruction streaming) into a standing per-region join
    view maintained by signed folds (:func:`signed_view_merge_batch`).
    This is what q190's verdict ask named: the join-view IVM consuming
    deletes INCREMENTALLY from the log itself, not from a batch
    snapshot diff. The maintained view must equal the direct join over
    the table's final state (the oracle computes exactly that), with
    checkpoint recovery baked in: the delete and the update land while
    the stream is down, and the resumed run folds exactly the missed
    signed rows — a dropped delete, a re-delivered batch, or an
    uncancelled rewrite echo all surface as wrong counts. ``resumed``
    pins that ≥2 distinct micro-batches were applied across the runs.

    Scale shape: per trigger the source opens only the files the new
    commits added/removed/targeted (work ∝ commit volume); the signed
    fold is one broadcast dim join + partial agg per batch plus a
    rewrite of a regions-sized artifact — the standing-ingest pattern
    that keeps serving aggregates fresh while upstream DELETES, the
    case plain append streams cannot express."""
    from prox_spark.table import read_table

    store, markers = _stream_cdf_view(spark, sf_dir)
    return (
        read_table(spark, store)
        # drop markers (n_docs < 0) AND fully-deleted regions (0)
        .filter(F.col("n_docs") > 0)
        .withColumn("resumed", F.lit(markers >= 2))
        .select("region", "n_docs", "sum_chars", "resumed")
        .orderBy("region")
    )


ORACLE_Q197 = """
WITH final AS (
  SELECT doc_id, source,
         CASE WHEN doc_id % 10 = 3 THEN n_chars + 1000 ELSE n_chars END
           AS n_chars
  FROM documents
  WHERE doc_id % 10 <= 7 AND doc_id % 5 <> 0
),
dim AS (
  SELECT DISTINCT source,
         'r' || CAST(CAST(substr(source, 4, 8) AS INT) % 4 AS VARCHAR) AS region
  FROM documents
)
SELECT region,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       TRUE AS resumed
FROM final JOIN dim USING (source)
GROUP BY region
ORDER BY region
"""


# --- q194: stream-maintained MinHash-LSH index -------------------------------

_LSH_IDX_CACHE: dict = {}


def lsh_index_batch(
    batch_df: DataFrame, batch_id: int, index_path: str
) -> None:
    """Transactional LSH-index sink for foreachBatch: compute the
    micro-batch's (doc_id, band, band_sig) rows — the same pure
    projection the batch path uses (:func:`prox_spark.neardup.lsh_band_rows`) —
    and APPEND them to the index manifest table. An applied-batch
    marker row (band = −1, band_sig = str(batch_id)) makes re-delivery
    a no-op; each append is one atomic commit carrying every prior
    index file verbatim."""
    from prox_spark.table import (
        commit_delta,
        commit_snapshot,
        is_manifest_table,
        read_manifest,
        read_table,
    )

    sp = batch_df.sparkSession
    shingled = shingle_arrays(batch_df)
    marker = values_df(
        sp, [(-1, str(int(batch_id)), -1)],
        "band int, band_sig string, doc_id long",
    )
    rows = lsh_band_rows(shingled).select("band", "band_sig", "doc_id")
    if is_manifest_table(sp, index_path):
        applied = {
            r["band_sig"]
            for r in read_table(sp, index_path)
            .filter(F.col("band") == -1).select("band_sig").collect()
        }
        if str(int(batch_id)) in applied:
            return
        prev = read_manifest(sp, index_path)
        commit_delta(
            sp, index_path, rows.unionByName(marker), list(prev["files"]),
            base_manifest=prev, base_version=prev.get("version"),
            update_key_ranges={},
        )
    else:
        commit_snapshot(
            sp, index_path, rows.unionByName(marker), stat_cols=["band_sig"],
        )


def _lsh_stream_index(spark: SparkSession, sf_dir: str) -> tuple[str, int]:
    """Staged once per process: the corpus committed in three versions
    covering ALL documents (%10 ≤ 5, then {6,7}, then {8,9}), consumed
    by two checkpoint-sharing runs of the table-changes stream, each
    micro-batch appending its LSH band rows to the index table.
    Returns (index path, applied-batch marker count)."""
    from prox_spark.queries._staging import staged
    from prox_spark.table import commit_delta, commit_snapshot, read_manifest, read_table
    from prox_spark.table_stream import TableChangesDataSource

    def build(scratch: str) -> tuple[str, int]:
        spark.dataSource.register(TableChangesDataSource)
        docs = read_parquet(spark, f"{sf_dir}/documents.parquet").select(
            "doc_id", "text"
        )
        t = f"{scratch}/docs_t"
        idx = f"{scratch}/lsh_idx"
        ckpt = f"{scratch}/ckpt"

        def _run_stream() -> None:
            with _stream_partitions(spark):
                q = (
                    spark.readStream.format("prox_table_changes")
                    .option("path", t)
                    .load()
                    .writeStream.foreachBatch(
                        lambda bdf, bid: lsh_index_batch(bdf, bid, idx)
                    )
                    .option("checkpointLocation", ckpt)
                    .trigger(availableNow=True)
                    .start()
                )
                try:
                    if not q.awaitTermination(600):
                        raise RuntimeError(
                            "stream did not drain within 600s"
                        )
                finally:
                    q.stop()

        commit_snapshot(
            spark, t, docs.filter(F.col("doc_id") % 10 <= 5),
            stat_cols=["doc_id"], n_files=4,
        )
        _run_stream()
        for pred in (
            (F.col("doc_id") % 10).isin(6, 7),
            (F.col("doc_id") % 10).isin(8, 9),
        ):
            prev = read_manifest(spark, t)
            commit_delta(
                spark, t, docs.filter(pred),
                list(prev["files"]), update_key_ranges={},
            )
        _run_stream()
        markers = (
            read_table(spark, idx).filter(F.col("band") == -1).count()
        )
        return idx, int(markers)

    return staged(_LSH_IDX_CACHE, sf_dir, "prox_lsh_idx_", build)


def q194_streaming_lsh_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup index maintained BY A STREAM — the
    incremental-dedup-index pattern a standing 100 TB ingest needs:
    new documents' band signatures are a pure map-side projection, so
    each arriving commit appends its rows to the bucket index (work ∝
    batch, the corpus is never re-signatured) and candidate serving
    reads the INDEX, not the corpus. Composes q191's table-as-stream
    source with q36's LSH front: the stream is committed in three
    versions across two checkpoint-sharing runs, each micro-batch
    folding through the transactional append sink
    (:func:`lsh_index_batch`, marker-idempotent under replay).

    The gate is exact equivalence: verified Jaccard pairs derived
    from the stream-built index must equal the batch LSH end-to-end
    (q36's own oracle gates it, plus an `incremental` flag pinning
    that ≥2 separate micro-batches actually built the index) — a
    dropped batch or a band computed differently in the streaming
    path surfaces as missing/extra pairs. A batch applied twice (past
    the marker fence, under a fresh batch id) adds no pair — the pair
    operator's distinct absorbs the repeated bucket rows — so
    `applied_once` pins that no (doc_id, band) row of the index
    repeats."""
    from prox_spark.queries.text import _doc_shingle_arrays
    from prox_spark.table import read_table

    idx, markers = _lsh_stream_index(spark, sf_dir)
    bands = read_table(spark, idx).filter(F.col("band") >= 0)
    arr = _doc_shingle_arrays(spark, sf_dir).cache()
    ov = shingle_overlaps(bucket_pairs(bands, "doc_id", ("band", "band_sig")), arr)
    once = bands.groupBy("doc_id", "band").count().agg(
        F.coalesce(F.max("count") == 1, F.lit(True)).alias("applied_once")
    )
    return (
        ov.withColumn("jaccard", jaccard("n_inter", "n1", "n2"))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc1", "doc2", "jaccard")
        .withColumn("incremental", F.lit(markers >= 2))
        .crossJoin(F.broadcast(once))
        .orderBy("doc1", "doc2")
    )


def _oracle_q194() -> str:
    # the stream-built index must reproduce the batch LSH exactly, so
    # q36's oracle gates it (wrapped to carry the two index flags)
    from prox_spark.queries.text import ORACLE_Q36

    return (
        "SELECT doc1, doc2, jaccard, TRUE AS incremental, "
        "TRUE AS applied_once FROM ("
        + ORACLE_Q36
        + ") ORDER BY doc1, doc2"
    )


# --- q198: stream-maintained SEMANTIC index, txn-paired with the corpus ------

_SEM_IDX_CACHE: dict = {}


def semantic_index_batch(
    batch_df: DataFrame, batch_id: int, index_path: str,
    corpus_path: str, workspace: str, cent_arr: DataFrame,
) -> None:
    """Transactional SEMANTIC-index sink for foreachBatch: assign each
    micro-batch vector to its nearest frozen centroid map-side (the
    same broadcast argmin the batch path uses —
    :func:`...similarity._tag_centroids`), APPEND the (cid, vec_id,
    vector) rows to the cid-clustered index table, then publish ONE
    transaction pinning the (corpus version covered, new index
    version) pair — the exact use case prox_spark/txn.py names:
    readers resolving through the txn log never see a corpus without
    its matching semantic index. An applied-batch marker row
    (cid = −1, vec_id = batch_id) makes re-delivery a no-op BEFORE the
    txn, so replay can't double-append or double-publish. The covered
    corpus version comes from the change feed's own _commit_version —
    no racy head read.

    DELETE rows (the signed feed's retractions) append TOMBSTONES
    (cid = −2) instead of being mis-indexed as vectors;
    :func:`read_semantic_index` folds them count-wise (a vec_id is
    live while inserts outnumber deletes). Every index row carries
    ``ver`` = its feed row's ``_commit_version``, so after an UPSERT
    that changes a vector's embedding (delete + insert with a new
    dd), the reader keeps the insert row with the HIGHEST version —
    never a nondeterministic survivor carrying the stale
    embedding/cid."""
    from prox_spark.table import (
        commit_delta,
        commit_snapshot,
        is_manifest_table,
        read_manifest,
        read_table,
    )
    from prox_spark.txn import txn_commit

    sp = batch_df.sparkSession
    if is_manifest_table(sp, index_path):
        applied = {
            int(r["vec_id"])
            for r in read_table(sp, index_path)
            .filter(F.col("cid") == -1).select("vec_id").collect()
        }
        if int(batch_id) in applied:
            return
    covered = batch_df.agg(F.max("_commit_version")).first()[0]
    vecs = batch_df.filter(F.col("_change_type") == "insert").select(
        "vec_id",
        F.expr("cast(embedding as array<double>)").alias("dd"),
        F.col("_commit_version").cast("long").alias("ver"),
    ).withColumn("nrm", F.expr(f"sqrt({DOT_SPARK.format(a='dd', b='dd')})"))
    rows = _tag_centroids(vecs, cent_arr).select(
        F.expr("sims[0].cid").cast("long").alias("cid"),
        "vec_id", "dd", "nrm", "ver",
    )
    tombstones = batch_df.filter(F.col("_change_type") == "delete").select(
        F.lit(-2).cast("long").alias("cid"),
        "vec_id",
        F.expr("cast(array() as array<double>)").alias("dd"),
        F.lit(-1.0).alias("nrm"),
        F.col("_commit_version").cast("long").alias("ver"),
    )
    rows = rows.unionByName(tombstones)
    marker = values_df(
        sp, [(-1, int(batch_id), [], -1.0, -1)],
        "cid long, vec_id long, dd array<double>, nrm double, ver long",
    )
    if is_manifest_table(sp, index_path):
        prev = read_manifest(sp, index_path)
        new_v = commit_delta(
            sp, index_path, rows.unionByName(marker), list(prev["files"]),
            base_manifest=prev, base_version=prev.get("version"),
            update_key_ranges={},
        )
    else:
        new_v = commit_snapshot(
            sp, index_path, rows.unionByName(marker), stat_cols=["cid"],
        )
    txn_commit(
        sp, workspace,
        {corpus_path: int(covered), index_path: int(new_v)},
    )


def read_semantic_index(spark: SparkSession, index_path: str) -> DataFrame:
    """The semantic index's LIVE assignments: insert rows (cid ≥ 0)
    minus count-folded tombstones (cid = −2) — a vec_id is visible
    while its inserts outnumber its deletes. The survivor per live
    vec_id is the insert row with the HIGHEST commit version (``ver``)
    — deterministic, and exact under upserts that CHANGE a vector's
    embedding (the delete+insert pair leaves the id live and the
    newest row carries the new dd/cid; a max-count survivor could
    keep the stale one). Output drops ``ver`` so downstream consumers
    see the original (cid, vec_id, dd, nrm) contract."""
    from pyspark.sql import Window

    from prox_spark.table import read_table

    t = read_table(spark, index_path)
    ins = t.filter(F.col("cid") >= 0)
    n_del = (
        t.filter(F.col("cid") == -2)
        .groupBy("vec_id")
        .agg(F.count(F.lit(1)).alias("nd"))
    )
    live = (
        ins.groupBy("vec_id")
        .agg(F.count(F.lit(1)).alias("ni"))
        .join(F.broadcast(n_del), "vec_id", "left")
        .filter(F.col("ni") > F.coalesce(F.col("nd"), F.lit(0)))
        .select("vec_id")
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("ver").desc(), F.col("cid").desc()
    )
    return (
        ins.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "ver")
        .join(F.broadcast(live), "vec_id", "left_semi")
    )


def _sem_stream_index(spark: SparkSession, sf_dir: str) -> tuple:
    """Staged once per process: the embedding corpus committed in
    three versions covering ALL vectors (vec_id % 10 ≤ 5, {6,7},
    {8,9}), consumed as a change-feed stream by two checkpoint-sharing
    runs, each micro-batch appending its frozen-quantizer assignments
    to the index and txn-pinning the (corpus, index) pair. Returns
    (index path, flags)."""
    from prox_spark.queries._staging import staged
    from prox_spark.queries.similarity import _cent_arr, _semdedup_k
    from prox_spark.table import (
        commit_delta,
        commit_snapshot,
        read_manifest,
        read_table,
        table_versions,
    )
    from prox_spark.table_stream import TableChangesDataSource
    from prox_spark.txn import txn_read, txn_state

    def build(scratch: str) -> tuple:
        spark.dataSource.register(TableChangesDataSource)
        emb = read_parquet(spark, f"{sf_dir}/embeddings.parquet").select(
            "vec_id", "embedding"
        )
        # the quantizer is a frozen PARAMETER of the index (q161's
        # append-only gate): K from the production corpus size, the
        # first K vectors as centroids — derived once, never retrained
        # per batch, so stream assignments equal the batch oracle's
        k = _semdedup_k(emb.count())
        cent = _cent_arr(spark, sf_dir, k)
        t = f"{scratch}/emb_t"
        idx = f"{scratch}/sem_idx"
        ws = f"{scratch}/ws"
        ckpt = f"{scratch}/ckpt"

        def _run_stream() -> None:
            with _stream_partitions(spark):
                q = (
                    spark.readStream.format("prox_table_changes")
                    .option("path", t)
                    .option("readChangeFeed", "true")
                    .load()
                    .writeStream.foreachBatch(
                        lambda bdf, bid: semantic_index_batch(
                            bdf, bid, idx, t, ws, cent
                        )
                    )
                    .option("checkpointLocation", ckpt)
                    .trigger(availableNow=True)
                    .start()
                )
                try:
                    if not q.awaitTermination(600):
                        raise RuntimeError(
                            "stream did not drain within 600s"
                        )
                finally:
                    q.stop()

        commit_snapshot(
            spark, t, emb.filter(F.col("vec_id") % 10 <= 5),
            stat_cols=["vec_id"], n_files=4,
        )
        _run_stream()
        for pred in (
            (F.col("vec_id") % 10).isin(6, 7),
            (F.col("vec_id") % 10).isin(8, 9),
        ):
            prev = read_manifest(spark, t)
            commit_delta(
                spark, t, emb.filter(pred),
                list(prev["files"]), update_key_ranges={},
            )
        _run_stream()

        # the pair-pin consistency flag (q192's index_consistent): the
        # final txn pins the corpus HEAD and an index whose vec_id set
        # is exactly the pinned corpus's — both read THROUGH the txn
        state = txn_state(spark, ws)
        head = table_versions(spark, t)[-1]
        ci = txn_read(spark, ws, t).select("vec_id")
        ii = txn_read(spark, ws, idx).filter(F.col("cid") >= 0).select("vec_id")
        n_c, n_i = ci.count(), ii.count()
        index_consistent = bool(
            state.get(t) == head
            and n_c == n_i
            and ci.intersect(ii).count() == n_c
        )
        markers = read_table(spark, idx).filter(F.col("cid") == -1).count()
        return idx, {
            "index_consistent": index_consistent,
            "incremental": bool(markers >= 2),
        }

    return staged(_SEM_IDX_CACHE, sf_dir, "prox_sem_idx_", build)


def q198_streaming_semantic_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-MAINTAINED SEMANTIC INDEX — q170's SemDeDup arm given
    the q194 treatment, composed with q192's transaction log: corpus
    commits flow through the change-feed stream, each micro-batch's
    vectors are assigned to the FROZEN corpus-proportional quantizer
    map-side and appended to the cid-clustered index table (work ∝
    batch — the corpus is never re-assigned), and every batch
    publishes one txn pinning the (corpus version covered, index
    version) pair, so transactional readers never see a corpus without
    its matching semantic index. The gate recomputes q170's per-
    cluster dedup card FROM THE INDEX (within-cluster pairs only, the
    O(N^1.5) shape) against q170's own batch oracle — a mis-assigned
    vector, a dropped batch, or a replayed append all change the card.
    ``index_consistent`` pins the pair-pin claim; ``incremental`` pins
    that ≥2 distinct micro-batches built the index.

    Scale shape: per trigger the source reads only new files; the
    assignment is one broadcast (K centroids) map-side argmin; the
    index append carries prior files by reference (one metadata
    commit); the card's pair join equi-joins on cid. At 100 TB the
    index IS the physical cid-clustering, so downstream SemDeDup and
    IVF probes read only their clusters."""
    from prox_spark.queries.similarity import SEMDEDUP_TAU
    from prox_spark.table import read_table

    idx, flags = _sem_stream_index(spark, sf_dir)
    assign = read_semantic_index(spark, idx)
    a = assign.select(
        "cid", F.col("vec_id").alias("id1"),
        F.col("dd").alias("v1"), F.col("nrm").alias("n1"),
    )
    b = assign.select(
        "cid", F.col("vec_id").alias("id2"),
        F.col("dd").alias("v2"), F.col("nrm").alias("n2"),
    )
    dot = (
        "aggregate(zip_with(v1, v2, (x, y) -> x * y), "
        "cast(0.0 as double), (acc, x) -> acc + x)"
    )
    dups = (
        a.join(b, "cid")
        .filter(F.col("id1") < F.col("id2"))
        .withColumn("cosine", F.expr(f"{dot} / (n1 * n2)"))
        .filter(F.col("cosine") >= SEMDEDUP_TAU)
        .groupBy("cid")
        .agg(F.countDistinct("id2").cast("long").alias("n_dups"))
    )
    return (
        assign.groupBy("cid")
        .agg(F.count(F.lit(1)).cast("long").alias("n_vectors"))
        .join(dups, "cid", "left")
        .select(
            "cid", "n_vectors",
            F.coalesce("n_dups", F.lit(0)).cast("long").alias("n_dups"),
        )
        .withColumn(
            "dup_pct",
            F.round(F.lit(100.0) * F.col("n_dups") / F.col("n_vectors"), 6),
        )
        .withColumn("index_consistent", F.lit(flags["index_consistent"]))
        .withColumn("incremental", F.lit(flags["incremental"]))
        .orderBy("cid")
    )


def _oracle_q198() -> str:
    """q170's batch oracle verbatim (the equal-verdicts claim), plus
    the two pinned flags."""
    from prox_spark.queries.similarity import ORACLE_Q170

    out = ORACLE_Q170.replace(
        " AS dup_pct\nFROM counts",
        " AS dup_pct,\n       TRUE AS index_consistent,\n"
        "       TRUE AS incremental\nFROM counts",
    )
    if out == ORACLE_Q170:
        raise RuntimeError("ORACLE_Q170 shape changed; fix the splice")
    return out


QUERIES = {
    "q136_streaming_neardup_store": q136_streaming_neardup_store,
    "q189_streaming_cms": q189_streaming_cms,
    "q191_table_stream_view": q191_table_stream_view,
    "q194_streaming_lsh_index": q194_streaming_lsh_index,
    "q197_stream_changefeed_view": q197_stream_changefeed_view,
    "q198_streaming_semantic_index": q198_streaming_semantic_index,
    "q44_stateful_user_totals": q44_stateful_user_totals,
    "q109_streaming_dedup_store": q109_streaming_dedup_store,
    "q69_streaming_hourly_stats": q69_streaming_hourly_stats,
    "q77_stream_static_enrich": q77_stream_static_enrich,
    "q78_stream_stream_join": q78_stream_stream_join,
    "q100_streaming_dedup": q100_streaming_dedup,
    "q101_streaming_sessions": q101_streaming_sessions,
}
ORACLES = {
    "q136_streaming_neardup_store": _oracle_q136(),
    "q189_streaming_cms": _oracle_q189(),
    "q191_table_stream_view": ORACLE_Q191,
    "q194_streaming_lsh_index": _oracle_q194(),
    "q197_stream_changefeed_view": ORACLE_Q197,
    "q198_streaming_semantic_index": _oracle_q198(),
    "q109_streaming_dedup_store": ORACLE_Q109,
    "q100_streaming_dedup": ORACLE_Q100,
    "q101_streaming_sessions": ORACLE_Q101,
    "q44_stateful_user_totals": ORACLE_Q44,
    "q69_streaming_hourly_stats": ORACLE_Q69,
    "q77_stream_static_enrich": ORACLE_Q77,
    "q78_stream_stream_join": ORACLE_Q78,
}
