"""Structured Streaming surface over the `events` table
(SURVEY.md §2.10; the reference is batch-only — its pipeline runs on
a Step Functions schedule — so this is the capability extension that
turns the same declarative builders into a continuous pipeline).

Design: the stream queries (queries/streaming_q.py) call these
builders, and each has a batch counterpart query over the same data
(queries/events.py). The DuckDB oracle checks the windowed *semantics*
in batch mode, and the streaming tests check the incremental execution
(watermarks, state cleanup, exactly-once file sinks).

Scale notes (1000-executor / 100 TB-day):
- tumbling/session windows keyed by (window, type) / (user, window):
  state is per-key+window and bounded by the watermark — late data
  past ``DELAY`` is dropped, state for closed windows is evicted.
- ``dropDuplicatesWithinWatermark`` keeps only event_ids younger than
  the watermark — bounded state for at-least-once upstreams, vs. the
  unbounded state of plain streaming ``dropDuplicates``.
- file sources scale by partition count of the arriving files;
  ``maxFilesPerTrigger`` paces backfills.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

DEFAULT_WATERMARK = "2 hours"
SESSION_GAP = "30 minutes"


def _drain(q, timeout_s: int) -> None:
    """Await an availableNow query's self-termination and FAIL LOUDLY
    on timeout: a silent timeout + stop() truncates the run mid-batch
    and returns partial state as if it were complete (the staged-
    artifact corruption mode the gate queries already guard against —
    same contract here in the reusable helpers)."""
    try:
        if not q.awaitTermination(timeout_s):
            raise RuntimeError(
                f"stream did not drain within {timeout_s}s"
            )
    finally:
        q.stop()


def read_event_stream(
    spark: SparkSession,
    path: str,
    schema,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over a directory of event parquet files."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(path)


def hourly_stats(events: DataFrame, watermark: str | None = None) -> DataFrame:
    """Tumbling 1-hour window stats — counterpart of q20_hourly_event_stats;
    identical output schema so batch/stream results are comparable."""
    ev = events.withWatermark("ts", watermark) if watermark else events
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("hour_start"), "event_type", "n_events", "sum_value"
        )
    )


def dedup_within_watermark(events: DataFrame, watermark: str = DEFAULT_WATERMARK) -> DataFrame:
    """Exactly-once event feed from an at-least-once upstream: state
    holds only ids within the watermark horizon (bounded), unlike plain
    streaming dropDuplicates whose state grows forever."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["event_id"])


def session_stats(events: DataFrame, gap: str = SESSION_GAP, watermark: str | None = None) -> DataFrame:
    """Native session windows (F.session_window): gap-based sessions as
    a single stateful aggregation — the declarative form of q21's
    lag+cumsum sessionization, and the only form that runs incrementally
    under a watermark."""
    ev = events.withWatermark("ts", watermark) if watermark else events
    return (
        ev.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def stateful_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    running (n_events, sum_value) kept in explicit group state across
    micro-batches — the escape hatch for stateful logic Spark's built-in
    windowed aggs can't express (per-key custom accumulators, ML feature
    state, cross-batch counters).

    Scale: state is (long, double) per user, hash-partitioned by
    user_id across executors and checkpointed by the state store; each
    micro-batch touches only the users present in the batch. Output
    mode "update" emits one row per touched user per batch."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update_totals(key, pdfs, state):
        n, s = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf["value"].sum())
        state.update((n, s))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value_raw": [s]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update_totals,
        outputStructType="user_id long, n_events long, sum_value_raw double",
        stateStructType="n long, s double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def enrich_with_dim(events: DataFrame, dim: DataFrame, key: str = "event_type") -> DataFrame:
    """Stream-static join: enrich a stream with a (small) batch
    dimension table. Spark re-plans the static side per micro-batch, so
    the dim may even be updated between batches; with a broadcast-sized
    dim the join is map-side per batch — no streaming state at all
    (unlike stream-stream joins, a static join needs no watermark)."""
    return events.join(F.broadcast(dim), key)


def clicks_before_purchases(
    clicks: DataFrame,
    purchases: DataFrame,
    lookback: str = "30 minutes",
    watermark: str = DEFAULT_WATERMARK,
) -> DataFrame:
    """Stream-stream interval join: every (purchase, click) pair for
    the same user where the click lands within ``lookback`` before the
    purchase — the attribution join, fully incremental.

    Scale: both sides are watermarked, and the join condition bounds
    click_ts to [purchase_ts - lookback, purchase_ts], so each side's
    state store holds only rows inside watermark + lookback; older
    state is evicted. State is hash-partitioned by user_id (the equi
    key) across executors."""
    c = clicks.select(
        F.col("user_id").alias("c_user_id"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    ).withWatermark("click_ts", watermark)
    p = purchases.select(
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
    ).withWatermark("purchase_ts", watermark)
    return p.join(
        c,
        F.expr(
            "c_user_id = p_user_id AND "
            f"click_ts BETWEEN purchase_ts - INTERVAL {lookback} AND purchase_ts"
        ),
    )


def run_stream_upsert_latest(
    stream: DataFrame,
    table_path: str,
    keys: tuple[str, ...] = ("user_id",),
    order_cols: tuple[str, ...] = ("ts", "event_id"),
    timeout_s: int = 120,
) -> None:
    """foreachBatch sink: maintain a latest-row-per-key parquet table
    from a stream. Each micro-batch merges through
    :func:`prox_spark.upsert.upsert_keep_max`, whose greatest-tuple-wins
    semantics make the table independent of file/batch arrival order and
    safe under replays (exactly-once effect from an at-least-once
    source) — the foreachBatch escape hatch is exactly for sinks Spark
    lacks natively (here: a keyed parquet MERGE)."""
    from prox_spark.upsert import upsert_keep_max

    def _merge(batch_df: DataFrame, _batch_id: int) -> None:
        upsert_keep_max(
            batch_df.sparkSession, table_path, batch_df, list(keys), list(order_cols)
        )

    q = (
        stream.writeStream.foreachBatch(_merge)
        .trigger(availableNow=True)
        .start()
    )
    _drain(q, timeout_s)


def run_stream_append_branch(
    stream: DataFrame,
    table_path: str,
    branch: str,
    timeout_s: int = 120,
) -> None:
    """foreachBatch sink: STAGE a stream's micro-batches onto a table
    BRANCH — streaming write-audit-publish. Each micro-batch is one
    append commit on the branch's manifest line
    (:func:`prox_spark.table.commit_delta` with ``ref=branch``), so
    prod readers of main never see a single streamed row until the
    audit passes and :func:`prox_spark.table.fast_forward` publishes
    the WHOLE staged run in one atomic metadata CAS; a failed audit
    drops the branch and the run never happened. This is the pattern
    for risky backfills and new-source onboarding: at 100 TB the
    stream may land thousands of commits before anyone is confident
    in them, and none of that is undoable once it hits main.

    Per-batch metadata IO is O(new files), not O(live files): on a
    chunked branch manifest the append carries every existing chunk
    entry BY REFERENCE (``carry_chunks`` on the raw doc — never read,
    never rewritten) and stages only the batch's own files as a fresh
    chunk; classic manifests pass the already-read doc as
    ``base_manifest`` so the commit never re-reads it."""
    from prox_spark.table import (
        _manifest_versions,
        _read_manifest_file,
        commit_delta,
    )

    def _append(batch_df: DataFrame, _batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        sp = batch_df.sparkSession
        v = _manifest_versions(sp, table_path, branch)[-1]
        doc = _read_manifest_file(sp, table_path, v, branch)
        base_v = doc.get("version", v)
        if "chunks" in doc:
            commit_delta(
                sp, table_path, batch_df, [],
                carry_chunks=doc["chunks"],
                base_manifest={**doc, "chunks": [], "files": [], "stats": {}},
                base_version=base_v, ref=branch, update_key_ranges={},
            )
        else:
            commit_delta(
                sp, table_path, batch_df, list(doc["files"]),
                base_manifest=doc, base_version=base_v,
                ref=branch, update_key_ranges={},
            )

    q = (
        stream.writeStream.foreachBatch(_append)
        .trigger(availableNow=True)
        .start()
    )
    _drain(q, timeout_s)


def run_to_memory(
    sdf: DataFrame, name: str, output_mode: str = "append", timeout_s: int = 120
) -> DataFrame:
    """Drain a stream into an in-memory table with an availableNow
    trigger (test/verification helper) and return the result as a
    batch DataFrame."""
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    _drain(q, timeout_s)
    return sdf.sparkSession.table(name)


def _checkpoint_offset(checkpoint: str) -> int | None:
    """The last COMMITTED table version recorded in a streaming
    checkpoint over a single ``prox_table_changes`` source (see
    table_stream._checkpoint_committed_offset — one implementation,
    shared with the reader's paceFromCheckpoint floor)."""
    from prox_spark.table_stream import _checkpoint_committed_offset

    return _checkpoint_committed_offset(checkpoint)


def drain_table_stream(
    start_query,
    checkpoint: str,
    table_path: str,
    timeout_s: int = 120,
    max_starts: int = 100,
) -> int:
    """Fully drain a PACED ``prox_table_changes`` stream with
    availableNow semantics: loop ``start_query()`` starts until the
    checkpoint's committed offset reaches the table's head version.

    Why a loop: Spark's Python DataSource streams don't support
    Trigger.AvailableNow (MicroBatchExecution falls back to
    SINGLE-BATCH execution per start), so a paced stream needs one
    start per capped batch (table_stream.py's documented caveat).
    This helper makes pacing and catch-up COMPOSE: each round drains
    one capped batch, progress is proven from the checkpoint between
    rounds (no progress with backlog remaining → raise, never spin),
    and the loop ends exactly when the committed offset covers the
    head.

    ``start_query`` must build and .start() the query fresh each call
    — same checkpoint, and with BOTH ``maxVersionsPerBatch`` and
    ``paceFromCheckpoint`` set on the reader (without the latter the
    single-batch fallback runs unpaced, see the reader docstring).
    Returns the number of starts it took; bounded by
    ``max_starts``."""
    from prox_spark.table_stream import list_versions

    starts = 0
    while True:
        versions = list_versions(table_path)
        if not versions:
            return starts  # nothing committed yet: nothing to drain
        head = versions[-1]
        committed = _checkpoint_offset(checkpoint)
        if committed is not None and committed >= head:
            return starts
        if starts >= max_starts:
            raise RuntimeError(
                f"drain_table_stream: offset {committed} still behind "
                f"head {head} after {starts} starts"
            )
        _drain(start_query(), timeout_s)
        starts += 1
        after = _checkpoint_offset(checkpoint)
        if after == committed:
            raise RuntimeError(
                "drain_table_stream: start made no offset progress "
                f"(committed offset stuck at {committed}, head {head})"
            )
