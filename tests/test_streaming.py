from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from prox_spark.streaming import (
    clicks_before_purchases,
    dedup_within_watermark,
    enrich_with_dim,
    hourly_stats,
    read_event_stream,
    run_to_memory,
    session_stats,
)


@pytest.fixture(scope="module")
def event_dir(spark, tmp_path_factory):
    """Batch-normalized sf0.001 events written as a 4-file directory —
    the arriving-files layout a file-source stream consumes."""
    from prox_spark.queries.events import _events

    path = str(tmp_path_factory.mktemp("events_stream"))
    # watermarks require TIMESTAMP (not NTZ) event time; session TZ is
    # UTC so the cast is value-preserving
    _events(spark, "/root/testdata/sf0.001").withColumn(
        "ts", F.col("ts").cast("timestamp")
    ).repartition(4).write.mode("overwrite").parquet(path)
    return path


@pytest.fixture(scope="module")
def event_batch(spark, event_dir):
    return spark.read.parquet(event_dir)


def _rows(df, *order):
    return [tuple(r) for r in df.orderBy(*order).collect()]


def test_hourly_stats_stream_matches_batch(spark, event_dir, event_batch):
    stream = read_event_stream(spark, event_dir, event_batch.schema, max_files_per_trigger=2)
    got = run_to_memory(
        hourly_stats(stream, watermark="2 hours"), "hourly_mem", output_mode="complete"
    )
    want = hourly_stats(event_batch)
    assert _rows(got, "hour_start", "event_type") == _rows(want, "hour_start", "event_type")


def test_dedup_within_watermark_bounds_duplicates(spark, event_batch, tmp_path):
    dup_dir = str(tmp_path / "dup")
    # at-least-once upstream: every file delivered twice
    event_batch.limit(200).write.mode("overwrite").parquet(dup_dir)
    event_batch.limit(200).write.mode("append").parquet(dup_dir)
    dup_batch = spark.read.parquet(dup_dir)
    assert dup_batch.count() == 400

    stream = read_event_stream(spark, dup_dir, event_batch.schema)
    got = run_to_memory(dedup_within_watermark(stream), "dedup_mem", output_mode="append")
    assert got.count() == got.select("event_id").distinct().count()
    assert got.count() == 200


def test_session_stats_stream_matches_batch(spark, event_dir, event_batch):
    stream = read_event_stream(spark, event_dir, event_batch.schema)
    got = run_to_memory(
        session_stats(stream, watermark="2 hours"), "session_mem", output_mode="complete"
    )
    want = session_stats(event_batch)
    assert _rows(got, "user_id", "session_start") == _rows(want, "user_id", "session_start")
    # sessions are disjoint per user and each covers >= 1 event
    bad = got.filter(F.col("session_end") < F.col("session_start")).count()
    assert bad == 0


def test_stream_static_enrich_incremental(spark, event_dir, event_batch):
    """Stream-static join over a multi-batch stream: every streamed row
    picks up its dim attribute, none are lost, and the join needs no
    watermark (static side is re-planned per micro-batch)."""
    dim = (
        event_batch.select("event_type")
        .distinct()
        .withColumn("weight", F.length("event_type").cast("long"))
    )
    stream = read_event_stream(spark, event_dir, event_batch.schema, max_files_per_trigger=2)
    got = run_to_memory(enrich_with_dim(stream, dim), "enrich_mem", output_mode="append")
    assert got.count() == event_batch.count()
    assert got.filter(F.col("weight") != F.length("event_type")).count() == 0


def test_stream_stream_join_matches_batch(spark, event_dir, event_batch):
    """Stream-stream interval join (multi-batch) equals the batch
    interval join: availableNow drains everything, and both sides'
    state retains rows long enough for every qualifying pair."""
    clicks_s = read_event_stream(
        spark, event_dir, event_batch.schema, max_files_per_trigger=2
    ).filter(F.col("event_type") == "click")
    purch_s = read_event_stream(
        spark, event_dir, event_batch.schema, max_files_per_trigger=2
    ).filter(F.col("event_type") == "purchase")
    got = run_to_memory(
        clicks_before_purchases(clicks_s, purch_s), "ssjoin_mem", output_mode="append"
    )
    want = (
        event_batch.filter(F.col("event_type") == "purchase")
        .alias("p")
        .join(
            event_batch.filter(F.col("event_type") == "click").alias("c"),
            F.expr(
                "c.user_id = p.user_id AND "
                "c.ts BETWEEN p.ts - INTERVAL 30 minutes AND p.ts"
            ),
        )
        .select(
            F.col("p.event_id").alias("purchase_id"),
            F.col("c.event_id").alias("click_id"),
        )
    )
    a = {(r.purchase_id, r.click_id) for r in got.collect()}
    b = {(r.purchase_id, r.click_id) for r in want.collect()}
    assert a == b and len(a) > 0


def test_foreachbatch_upsert_latest_matches_batch(spark, event_dir, event_batch, tmp_path):
    """foreachBatch parquet-merge sink over a multi-batch stream: the
    maintained latest-event-per-user table equals the batch argmax,
    regardless of micro-batch arrival order (keep-max merge)."""
    from prox_spark.streaming import run_stream_upsert_latest

    table = str(tmp_path / "latest")
    stream = read_event_stream(spark, event_dir, event_batch.schema, max_files_per_trigger=1)
    run_stream_upsert_latest(stream, table)

    want = (
        event_batch.groupBy("user_id")
        .agg(F.max(F.struct("ts", "event_id")).alias("s"))
        .select("user_id", "s.event_id")
    )
    from prox_spark.table import read_table

    got = read_table(spark, table)
    assert got.count() == want.count()
    a = {(r.user_id, r.event_id) for r in got.select("user_id", "event_id").collect()}
    b = {(r.user_id, r.event_id) for r in want.collect()}
    assert a == b


def test_session_stats_agrees_with_lag_sessionization(spark, event_batch):
    """Native session_window must produce the same session boundaries as
    q21's lag+cumsum formulation (same 30-min gap)."""
    from prox_spark.queries.events import SESSION_GAP_MIN

    native = session_stats(event_batch, gap=f"{SESSION_GAP_MIN} minutes")
    # q21 reads from sf_dir itself; rebuild its lag+cumsum sessionization
    # from the same frame (session_end differs by design: session_window
    # ends at last_event + gap, the lag form at max(ts) — compare starts)
    from pyspark.sql import Window as W

    order = W.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = us - F.lag(us).over(order)
    is_new = F.when(gap.isNull() | (gap > SESSION_GAP_MIN * 60 * 1_000_000), 1).otherwise(0)
    sess = event_batch.withColumn(
        "session_id", F.sum(is_new).over(order.rowsBetween(W.unboundedPreceding, 0))
    ).groupBy("user_id", "session_id").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
    )
    a = {(r.user_id, r.session_start, r.n_events) for r in native.collect()}
    b = {(r.user_id, r.session_start, r.n_events) for r in sess.collect()}
    assert a == b


def test_checkpoint_recovery_is_exactly_once(spark, event_batch, tmp_path):
    """Source offsets live in the checkpoint and the file sink commits
    atomically per batch: stopping a stream, adding files, and
    restarting with the SAME checkpoint must process only the new
    files — every event exactly once across restarts. This is the
    restart story a 1000-executor job relies on after a driver loss."""
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    # deterministic split: an unordered limit() re-evaluates to a
    # different row set on each action, which would let the second
    # tranche overlap the first
    first = event_batch.orderBy("event_id").limit(200)
    first.coalesce(2).write.mode("overwrite").parquet(src)

    def run_once():
        stream = read_event_stream(spark, src, event_batch.schema)
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(120)
        finally:
            q.stop()

    run_once()
    got1 = spark.read.parquet(out)
    assert got1.count() == 200

    # at-least-once upstream delivers a second tranche (disjoint ids:
    # anti-join against the ids actually written, re-read from disk)
    written_ids = spark.read.parquet(src).select("event_id")
    second = (
        event_batch.join(written_ids, "event_id", "left_anti")
        .orderBy("event_id")
        .limit(150)
    )
    second.coalesce(2).write.mode("append").parquet(src)
    run_once()

    got2 = spark.read.parquet(out)
    assert got2.count() == 350, "restart reprocessed or dropped files"
    assert got2.select("event_id").distinct().count() == 350


def test_cms_merge_batch_is_replay_idempotent(spark, tmp_path):
    """The additive sketch sink must fold each batch id exactly once:
    re-delivering a batch (foreachBatch at-least-once) cannot change
    a single counter."""
    from prox_spark.queries.streaming_q import cms_merge_batch
    from prox_spark.table import read_table, table_versions

    store = str(tmp_path / "cms")
    docs = spark.createDataFrame(
        [(1, "alpha beta beta"), (2, "beta gamma")], "doc_id long, text string"
    )
    cms_merge_batch(docs, 0, store)
    first = sorted(map(tuple, read_table(spark, store).collect()))
    # replayed delivery of the same batch id: a no-op (no new version)
    cms_merge_batch(docs, 0, store)
    assert sorted(map(tuple, read_table(spark, store).collect())) == first
    assert table_versions(spark, store) == [1]
    # a genuinely new batch folds in additively
    more = spark.createDataFrame([(3, "beta")], "doc_id long, text string")
    cms_merge_batch(more, 1, store)
    after = sorted(map(tuple, read_table(spark, store).collect()))
    assert table_versions(spark, store) == [1, 2]
    # total mass (d >= 0 rows; tuples are (d, bucket, c)) grew by
    # exactly CMS_D * 1 token
    from prox_spark.hashing import CMS_D

    mass = lambda rows: sum(r[2] for r in rows if r[0] >= 0)
    assert mass(after) == mass(first) + CMS_D


def test_drain_helper_raises_on_timeout():
    """The reusable stream helpers must FAIL LOUDLY when a drain times
    out — a silent timeout + stop() returns partial state as if
    complete (the staged-artifact corruption mode)."""
    import pytest

    from prox_spark.streaming import _drain

    class _Stuck:
        def __init__(self):
            self.stopped = False

        def awaitTermination(self, timeout_s):
            return False

        def stop(self):
            self.stopped = True

    q = _Stuck()
    with pytest.raises(RuntimeError, match="did not drain"):
        _drain(q, 1)
    assert q.stopped, "stop() must still run on the failure path"


def test_drain_table_stream_paced_catchup(spark, tmp_path):
    """maxVersionsPerBatch + availableNow compose through
    drain_table_stream: Python DataSource streams fall back to
    single-batch execution per start, so a paced catch-up needs one
    start per capped batch — the helper loops until the checkpoint
    offset covers the head and reports how many starts it took."""
    from pyspark.sql import functions as F

    from prox_spark.streaming import drain_table_stream
    from prox_spark.table import commit_delta, commit_snapshot, read_manifest
    from prox_spark.table_stream import TableChangesDataSource

    spark.dataSource.register(TableChangesDataSource)
    t = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")

    def docs(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("doc_id"), F.lit("x").alias("txt")
        )

    commit_snapshot(spark, t, docs(0, 10), stat_cols=["doc_id"], n_files=2)
    for i in range(1, 5):
        prev = read_manifest(spark, t)
        commit_delta(
            spark, t, docs(10 * i, 10 * i + 10),
            list(prev["files"]), update_key_ranges={},
        )
    collected: list[int] = []

    def fb(batch, bid):
        collected.extend(r["doc_id"] for r in batch.collect())

    def start():
        return (
            spark.readStream.format("prox_table_changes")
            .option("path", t)
            .option("maxVersionsPerBatch", "1")
            .option("paceFromCheckpoint", ckpt)
            .load()
            .writeStream.foreachBatch(fb)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    starts = drain_table_stream(start, ckpt, t, timeout_s=120)
    # 5 versions at 1/batch: the cap binds on every start
    # (paceFromCheckpoint seeds the floor the fallback can't see)
    assert starts == 5, f"expected one start per capped batch, got {starts}"
    assert sorted(collected) == list(range(50))
    # already drained: zero further starts
    assert drain_table_stream(start, ckpt, t, timeout_s=120) == 0
