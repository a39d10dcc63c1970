"""Table-as-stream source (prox_spark/table_stream.py): incremental
Structured-Streaming reads of the manifest log — version offsets,
append-only micro-batches, checkpoint resume, Delta-parity change-
commit handling (raise / skipChangeCommits), pinned-schema guard, and
the chunked-manifest assembly the pure-python loader must mirror.
The reference is batch-only; this is the streaming-source half of the
Delta/Iceberg parity surface (the foreachBatch sinks are the other)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

import prox_spark.table as T
from prox_spark.table import (
    commit_delta,
    commit_snapshot,
    compact_table,
    read_manifest,
)
from prox_spark.table_stream import TableChangesDataSource, load_manifest


@pytest.fixture()
def registered(spark):
    spark.dataSource.register(TableChangesDataSource)
    return spark


def _docs(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 3).cast("string").alias("src"),
    )


def _stage(spark, tmp_path, n_files=2):
    t = str(tmp_path / "t")
    commit_snapshot(spark, t, _docs(spark, 0, 10), stat_cols=["doc_id"], n_files=n_files)
    prev = read_manifest(spark, t)
    commit_delta(
        spark, t, _docs(spark, 10, 15), list(prev["files"]), update_key_ranges={}
    )
    return t


def _drain(spark, t, ckpt, collected, **options):
    reader = spark.readStream.format("prox_table_changes").option("path", t)
    for k, v in options.items():
        reader = reader.option(k, v)

    def fb(batch, bid):
        collected.append((int(bid), sorted(r["doc_id"] for r in batch.collect())))

    q = (
        reader.load()
        .writeStream.foreachBatch(fb)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()


def test_appends_stream_and_checkpoint_resumes(registered, tmp_path):
    """Run 1 delivers all committed rows; a commit landing while the
    stream is down is delivered — alone — by the resumed run."""
    spark = registered
    t = _stage(spark, tmp_path)
    ckpt = str(tmp_path / "ckpt")
    seen: list = []
    _drain(spark, t, ckpt, seen)
    assert [rows for _, rows in seen] == [list(range(15))]
    prev = read_manifest(spark, t)
    commit_delta(
        spark, t, _docs(spark, 15, 18), list(prev["files"]), update_key_ranges={}
    )
    seen2: list = []
    _drain(spark, t, ckpt, seen2)
    assert [rows for _, rows in seen2] == [[15, 16, 17]]
    # batch ids continue across restarts (same checkpoint lineage)
    assert seen2[0][0] == seen[-1][0] + 1


def test_starting_version_skips_history(registered, tmp_path):
    spark = registered
    t = _stage(spark, tmp_path)  # v1 = 0..9, v2 = 10..14
    seen: list = []
    _drain(spark, t, str(tmp_path / "c"), seen, startingVersion="1")
    assert [rows for _, rows in seen] == [[10, 11, 12, 13, 14]]


def test_change_commit_raises_by_default(registered, tmp_path):
    spark = registered
    t = _stage(spark, tmp_path)
    compact_table(spark, t)
    seen: list = []
    with pytest.raises(Exception, match="not an append commit"):
        _drain(spark, t, str(tmp_path / "c"), seen)


def test_skip_change_commits_delivers_appends_once(registered, tmp_path):
    """skipChangeCommits drops the compaction's rewrite outputs (their
    rows were already streamed) but still delivers the append landing
    after it — rows arrive exactly once."""
    spark = registered
    t = _stage(spark, tmp_path)
    compact_table(spark, t)
    prev = read_manifest(spark, t)
    commit_delta(
        spark, t, _docs(spark, 20, 22), list(prev["files"]), update_key_ranges={}
    )
    seen: list = []
    _drain(spark, t, str(tmp_path / "c"), seen, skipChangeCommits="true")
    got = sorted(x for _, rows in seen for x in rows)
    assert got == list(range(15)) + [20, 21]


def test_mor_delete_is_a_change_commit(registered, tmp_path):
    spark = registered
    t = _stage(spark, tmp_path)
    m = read_manifest(spark, t)
    T.commit_delete_file(
        spark, t,
        spark.createDataFrame([(3,)], "doc_id long"),
        ["doc_id"], list(m["files"]),
    )
    with pytest.raises(Exception, match="not an append commit"):
        _drain(spark, t, str(tmp_path / "c"), [])


def test_schema_change_mid_stream_raises(registered, tmp_path):
    """A commit whose declared columns differ from the stream's pinned
    schema fails the stream (Delta behaviour: restart to pick it up);
    rewrite-induced nullability flips must NOT trip the guard (the
    compaction in test_skip_change_commits already proves that)."""
    spark = registered
    t = _stage(spark, tmp_path)
    prev = read_manifest(spark, t)
    widened = _docs(spark, 30, 32).withColumn("extra", F.lit(1))
    commit_delta(
        spark, t, widened, list(prev["files"]), update_key_ranges={}
    )
    with pytest.raises(Exception, match="schema changed"):
        _drain(spark, t, str(tmp_path / "c"), [])


def test_loader_assembles_chunked_manifests(spark, tmp_path, monkeypatch):
    """The stream reader's pure-python manifest loader must resolve
    chunked (v2) snapshots exactly like table.read_manifest — files
    and born maps assembled from the chunk files."""
    monkeypatch.setattr("prox_spark.manifest.CHUNK_THRESHOLD", 4)
    monkeypatch.setattr("prox_spark.manifest.CHUNK_SIZE", 2)
    t = str(tmp_path / "t")
    commit_snapshot(spark, t, _docs(spark, 0, 40), stat_cols=["doc_id"], n_files=6)
    prev = read_manifest(spark, t)
    commit_delta(
        spark, t, _docs(spark, 40, 42), list(prev["files"]), update_key_ranges={}
    )
    want = read_manifest(spark, t)
    assert "chunks" in want  # the layout under test
    got = load_manifest(t, int(want["version"]))
    assert sorted(got["files"]) == sorted(want["files"])
    assert got["born"] == want.get("born")


def test_view_merge_batch_replay_is_idempotent(spark, tmp_path):
    """The q191 sink's applied-batch marker makes re-delivery of a
    batch id a no-op — the additive fold stays exactly-once."""
    from prox_spark.queries.streaming_q import view_merge_batch

    dim = str(tmp_path / "dim")
    spark.createDataFrame(
        [("src0", "r0"), ("src1", "r1")], "source string, region string"
    ).write.parquet(dim)
    store = str(tmp_path / "view")
    batch = spark.createDataFrame(
        [(1, "src0", 10), (2, "src1", 20), (3, "src0", 30)],
        "doc_id long, source string, n_chars long",
    )
    view_merge_batch(batch, 0, store, dim)
    view_merge_batch(batch, 0, store, dim)  # replayed delivery
    rows = {
        r["region"]: (r["n_docs"], r["sum_chars"])
        for r in T.read_table(spark, store).filter(F.col("n_docs") >= 0).collect()
    }
    assert rows == {"r0": (2, 40), "r1": (1, 20)}


def test_lsh_index_batch_replay_is_idempotent(spark, tmp_path):
    """q194's index sink: a re-delivered batch id must not append its
    band rows twice (the applied-batch marker gates the fold)."""
    from prox_spark.queries.streaming_q import lsh_index_batch

    idx = str(tmp_path / "idx")
    batch = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta"),
         (2, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    lsh_index_batch(batch, 0, idx)
    n1 = T.read_table(spark, idx).count()
    lsh_index_batch(batch, 0, idx)  # replayed delivery
    assert T.read_table(spark, idx).count() == n1
    # identical docs collide in every band bucket
    rows = (
        T.read_table(spark, idx).filter(F.col("band") >= 0)
        .groupBy("band", "band_sig")
        .count().collect()
    )
    assert rows and all(r["count"] == 2 for r in rows)


def test_q194_flags_a_batch_applied_twice(spark, tmp_path, monkeypatch):
    """A batch that gets past the marker fence under a fresh batch id
    doubles its band rows but adds no pair, so q194's pairs alone
    would still match q36's oracle; its ``applied_once`` column must
    not."""
    import duckdb

    from prox_spark.queries import streaming_q as S

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta"),
         (2, "alpha beta gamma delta epsilon zeta eta theta iota"),
         (3, "one two three four five six seven eight"),
         (4, "one two three four five six seven eight")],
        "doc_id long, text string",
    )
    sf = tmp_path / "sf"
    sf.mkdir()
    docs.toPandas().to_parquet(sf / "documents.parquet")
    idx = str(tmp_path / "idx")
    S.lsh_index_batch(docs.filter("doc_id <= 2"), 0, idx)
    S.lsh_index_batch(docs.filter("doc_id > 2"), 1, idx)
    monkeypatch.setattr(S, "_lsh_stream_index", lambda spark, sf_dir: (idx, 2))

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf}/documents.parquet')"
    )
    oracle = sorted(con.execute(S._oracle_q194()).fetchall())
    assert len(oracle) == 2

    def q194():
        return sorted(
            tuple(r) for r in S.q194_streaming_lsh_index(spark, str(sf)).select(
                "doc1", "doc2", "jaccard", "incremental", "applied_once"
            ).collect()
        )

    assert q194() == oracle
    S.lsh_index_batch(docs.filter("doc_id > 2"), 2, idx)  # applied again
    doubled = q194()
    assert [r[:3] for r in doubled] == [r[:3] for r in oracle]
    assert doubled != oracle and not any(r[4] for r in doubled)


def test_pacing_floor_never_regresses_after_restart(spark, tmp_path):
    """maxVersionsPerBatch's pacing floor must survive a query restart:
    a fresh reader (driver-local state reset) that learns the committed
    offset through partitions()/commit() — or that has no floor at all —
    must never return a latestOffset BEHIND it, or Spark would re-plan
    and re-deliver already-processed versions."""
    from prox_spark.table_stream import (
        TableChangesDataSource,
        TableChangesStreamReader,
    )

    t = str(tmp_path / "t")
    commit_snapshot(spark, t, _docs(spark, 0, 10), stat_cols=["doc_id"])
    for lo in range(10, 20, 2):  # v2..v6
        prev = read_manifest(spark, t)
        commit_delta(
            spark, t, _docs(spark, lo, lo + 2), list(prev["files"]),
            update_key_ranges={},
        )
    schema = TableChangesDataSource(options={"path": t}).schema()
    opts = {"path": t, "maxVersionsPerBatch": "2"}

    # a fresh query calls initialOffset first — that seeds the floor
    a = TableChangesStreamReader(schema, dict(opts))
    assert a.initialOffset() == {"version": 0}
    assert a.latestOffset() == {"version": 2}
    assert a.latestOffset() == {"version": 4}

    # restart with a pending batch: Spark replays (2, 4] from the
    # checkpoint via partitions(), then asks for the next end — the
    # replayed end re-seeds the floor, so pacing continues FORWARD
    b = TableChangesStreamReader(schema, dict(opts))
    b.partitions({"version": 2}, {"version": 4})
    assert b.latestOffset()["version"] == 6

    # restart whose first call IS latestOffset: no floor is knowable
    # (it lives in the checkpoint), so the trigger is unpaced rather
    # than guessed-behind
    c = TableChangesStreamReader(schema, dict(opts))
    assert c.latestOffset()["version"] == 6

    # commit() alone also re-seeds the floor
    d = TableChangesStreamReader(schema, dict(opts))
    d.commit({"version": 4})
    assert d.latestOffset()["version"] == 6


def test_vacuumed_versions_raise_or_skip(registered, tmp_path):
    """A stream lagging past the source table's vacuum retention dies
    loudly by default (naming the escape hatch); failOnDataLoss=false
    skips the vacuumed gap and delivers what survives."""
    spark = registered
    t = _stage(spark, tmp_path)  # v1 = 0..9, v2 = 10..14
    prev = read_manifest(spark, t)
    commit_delta(
        spark, t, _docs(spark, 15, 18), list(prev["files"]),
        update_key_ranges={},
    )  # v3
    T.vacuum(spark, t, keep_last=1, retention_minutes=0.0)
    seen: list = []
    with pytest.raises(Exception, match="failOnDataLoss"):
        _drain(spark, t, str(tmp_path / "c1"), seen)
    seen2: list = []
    _drain(spark, t, str(tmp_path / "c2"), seen2, failOnDataLoss="false")
    assert sorted(x for _, rows in seen2 for x in rows) == [15, 16, 17]


def _drain_cdf(spark, t, ckpt, collected, **options):
    reader = (
        spark.readStream.format("prox_table_changes")
        .option("path", t)
        .option("readChangeFeed", "true")
    )
    for k, v in options.items():
        reader = reader.option(k, v)

    def fb(batch, bid):
        collected.append(
            (
                int(bid),
                sorted(
                    (r["doc_id"], r["_change_type"], r["_commit_version"])
                    for r in batch.collect()
                ),
            )
        )

    q = (
        reader.load()
        .writeStream.foreachBatch(fb)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()


def test_change_feed_streams_signed_rows(registered, tmp_path):
    """readChangeFeed=true turns every commit kind into signed rows:
    appends = inserts, MoR deletes = exactly the deleted rows, upserts
    = delete+insert pairs, compactions = nothing — and the streamed
    multiset equals the batch reader's."""
    from prox_spark.cdf import read_table_changes
    from prox_spark.upsert import delete_keys_mor, upsert_parquet

    spark = registered
    t = _stage(spark, tmp_path)  # v1: 0..9, v2: 10..14
    delete_keys_mor(
        spark, t, spark.createDataFrame([(3,), (12,)], "doc_id long"),
        ["doc_id"],
    )  # v3
    upsert_parquet(
        spark, t,
        spark.createDataFrame([(2, "9"), (20, "9")], "doc_id long, src string"),
        ["doc_id"],
    )  # v4 (rewrite)
    compact_table(spark, t)  # v5: data_change=false, must not feed

    seen: list = []
    _drain_cdf(spark, t, str(tmp_path / "c"), seen)
    rows = [x for _, batch in seen for x in batch]
    by_v: dict = {}
    for doc_id, ct, v in rows:
        by_v.setdefault(v, []).append((doc_id, ct))
    assert sorted(by_v[1]) == [(i, "insert") for i in range(10)]
    assert sorted(by_v[2]) == [(i, "insert") for i in range(10, 15)]
    assert sorted(by_v[3]) == [(3, "delete"), (12, "delete")]
    assert 5 not in by_v  # the compaction
    # v4 nets to: delete 2(old) + insert 2(new) + insert 20 — plus
    # cancelling echo pairs for co-rewritten rows
    net4: dict = {}
    for doc_id, ct in by_v[4]:
        net4[doc_id] = net4.get(doc_id, 0) + (1 if ct == "insert" else -1)
    assert {k: v for k, v in net4.items() if v != 0} == {20: 1}
    assert (2, "delete") in by_v[4] and (2, "insert") in by_v[4]
    # stream multiset == batch reader multiset
    batch_rows = sorted(
        (r["doc_id"], r["_change_type"], r["_commit_version"])
        for r in read_table_changes(spark, t, 0).collect()
    )
    assert sorted(rows) == batch_rows


def test_change_feed_checkpoint_resumes_through_deletes(registered, tmp_path):
    """Commits (including a delete) landing while the stream is down
    are delivered exactly once by the resumed run."""
    from prox_spark.upsert import delete_keys_mor

    spark = registered
    t = _stage(spark, tmp_path)
    ckpt = str(tmp_path / "ckpt")
    seen: list = []
    _drain_cdf(spark, t, ckpt, seen)
    assert len([x for _, b in seen for x in b]) == 15
    delete_keys_mor(
        spark, t, spark.createDataFrame([(7,)], "doc_id long"), ["doc_id"]
    )
    prev = read_manifest(spark, t)
    commit_delta(
        spark, t, _docs(spark, 30, 32), list(prev["files"]),
        update_key_ranges={},
    )
    seen2: list = []
    _drain_cdf(spark, t, ckpt, seen2)
    got = sorted(x for _, b in seen2 for x in b)
    assert got == [(7, "delete", 3), (30, "insert", 4), (31, "insert", 4)]


def test_semantic_index_batch_replay_is_idempotent(spark, tmp_path):
    """q198's sink: a re-delivered batch id must neither re-append its
    assignments nor re-publish a txn (marker gates both)."""
    from prox_spark.queries.similarity import _cent_arr
    from prox_spark.queries.streaming_q import semantic_index_batch
    from prox_spark.txn import txn_state

    emb = spark.range(6).select(
        F.col("id").alias("vec_id"),
        F.expr(
            "transform(sequence(1, 4), j -> cast(id * j + 1 as float))"
        ).alias("embedding"),
    )
    sfd = str(tmp_path / "sf")
    emb.write.parquet(f"{sfd}/embeddings.parquet")
    t = str(tmp_path / "corpus")
    commit_snapshot(spark, t, emb)
    cent = _cent_arr(spark, sfd, 2)
    batch = emb.withColumn("_change_type", F.lit("insert")).withColumn(
        "_commit_version", F.lit(1).cast("long")
    )
    idx = str(tmp_path / "idx")
    ws = str(tmp_path / "ws")
    semantic_index_batch(batch, 0, idx, t, ws, cent)
    n1 = T.read_table(spark, idx).count()
    s1 = txn_state(spark, ws)
    assert s1 == {t: 1, idx: 1}
    assert n1 == 7  # 6 assignments + 1 marker
    semantic_index_batch(batch, 0, idx, t, ws, cent)  # replayed delivery
    assert T.read_table(spark, idx).count() == n1
    assert txn_state(spark, ws) == s1


def _drain_wide(spark, t, ckpt, collected, **options):
    reader = spark.readStream.format("prox_table_changes").option("path", t)
    for k, v in options.items():
        reader = reader.option(k, v)

    def fb(batch, bid):
        collected.append(
            sorted((r["doc_id"], r["extra"]) for r in batch.collect())
        )

    q = (
        reader.load()
        .writeStream.foreachBatch(fb)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()


def test_schema_evolution_backfills_old_commits(registered, tmp_path):
    """A stream pinned at the WIDENED schema (started after an
    add-column commit) delivers pre-evolution commits with NULL
    back-fill under allowSchemaEvolution=true — and still raises by
    default."""
    spark = registered
    t = _stage(spark, tmp_path)  # v1/v2: (doc_id, src)
    prev = read_manifest(spark, t)
    commit_delta(
        spark, t,
        _docs(spark, 20, 22).withColumn("extra", F.lit(7).cast("long")),
        list(prev["files"]), update_key_ranges={},
    )  # v3: widened
    with pytest.raises(Exception, match="schema changed"):
        _drain_wide(spark, t, str(tmp_path / "c0"), [])
    seen: list = []
    _drain_wide(
        spark, t, str(tmp_path / "c1"), seen, allowSchemaEvolution="true"
    )
    rows = sorted(x for b in seen for x in b)
    assert rows == [(i, None) for i in range(15)] + [(20, 7), (21, 7)]


def test_schema_evolution_mid_stream_projects_new_column(registered, tmp_path):
    """A mid-stream add-column commit keeps streaming under the PINNED
    (narrow) schema — the new column is projected away until a restart
    widens the output."""
    spark = registered
    t = _stage(spark, tmp_path)
    ckpt = str(tmp_path / "ckpt")
    seen: list = []
    _drain(spark, t, ckpt, seen, allowSchemaEvolution="true")
    assert sorted(x for _, rows in seen for x in rows) == list(range(15))
    prev = read_manifest(spark, t)
    commit_delta(
        spark, t,
        _docs(spark, 20, 22).withColumn("extra", F.lit(7).cast("long")),
        list(prev["files"]), update_key_ranges={},
    )
    seen2: list = []
    _drain(spark, t, ckpt, seen2, allowSchemaEvolution="true")
    assert sorted(x for _, rows in seen2 for x in rows) == [20, 21]


def test_schema_evolution_still_raises_on_rename_and_drop(registered, tmp_path):
    """allowSchemaEvolution covers ADD-column only: a pinned column
    that is really a rename target must not silently NULL-fill for
    pre-rename versions."""
    spark = registered
    t = _stage(spark, tmp_path)
    T.compact_table(spark, t)  # fold so rename_column accepts
    T.rename_column(spark, t, "src", "label")
    # stream pinned POST-rename (latest schema): pre-rename versions
    # lack 'label' — backfilling would fabricate data
    seen: list = []
    with pytest.raises(Exception, match="renamed or dropped"):
        _drain(
            spark, t, str(tmp_path / "c0"), seen,
            allowSchemaEvolution="true", skipChangeCommits="true",
        )
