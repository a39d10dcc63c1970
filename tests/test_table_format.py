"""Manifest-log table format (prox_spark/table.py): atomic commits,
snapshot isolation for concurrent readers, time travel, vacuum, and
the refusal of paths that hold no manifest."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from prox_spark.table import (
    commit_snapshot,
    is_manifest_table,
    read_table,
    table_versions,
    vacuum,
)
from prox_spark.upsert import upsert_parquet


def _df(spark, rows):
    return spark.createDataFrame(rows, "id long, v string")


def test_commit_and_read_roundtrip(spark, tmp_path):
    path = str(tmp_path / "t")
    v = commit_snapshot(spark, path, _df(spark, [(1, "a"), (2, "b")]))
    assert v == 1 and is_manifest_table(spark, path)
    assert {(r.id, r.v) for r in read_table(spark, path).collect()} == {
        (1, "a"),
        (2, "b"),
    }


def test_reader_pinned_before_commit_sees_old_version_never_a_mix(spark, tmp_path):
    """The concurrent-reader guarantee: a DataFrame planned against
    version N returns exactly N's rows even if N+1 commits before the
    action runs — the old snapshot's files are immutable and a manifest
    names exactly one snapshot dir, so a mixed read is impossible."""
    path = str(tmp_path / "t")
    commit_snapshot(spark, path, _df(spark, [(i, "old") for i in range(100)]))
    pinned = read_table(spark, path)  # resolves manifest-1 at plan time

    upsert_parquet(spark, path, _df(spark, [(i, "new") for i in range(50)]), ["id"])

    got = pinned.select("v").distinct().collect()
    assert [r.v for r in got] == ["old"], "pinned reader saw writer's rows"
    assert pinned.count() == 100
    # a FRESH read resolves the new manifest: all 100 rows, 50 updated
    fresh = read_table(spark, path)
    assert fresh.count() == 100
    assert fresh.filter(F.col("v") == "new").count() == 50


def test_time_travel_and_versions(spark, tmp_path):
    path = str(tmp_path / "t")
    commit_snapshot(spark, path, _df(spark, [(1, "v1")]))
    commit_snapshot(spark, path, _df(spark, [(1, "v2"), (2, "v2")]))
    assert table_versions(spark, path) == [1, 2]
    assert read_table(spark, path, version=1).count() == 1
    assert read_table(spark, path).count() == 2
    with pytest.raises(ValueError, match="not in"):
        read_table(spark, path, version=9)


def test_vacuum_drops_old_versions_keeps_latest(spark, tmp_path):
    path = str(tmp_path / "t")
    for i in range(4):
        commit_snapshot(spark, path, _df(spark, [(i, f"v{i + 1}")]))
    dropped = vacuum(spark, path, keep_last=2)
    assert dropped == [1, 2]
    assert table_versions(spark, path) == [3, 4]
    assert [r.v for r in read_table(spark, path).collect()] == ["v4"]
    assert [r.v for r in read_table(spark, path, version=3).collect()] == ["v3"]
    with pytest.raises(ValueError, match="not in"):
        read_table(spark, path, version=1)


def _tree_bytes(root) -> dict:
    """{relative path: bytes} of every file under ``root``."""
    import os

    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = f.read()
    return out


def test_plain_parquet_dir_is_refused(spark, tmp_path):
    """Every table is a manifest table: reading, merging into or
    deleting from a plain parquet directory raises ValueError and
    leaves its files byte-identical."""
    from prox_spark.upsert import delete_keys, delete_keys_mor

    path = str(tmp_path / "plain")
    _df(spark, [(1, "a"), (2, "b")]).write.parquet(path)
    before = _tree_bytes(path)
    keys = spark.createDataFrame([(2,)], "id long")
    calls = {
        "read_table": lambda: read_table(spark, path),
        "upsert_parquet": lambda: upsert_parquet(
            spark, path, _df(spark, [(2, "B")]), ["id"]
        ),
        "delete_keys": lambda: delete_keys(spark, path, keys, ["id"]),
        "delete_keys_mor": lambda: delete_keys_mor(spark, path, keys, ["id"]),
    }
    for name, call in calls.items():
        with pytest.raises(ValueError, match="not a manifest table"):
            call()
        assert _tree_bytes(path) == before, name
    assert not is_manifest_table(spark, path)


def test_stale_fixture_manifests_are_restaged(spark, tmp_path):
    """A fixture root whose manifests are in the old single-snapshot
    layout ({"version", "data"}) is restaged in the writer's layout,
    and each version reads back exactly its rows."""
    import json
    import os

    from prox_spark.queries.table_q import _cdc_versions, stage_cdc_table
    from prox_spark.table import read_manifest

    root = str(tmp_path / "cdc")
    _, snaps = stage_cdc_table(root)
    for v, snap in snaps.items():
        with open(f"{root}/_manifests/manifest-{v:08d}.json", "w") as f:
            json.dump({"version": v, "data": os.path.relpath(snap, root)}, f)

    stage_cdc_table(root)
    want = _cdc_versions()
    for v in (1, 2):
        m = read_manifest(spark, root, v)
        assert {"files", "sizes", "born", "schema"} <= set(m), m
        assert "data" not in m
        for f in m["files"]:
            assert m["sizes"][f] == os.path.getsize(f"{root}/{f}")
            assert m["born"][f] == v
        got = read_table(spark, root, version=v).collect()
        assert sorted(tuple(r) for r in got) == sorted(want[v])


def test_failed_commit_leaves_table_readable(spark, tmp_path):
    """A crash between snapshot write and manifest publish must leave
    the previous version current; vacuum sweeps the orphan dir — but
    only past the retention grace, because a young unreferenced dir is
    indistinguishable from a concurrent commit's not-yet-published
    files (the Delta VACUUM retention contract)."""
    import os

    path = str(tmp_path / "t")
    commit_snapshot(spark, path, _df(spark, [(1, "good")]))
    # simulate the crash: a snapshot dir with no manifest
    orphan = f"{path}/data/snap-00000002-deadbeef"
    _df(spark, [(9, "half-written")]).write.parquet(orphan)

    assert [r.v for r in read_table(spark, path).collect()] == ["good"]
    # default retention: the seconds-old dir could be an in-flight
    # commit's — it must survive
    vacuum(spark, path, keep_last=1)
    assert os.path.exists(orphan)
    # zero retention (exclusive access declared): swept
    vacuum(spark, path, keep_last=1, retention_minutes=0.0)
    assert not os.path.exists(orphan)
    assert [r.v for r in read_table(spark, path).collect()] == ["good"]


def test_delete_keys_commits_new_version_and_time_travel_keeps_old(spark, tmp_path):
    from prox_spark.table import read_table, table_versions
    from prox_spark.upsert import delete_keys, upsert_parquet

    path = str(tmp_path / "t")
    df = spark.createDataFrame([(i, f"u{i}") for i in range(20)], "id BIGINT, name STRING")
    upsert_parquet(spark, path, df, ["id"])
    to_del = spark.createDataFrame([(3,), (7,), (99,)], "id BIGINT")
    n = delete_keys(spark, path, to_del, ["id"])
    assert n == 2  # id 99 never existed
    ids = {r.id for r in read_table(spark, path).collect()}
    assert ids == set(range(20)) - {3, 7}
    # prior version still serves the pre-deletion rows
    v = table_versions(spark, path)
    old = {r.id for r in read_table(spark, path, version=v[-2]).collect()}
    assert old == set(range(20))


def test_delete_keys_rejects_unknown_key_column(spark, tmp_path):
    import pytest

    from prox_spark.upsert import delete_keys, upsert_parquet

    path = str(tmp_path / "t")
    upsert_parquet(
        spark, path, spark.createDataFrame([(1, "a")], "id BIGINT, name STRING"), ["id"]
    )
    with pytest.raises(ValueError, match="not in table schema"):
        delete_keys(spark, path, spark.createDataFrame([(1,)], "nope BIGINT"), ["nope"])


def test_upsert_add_column_evolution(spark, tmp_path):
    from pyspark.sql import functions as F

    from prox_spark.table import read_table, table_versions
    from prox_spark.upsert import upsert_parquet

    path = str(tmp_path / "t")
    v1 = spark.createDataFrame([(1, "a"), (2, "b")], "id BIGINT, name STRING")
    upsert_parquet(spark, path, v1, ["id"])
    v2 = spark.createDataFrame(
        [(2, "b2", 0.9), (3, "c", 0.5)], "id BIGINT, name STRING, score DOUBLE"
    )
    # without the flag: schema mismatch is still an error
    import pytest

    with pytest.raises(ValueError, match="schema mismatch"):
        upsert_parquet(spark, path, v2, ["id"])
    upsert_parquet(spark, path, v2, ["id"], evolve=True)
    got = {r.id: (r.name, r.score) for r in read_table(spark, path).collect()}
    # old row null-fills the new column; updated/new rows carry values
    assert got == {1: ("a", None), 2: ("b2", 0.9), 3: ("c", 0.5)}
    # time travel still serves the pre-evolution schema
    v = table_versions(spark, path)
    old = read_table(spark, path, version=v[-2])
    assert old.columns == ["id", "name"]


def test_upsert_evolution_rejects_dropped_columns(spark, tmp_path):
    import pytest

    from prox_spark.upsert import upsert_parquet

    path = str(tmp_path / "t")
    upsert_parquet(
        spark, path, spark.createDataFrame([(1, "a")], "id BIGINT, name STRING"), ["id"]
    )
    narrower = spark.createDataFrame([(2,)], "id BIGINT")
    with pytest.raises(ValueError, match="drop columns"):
        upsert_parquet(spark, path, narrower, ["id"], evolve=True)


# --- file-granular commits (round-4 format) --------------------------------


def _files_of(spark, path, version=None):
    from prox_spark.table import read_manifest

    return read_manifest(spark, path, version)["files"]


def test_single_key_upsert_rewrites_few_files(spark, tmp_path):
    """THE file-granularity guarantee: with the table clustered on the
    merge key across many files, an upsert touching one key carries
    almost every file into the new version verbatim and rewrites only
    the file(s) whose key range covers that key."""
    from prox_spark.upsert import upsert_parquet

    path = str(tmp_path / "t")
    big = spark.createDataFrame(
        [(i, f"u{i}") for i in range(4000)], "id BIGINT, name STRING"
    )
    commit_snapshot(spark, path, big, stat_cols=["id"], n_files=16)
    v1_files = set(_files_of(spark, path))
    assert len(v1_files) == 16

    upsert_parquet(
        spark, path, spark.createDataFrame([(1234, "EDIT")], "id BIGINT, name STRING"),
        ["id"],
    )
    v2_files = set(_files_of(spark, path))
    carried = v1_files & v2_files
    assert len(carried) >= 15, f"only {len(carried)} of 16 files carried over"
    # and the merge is still correct
    got = read_table(spark, path)
    assert got.count() == 4000
    assert [r.name for r in got.filter("id = 1234").collect()] == ["EDIT"]
    assert [r.name for r in got.filter("id = 1233").collect()] == ["u1233"]


def test_delete_keys_prunes_and_counts_exactly(spark, tmp_path):
    from prox_spark.upsert import delete_keys

    path = str(tmp_path / "t")
    big = spark.createDataFrame([(i, i * 2) for i in range(4000)], "id BIGINT, v BIGINT")
    commit_snapshot(spark, path, big, stat_cols=["id"], n_files=16)
    v1_files = set(_files_of(spark, path))

    dels = spark.createDataFrame([(10,), (11,), (9999,)], "id BIGINT")
    n = delete_keys(spark, path, dels, ["id"])
    assert n == 2
    v2_files = set(_files_of(spark, path))
    assert len(v1_files & v2_files) >= 15
    assert read_table(spark, path).count() == 3998


def test_point_lookup_skips_files(spark, tmp_path):
    from prox_spark.table import point_lookup_files, read_table_point

    path = str(tmp_path / "t")
    big = spark.createDataFrame(
        [(i, f"u{i}") for i in range(4000)], "id BIGINT, name STRING"
    )
    commit_snapshot(spark, path, big, stat_cols=["id"], n_files=16)
    pruned = point_lookup_files(spark, path, {"id": 1234})
    assert 1 <= len(pruned) <= 2, pruned  # 16 disjoint ranges -> ~1 file
    rows = read_table_point(spark, path, {"id": 1234}).collect()
    assert [(r.id, r.name) for r in rows] == [(1234, "u1234")]
    # a key outside every range reads zero files
    assert point_lookup_files(spark, path, {"id": 999999}) == []
    assert read_table_point(spark, path, {"id": 999999}).count() == 0


def test_evolution_rewrites_no_untouched_files(spark, tmp_path):
    """ADD-COLUMN evolution with file-granular commits: untouched files
    are carried over byte-identical (old physical schema) and read the
    new column as NULL through the manifest's declared schema."""
    from prox_spark.upsert import upsert_parquet

    path = str(tmp_path / "t")
    big = spark.createDataFrame(
        [(i, f"u{i}") for i in range(4000)], "id BIGINT, name STRING"
    )
    commit_snapshot(spark, path, big, stat_cols=["id"], n_files=16)
    v1_files = set(_files_of(spark, path))
    wide = spark.createDataFrame(
        [(7, "seven", 0.5)], "id BIGINT, name STRING, score DOUBLE"
    )
    upsert_parquet(spark, path, wide, ["id"], evolve=True)
    v2_files = set(_files_of(spark, path))
    assert len(v1_files & v2_files) >= 15
    got = read_table(spark, path)
    assert got.filter("score IS NOT NULL").count() == 1
    assert got.filter("score IS NULL").count() == 3999


def test_apply_changes_rejects_duplicate_key_rows(spark, tmp_path):
    import pytest

    from prox_spark.upsert import apply_changes

    path = str(tmp_path / "t")
    commit_snapshot(
        spark,
        path,
        spark.createDataFrame([(1, "a")], "id BIGINT, v STRING"),
        stat_cols=["id"],
    )
    feed = spark.createDataFrame(
        [(2, "b", "insert"), (2, "b2", "update")], "id BIGINT, v STRING, change STRING"
    )
    with pytest.raises(ValueError, match="multiple rows for the same key"):
        apply_changes(spark, path, feed, ["id"])


def test_apply_changes_rejects_null_op(spark, tmp_path):
    import pytest

    from prox_spark.upsert import apply_changes

    path = str(tmp_path / "t")
    commit_snapshot(
        spark,
        path,
        spark.createDataFrame([(1, "a")], "id BIGINT, v STRING"),
        stat_cols=["id"],
    )
    feed = spark.createDataFrame(
        [(2, "b", None)], "id BIGINT, v STRING, change STRING"
    )
    with pytest.raises(ValueError, match="unknown change ops"):
        apply_changes(spark, path, feed, ["id"])


def test_keep_max_and_scd2_prune_files(spark, tmp_path):
    """The order-independent and history merges take the same pruned
    path: one-key batches carry nearly every file over."""
    from prox_spark.upsert import upsert_keep_max, upsert_scd2

    km = str(tmp_path / "km")
    big = spark.createDataFrame(
        [(i, 1, f"v{i}") for i in range(4000)], "id BIGINT, seq BIGINT, v STRING"
    )
    upsert_keep_max(spark, km, big, ["id"], ["seq"])
    v1 = set(_files_of(spark, km))
    upd = spark.createDataFrame([(42, 5, "new"), (42, 3, "stale")],
                                "id BIGINT, seq BIGINT, v STRING")
    upsert_keep_max(spark, km, upd, ["id"], ["seq"])
    assert len(v1 & set(_files_of(spark, km))) >= len(v1) - 2
    got = {r.id: (r.seq, r.v) for r in read_table(spark, km).filter("id = 42").collect()}
    assert got == {42: (5, "new")}
    assert read_table(spark, km).count() == 4000

    s2 = str(tmp_path / "s2")
    dim = spark.createDataFrame(
        [(i, f"addr{i}", "2024-01-01 00:00:00") for i in range(4000)],
        "id BIGINT, addr STRING, eff STRING",
    ).withColumn("eff", F.col("eff").cast("timestamp_ntz"))
    upsert_scd2(spark, s2, dim, ["id"], "eff")
    v1 = set(_files_of(spark, s2))
    change = spark.createDataFrame(
        [(42, "moved", "2024-06-01 00:00:00")], "id BIGINT, addr STRING, eff STRING"
    ).withColumn("eff", F.col("eff").cast("timestamp_ntz"))
    upsert_scd2(spark, s2, change, ["id"], "eff")
    assert len(v1 & set(_files_of(spark, s2))) >= len(v1) - 2
    hist = read_table(spark, s2).filter("id = 42").orderBy("valid_from").collect()
    assert [r.is_current for r in hist] == [False, True]
    assert read_table(spark, s2).count() == 4001


def test_apply_changes_replay_idempotent(spark, tmp_path):
    """A restarted stream redelivers a batch: re-applying the same
    change feed must converge to the same table (re-upsert of an
    applied row and re-delete of an absent key are no-ops)."""
    from prox_spark.upsert import apply_changes

    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(i, f"v{i}") for i in range(100)], "id BIGINT, v STRING"
    )
    commit_snapshot(spark, path, base, stat_cols=["id"], n_files=4)
    feed = spark.createDataFrame(
        [(5, "V5", "update"), (200, "V200", "insert"), (7, None, "delete")],
        "id BIGINT, v STRING, change STRING",
    )
    apply_changes(spark, path, feed, ["id"])
    want = sorted(read_table(spark, path).collect(), key=str)
    apply_changes(spark, path, feed, ["id"])  # replay
    got = sorted(read_table(spark, path).collect(), key=str)
    assert got == want
    ids = {r.id for r in got}
    assert 7 not in ids and 200 in ids and len(ids) == 100


def test_compact_table_reclusters_and_vacuum_reclaims(spark, tmp_path):
    """After a run of merges, compaction rewrites the live rows into
    range-disjoint files as ONE atomic commit, and a follow-up vacuum
    retires every pre-compaction data dir."""
    import os

    from prox_spark.table import compact_table
    from prox_spark.upsert import upsert_parquet

    path = str(tmp_path / "t")
    big = spark.createDataFrame(
        [(i, f"u{i}") for i in range(4000)], "id BIGINT, name STRING"
    )
    commit_snapshot(spark, path, big, stat_cols=["id"], n_files=16)
    for k in (5, 1500, 3999):
        upsert_parquet(
            spark, path,
            spark.createDataFrame([(k, f"edit{k}")], "id BIGINT, name STRING"),
            ["id"],
        )
    pre_dirs = set(os.listdir(f"{path}/data"))
    v = compact_table(spark, path, n_files=8)
    from prox_spark.table import read_manifest

    m = read_manifest(spark, path)
    assert m["version"] == v and len(m["files"]) == 8
    # compacted files live in ONE new dir; all live rows survive
    assert len({f.split("/")[1] for f in m["files"]}) == 1
    got = read_table(spark, path)
    assert got.count() == 4000
    assert [r.name for r in got.filter("id = 1500").collect()] == ["edit1500"]
    # vacuum to just the compacted version: every old dir goes away
    # (zero retention — this test owns the table exclusively)
    vacuum(spark, path, keep_last=1, retention_minutes=0.0)
    post_dirs = set(os.listdir(f"{path}/data"))
    assert len(post_dirs) == 1 and not (post_dirs & pre_dirs)
    assert read_table(spark, path).count() == 4000


def test_compact_small_files_keeps_big_ones(spark, tmp_path):
    """Incremental compaction consolidates only the sub-threshold
    delta files; adequately-sized files carry over byte-identical."""
    from prox_spark.table import compact_small_files, read_manifest
    from prox_spark.upsert import upsert_parquet

    path = str(tmp_path / "t")
    from pyspark.sql import functions as F

    big = (
        spark.range(20000)
        .select(F.col("id"), F.md5(F.col("id").cast("string")).alias("pad"))
    )  # md5 padding: incompressible, so file sizes track row counts
    commit_snapshot(spark, path, big, stat_cols=["id"], n_files=4)
    v1_files = set(read_manifest(spark, path)["files"])
    # five tiny INSERT merges (keys beyond every file's range): no
    # rewrite, each commit adds one small delta file
    for k in (30001, 30007, 30011, 30013, 30017):
        upsert_parquet(
            spark, path,
            spark.createDataFrame([(k, f"edit{k}")], "id BIGINT, pad STRING"),
            ["id"],
        )
    before = read_manifest(spark, path)["files"]
    res = compact_small_files(spark, path, min_file_mb=0.05)
    assert res is not None
    n_rewritten, n_kept = res
    assert n_rewritten >= 5 and n_kept >= 1
    after = read_manifest(spark, path)["files"]
    assert len(after) < len(before)
    # the kept files are literally the same file paths
    assert set(after) & v1_files
    got = read_table(spark, path)
    assert got.count() == 20005
    assert [r.pad for r in got.filter("id = 30013").collect()] == ["edit30013"]
    # second run: nothing small left to consolidate -> no-op, no version
    from prox_spark.table import table_versions

    v = table_versions(spark, path)[-1]
    assert compact_small_files(spark, path, min_file_mb=0.05) is None
    assert table_versions(spark, path)[-1] == v


def test_streaming_cdc_apply_survives_restart(spark, tmp_path):
    """Kill the change-feed stream mid-drain and restart it from the
    SAME checkpoint: Spark replays the unacknowledged micro-batch into
    foreachBatch, apply_changes re-applies it idempotently, and the
    final table equals applying the whole feed once. This is the
    exactly-once-EFFECT property the streaming CDC consumer claims."""
    import time

    from prox_spark.upsert import apply_changes

    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(i, f"v{i}") for i in range(100)], "id BIGINT, v STRING"
    )
    commit_snapshot(spark, path, base, stat_cols=["id"])

    feed_dir = str(tmp_path / "feed")
    ckpt = str(tmp_path / "ckpt")
    feed_rows = [
        [(5, "A", "update"), (200, "B", "insert")],
        [(7, None, "delete"), (201, "C", "insert")],
        [(9, "D", "update"), (5, "E", "update")],  # second change to id 5
    ]
    # mind the cross-batch repeat of id 5: per-batch feeds stay unique,
    # batch ORDER matters, so recovery must not skip or reorder batches
    for i, rows in enumerate(feed_rows):
        spark.createDataFrame(
            rows, "id BIGINT, v STRING, change STRING"
        ).coalesce(1).write.mode("append").parquet(feed_dir)
        if i == 0:
            time.sleep(1.1)  # distinct mtimes -> deterministic file order

    schema = spark.read.parquet(feed_dir).schema
    applied_batches = []

    def _apply(batch_df, batch_id):
        applied_batches.append(batch_id)
        apply_changes(spark, path, batch_df, ["id"])
        if len(applied_batches) == 1:
            # widen the stop window so run 1 reliably dies before the
            # feed drains and run 2 really exercises recovery
            time.sleep(1.5)

    def _start():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(feed_dir)
            .writeStream.foreachBatch(_apply)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    # run 1: stop as soon as at least one batch has applied
    q = _start()
    deadline = time.monotonic() + 60
    while time.monotonic() < deadline and not applied_batches:
        time.sleep(0.05)
    q.stop()
    assert applied_batches, "first run applied nothing"

    # run 2: same checkpoint — must replay/resume and drain the rest
    q = _start()
    assert q.awaitTermination(120), "restarted stream did not drain"
    assert q.exception() is None
    assert set(applied_batches) >= {0, 1, 2}, applied_batches

    want = {i: f"v{i}" for i in range(100)}
    want.update({200: "B", 201: "C", 9: "D", 5: "E"})
    want.pop(7)
    got = {r.id: r.v for r in read_table(spark, path).collect()}
    assert got == want


def test_point_lookup_scan_reads_pruned_files_only(spark, tmp_path):
    """Not just the driver-side file list: the EXECUTED scan of a point
    lookup must touch only the pruned files."""
    from prox_spark.table import read_table_point

    path = str(tmp_path / "t")
    big = spark.createDataFrame(
        [(i, f"u{i}") for i in range(4000)], "id BIGINT, name STRING"
    )
    commit_snapshot(spark, path, big, stat_cols=["id"], n_files=16)
    df = read_table_point(spark, path, {"id": 2222})
    assert 1 <= len(df.inputFiles()) <= 2, df.inputFiles()
    assert [r.name for r in df.collect()] == ["u2222"]


def test_merge_into_statless_table_falls_back_to_full_rewrite(spark, tmp_path):
    """A table committed WITHOUT stat columns has nothing to prune on:
    merges must degrade gracefully to the whole-table rewrite and stay
    correct — and the merge itself records key stats, so the NEXT merge
    prunes."""
    from prox_spark.table import read_manifest
    from prox_spark.upsert import upsert_parquet

    path = str(tmp_path / "t")
    commit_snapshot(
        spark,
        path,
        spark.createDataFrame([(i, f"v{i}") for i in range(50)], "id BIGINT, v STRING"),
    )
    assert read_manifest(spark, path)["stat_cols"] == []
    upsert_parquet(
        spark, path,
        spark.createDataFrame([(7, "NEW"), (99, "APPEND")], "id BIGINT, v STRING"),
        ["id"],
    )
    got = {r.id: r.v for r in read_table(spark, path).collect()}
    assert got[7] == "NEW" and got[99] == "APPEND" and len(got) == 51
    # the merge declared key stats for its files
    m = read_manifest(spark, path)
    assert m["stat_cols"] == ["id"]


def test_mor_delete_rewrites_nothing_and_masks_rows(spark, tmp_path):
    """THE merge-on-read guarantee: the delete commit carries every
    data file verbatim (zero rewrites) and only adds a key file +
    manifest entry; reads mask the rows, time travel still serves the
    pre-delete version."""
    from prox_spark.table import read_manifest
    from prox_spark.upsert import delete_keys_mor

    path = str(tmp_path / "t")
    big = spark.createDataFrame([(i, i * 2) for i in range(4000)], "id BIGINT, v BIGINT")
    commit_snapshot(spark, path, big, stat_cols=["id"], n_files=16)
    v1_files = set(_files_of(spark, path))

    dels = spark.createDataFrame([(10,), (11,), (9999,)], "id BIGINT")
    n = delete_keys_mor(spark, path, dels, ["id"])
    assert n == 2
    m2 = read_manifest(spark, path)
    assert set(m2["files"]) == v1_files, "MOR delete must not touch data files"
    assert len(m2["deletes"]) == 1
    entry = m2["deletes"][0]
    assert entry["keys"] == ["id"]
    # pruning confined the targets to files that can hold ids 10/11/9999
    assert 0 < len(entry["targets"]) < len(v1_files)
    got = read_table(spark, path)
    assert got.count() == 3998
    assert got.filter("id in (10, 11)").count() == 0
    assert read_table(spark, path, version=1).count() == 4000


def test_mor_delete_reinserted_key_survives_and_merge_folds(spark, tmp_path):
    """Files added after the delete are untargeted, so re-inserting a
    deleted key works; and a merge that rewrites a targeted file folds
    the pending delete in (the new manifest no longer targets it)."""
    from prox_spark.table import read_manifest
    from prox_spark.upsert import delete_keys_mor, upsert_parquet

    path = str(tmp_path / "t")
    big = spark.createDataFrame(
        [(i, f"u{i}") for i in range(4000)], "id BIGINT, name STRING"
    )
    commit_snapshot(spark, path, big, stat_cols=["id"], n_files=16)
    assert delete_keys_mor(
        spark, path, spark.createDataFrame([(1234,)], "id BIGINT"), ["id"]
    ) == 1
    targets = set(read_manifest(spark, path)["deletes"][0]["targets"])

    upsert_parquet(
        spark, path,
        spark.createDataFrame([(1234, "BACK")], "id BIGINT, name STRING"),
        ["id"],
    )
    got = read_table(spark, path)
    assert [r.name for r in got.filter("id = 1234").collect()] == ["BACK"]
    assert got.count() == 4000
    m = read_manifest(spark, path)
    # the upsert rewrote exactly the files holding id 1234 — the same
    # files the delete targeted — so the pending entry must be gone
    # (or at least no longer target any current file)
    leftover = [
        t for d in m.get("deletes", []) for t in d["targets"] if t in set(m["files"])
    ]
    assert leftover == [] or not (set(leftover) & targets)


def test_mor_delete_noop_and_double_delete(spark, tmp_path):
    from prox_spark.table import table_versions
    from prox_spark.upsert import delete_keys_mor

    path = str(tmp_path / "t")
    commit_snapshot(
        spark,
        path,
        spark.createDataFrame([(i, i) for i in range(100)], "id BIGINT, v BIGINT"),
        stat_cols=["id"],
        n_files=4,
    )
    miss = spark.createDataFrame([(50_000,)], "id BIGINT")
    assert delete_keys_mor(spark, path, miss, ["id"]) == 0
    assert table_versions(spark, path) == [1], "no-op delete must not commit"

    hit = spark.createDataFrame([(7,)], "id BIGINT")
    assert delete_keys_mor(spark, path, hit, ["id"]) == 1
    # replay: the row is already masked, so nothing is live to remove
    assert delete_keys_mor(spark, path, hit, ["id"]) == 0
    assert table_versions(spark, path) == [1, 2]
    assert read_table(spark, path).count() == 99


def test_mor_delete_folds_on_compaction_and_vacuum_keeps_key_files(spark, tmp_path):
    from prox_spark.table import compact_table, read_manifest
    from prox_spark.upsert import delete_keys_mor

    path = str(tmp_path / "t")
    commit_snapshot(
        spark,
        path,
        spark.createDataFrame([(i, i) for i in range(1000)], "id BIGINT, v BIGINT"),
        stat_cols=["id"],
        n_files=8,
    )
    delete_keys_mor(
        spark, path, spark.createDataFrame([(3,), (4,)], "id BIGINT"), ["id"]
    )
    # vacuum down to the last 1 version: the delete-key file backs the
    # CURRENT manifest and must survive for reads to stay correct
    vacuum(spark, path, keep_last=1)
    assert read_table(spark, path).count() == 998

    compact_table(spark, path)
    m = read_manifest(spark, path)
    assert not m.get("deletes"), "compaction must fold pending deletes in"
    got = read_table(spark, path)
    assert got.count() == 998
    assert got.filter("id in (3, 4)").count() == 0


def test_mor_delete_point_lookup_masked(spark, tmp_path):
    from prox_spark.table import read_table_point
    from prox_spark.upsert import delete_keys_mor

    path = str(tmp_path / "t")
    commit_snapshot(
        spark,
        path,
        spark.createDataFrame([(i, i * 3) for i in range(1000)], "id BIGINT, v BIGINT"),
        stat_cols=["id"],
        n_files=8,
    )
    assert read_table_point(spark, path, {"id": 42}).count() == 1
    delete_keys_mor(spark, path, spark.createDataFrame([(42,)], "id BIGINT"), ["id"])
    assert read_table_point(spark, path, {"id": 42}).count() == 0


def test_merge_on_key_subset_preserves_stat_cols(spark, tmp_path):
    """A merge keyed on a SUBSET of the table's stat columns must not
    shrink them: later merges on the other column still prune files
    instead of silently falling back to a full rewrite."""
    from prox_spark.table import read_manifest
    from prox_spark.upsert import upsert_parquet

    path = str(tmp_path / "t")
    rows = [(i, i % 10, f"v{i}") for i in range(2000)]
    df = spark.createDataFrame(rows, "id BIGINT, cat BIGINT, payload STRING")
    commit_snapshot(spark, path, df, stat_cols=["id", "cat"], n_files=8)

    upsert_parquet(
        spark, path,
        spark.createDataFrame([(17, 7, "EDIT")], "id BIGINT, cat BIGINT, payload STRING"),
        ["id"],
    )
    assert set(read_manifest(spark, path)["stat_cols"]) >= {"id", "cat"}
    # a later merge keyed on the OTHER column still gets the pruned path
    # (keys covered by stat_cols) and stays correct
    upsert_parquet(
        spark, path,
        spark.createDataFrame([(5000, 3, "NEWCAT")], "id BIGINT, cat BIGINT, payload STRING"),
        ["cat", "id"],
    )
    got = read_table(spark, path)
    assert got.count() == 2001
    assert [r.payload for r in got.filter("id = 17").collect()] == ["EDIT"]


def test_statless_file_is_always_a_rewrite_candidate(spark, tmp_path):
    """footer_stats on a file written WITHOUT parquet statistics must
    record unknown ranges, so pruning treats it as touched (conservative,
    never lossy) rather than provably untouched."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from prox_spark.manifest import footer_stats, overlaps

    f = str(tmp_path / "nostats.parquet")
    pq.write_table(
        pa.table({"id": list(range(100)), "v": list(range(100))}),
        f,
        write_statistics=False,
    )
    stats = footer_stats(f, ["id"])
    assert stats is not None and stats["id"] is None
    assert overlaps(stats, {"id": (500, 600)})  # unknown -> touched

    with_stats = str(tmp_path / "stats.parquet")
    pq.write_table(pa.table({"id": list(range(100))}), with_stats)
    s2 = footer_stats(with_stats, ["id"])
    assert s2["id"] == [0, 99]
    assert not overlaps(s2, {"id": (500, 600)})


def test_table_history_reports_versions_files_and_deletes(spark, tmp_path):
    from prox_spark.table import table_history
    from prox_spark.upsert import delete_keys_mor, upsert_parquet

    path = str(tmp_path / "t")
    df = spark.createDataFrame([(i, i) for i in range(1000)], "id BIGINT, v BIGINT")
    commit_snapshot(spark, path, df, stat_cols=["id"], n_files=4)
    upsert_parquet(
        spark, path, spark.createDataFrame([(5, 99)], "id BIGINT, v BIGINT"), ["id"]
    )
    delete_keys_mor(spark, path, spark.createDataFrame([(7,)], "id BIGINT"), ["id"])

    h = table_history(spark, path)
    assert [e["version"] for e in h] == [1, 2, 3]
    assert h[0]["n_files"] == 4 and h[0]["bytes"] > 0
    assert h[0]["n_delete_entries"] == 0
    assert h[2]["n_delete_entries"] == 1 and h[2]["n_delete_targets"] >= 1
    # the MOR delete added no data files vs version 2
    assert h[2]["n_files"] == h[1]["n_files"]
    assert h[2]["stat_cols"] == ["id"]


def test_maintain_table_policy(spark, tmp_path):
    """maintain_table runs the right maintenance for the table's
    state, decided from the manifest alone: no-op on a healthy table,
    small-file consolidation after fragmenting merges, delete folding
    once pending merge-on-read entries accrue, vacuum always."""
    from prox_spark.table import maintain_table, read_manifest
    from prox_spark.upsert import delete_keys_mor

    path = str(tmp_path / "t")
    big = spark.createDataFrame(
        [(i, "x" * 64) for i in range(5000)], "id long, v string"
    )
    commit_snapshot(spark, path, big, stat_cols=["id"], n_files=2)
    r = maintain_table(spark, path, max_small_files=8)
    assert r["compacted_small"] is None and not r["folded_deletes"]

    # fragment: ten tiny merges leave ten small delta files
    for i in range(10):
        upsert_parquet(
            spark, path,
            spark.createDataFrame([(i * 400, f"u{i}")], "id long, v string"),
            ["id"],
        )
    r = maintain_table(spark, path, max_small_files=8)
    assert r["compacted_small"] is not None, "fragmentation not consolidated"
    n_rewritten, _ = r["compacted_small"]
    assert n_rewritten >= 8

    # accrue pending deletes past the threshold -> full fold
    for i in range(5):
        delete_keys_mor(
            spark, path,
            spark.createDataFrame([(i * 997 + 1,)], "id long"), ["id"],
        )
    assert len(read_manifest(spark, path).get("deletes") or []) == 5
    r = maintain_table(spark, path, max_pending_deletes=4)
    assert r["folded_deletes"]
    assert not read_manifest(spark, path).get("deletes"), "deletes survived fold"
    assert r["vacuumed"], "vacuum did not retire old versions"
    got = {r2.id for r2 in read_table(spark, path).collect()}
    assert len(got) == 5000 - 5


def test_manifest_records_file_sizes(spark, tmp_path):
    """Commits record per-file byte sizes in the manifest (gathered
    from the same directory listing that names the files), so
    maintenance decides small-file compaction from metadata alone —
    no per-file stat RPC per cycle. Sizes carry through merges for
    kept files and through merge-on-read delete commits verbatim."""
    from prox_spark.table import read_manifest
    from prox_spark.upsert import delete_keys_mor

    path = str(tmp_path / "t")
    commit_snapshot(
        spark, path,
        spark.createDataFrame([(i, "x") for i in range(100)], "id long, v string"),
        stat_cols=["id"], n_files=2,
    )
    import os

    m = read_manifest(spark, path)
    assert set(m["sizes"]) == set(m["files"])
    for f, n in m["sizes"].items():
        assert n == os.path.getsize(f"{path}/{f}")
    # merge: kept files keep their recorded size, new files gain one
    upsert_parquet(
        spark, path,
        spark.createDataFrame([(3, "upd")], "id long, v string"), ["id"],
    )
    m2 = read_manifest(spark, path)
    assert set(m2["sizes"]) == set(m2["files"])
    # MoR delete carries the record untouched
    delete_keys_mor(
        spark, path, spark.createDataFrame([(7,)], "id long"), ["id"]
    )
    m3 = read_manifest(spark, path)
    assert m3["sizes"] == m2["sizes"]


def test_rewrite_sizing_reads_recorded_sizes(spark, tmp_path, monkeypatch):
    """commit_delta sizes a merge's rewritten inputs (its clustering
    decision) from the manifest's recorded sizes: a rewriting upsert
    on a table whose files all carry a size stats no file."""
    from prox_spark import table as T
    from prox_spark.table import read_manifest

    path = str(tmp_path / "t")
    commit_snapshot(
        spark, path,
        spark.createDataFrame([(i, "x") for i in range(100)], "id long, v string"),
        stat_cols=["id"], n_files=2,
    )
    m = read_manifest(spark, path)
    assert set(m["sizes"]) == set(m["files"])
    stats = []
    real_fs = T._fs

    class CountingFs:
        def __init__(self, fs):
            self._fs = fs

        def getFileStatus(self, p):
            stats.append(str(p))
            return self._fs.getFileStatus(p)

        def __getattr__(self, name):
            return getattr(self._fs, name)

    def counting_fs(sp, p):
        jvm, fs, hpath = real_fs(sp, p)
        return jvm, CountingFs(fs), hpath

    monkeypatch.setattr(T, "_fs", counting_fs)
    upsert_parquet(
        spark, path,
        spark.createDataFrame([(3, "upd")], "id long, v string"), ["id"],
    )
    m2 = read_manifest(spark, path)
    assert set(m["files"]) - set(m2["files"])  # a file was rewritten
    assert stats == []


def test_missing_file_classifier_is_class_anchored(spark):
    """_is_missing_file_error must classify by the thrown exception's
    own class, not by substring-searching the full stack trace: a fatal
    error whose causal chain merely mentions FileNotFoundException must
    stay loud (it gates vacuum's branch-protect skip)."""
    from prox_spark.table import _fs, _is_missing_file_error

    jvm, fs, _ = _fs(spark, "/nonexistent")
    raised = None
    try:
        fs.open(jvm.org.apache.hadoop.fs.Path("/nonexistent/not/there.json"))
    except Exception as ex:
        raised = ex
    assert raised is not None and _is_missing_file_error(raised)
    assert _is_missing_file_error(FileNotFoundError("gone"))
    fatal = RuntimeError(
        "connection reset by peer\n"
        "while calling o1.open\n"
        "...\n"
        "Caused by: java.io.FileNotFoundException: unrelated inner frame"
    )
    assert not _is_missing_file_error(fatal)

def test_vacuum_retain_hours_keeps_timestamp_window(spark, tmp_path):
    """Age-based retention: every version published within the window
    survives, PLUS the newest pre-window version — so TIMESTAMP AS OF
    any instant inside the window keeps resolving. Composes with
    keep_last, tags, and extra_pins."""
    import time

    from prox_spark.table import read_table_as_of

    path = str(tmp_path / "t")
    for i in range(2):  # v1, v2 — will age out of the window
        commit_snapshot(spark, path, _df(spark, [(i, f"v{i + 1}")]))
    time.sleep(1.5)
    probe_ms = time.time() * 1000.0  # an instant when v2 was current
    for i in range(2, 4):  # v3, v4 — inside the window
        commit_snapshot(spark, path, _df(spark, [(i, f"v{i + 1}")]))
    # window ≈ 1.2s: v3/v4 are recent, v2 is the newest pre-window
    # version, v1 has nothing keeping it
    dropped = vacuum(
        spark, path, keep_last=1, retention_minutes=0.0,
        retain_hours=1.2 / 3600.0,
    )
    assert dropped == [1]
    assert table_versions(spark, path) == [2, 3, 4]
    # a probe inside the retained window still resolves (to v2)
    assert [r.v for r in read_table_as_of(spark, path, probe_ms).collect()] == ["v2"]
    # a second age-based pass with everything aged out falls back to
    # keep_last + the edge version
    time.sleep(1.5)
    dropped2 = vacuum(
        spark, path, keep_last=1, retention_minutes=0.0,
        retain_hours=0.5 / 3600.0,
    )
    # newest pre-window version (v4 — nothing is in-window) + keep_last
    assert dropped2 == [2, 3]
    assert table_versions(spark, path) == [4]


def test_vacuum_retain_hours_composes_with_registry(spark, tmp_path):
    """vacuum_with_registry threads retain_hours through: the kept set
    is the union of the registry's covered-version suffix and the age
    window."""
    import time

    from prox_spark.artifacts import (
        register_artifact,
        vacuum_with_registry,
    )
    from prox_spark.mv import create_mv, mv_info, refresh_mv

    base = str(tmp_path / "base")
    mv = str(tmp_path / "mv")
    reg = str(tmp_path / "reg")
    commit_snapshot(spark, base, _df(spark, [(i, "a") for i in range(20)]),
                    stat_cols=["id"])
    create_mv(spark, base, mv, ["v"], ["id"])
    register_artifact(spark, reg, "mv", base, mv)
    for i in range(3):
        upsert_parquet(
            spark, base, _df(spark, [(i, f"b{i}")]), ["id"]
        )
    refresh_mv(spark, mv)  # covered -> head (v4)
    time.sleep(1.2)
    upsert_parquet(spark, base, _df(spark, [(99, "z")]), ["id"])  # v5
    # registry pins the suffix from covered (4); the age window pins
    # v5 and the newest pre-window version (4); keep_last=1 pins v5
    dropped = vacuum_with_registry(
        spark, base, reg, keep_last=1, retention_minutes=0.0,
        retain_hours=1.0 / 3600.0,
    )
    assert dropped == [1, 2, 3]
    assert table_versions(spark, base) == [4, 5]
    out = refresh_mv(spark, mv)
    assert out["mode"] == "incremental"
    assert int(mv_info(spark, mv)["version"]) == 5


def test_manifest_codec_imports_without_spark():
    """The format codec runs inside Python Data Source workers, so it
    must load with no pyspark at all: driver machinery pulled into it
    fails this import."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        "import sys; sys.modules['pyspark'] = None; "
        "import prox_spark.manifest as M; "
        "assert M.versions_in(['manifest-00000002.json']) == [2]"
    )
    subprocess.run([sys.executable, "-c", code], cwd=root, check=True)
