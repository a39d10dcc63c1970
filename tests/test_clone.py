from __future__ import annotations

import atexit
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from prox_spark.table import (
    clone_table,
    compact_table,
    commit_delta,
    commit_snapshot,
    list_tags,
    read_manifest,
    read_table,
    release_clone_pin,
    table_versions,
    vacuum,
)
from prox_spark.upsert import delete_keys_mor, upsert_parquet


def _scratch() -> str:
    d = tempfile.mkdtemp(prefix="prox_clone_test_")
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


def _seed(spark, path: str) -> None:
    """A source table with history worth carrying: two commits, a
    merge-on-read delete (pending delete entry), range clustering."""
    df = spark.range(200).select(
        F.col("id"), (F.col("id") % 7).alias("grp"), F.lit("a").alias("tag")
    )
    commit_snapshot(spark, path, df.filter("id < 120"),
                    stat_cols=["id"], n_files=4)
    prev = read_manifest(spark, path)
    commit_delta(spark, path, df.filter("id >= 120"),
                 list(prev["files"]), update_key_ranges={})
    delete_keys_mor(
        spark, path, spark.range(200).filter("id % 10 = 3").select("id"),
        ["id"],
    )


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_clone_reads_equal_source_and_copies_nothing(spark):
    s = _scratch()
    src, dst = f"{s}/src", f"{s}/dst"
    _seed(spark, src)
    v = clone_table(spark, src, dst)
    assert v == read_manifest(spark, src)["version"] + 1
    assert _rows(read_table(spark, dst)) == _rows(read_table(spark, src))
    # zero-copy: every file entry is foreign, nothing under dst/data
    m = read_manifest(spark, dst)
    assert all(f.startswith("/") for f in m["files"])
    import os

    assert not os.path.exists(f"{dst}/data")
    # the pin tag landed on the source at the cloned version
    tags = list_tags(spark, src)
    tag = m["cloned_from"]["tag"]
    assert tags.get(tag) == m["cloned_from"]["version"]


def test_clone_from_file_uri_source(spark):
    """A ``file:`` URI source is foreign like any URI: its entries are
    published as given, not joined onto the working directory."""
    s = _scratch()
    src, dst = f"{s}/src", f"{s}/dst"
    _seed(spark, src)
    clone_table(spark, f"file:{src}", dst)
    assert _rows(read_table(spark, dst)) == _rows(read_table(spark, src))


def test_clone_divergence_is_two_way_isolated(spark):
    s = _scratch()
    src, dst = f"{s}/src", f"{s}/dst"
    _seed(spark, src)
    clone_table(spark, src, dst)
    before_src = _rows(read_table(spark, src))
    # clone-side writes: an upsert rewriting a foreign file locally
    upd = spark.range(200).filter("id % 20 = 1").select(
        "id", (F.col("id") % 7).alias("grp"), F.lit("CHANGED").alias("tag")
    )
    upsert_parquet(spark, dst, upd, ["id"])
    got = dict(
        read_table(spark, dst).select("id", "tag").collect()
    )
    assert got[1] == "CHANGED" and got[2] == "a"
    assert _rows(read_table(spark, src)) == before_src
    # source-side writes after the clone are invisible to the clone
    prev = read_manifest(spark, src)
    commit_delta(
        spark, src,
        spark.range(1000, 1005).select(
            "id", (F.col("id") % 7).alias("grp"), F.lit("late").alias("tag")
        ),
        list(prev["files"]), update_key_ranges={},
    )
    assert read_table(spark, dst).filter("id >= 1000").count() == 0


def test_source_vacuum_respects_clone_pin(spark):
    s = _scratch()
    src, dst = f"{s}/src", f"{s}/dst"
    _seed(spark, src)
    clone_table(spark, src, dst)
    want = _rows(read_table(spark, dst))
    # churn the source past retention: full rewrite, then a hard vacuum
    compact_table(spark, src)
    compact_table(spark, src)
    vacuum(spark, src, keep_last=1, retention_minutes=0.0)
    assert _rows(read_table(spark, dst)) == want
    # release the pin: the tag is gone and a second hard vacuum may
    # reclaim the cloned files
    assert release_clone_pin(spark, dst) is True
    assert not any(
        t.startswith("clone-") for t in list_tags(spark, src)
    )
    vacuum(spark, src, keep_last=1, retention_minutes=0.0)
    with pytest.raises(Exception):
        read_table(spark, dst).count()


def test_clone_materializes_via_compaction(spark):
    s = _scratch()
    src, dst = f"{s}/src", f"{s}/dst"
    _seed(spark, src)
    clone_table(spark, src, dst)
    want = _rows(read_table(spark, dst))
    compact_table(spark, dst)
    m = read_manifest(spark, dst)
    assert all(not f.startswith("/") for f in m["files"])
    assert not m.get("deletes")  # the fold materialized pending deletes
    # now the source can be vacuumed away entirely
    release_clone_pin(spark, dst)
    compact_table(spark, src)
    vacuum(spark, src, keep_last=1, retention_minutes=0.0)
    assert _rows(read_table(spark, dst)) == want


def test_clone_time_travel_and_change_feed(spark):
    """Commits after the clone are ordinary versions: time travel pins
    the clone's first version and the change feed reconstructs the
    divergent commit's rows from the manifest log."""
    from prox_spark.cdf import read_table_changes

    s = _scratch()
    src, dst = f"{s}/src", f"{s}/dst"
    _seed(spark, src)
    v0 = clone_table(spark, src, dst)
    n0 = read_table(spark, dst).count()
    delete_keys_mor(
        spark, dst, spark.range(200).filter("id % 10 = 4").select("id"),
        ["id"],
    )
    assert table_versions(spark, dst) == [v0, v0 + 1]
    assert read_table(spark, dst, version=v0).count() == n0
    feed = read_table_changes(spark, dst, v0, v0 + 1)
    dels = feed.filter(F.col("_change_type") == "delete")
    assert dels.count() == feed.count() > 0
    assert _rows(dels.select("id")) == _rows(
        read_table(spark, dst, version=v0).filter("id % 10 = 4").select("id")
    )


def test_failed_clone_publish_releases_the_pin(spark, monkeypatch):
    """If the clone's manifest publish fails after the source tag was
    created, the tag must be released — otherwise every failed clone
    leaks a permanent vacuum pin on the source."""
    import prox_spark.table as T

    s = _scratch()
    src, dst = f"{s}/src", f"{s}/dst"
    _seed(spark, src)

    real = T._write_manifest

    def boom(spark_, table_path, v, manifest, ref="main"):
        if table_path == dst:
            raise OSError("injected publish failure")
        return real(spark_, table_path, v, manifest, ref)

    monkeypatch.setattr(T, "_write_manifest", boom)
    with pytest.raises(OSError, match="injected"):
        clone_table(spark, src, dst)
    monkeypatch.undo()
    assert not any(t.startswith("clone-") for t in list_tags(spark, src))
    # and the failed target is not a table; a retry succeeds cleanly
    clone_table(spark, src, dst)
    assert _rows(read_table(spark, dst)) == _rows(read_table(spark, src))


def test_stream_reads_through_a_clone(spark):
    """The table-stream source must resolve a clone's foreign file
    entries: a readChangeFeed stream over the CLONE delivers the
    cloned snapshot's rows (from the source's data files) plus the
    clone's own divergent commit."""
    from pyspark.sql import functions as F

    from prox_spark.table_stream import TableChangesDataSource

    s = _scratch()
    src, dst = f"{s}/src", f"{s}/dst"
    _seed(spark, src)
    v0 = clone_table(spark, src, dst)
    prev = read_manifest(spark, dst)
    commit_delta(
        spark, dst,
        spark.range(5000, 5003).select(
            "id", (F.col("id") % 7).alias("grp"), F.lit("new").alias("tag")
        ),
        list(prev["files"]), update_key_ranges={},
    )
    spark.dataSource.register(TableChangesDataSource)
    out = f"{s}/out"
    q = (
        spark.readStream.format("prox_table_changes")
        .option("path", dst)
        .option("readChangeFeed", "true")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", f"{s}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    got = spark.read.parquet(out)
    inserts = got.filter(F.col("_change_type") == "insert")
    assert inserts.count() == read_table(spark, dst).count()
    assert inserts.filter(F.col("id") >= 5000).count() == 3


def test_clone_pin_releasable_after_genesis_vacuumed(spark):
    """cloned_from is carried forward by routine commits, so the pin
    resolves through the LATEST manifest even after the clone's
    genesis manifest is vacuumed away (previously the clone-* tag
    leaked forever and the source retained the pinned files)."""
    s = _scratch()
    src, dst = f"{s}/src", f"{s}/dst"
    _seed(spark, src)
    clone_table(spark, src, dst)
    # diverge twice, then vacuum the clone past its genesis manifest
    for lo in (5000, 6000):
        prev = read_manifest(spark, dst)
        commit_delta(
            spark, dst,
            spark.range(lo, lo + 3).select(
                "id", (F.col("id") % 7).alias("grp"),
                F.lit("new").alias("tag"),
            ),
            list(prev["files"]), update_key_ranges={},
        )
    vacuum(spark, dst, keep_last=1, retention_minutes=0.0)
    assert read_manifest(spark, dst).get("cloned_from"), \
        "cloned_from must survive commits"
    assert release_clone_pin(spark, dst) is True
    assert not any(t.startswith("clone-") for t in list_tags(spark, src))


def test_non_cdf_stream_delivers_clone_genesis_with_deletes(spark):
    """A PLAIN (non-CDF) stream over a fresh clone whose genesis
    manifest carries merge-on-read deletes must deliver the snapshot
    with the deletes APPLIED — not raise 'not an append commit', and
    not silently skip the whole snapshot under skipChangeCommits."""
    from prox_spark.table_stream import TableChangesDataSource

    s = _scratch()
    src, dst = f"{s}/src", f"{s}/dst"
    _seed(spark, src)  # leaves a PENDING merge-on-read delete entry
    assert read_manifest(spark, src).get("deletes"), \
        "seed must leave a pending delete entry"
    clone_table(spark, src, dst)
    spark.dataSource.register(TableChangesDataSource)

    collected: list[tuple] = []

    def fb(batch, bid):
        collected.extend(
            (r["id"], r["grp"], r["tag"]) for r in batch.collect()
        )

    q = (
        spark.readStream.format("prox_table_changes")
        .option("path", dst)
        .load()
        .writeStream.foreachBatch(fb)
        .option("checkpointLocation", f"{s}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(120)
    finally:
        q.stop()
    assert sorted(collected) == _rows(read_table(spark, dst))
    # the deleted keys must NOT have been delivered
    assert not any(i % 10 == 3 for i, _, _ in collected)
