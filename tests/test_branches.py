"""Write-audit-publish branches (prox_spark/table.py): zero-copy
fork, staged commits invisible to main, atomic fast-forward publish,
fork-base conflict detection, and vacuum's branch-reference
protection. The reference pipeline publishes by overwriting prod
tables in place (gold_data_curation_script.py mode("overwrite")) — at
100 TB the safe pattern is staging the write on a branch, auditing the
exact bytes, then one atomic metadata publish (Iceberg/Nessie WAP)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from prox_spark.table import (
    CommitConflictError,
    commit_delta,
    commit_snapshot,
    create_branch,
    drop_branch,
    fast_forward,
    list_branches,
    read_manifest,
    read_table,
    table_versions,
    vacuum,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "id long, v string")


def _base(spark, tmp_path, n=100):
    path = str(tmp_path / "t")
    commit_snapshot(
        spark, path, _df(spark, [(i, "base") for i in range(n)]),
        stat_cols=["id"], n_files=4,
    )
    return path


def _append_to_branch(spark, path, branch, rows):
    prev = read_manifest(spark, path, ref=branch)
    return commit_delta(
        spark, path, _df(spark, rows), list(prev["files"]),
        ref=branch, update_key_ranges={},
    )


def test_branch_commit_invisible_to_main_until_fast_forward(spark, tmp_path):
    path = _base(spark, tmp_path)
    fork = create_branch(spark, path, "audit")
    assert fork == 1 and list_branches(spark, path) == {"audit": [1]}

    _append_to_branch(spark, path, "audit", [(1000 + i, "staged") for i in range(10)])

    # main is untouched: same version, same rows
    assert table_versions(spark, path) == [1]
    assert read_table(spark, path).count() == 100
    # the branch sees base + staged
    got = read_table(spark, path, ref="audit")
    assert got.count() == 110
    assert got.filter(F.col("v") == "staged").count() == 10

    v = fast_forward(spark, path, "audit")
    assert v == 2 and table_versions(spark, path) == [1, 2]
    assert read_table(spark, path).count() == 110
    # the branch is retired by the publish
    assert list_branches(spark, path) == {}


def test_fast_forward_publishes_audited_bytes_exactly(spark, tmp_path):
    """The published manifest is the branch head's doc re-targeted,
    never a rewrite: file lists match entry for entry."""
    path = _base(spark, tmp_path)
    create_branch(spark, path, "wap")
    _append_to_branch(spark, path, "wap", [(777, "staged")])
    staged = read_manifest(spark, path, ref="wap")
    fast_forward(spark, path, "wap")
    published = read_manifest(spark, path)
    assert published["files"] == staged["files"]
    assert published["version"] == 2


def test_fast_forward_refuses_when_main_advanced(spark, tmp_path):
    path = _base(spark, tmp_path)
    create_branch(spark, path, "audit")
    _append_to_branch(spark, path, "audit", [(1000, "staged")])
    # a main commit lands after the fork: the audit ran on a stale base
    prev = read_manifest(spark, path)
    commit_delta(
        spark, path, _df(spark, [(2000, "main-won")]), list(prev["files"]),
        update_key_ranges={},
    )
    with pytest.raises(CommitConflictError):
        fast_forward(spark, path, "audit")
    # main keeps the winner's rows; the branch is still alive for
    # inspection / re-fork
    assert read_table(spark, path).filter(F.col("v") == "main-won").count() == 1
    assert list_branches(spark, path) == {"audit": [1, 2]}
    drop_branch(spark, path, "audit")
    assert list_branches(spark, path) == {}


def test_empty_branch_fast_forward_is_a_noop(spark, tmp_path):
    path = _base(spark, tmp_path)
    create_branch(spark, path, "idle")
    assert fast_forward(spark, path, "idle") == 1
    assert table_versions(spark, path) == [1]
    assert list_branches(spark, path) == {}


def test_create_branch_validates_name_and_uniqueness(spark, tmp_path):
    path = _base(spark, tmp_path)
    with pytest.raises(ValueError):
        create_branch(spark, path, "main")
    with pytest.raises(ValueError):
        create_branch(spark, path, "bad.name")
    create_branch(spark, path, "audit")
    with pytest.raises(ValueError):
        create_branch(spark, path, "audit")


def test_vacuum_protects_live_branch_files(spark, tmp_path):
    """retention 0 would reclaim any dir no kept manifest references —
    the staged branch commit's dir must count as referenced."""
    path = _base(spark, tmp_path)
    create_branch(spark, path, "audit")
    _append_to_branch(spark, path, "audit", [(1000 + i, "staged") for i in range(5)])
    # churn main so vacuum has something to drop (appends: no conflict
    # with the branch, which forked earlier)
    for k in range(3):
        prev = read_manifest(spark, path)
        commit_delta(
            spark, path, _df(spark, [(5000 + k, "churn")]),
            list(prev["files"]), update_key_ranges={},
        )
    vacuum(spark, path, keep_last=1, retention_minutes=0.0)
    # the branch still reads completely: its staged file AND the base
    # files it references (from dropped main version 1) all survive
    got = read_table(spark, path, ref="audit")
    assert got.count() == 105
    assert got.filter(F.col("v") == "staged").count() == 5


def test_vacuum_reclaims_dropped_branch_files(spark, tmp_path):
    path = _base(spark, tmp_path)
    create_branch(spark, path, "audit")
    _append_to_branch(spark, path, "audit", [(1000, "staged")])
    staged_files = set(read_manifest(spark, path, ref="audit")["files"])
    main_files = set(read_manifest(spark, path)["files"])
    orphan_dirs = {f.split("/")[1] for f in staged_files - main_files}
    assert orphan_dirs
    drop_branch(spark, path, "audit")
    vacuum(spark, path, keep_last=1, retention_minutes=0.0)
    import os

    live = set(os.listdir(f"{path}/data"))
    assert not (orphan_dirs & live), "dropped branch's files not reclaimed"
    assert read_table(spark, path).count() == 100


def test_branch_on_chunked_table_carries_chunks(spark, tmp_path, monkeypatch):
    """Branch commits on a chunked (v2) table carry untouched chunk
    entries by reference, and the fast-forwarded main manifest resolves
    them identically."""
    monkeypatch.setattr("prox_spark.manifest.CHUNK_THRESHOLD", 8)
    monkeypatch.setattr("prox_spark.manifest.CHUNK_SIZE", 4)
    path = str(tmp_path / "t")
    commit_snapshot(
        spark, path, _df(spark, [(i, "base") for i in range(64)]),
        stat_cols=["id"], n_files=16,
    )
    create_branch(spark, path, "audit")
    _append_to_branch(spark, path, "audit", [(900 + i, "staged") for i in range(4)])
    assert read_table(spark, path, ref="audit").count() == 68
    fast_forward(spark, path, "audit")
    assert read_table(spark, path).count() == 68
    # vacuum keeps every chunk the published manifest references
    vacuum(spark, path, keep_last=1, retention_minutes=0.0)
    assert read_table(spark, path).count() == 68


def test_streaming_appends_stage_on_branch_then_publish(spark, tmp_path):
    """Streaming write-audit-publish: a file-source stream lands one
    branch commit per micro-batch; main never sees a streamed row
    until fast_forward publishes the whole staged run atomically."""
    from prox_spark.streaming import run_stream_append_branch

    path = _base(spark, tmp_path)
    src_dir = str(tmp_path / "arrivals")
    feed = _df(spark, [(3000 + i, "streamed") for i in range(64)])
    feed.repartition(4).write.mode("overwrite").parquet(src_dir)

    create_branch(spark, path, "ingest")
    stream = (
        spark.readStream.schema(feed.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    run_stream_append_branch(stream, path, "ingest")

    # main untouched across the whole run
    assert table_versions(spark, path) == [1]
    assert read_table(spark, path).count() == 100
    # the branch accumulated every micro-batch as its own commit
    staged = read_table(spark, path, ref="ingest")
    assert staged.count() == 164
    assert staged.filter(F.col("v") == "streamed").count() == 64
    assert len(list_branches(spark, path)["ingest"]) >= 3

    # audit passed -> one atomic publish of the whole run
    fast_forward(spark, path, "ingest")
    assert read_table(spark, path).count() == 164
    assert list_branches(spark, path) == {}


def test_multi_commit_branch_publish_keeps_renames_working(spark, tmp_path):
    """A branch that staged 2+ commits carries born versions beyond the
    published main version; fast_forward must remap them or a LATER
    main rename silently skips the staged files (their renamed column
    would read as NULL)."""
    from prox_spark.table import files_metadata, rename_column

    path = _base(spark, tmp_path, n=20)
    create_branch(spark, path, "audit")
    _append_to_branch(spark, path, "audit", [(1000, "staged1")])
    _append_to_branch(spark, path, "audit", [(2000, "staged2")])
    # branch line is [1, 2, 3]; publish lands at main v2
    v = fast_forward(spark, path, "audit")
    assert v == 2
    fm = files_metadata(spark, path)
    assert fm.agg(F.max("born")).first()[0] <= 2
    # the regression: rename AFTER the publish must apply to the
    # staged files too (they physically carry the old column name)
    rename_column(spark, path, "v", "label")
    got = read_table(spark, path)
    assert got.filter(F.col("label").isNull()).count() == 0
    assert got.filter(F.col("label") == "staged2").count() == 1


def test_multi_commit_branch_publish_on_chunked_table(spark, tmp_path, monkeypatch):
    """Chunked snapshots keep born inside immutable chunk files:
    publishing a multi-commit branch rewrites ONLY the chunks holding
    staged files, with remapped born."""
    from prox_spark.table import files_metadata

    monkeypatch.setattr("prox_spark.manifest.CHUNK_THRESHOLD", 8)
    monkeypatch.setattr("prox_spark.manifest.CHUNK_SIZE", 4)
    path = str(tmp_path / "t")
    commit_snapshot(
        spark, path, _df(spark, [(i, "base") for i in range(64)]),
        stat_cols=["id"], n_files=16,
    )
    create_branch(spark, path, "audit")
    _append_to_branch(spark, path, "audit", [(900, "s1")])
    _append_to_branch(spark, path, "audit", [(901, "s2")])
    assert fast_forward(spark, path, "audit") == 2
    fm = files_metadata(spark, path)
    assert fm.agg(F.max("born")).first()[0] <= 2
    assert read_table(spark, path).count() == 66


def test_fast_forward_refuses_branch_staged_rename(spark, tmp_path):
    """Rename/drop mappings are birth-version-keyed; a fast-forward
    renumbers versions, so schema evolution must go through main.
    rename_column has no ref= (it only commits to main), so simulate a
    hand-rolled branch rename through the manifest internals — the
    guard is the defense against exactly that."""
    import prox_spark.table as T

    path = _base(spark, tmp_path, n=20)
    create_branch(spark, path, "audit")
    _append_to_branch(spark, path, "audit", [(1000, "staged")])
    doc = T._read_manifest_file(spark, path, 2, "audit")
    doc["renames"] = [{"from": "v", "to": "label", "version": 3}]
    doc["version"] = 3
    T._write_manifest(spark, path, 3, doc, "audit")
    with pytest.raises(ValueError, match="schema evolution"):
        fast_forward(spark, path, "audit")


def test_streaming_branch_append_carries_chunks_by_reference(
    spark, tmp_path, monkeypatch
):
    """Per-micro-batch metadata IO must be O(new files) on a chunked
    branch: every pre-existing chunk entry carries into the next
    branch manifest VERBATIM (same chunk file name — by reference,
    never re-read or rewritten); only the batch's own files repack."""
    from prox_spark.streaming import run_stream_append_branch
    from prox_spark.table import _read_manifest_file

    monkeypatch.setattr("prox_spark.manifest.CHUNK_THRESHOLD", 8)
    monkeypatch.setattr("prox_spark.manifest.CHUNK_SIZE", 4)
    path = str(tmp_path / "t")
    commit_snapshot(
        spark, path, _df(spark, [(i, "base") for i in range(64)]),
        stat_cols=["id"], n_files=16,
    )
    fork = create_branch(spark, path, "ingest")
    base_doc = _read_manifest_file(spark, path, fork)
    assert "chunks" in base_doc
    base_chunks = {e["file"] for e in base_doc["chunks"]}

    src_dir = str(tmp_path / "arrivals")
    feed = _df(spark, [(3000 + i, "streamed") for i in range(12)])
    feed.repartition(3).write.mode("overwrite").parquet(src_dir)
    stream = (
        spark.readStream.schema(feed.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    run_stream_append_branch(stream, path, "ingest")

    head = list_branches(spark, path)["ingest"][-1]
    head_doc = _read_manifest_file(spark, path, head, "ingest")
    head_chunks = {e["file"] for e in head_doc["chunks"]}
    # every original chunk carried by reference through EVERY batch
    assert base_chunks <= head_chunks
    assert read_table(spark, path, ref="ingest").count() == 76
    fast_forward(spark, path, "ingest")
    assert read_table(spark, path).count() == 76
