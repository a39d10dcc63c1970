"""Chunked (v2) manifest layout: immutable manifest-chunk files +
snapshot docs that reference them — the Iceberg manifest-list split
that lifts the single-doc metadata ceiling. Structural guarantees
under test (the model test covers behavioral equivalence):

- untouched chunks carry BY REFERENCE across commits (same chunk file
  name in consecutive snapshots, byte-identical on disk);
- a merge-on-read delete on a chunked table writes no chunk files at
  all (every entry carried);
- point lookups read only the chunk files whose recorded ranges admit
  the probe;
- vacuum retires chunk files no kept snapshot references and keeps
  the rest.
"""

from __future__ import annotations

import json
import os

import pytest

import prox_spark.table as T
from prox_spark.table import (
    _read_manifest_file,
    commit_delta,
    commit_snapshot,
    create_branch,
    read_manifest,
    read_table,
    read_table_point,
    table_versions,
    vacuum,
)
from prox_spark.table_stream import load_manifest
from prox_spark.upsert import delete_keys_mor, upsert_parquet


@pytest.fixture()
def chunky(monkeypatch):
    monkeypatch.setattr("prox_spark.manifest.CHUNK_THRESHOLD", 4)
    monkeypatch.setattr("prox_spark.manifest.CHUNK_SIZE", 2)


def _df(spark, rows):
    return spark.createDataFrame(rows, "id long, v string")


def _seed(spark, path, n=200, n_files=8):
    commit_snapshot(
        spark, path, _df(spark, [(i, "base") for i in range(n)]),
        stat_cols=["id"], n_files=n_files,
    )


def _chunk_names(spark, path, version):
    doc = _read_manifest_file(spark, path, version)
    assert "chunks" in doc, f"version {version} is not chunked"
    return {e["file"] for e in doc["chunks"]}


def test_chunked_roundtrip_and_layout(spark, tmp_path, chunky):
    path = str(tmp_path / "t")
    _seed(spark, path)
    doc = _read_manifest_file(spark, path, 1)
    assert "chunks" in doc and "files" not in doc
    assert all(e["n"] <= 2 for e in doc["chunks"])
    # per-chunk ranges recorded and usable
    assert all(e.get("ranges", {}).get("id") for e in doc["chunks"])
    m = read_manifest(spark, path)
    assert len(m["files"]) == sum(e["n"] for e in doc["chunks"])
    got = {(r.id, r.v) for r in read_table(spark, path).collect()}
    assert got == {(i, "base") for i in range(200)}


def test_untouched_chunks_carry_by_reference(spark, tmp_path, chunky):
    path = str(tmp_path / "t")
    _seed(spark, path)
    before = _chunk_names(spark, path, 1)
    upsert_parquet(spark, path, _df(spark, [(3, "upserted")]), ["id"])
    after = _chunk_names(spark, path, 2)
    carried = before & after
    assert carried, "no chunk carried by reference across the merge"
    # the carried chunk files are the SAME bytes (never rewritten)
    for rel in carried:
        assert os.path.exists(f"{path}/{rel}")
    # the chunk(s) holding id=3 were repacked: some chunk is new
    assert after - before, "merge produced no new chunk"
    got = {(r.id, r.v) for r in read_table(spark, path).collect()}
    assert got == {(i, "base") for i in range(200) if i != 3} | {(3, "upserted")}


def test_mor_delete_writes_no_chunk_files(spark, tmp_path, chunky):
    path = str(tmp_path / "t")
    _seed(spark, path)
    before = _chunk_names(spark, path, 1)
    n = delete_keys_mor(spark, path, _df(spark, [(7, "x")]), ["id"])
    assert n == 1
    after = _chunk_names(spark, path, 2)
    assert after == before, "deletes-only commit rewrote chunk files"
    got = {(r.id, r.v) for r in read_table(spark, path).collect()}
    assert got == {(i, "base") for i in range(200) if i != 7}


def test_point_lookup_reads_only_matching_chunks(spark, tmp_path, chunky, monkeypatch):
    path = str(tmp_path / "t")
    _seed(spark, path)
    total_chunks = len(_chunk_names(spark, path, 1))
    reads = []
    real = T._read_json

    def counting(spark_, table_path, rel):
        if "/chunks/" in rel:
            reads.append(rel)
        return real(spark_, table_path, rel)

    monkeypatch.setattr(T, "_read_json", counting)
    rows = read_table_point(spark, path, {"id": 42}).collect()
    assert [(r.id, r.v) for r in rows] == [(42, "base")]
    assert 0 < len(reads) < total_chunks, (
        f"read {len(reads)} of {total_chunks} chunks — no chunk pruning"
    )


def test_vacuum_retires_orphan_chunks(spark, tmp_path, chunky):
    path = str(tmp_path / "t")
    _seed(spark, path)
    for i in range(3):
        upsert_parquet(spark, path, _df(spark, [(i * 31, f"u{i}")]), ["id"])
    versions = table_versions(spark, path)
    kept = set()
    for v in versions[-2:]:
        kept |= _chunk_names(spark, path, v)
    def _ls():
        # ignore the local FS's .crc checksum sidecars
        return {
            n for n in os.listdir(f"{path}/_manifests/chunks")
            if not n.startswith(".")
        }

    assert {c.rsplit("/", 1)[-1] for c in kept} < _ls()
    vacuum(spark, path, keep_last=2, retention_minutes=0.0)
    assert _ls() == {c.rsplit("/", 1)[-1] for c in kept}
    got = {(r.id, r.v) for r in read_table(spark, path).collect()}
    assert (0, "u0") in got and (31, "u1") in got and (62, "u2") in got


def test_classic_table_upgrades_when_it_outgrows_threshold(
    spark, tmp_path, monkeypatch
):
    """A table that starts classic flips to chunked the first time its
    live file count crosses CHUNK_THRESHOLD; earlier versions stay
    readable."""
    path = str(tmp_path / "t")
    monkeypatch.setattr("prox_spark.manifest.CHUNK_THRESHOLD", 6)
    monkeypatch.setattr("prox_spark.manifest.CHUNK_SIZE", 4)
    commit_snapshot(
        spark, path, _df(spark, [(i, "a") for i in range(40)]),
        stat_cols=["id"], n_files=4,
    )
    assert "files" in _read_manifest_file(spark, path, 1)
    commit_snapshot(
        spark, path, _df(spark, [(i, "b") for i in range(40)]),
        stat_cols=["id"], n_files=8,
    )
    assert "chunks" in _read_manifest_file(spark, path, 2)
    assert {r.v for r in read_table(spark, path, version=1).collect()} == {"a"}
    assert {r.v for r in read_table(spark, path).collect()} == {"b"}


def test_chunk_file_content_shape(spark, tmp_path, chunky):
    path = str(tmp_path / "t")
    _seed(spark, path, n=50, n_files=6)
    doc = _read_manifest_file(spark, path, 1)
    for e in doc["chunks"]:
        with open(f"{path}/{e['file']}") as f:
            chunk = json.load(f)
        assert set(chunk) == {"files", "stats", "born", "sizes"}
        assert len(chunk["files"]) == e["n"]
        assert set(chunk["stats"]) == set(chunk["files"])
        assert set(chunk["born"]) == set(chunk["files"])
        assert set(chunk["sizes"]) == set(chunk["files"])
        assert all(n > 0 for n in chunk["sizes"].values())


def test_merge_scope_reads_only_overlapping_chunks(
    spark, tmp_path, chunky, monkeypatch
):
    """A key merge on a chunked table must read ONLY the chunk files
    whose ranges overlap the batch — the disjoint entries carry into
    the next snapshot by reference, never opened."""
    path = str(tmp_path / "t")
    _seed(spark, path)
    before = _chunk_names(spark, path, 1)
    total = len(before)
    reads = []
    real = T._read_json

    def counting(spark_, table_path, rel):
        if "/chunks/" in rel:
            reads.append(rel)
        return real(spark_, table_path, rel)

    monkeypatch.setattr(T, "_read_json", counting)
    upsert_parquet(spark, path, _df(spark, [(5, "upserted")]), ["id"])
    monkeypatch.setattr(T, "_read_json", real)
    assert 0 < len(set(reads)) < total, (
        f"merge read {len(set(reads))} of {total} chunks — no chunk-level prune"
    )
    after = _chunk_names(spark, path, 2)
    assert before & after, "disjoint chunks were not carried by reference"
    got = {(r.id, r.v) for r in read_table(spark, path).collect()}
    assert got == {(i, "base") for i in range(200) if i != 5} | {(5, "upserted")}


def test_pending_delete_on_unread_chunk_survives_merge(spark, tmp_path, chunky):
    """A merge-on-read delete whose target lives in a chunk the next
    merge proves DISJOINT must survive that merge's commit: the carry
    logic may not drop delete targets it cannot see."""
    path = str(tmp_path / "t")
    _seed(spark, path)
    # pending MoR delete of a high id (lives in the last chunk)
    n = delete_keys_mor(spark, path, _df(spark, [(190, "x")]), ["id"])
    assert n == 1
    # merge far away (low id): chunk holding 190 is disjoint -> unread
    upsert_parquet(spark, path, _df(spark, [(2, "upserted")]), ["id"])
    got = {(r.id, r.v) for r in read_table(spark, path).collect()}
    assert (190, "base") not in got, (
        "pending delete dropped by a merge that never read its chunk"
    )
    assert (2, "upserted") in got and len(got) == 199


def test_driver_and_worker_reads_assemble_the_same_doc(spark, tmp_path, chunky):
    """The driver (Hadoop FS) and the Data Source workers (pyarrow.fs)
    are two adapters over one codec: on a chunked table with a
    merge-on-read delete and a branch they return the same assembled
    doc, born/sizes and chunk membership included."""
    path = str(tmp_path / "t")
    _seed(spark, path)
    delete_keys_mor(spark, path, _df(spark, [(7, "x")]), ["id"])
    create_branch(spark, path, "audit")
    base = read_manifest(spark, path, ref="audit")
    commit_delta(
        spark, path, _df(spark, [(500, "b")]), list(base["files"]),
        ref="audit", update_key_ranges={},
    )
    for ref in ("main", "audit"):
        want = read_manifest(spark, path, ref=ref)
        assert "chunks" in want and want["deletes"]
        assert want["born"] and want["sizes"]
        assert load_manifest(path, ref=ref) == want
