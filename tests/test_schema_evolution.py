"""Rewrite-free rename/drop column evolution for the manifest table
format (Delta/Iceberg column-mapping parity, name-based + birth
versions): rename is a metadata commit whose mapping applies only to
files born before it; drop removes the declared field and guards the
name against unsafe re-introduction while pre-drop files survive."""

from __future__ import annotations

import pytest

import prox_spark.table as T
from prox_spark.table import (
    commit_snapshot,
    compact_table,
    drop_column,
    read_table,
    read_table_point,
    rename_column,
    table_versions,
)
from prox_spark.upsert import delete_keys_mor, upsert_parquet


def _df(spark, rows, schema="id long, v string"):
    return spark.createDataFrame(rows, schema)


def _seed(spark, path, n=100, n_files=4):
    commit_snapshot(
        spark, path, _df(spark, [(i, "base") for i in range(n)]),
        stat_cols=["id"], n_files=n_files,
    )


def test_rename_is_metadata_only_and_reads_apply_mapping(spark, tmp_path):
    path = str(tmp_path / "t")
    _seed(spark, path)
    files_before = set(T.read_manifest(spark, path)["files"])
    v = rename_column(spark, path, "v", "payload")
    assert v == 2
    m = T.read_manifest(spark, path)
    assert set(m["files"]) == files_before, "rename rewrote data files"
    got = read_table(spark, path)
    assert got.columns == ["id", "payload"]
    assert {(r.id, r.payload) for r in got.collect()} == {
        (i, "base") for i in range(100)
    }
    # time travel still serves the pre-rename schema
    old = read_table(spark, path, version=1)
    assert old.columns == ["id", "v"]


def test_rename_mixed_generations_and_chain(spark, tmp_path):
    """Files born before the rename read through the mapping; files
    written after are born with the new name; a second rename chains
    (a -> b -> c) and the oldest files still resolve."""
    path = str(tmp_path / "t")
    _seed(spark, path)
    rename_column(spark, path, "v", "payload")
    # post-rename merge writes new-named files into the same table
    upsert_parquet(
        spark, path, _df(spark, [(1, "new")], "id long, payload string"),
        ["id"],
    )
    rename_column(spark, path, "payload", "body")
    upsert_parquet(
        spark, path, _df(spark, [(2, "newer")], "id long, body string"),
        ["id"],
    )
    got = {(r.id, r.body) for r in read_table(spark, path).collect()}
    assert (1, "new") in got and (2, "newer") in got
    assert {(i, "base") for i in range(3, 100)} <= got
    assert len(got) == 100


def test_rename_stat_cols_and_point_lookup(spark, tmp_path):
    path = str(tmp_path / "t")
    _seed(spark, path)
    rename_column(spark, path, "id", "doc_id")
    m = T.read_manifest(spark, path)
    assert m["stat_cols"] == ["doc_id"]
    rows = read_table_point(spark, path, {"doc_id": 42}).collect()
    assert [(r.doc_id, r.v) for r in rows] == [(42, "base")]
    # merges on the renamed key keep pruning and merging correctly
    upsert_parquet(
        spark, path, _df(spark, [(42, "upserted")], "doc_id long, v string"),
        ["doc_id"],
    )
    got = {(r.doc_id, r.v) for r in read_table(spark, path).collect()}
    assert (42, "upserted") in got and len(got) == 100


def test_rename_refused_while_delete_pending(spark, tmp_path):
    path = str(tmp_path / "t")
    _seed(spark, path)
    delete_keys_mor(spark, path, _df(spark, [(7, "x")]), ["id"])
    with pytest.raises(ValueError, match="pending merge-on-read delete"):
        rename_column(spark, path, "id", "doc_id")
    # folding the delete via compaction frees the rename
    compact_table(spark, path, n_files=2)
    rename_column(spark, path, "id", "doc_id")
    got = {r.doc_id for r in read_table(spark, path).collect()}
    assert 7 not in got and len(got) == 99


def test_drop_column_zero_rewrite_and_guarded_readd(spark, tmp_path):
    path = str(tmp_path / "t")
    _seed(spark, path)
    files_before = set(T.read_manifest(spark, path)["files"])
    drop_column(spark, path, "v")
    m = T.read_manifest(spark, path)
    assert set(m["files"]) == files_before, "drop rewrote data files"
    assert read_table(spark, path).columns == ["id"]
    # re-adding the name while pre-drop files survive must fail loudly
    with pytest.raises(ValueError, match="compact_table"):
        upsert_parquet(
            spark, path, _df(spark, [(1, "sneaky")]), ["id"], evolve=True,
        )
    # after compaction (all files rewritten without the column) the
    # name is free again — and reads NULL for old rows, not stale data
    compact_table(spark, path, n_files=2)
    upsert_parquet(
        spark, path, _df(spark, [(1, "fresh")]), ["id"], evolve=True,
    )
    got = {(r.id, r.v) for r in read_table(spark, path).collect()}
    assert (1, "fresh") in got
    assert {(i, None) for i in range(2, 100)} <= got


def test_drop_then_rename_interactions_refused(spark, tmp_path):
    path = str(tmp_path / "t")
    _seed(spark, path)
    rename_column(spark, path, "v", "payload")
    with pytest.raises(ValueError, match="live rename mapping"):
        drop_column(spark, path, "payload")
    compact_table(spark, path, n_files=2)  # retires the mapping
    drop_column(spark, path, "payload")
    assert read_table(spark, path).columns == ["id"]
    with pytest.raises(ValueError, match="was dropped"):
        rename_column(spark, path, "id", "payload")


def test_rename_on_chunked_layout(spark, tmp_path, monkeypatch):
    monkeypatch.setattr("prox_spark.manifest.CHUNK_THRESHOLD", 3)
    monkeypatch.setattr("prox_spark.manifest.CHUNK_SIZE", 2)
    path = str(tmp_path / "t")
    _seed(spark, path, n_files=8)
    chunk_files_before = {
        e["file"] for e in T._read_manifest_file(spark, path, 1)["chunks"]
    }
    rename_column(spark, path, "v", "payload")
    doc = T._read_manifest_file(spark, path, 2)
    assert {e["file"] for e in doc["chunks"]} == chunk_files_before, (
        "rename rewrote chunk files"
    )
    # merge on the renamed table: mixed-generation reads + chunk carry
    upsert_parquet(
        spark, path, _df(spark, [(5, "new")], "id long, payload string"),
        ["id"],
    )
    got = {(r.id, r.payload) for r in read_table(spark, path).collect()}
    assert (5, "new") in got and len(got) == 100
    # the rename mapping retires once compaction rewrites every
    # pre-rename file
    compact_table(spark, path, n_files=2)
    final = T._read_manifest_file(
        spark, path, table_versions(spark, path)[-1]
    )
    assert not final.get("renames"), "mapping survived full rewrite"


def test_concurrent_rename_conflicts_with_inflight_merge(spark, tmp_path):
    """A rename that lands between a merge's scope derivation and its
    publish must CONFLICT the merge: rebasing would republish the
    pre-rename schema and silently revert the evolution."""
    from prox_spark.table import CommitConflictError, commit_delta

    path = str(tmp_path / "t")
    _seed(spark, path)
    m1 = T.read_manifest(spark, path)
    rewrite = [f for f, st in m1["stats"].items() if st and st["id"][0] < 25]
    keep = [f for f in m1["files"] if f not in rewrite]
    rename_column(spark, path, "v", "payload")  # concurrent metadata commit
    with pytest.raises(CommitConflictError, match="schema"):
        commit_delta(
            spark, path, _df(spark, [(i, "merged") for i in range(25)]),
            keep, base_version=1, update_key_ranges={"id": (0, 24)},
        )
    # the rename survives untouched
    assert read_table(spark, path).columns == ["id", "payload"]


def test_cluster_spec_evolution_model_sequence(spark, tmp_path):
    """Partition/cluster-spec evolution (the remaining Iceberg-parity
    gap after rename/drop): set_cluster_spec changes stat_cols
    metadata-only; old files keep pruning on their recorded old-col
    ranges, new files prune on the new spec, probes on the other
    spec's column treat foreign-generation files conservatively hot,
    and compaction completes the migration."""
    from prox_spark.table import (
        read_manifest,
        set_cluster_spec,
        split_files_by_key_ranges,
    )

    path = str(tmp_path / "t")
    schema = "id long, grp long, v string"
    commit_snapshot(
        spark, path,
        _df(spark, [(i, i % 7, "a") for i in range(400)], schema),
        stat_cols=["id"], n_files=4,
    )
    m1 = read_manifest(spark, path)
    old_files = set(m1["files"])

    v = set_cluster_spec(spark, path, ["grp"])
    m2 = read_manifest(spark, path)
    # metadata-only: no data file moved, spec changed
    assert set(m2["files"]) == old_files and m2["stat_cols"] == ["grp"]
    assert v == 2

    # new commit clusters/stats on the NEW spec
    from prox_spark.table import commit_delta

    commit_delta(
        spark, path,
        _df(spark, [(1000 + i, 100 + i % 3, "b") for i in range(300)], schema),
        list(old_files), n_files=3, update_key_ranges={},
    )
    m3 = read_manifest(spark, path)
    new_files = [f for f in m3["files"] if f not in old_files]
    assert new_files
    for f in new_files:
        assert "grp" in (m3["stats"][f] or {}), "new file missing new-spec stats"
    for f in old_files:
        assert "id" in (m3["stats"][f] or {}), "old file lost old-spec stats"

    # probe on the NEW column: new files prune exactly (grp 100-102),
    # old files are conservatively hot (no grp range recorded)
    touched, untouched = split_files_by_key_ranges(m3, {"grp": (100, 100)})
    assert set(untouched) <= set(new_files), "old files must stay hot on grp"
    assert any(f in new_files for f in untouched), (
        "new-spec files with grp ranges outside the probe must prune"
    )
    # probe on the OLD column: old files prune by their recorded id
    # ranges, new files (id 1000+) are hot only if their... they have
    # no id stats, so conservatively hot
    touched_id, untouched_id = split_files_by_key_ranges(m3, {"id": (0, 10)})
    assert any(f in old_files for f in untouched_id), (
        "old-spec id ranges must still prune"
    )

    # reads stay correct across the mixed-spec table
    assert read_table(spark, path).count() == 700
    got = {r.id for r in read_table_point(spark, path, {"grp": 101}).collect()}
    assert got == {1000 + i for i in range(300) if 100 + i % 3 == 101}

    # compaction completes the migration: every file re-stats on grp
    compact_table(spark, path, n_files=4)
    mf = read_manifest(spark, path)
    for f in mf["files"]:
        assert "grp" in (mf["stats"][f] or {})
    assert read_table(spark, path).count() == 700


def test_cluster_spec_refusals_and_concurrency(spark, tmp_path):
    from prox_spark.table import (
        CommitConflictError,
        commit_delta,
        read_manifest,
        set_cluster_spec,
    )

    path = str(tmp_path / "t")
    _seed(spark, path)
    with pytest.raises(ValueError, match="not in table schema"):
        set_cluster_spec(spark, path, ["nope"])
    rename_column(spark, path, "v", "payload")
    # the rename removed 'v' from the declared schema, so the schema
    # check rejects it first (the live-rename guard is defense in
    # depth for any future path that re-admits source names)
    with pytest.raises(ValueError, match="not in table schema"):
        set_cluster_spec(spark, path, ["v"])
    # a spec change between a merge's derivation and publish conflicts
    m = read_manifest(spark, path)
    set_cluster_spec(spark, path, ["payload"])
    with pytest.raises(CommitConflictError, match="stat_cols"):
        commit_delta(
            spark, path,
            _df(spark, [(5, "x")], "id long, payload string"),
            [f for f in m["files"]], base_version=m["version"],
            update_key_ranges={},
        )


def test_cluster_spec_evolution_on_chunked_layout(spark, tmp_path, monkeypatch):
    """Spec evolution on a CHUNKED table: the metadata commit carries
    every chunk entry verbatim (no chunk rewritten), old chunk ranges
    keep pruning probes on the old column, probes on the new column
    treat old chunks conservatively hot, and a post-change commit
    writes chunks ranged on the new spec."""
    from prox_spark.table import commit_delta, read_manifest, set_cluster_spec

    monkeypatch.setattr("prox_spark.manifest.CHUNK_THRESHOLD", 3)
    monkeypatch.setattr("prox_spark.manifest.CHUNK_SIZE", 2)
    path = str(tmp_path / "t")
    schema = "id long, grp long, v string"
    commit_snapshot(
        spark, path,
        spark.createDataFrame([(i, i % 5, "a") for i in range(200)], schema),
        stat_cols=["id"], n_files=8,
    )
    chunks_before = {
        e["file"] for e in T._read_manifest_file(spark, path, 1)["chunks"]
    }
    set_cluster_spec(spark, path, ["grp"])
    doc = T._read_manifest_file(spark, path, 2)
    assert {e["file"] for e in doc["chunks"]} == chunks_before, (
        "spec change rewrote chunk files"
    )
    # old chunk entries still carry id ranges -> old-col probes prune
    assert all("id" in (e.get("ranges") or {}) for e in doc["chunks"])
    m = read_manifest(spark, path)
    commit_delta(
        spark, path,
        spark.createDataFrame([(1000 + i, 100, "b") for i in range(10)], schema),
        list(m["files"]), update_key_ranges={},
    )
    doc3 = T._read_manifest_file(
        spark, path, table_versions(spark, path)[-1]
    )
    new_entries = [e for e in doc3["chunks"] if e["file"] not in chunks_before]
    assert new_entries, "append did not add a chunk"
    assert any(
        "grp" in (e.get("ranges") or {}) for e in new_entries
    ), "new chunk not ranged on the new spec"
    # probes: new-col lookup prunes old chunks conservatively (hot) but
    # results stay exact
    got = {r.id for r in read_table_point(spark, path, {"grp": 100}).collect()}
    assert got == {1000 + i for i in range(10)} | {
        i for i in range(200) if i % 5 == 100
    }
    assert read_table(spark, path).count() == 210
