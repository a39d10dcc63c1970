"""Tags (immutable release pointers) and rollback (append-only
restore) — prox_spark/table.py. Tags pin their version against vacuum;
rollback re-publishes an old manifest as the next version with zero
data movement. The reference has no undo at all (a bad Glue run
overwrites prod in place, gold_data_curation_script.py mode
("overwrite")); this is the recovery story a 100 TB table needs."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from prox_spark.table import (
    commit_delta,
    commit_snapshot,
    create_tag,
    drop_tag,
    list_tags,
    read_manifest,
    read_table,
    rollback_table,
    table_versions,
    tag_version,
    vacuum,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "id long, v string")


def _append(spark, path, rows):
    prev = read_manifest(spark, path)
    return commit_delta(
        spark, path, _df(spark, rows), list(prev["files"]),
        update_key_ranges={},
    )


def _staged_table(spark, tmp_path):
    """v1 = 50 base rows, v2 = +5 'good', v3 = +5 'bad'."""
    path = str(tmp_path / "t")
    commit_snapshot(
        spark, path, _df(spark, [(i, "base") for i in range(50)]),
        stat_cols=["id"], n_files=4,
    )
    _append(spark, path, [(100 + i, "good") for i in range(5)])
    _append(spark, path, [(200 + i, "bad") for i in range(5)])
    return path


def test_tag_create_resolve_immutability(spark, tmp_path):
    path = _staged_table(spark, tmp_path)
    assert create_tag(spark, path, "prod", version=2) == 2
    assert create_tag(spark, path, "latest") == 3  # default: head
    assert list_tags(spark, path) == {"latest": 3, "prod": 2}
    assert tag_version(spark, path, "prod") == 2
    # immutable: re-point requires an explicit drop first
    with pytest.raises(ValueError, match="immutable"):
        create_tag(spark, path, "prod", version=3)
    drop_tag(spark, path, "prod")
    assert create_tag(spark, path, "prod", version=3) == 3
    with pytest.raises(ValueError):
        tag_version(spark, path, "nope")
    with pytest.raises(ValueError):
        create_tag(spark, path, "bad.name")
    with pytest.raises(ValueError):
        create_tag(spark, path, "oob", version=99)


def test_tagged_version_survives_vacuum(spark, tmp_path):
    path = _staged_table(spark, tmp_path)
    create_tag(spark, path, "audit-freeze", version=1)
    # churn past keep_last so v1 would normally age out
    for k in range(3):
        _append(spark, path, [(900 + k, "churn")])
    vacuum(spark, path, keep_last=1, retention_minutes=0.0)
    # the tag still resolves to the exact bytes
    assert tag_version(spark, path, "audit-freeze") == 1
    pinned = read_table(spark, path, version=1)
    assert pinned.count() == 50
    assert pinned.filter(F.col("v") != "base").count() == 0
    # untagged old versions are gone
    assert 2 not in table_versions(spark, path)
    # releasing the pin lets the next vacuum reclaim it
    drop_tag(spark, path, "audit-freeze")
    vacuum(spark, path, keep_last=1, retention_minutes=0.0)
    assert table_versions(spark, path) == [6]


def test_rollback_restores_exact_state_append_only(spark, tmp_path):
    path = _staged_table(spark, tmp_path)
    v = rollback_table(spark, path, 2)
    assert v == 4 and table_versions(spark, path) == [1, 2, 3, 4]
    got = read_table(spark, path)
    assert got.count() == 55
    assert got.filter(F.col("v") == "bad").count() == 0
    # bit-exact: the restored manifest is v2's doc re-targeted
    assert read_manifest(spark, path, 4)["files"] == (
        read_manifest(spark, path, 2)["files"]
    )
    assert read_manifest(spark, path, 4)["restored_from"] == 2
    # the bad version stays readable for forensics
    assert read_table(spark, path, version=3).count() == 60
    # rollback-to-head is a no-op
    assert rollback_table(spark, path, 4) == 4
    with pytest.raises(ValueError):
        rollback_table(spark, path, 99)


def test_rollback_then_commit_continues_history(spark, tmp_path):
    path = _staged_table(spark, tmp_path)
    rollback_table(spark, path, 1)
    _append(spark, path, [(300, "after")])
    got = read_table(spark, path)
    assert got.count() == 51
    assert set(r["v"] for r in got.select("v").distinct().collect()) == {
        "base", "after",
    }


def test_rollback_and_tag_on_chunked_table(spark, tmp_path, monkeypatch):
    """Rollback re-targets a chunked (v2) snapshot's doc verbatim —
    chunk entries carry by reference — and a tag pins the chunk files
    against vacuum along with the data dirs."""
    monkeypatch.setattr("prox_spark.manifest.CHUNK_THRESHOLD", 8)
    monkeypatch.setattr("prox_spark.manifest.CHUNK_SIZE", 4)
    path = str(tmp_path / "t")
    commit_snapshot(
        spark, path, _df(spark, [(i, "base") for i in range(64)]),
        stat_cols=["id"], n_files=16,
    )
    _append(spark, path, [(900 + i, "good") for i in range(4)])
    create_tag(spark, path, "release", version=2)
    _append(spark, path, [(950 + i, "bad") for i in range(4)])
    v = rollback_table(spark, path, 2)
    assert v == 4
    got = read_table(spark, path)
    assert got.count() == 68
    assert got.filter(F.col("v") == "bad").count() == 0
    # vacuum: tag keeps v2 (and its chunks) while v1/v3 age out
    vacuum(spark, path, keep_last=1, retention_minutes=0.0)
    assert table_versions(spark, path) == [2, 4]
    assert read_table(spark, path, version=2).count() == 68
    assert read_table(spark, path).count() == 68


def test_vacuum_restores_concurrently_tagged_version(
    spark, tmp_path, monkeypatch
):
    """The create_tag/vacuum race: a tag created AFTER vacuum computes
    its pin set (legal — the manifest still exists at create_tag's
    validation) but before the sweep must not dangle. The tag re-list
    restores the dropped manifest from the buffered doc and protects
    its files."""
    import prox_spark.table as T

    path = _staged_table(spark, tmp_path)  # v1..v3
    real_list_tags = T.list_tags
    fired = {"done": False}

    def racing_list_tags(sp, p):
        out = real_list_tags(sp, p)
        if not fired["done"]:
            # the first listing is the pin-set compute: create the tag
            # right after it, inside vacuum's race window
            fired["done"] = True
            create_tag(sp, p, "raced", version=1)
        return out

    monkeypatch.setattr(T, "list_tags", racing_list_tags)
    dropped = vacuum(spark, path, keep_last=1, retention_minutes=0.0)
    # v1 was dropped-then-restored: not reported dropped, still readable
    assert 1 not in dropped
    assert 1 in table_versions(spark, path)
    assert tag_version(spark, path, "raced") == 1
    assert read_table(spark, path, version=1).count() == 50


def test_vacuum_treats_unlistable_dir_as_young(spark, tmp_path, monkeypatch):
    """Incomplete age evidence (a dir listing that fails mid-vacuum)
    must classify the candidate dir as YOUNG — retried next cycle —
    never swept on its own (possibly synthetic) mtime."""
    import prox_spark.table as T

    path = _staged_table(spark, tmp_path)  # v1..v3; v1's dirs orphan-able
    jvm, fs, _ = T._fs(spark, path)
    real_list = fs.listStatus

    data_dir = f"{path}/{T.DATA_DIR}"

    class FlakyFS:
        def __getattr__(self, name):
            return getattr(fs, name)

        def listStatus(self, p):
            # fail listings of deletion CANDIDATES (subdirs of data/),
            # succeed for the data/ root and everything else
            sp = p.toString()
            if sp.startswith("file:" + data_dir + "/") or sp.startswith(
                data_dir + "/"
            ):
                raise RuntimeError("transient listing failure")
            return real_list(p)

    real_fs = T._fs

    def flaky_fs(sp, p):
        j, f, c = real_fs(sp, p)
        return j, FlakyFS(), c

    monkeypatch.setattr(T, "_fs", flaky_fs)
    vacuum(spark, path, keep_last=1, retention_minutes=0.0)
    monkeypatch.setattr(T, "_fs", real_fs)
    # manifests for old versions dropped, but NO data dir was swept on
    # incomplete evidence: the kept head still reads completely
    assert read_table(spark, path).count() == 60
    # next cycle (listings healthy again) reclaims for real
    vacuum(spark, path, keep_last=1, retention_minutes=0.0)
    assert read_table(spark, path).count() == 60


def test_timestamp_as_of_resolves_publish_times(spark):
    """TIMESTAMP AS OF: a time between two publishes resolves the
    earlier version; a time before the first publish raises."""
    import atexit
    import shutil
    import tempfile
    import time

    import pytest
    from pyspark.sql import functions as F

    from prox_spark.table import (
        commit_delta,
        commit_snapshot,
        read_manifest,
        read_table_as_of,
        version_at_timestamp,
    )

    scratch = tempfile.mkdtemp(prefix="prox_asof_test_")
    atexit.register(shutil.rmtree, scratch, ignore_errors=True)
    t = f"{scratch}/t"
    t0 = time.time() * 1000.0 - 1.0
    commit_snapshot(spark, t, spark.range(10).select("id"))
    time.sleep(1.1)
    between = time.time() * 1000.0
    time.sleep(1.1)
    prev = read_manifest(spark, t)
    commit_delta(
        spark, t, spark.range(10, 20).select("id"),
        list(prev["files"]), update_key_ranges={},
    )
    assert version_at_timestamp(spark, t, between) == 1
    assert read_table_as_of(spark, t, between).count() == 10
    now = time.time() * 1000.0 + 1.0
    assert version_at_timestamp(spark, t, now) == 2
    assert read_table_as_of(spark, t, now).count() == 20
    with pytest.raises(ValueError, match="no version"):
        version_at_timestamp(spark, t, t0)
