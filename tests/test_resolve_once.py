"""Metadata IO and Spark jobs per keyed write: each merge, delete and
compaction resolves the table once (one ``_manifests`` listing and one
manifest read) and commits against that manifest, so the only other
listing is the commit's own version probe. Counted on a flat 8-file
table by wrapping the two table.py primitives every listing and every
manifest read go through; jobs are counted per job group."""

from __future__ import annotations

import itertools

import pytest

import prox_spark.table as T
from prox_spark.manifest import MANIFEST_DIR
from prox_spark.table import commit_snapshot, compact_table, read_table
from prox_spark.upsert import delete_keys_mor, upsert_parquet


def _df(spark, rows):
    return spark.createDataFrame(rows, "id long, v string")


@pytest.fixture
def flat(spark, tmp_path):
    path = str(tmp_path / "t")
    commit_snapshot(
        spark, path, _df(spark, [(i, "base") for i in range(1000)]),
        stat_cols=["id"], n_files=8,
    )
    m = T.read_manifest(spark, path)
    assert "chunks" not in m and len(m["files"]) == 8
    return path


@pytest.fixture
def io_counts(monkeypatch):
    counts = {"listings": 0, "reads": 0}
    real_listing, real_read = T._manifest_listing, T._read_json

    def listing(spark_, table_path):
        counts["listings"] += 1
        return real_listing(spark_, table_path)

    def read_json(spark_, table_path, rel):
        if rel.startswith(f"{MANIFEST_DIR}/"):
            counts["reads"] += 1
        return real_read(spark_, table_path, rel)

    monkeypatch.setattr(T, "_manifest_listing", listing)
    monkeypatch.setattr(T, "_read_json", read_json)

    def reset():
        counts.update(listings=0, reads=0)
        return counts

    return reset


def test_upsert_resolves_once(spark, flat, io_counts):
    counts = io_counts()
    upsert_parquet(spark, flat, _df(spark, [(5, "u"), (600, "u")]), ["id"])
    assert counts["listings"] <= 2 and counts["reads"] == 1, counts


def test_mor_delete_resolves_once(spark, flat, io_counts):
    counts = io_counts()
    n = delete_keys_mor(spark, flat, _df(spark, [(7, "x")]), ["id"])
    assert n == 1
    assert counts["listings"] <= 2 and counts["reads"] == 1, counts


def test_read_table_lists_once(spark, flat, io_counts):
    counts = io_counts()
    read_table(spark, flat)
    assert counts["listings"] == 1, counts


def test_compaction_resolves_once(spark, flat, io_counts):
    counts = io_counts()
    compact_table(spark, flat, n_files=2)
    assert counts["listings"] <= 2 and counts["reads"] == 1, counts
    assert read_table(spark, flat).count() == 1000


_groups = itertools.count()


def _jobs(spark, fn):
    """(result of ``fn()``, number of Spark jobs it launched)."""
    sc = spark.sparkContext
    group = f"keyed-commit-{next(_groups)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_keyed_commit_job_counts(spark, flat):
    """A driver-small keyed commit is one key-landing job plus one
    write: the batch keys land without a shuffle, the touched rows drop
    them with a literal key-set filter, and an append's empty touched
    set folds away. The delete adds its live-row count (a shuffle-map
    job and a result job) and its key-file write."""
    _, upsert = _jobs(spark, lambda: upsert_parquet(
        spark, flat, _df(spark, [(5, "u"), (600, "u")]), ["id"]
    ))
    _, append = _jobs(spark, lambda: upsert_parquet(
        spark, flat, _df(spark, [(5000 + i, "a") for i in range(50)]), ["id"]
    ))
    n, delete = _jobs(spark, lambda: delete_keys_mor(
        spark, flat, _df(spark, [(7, "x")]), ["id"]
    ))
    assert n == 1
    counts = (upsert, append, delete)
    assert upsert <= 2 and append <= 2 and delete <= 4, counts
    assert read_table(spark, flat).count() == 1049
