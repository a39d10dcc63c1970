"""Metadata IO per keyed write: each merge, delete and compaction
resolves the table once (one ``_manifests`` listing and one manifest
read) and commits against that manifest, so the only other listing is
the commit's own version probe. Counted on a flat 8-file table by
wrapping the two table.py primitives every listing and every manifest
read go through."""

from __future__ import annotations

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
    assert counts["listings"] <= 2 and counts["reads"] <= 2, counts


def test_read_table_lists_once(spark, flat, io_counts):
    counts = io_counts()
    read_table(spark, flat)
    assert counts["listings"] == 1, counts


def test_compaction_resolves_once(spark, flat, io_counts):
    counts = io_counts()
    compact_table(spark, flat, n_files=2)
    assert counts["listings"] <= 2 and counts["reads"] == 1, counts
    assert read_table(spark, flat).count() == 1000
