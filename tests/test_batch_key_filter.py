"""The batch-key filter of a keyed write (``upsert._MergeScope``): landed
keys are removed from the touched rows with a literal key-set filter,
anything else with an anti/semi join. Both paths must leave identical
tables — for FLOAT/DOUBLE keys, strings that need escaping, composite
keys with NULL components on either side, and batches with duplicate
keys. The join path is forced by dropping the literal bound to 0."""

from __future__ import annotations

import pytest

import prox_spark.upsert as U
from prox_spark.table import commit_snapshot, read_table
from prox_spark.upsert import (
    apply_changes,
    delete_keys,
    delete_keys_mor,
    upsert_parquet,
)

_STR = "it's a \\ back\\slash '"

CASES = {
    "float": (
        "k float, v string", ["k"],
        [(0.1 * i, "base") for i in range(1, 41)],
        [(0.1 * 3, "up"), (0.1 * 17, "up"), (0.1 * 1000, "new")],
        [(0.1 * 5,)], [(0.1 * 9,)],
    ),
    # a key column that is not the first: both paths keep the table's
    # column order
    "double": (
        "v string, k double", ["k"],
        [("base", i / 7.0) for i in range(1, 41)],
        [("up", 3 / 7.0), ("new", 1e300), ("new", -2.5)],
        [(5 / 7.0,)], [(9 / 7.0,)],
    ),
    "string": (
        "k string, v string", ["k"],
        [(f"{_STR}{i:03d}", "base") for i in range(40)],
        [(f"{_STR}003", "up"), ("it\\'s new", "new")],
        [(f"{_STR}005",)], [(f"{_STR}009",)],
    ),
    "composite_nulls": (
        "a string, b long, v string", ["a", "b"],
        [(f"r{i % 3}", i, "base") for i in range(40)]
        + [("r1", None, "table-null"), (None, 4, "table-null")],
        [("r0", 3, "up"), ("r1", None, "batch-null"), (None, 4, "batch-null"),
         ("r2", 1000, "new")],
        [("r2", 5), ("r1", None)], [("r0", 9), (None, 4)],
    ),
    "duplicates": (
        "k long, v string", ["k"],
        [(i, "base") for i in range(40)],
        [(3, "up-a"), (3, "up-b"), (17, "up"), (17, "up"), (500, "new")],
        [(5,), (5,)], [(9,), (9,), (11,)],
    ),
}


def _state(spark, path):
    df = read_table(spark, path)
    return df.columns, sorted(map(tuple, df.collect()), key=repr)


def _run(spark, path, case):
    ddl, keys, base, ups, mor, cow = CASES[case]
    cols = [c.split()[0] for c in ddl.split(", ")]
    key_ddl = ", ".join(c for c in ddl.split(", ") if c.split()[0] in keys)
    commit_snapshot(
        spark, path, spark.createDataFrame(base, ddl), stat_cols=keys,
        n_files=4,
    )
    upsert_parquet(spark, path, spark.createDataFrame(ups, ddl), keys)
    n_mor = delete_keys_mor(spark, path, spark.createDataFrame(mor, key_ddl), keys)
    n_cow = delete_keys(spark, path, spark.createDataFrame(cow, key_ddl), keys)
    if case != "duplicates":
        update = dict(zip(cols, ups[0]), v="changed")
        changes = [(*[update[c] for c in cols], "update")] + [
            (*[dict(zip(keys, r)).get(c) for c in cols], "delete") for r in cow
        ]
        apply_changes(
            spark, path,
            spark.createDataFrame(changes, f"{ddl}, change string"), keys,
        )
    return n_mor, n_cow, _state(spark, path)


@pytest.mark.parametrize("case", sorted(CASES))
def test_literal_and_join_paths_agree(spark, tmp_path, monkeypatch, case):
    used = []
    real = U._MergeScope._key_filter

    def spy(self, df):
        cond = real(self, df)
        used.append(cond is not None)
        return cond

    monkeypatch.setattr(U._MergeScope, "_key_filter", spy)
    literal = _run(spark, str(tmp_path / "literal"), case)
    assert any(used), "the literal key-set filter never served"
    used.clear()
    monkeypatch.setattr(U, "_KEY_FILTER_CAP", 0)
    joined = _run(spark, str(tmp_path / "join"), case)
    assert not any(used)
    assert literal == joined
    assert literal[2][0] == [c.split()[0] for c in CASES[case][0].split(", ")]

