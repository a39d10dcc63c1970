"""Focused tests for prox_spark/local_frames.py VALUES relations (r13:
non-finite floats, loud rejection of unsupported types, empty-array
markers) — the internals several serving/marker paths now rely on."""

from __future__ import annotations

import math

import pytest

from prox_spark.local_frames import values_df


def test_values_df_non_finite_floats_round_trip(spark):
    rows = [(1, float("nan")), (2, float("inf")), (3, float("-inf")),
            (4, 0.1 + 0.2)]
    got = {r["i"]: r["x"] for r in values_df(spark, rows, "i int, x double").collect()}
    assert math.isnan(got[1])
    assert got[2] == float("inf") and got[3] == float("-inf")
    # repr round-trip is bit-exact for finite doubles
    assert got[4] == 0.1 + 0.2


def test_values_df_rejects_temporal_and_map(spark):
    import datetime

    with pytest.raises(TypeError, match="values_df supports"):
        values_df(spark, [(datetime.date(2026, 1, 1),)], "d date")
    with pytest.raises(TypeError, match="values_df supports"):
        values_df(spark, [({"a": 1},)], "m map<string,int>")


def test_values_df_empty_array_marker_shape(spark):
    # the q198 semantic-index micro-batch marker row
    rows = [(-1, 7, [], -1.0, -1)]
    df = values_df(
        spark, rows,
        "cid long, vec_id long, dd array<double>, nrm double, ver long",
    )
    r = df.collect()[0]
    assert (r["cid"], r["vec_id"], list(r["dd"]), r["nrm"], r["ver"]) == (
        -1, 7, [], -1.0, -1,
    )
    assert df.schema["dd"].dataType.simpleString() == "array<double>"


def test_values_df_quotes_column_names(spark):
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from prox_spark.local_frames import values_df_like

    schema = StructType([
        StructField("doc id", LongType()),
        StructField("doc-id", StringType()),
        StructField("a`b", LongType()),
    ])
    df = values_df_like(spark, [(1, "x", 2), (3, "y", 4)], schema)
    assert df.columns == ["doc id", "doc-id", "a`b"]
    assert sorted(map(tuple, df.collect())) == [(1, "x", 2), (3, "y", 4)]
    got = values_df(spark, [(5, "z")], "`doc id` bigint, `doc-id` string")
    assert [tuple(r) for r in got.collect()] == [(5, "z")]
    assert got.schema["doc id"].dataType == LongType()


def test_delete_keys_mor_on_a_spaced_key_name(spark, tmp_path):
    from prox_spark.table import commit_snapshot, read_table
    from prox_spark.upsert import delete_keys_mor

    path = str(tmp_path / "t")
    rows = [(i, f"v{i}") for i in range(100)]
    commit_snapshot(
        spark, path, spark.createDataFrame(rows, "`doc id` long, v string"),
        stat_cols=["doc id"], n_files=4,
    )
    gone = spark.createDataFrame([(7,), (42,)], "`doc id` long")
    assert delete_keys_mor(spark, path, gone, ["doc id"]) == 2
    left = {r[0] for r in read_table(spark, path).collect()}
    assert left == set(range(100)) - {7, 42}


def test_empty_df_is_an_exact_local_relation(spark):
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from prox_spark.local_frames import empty_df, values_df_like

    schema = StructType([
        StructField("id", LongType(), False),
        StructField("doc id", StringType(), True),
        StructField(
            "xs",
            ArrayType(StructType([StructField("x", DoubleType(), False)]), False),
            True,
        ),
    ])
    for df in (empty_df(spark, schema), values_df_like(spark, [], schema)):
        assert df.schema == schema
        plan = df._jdf.queryExecution().optimizedPlan()  # noqa: SLF001
        assert plan.getClass().getSimpleName() == "LocalRelation"
        assert df.collect() == []
    ddl = empty_df(spark, "a bigint NOT NULL, `b c` string")
    assert ddl.schema == StructType([
        StructField("a", LongType(), False),
        StructField("b c", StringType(), True),
    ])


def test_point_read_of_an_unadmitted_key_launches_no_job(spark, tmp_path):
    from prox_spark.table import commit_snapshot, read_table_point

    path = str(tmp_path / "t")
    commit_snapshot(
        spark, path,
        spark.createDataFrame([(i, "v") for i in range(100)], "id long, v string"),
        stat_cols=["id"], n_files=4,
    )
    df = read_table_point(spark, path, {"id": 10_000})
    sc = spark.sparkContext
    group = "point-read-unadmitted-key"
    sc.setJobGroup(group, group)
    try:
        assert df.collect() == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 0
