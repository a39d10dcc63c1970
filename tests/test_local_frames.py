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
