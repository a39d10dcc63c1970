"""The schema memo of ``prox_spark.io.read_parquet``: a repeat read of
an unchanged path launches no Spark job, and anything that changes what
Spark would infer (the file, the directory's contents, an inference
conf) re-infers."""

from __future__ import annotations

import itertools
import os
import sys
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from prox_spark import io
from prox_spark.io import read_parquet

_groups = itertools.count()


def _jobs(spark, fn):
    """(result of ``fn()``, number of Spark jobs it launched)."""
    sc = spark.sparkContext
    group = f"memo-test-{next(_groups)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_repeat_read_launches_no_job(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    spark.range(50).select(
        F.col("id"), (F.col("id") * 2).cast("string").alias("s")
    ).write.parquet(path)
    _, first = _jobs(spark, lambda: read_parquet(spark, path))
    df, again = _jobs(spark, lambda: read_parquet(spark, path))
    assert first == 1  # the inference job
    assert again == 0
    plain = spark.read.parquet(path)
    assert df.schema == plain.schema
    assert _rows(df) == _rows(plain)


def test_rewrite_with_new_schema_reinfers(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    spark.range(5).write.parquet(path)
    assert read_parquet(spark, path).columns == ["id"]
    spark.range(5).select(F.col("id").cast("string").alias("name")).write.mode(
        "overwrite"
    ).parquet(path)
    df, jobs = _jobs(spark, lambda: read_parquet(spark, path))
    assert jobs == 1
    assert df.schema == spark.read.parquet(path).schema
    assert _rows(df) == [(str(i),) for i in range(5)]


def test_directory_gaining_a_file_or_partition_reinfers(spark, tmp_path):
    path = str(tmp_path / "parts")
    spark.range(4).select("id", F.lit(1).alias("p")).write.partitionBy(
        "p"
    ).parquet(path)
    assert _rows(read_parquet(spark, path)) == [(i, 1) for i in range(4)]
    # a new partition whose data file carries an extra column
    spark.range(4, 6).select(
        "id", F.lit("x").alias("extra"), F.lit(2).alias("p")
    ).write.mode("append").partitionBy("p").parquet(path)
    df, jobs = _jobs(spark, lambda: read_parquet(spark, path))
    assert jobs >= 1
    assert df.schema == spark.read.parquet(path).schema
    assert [r[0] for r in _rows(df.select("id"))] == list(range(6))
    # a new file inside an existing partition
    spark.range(6, 8).select("id", F.lit(1).alias("p")).write.mode(
        "append"
    ).partitionBy("p").parquet(path)
    df, jobs = _jobs(spark, lambda: read_parquet(spark, path))
    assert jobs >= 1
    assert df.count() == 8


def test_inference_conf_flip_reinfers(spark, tmp_path):
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    # written without Spark's footer schema, so the conf decides the type
    path = str(tmp_path / "ts.parquet")
    pq.write_table(
        pa.table({"ts": pa.array(
            [datetime.datetime(2024, 1, 2, 3, 4, 5)], pa.timestamp("us")
        )}),
        path,
    )
    key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "true")
        assert read_parquet(spark, path).schema["ts"].dataType.typeName() == "timestamp_ntz"
        spark.conf.set(key, "false")
        df, jobs = _jobs(spark, lambda: read_parquet(spark, path))
        assert jobs == 1
        assert df.schema["ts"].dataType.typeName() == "timestamp"
        assert df.schema == spark.read.parquet(path).schema
    finally:
        spark.conf.set(key, old)


def test_missing_path_raises_like_spark(spark, tmp_path):
    path = str(tmp_path / "absent.parquet")
    with pytest.raises(AnalysisException) as plain:
        spark.read.parquet(path)
    with pytest.raises(AnalysisException) as memo:
        read_parquet(spark, path)
    assert memo.value.getCondition() == plain.value.getCondition()
    assert str(memo.value) == str(plain.value)
    assert not os.path.exists(path)


def test_repeat_read_table_with_mor_delete_launches_no_inference_job(
    spark, tmp_path
):
    from prox_spark.table import commit_snapshot, read_table
    from prox_spark.upsert import delete_keys_mor

    base = str(tmp_path / "t")
    commit_snapshot(
        spark, base, spark.range(40).select(F.col("id").alias("doc_id")),
        stat_cols=["doc_id"], n_files=2,
    )
    delete_keys_mor(
        spark, base,
        spark.range(0, 40, 4).select(F.col("id").alias("doc_id")),
        ["doc_id"],
    )
    read_table(spark, base)  # the first read infers the delete file's schema
    df, jobs = _jobs(spark, lambda: read_table(spark, base))
    assert jobs == 0
    assert [r[0] for r in _rows(df)] == [i for i in range(40) if i % 4]


def test_concurrent_reads_agree_with_spark(spark, tmp_path):
    """Queries are built from several threads at once (the benchmark's
    warm-up does): every read, and the memo left behind, must carry the
    schema Spark infers for its own path."""
    paths = []
    for i in range(3):
        p = str(tmp_path / f"t{i}.parquet")
        spark.range(3).select(
            *[F.col("id").alias(f"c{i}_{j}") for j in range(i + 1)]
        ).write.parquet(p)
        paths.append(p)
    want = {p: spark.read.parquet(p).schema for p in paths}
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(8) as pool:
            got = list(pool.map(
                lambda p: (p, read_parquet(spark, p).schema), paths * 8,
                timeout=300,
            ))
    finally:
        sys.setswitchinterval(old)
    assert len(got) == len(paths) * 8
    assert all(schema == want[p] for p, schema in got)
    assert all(io._memo[(p,)][1] == want[p] for p in paths)  # noqa: SLF001
