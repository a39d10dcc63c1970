"""Batch DataSource for the manifest table format
(prox_spark/table_ds.py): format("prox_table") reads must be
row-identical to read_table across the format's full feature set
(schema evolution, merge-on-read deletes, renames, version pins,
branches), partition planning must be one task per live file, and
pushed filters must prune the SAME files the JVM point-lookup path
prunes."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _diff(a, b) -> int:
    return a.exceptAll(b).count() + b.exceptAll(a).count()


@pytest.fixture()
def tbl(spark, tmp_path):
    """v1 snapshot -> v2 evolving append -> v3 MoR delete -> v4 rename."""
    from prox_spark.table import (
        commit_delete_file,
        commit_delta,
        commit_snapshot,
        read_manifest,
        rename_column,
    )
    from prox_spark.table_ds import register

    register(spark)
    t = str(tmp_path / "tbl")
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "source", "n_chars")
    commit_snapshot(spark, t, docs, stat_cols=["doc_id"], n_files=4)
    m1 = read_manifest(spark, t)
    added = (
        docs.filter(F.col("doc_id") < 10)
        .withColumn("doc_id", F.col("doc_id") + F.lit(1000000))
        .withColumn("tier", F.floor(F.col("n_chars") / 100).cast("int"))
    )
    commit_delta(spark, t, added, list(m1["files"]), stat_cols=["doc_id"])
    m2 = read_manifest(spark, t)
    keys = spark.createDataFrame([(5,), (1000007,)], "doc_id BIGINT")
    commit_delete_file(spark, t, keys, ["doc_id"], list(m2["files"]))
    rename_column(spark, t, "n_chars", "text_len")
    return t


def test_every_version_matches_read_table(spark, tbl):
    from prox_spark.table import read_table, table_versions

    for v in table_versions(spark, tbl):
        a = (
            spark.read.format("prox_table")
            .option("version", str(v))
            .load(tbl)
        )
        b = read_table(spark, tbl, version=v)
        assert a.schema == b.schema, f"v{v}"
        assert _diff(a, b) == 0, f"v{v}"


def test_latest_covers_evolution_delete_rename(spark, tbl):
    df = spark.read.format("prox_table").load(tbl)
    assert "text_len" in df.columns and "tier" in df.columns
    got = df.filter(F.col("doc_id").isin(5, 1000007)).count()
    assert got == 0  # MoR delete applied
    # pre-evolution rows read tier as null; the appended rows carry it
    assert df.filter(F.col("tier").isNotNull()).count() == 9
    assert df.filter(F.col("doc_id") == 1000003).select(
        "text_len"
    ).first()[0] is not None  # rename resolved for pre-rename files


def test_partition_packing_by_byte_budget(spark, tbl):
    """Scan tasks pack small files up to max_partition_bytes (Spark's
    maxPartitionBytes behavior over the manifest's recorded sizes):
    the default budget collapses this tiny table to one task; a 1-byte
    budget degenerates to one task per live file; both read the same
    rows."""
    from prox_spark.table import read_table
    from prox_spark.table_stream import load_manifest

    n_files = len(load_manifest(tbl)["files"])
    assert n_files > 1
    packed = spark.read.format("prox_table").load(tbl)
    assert packed.rdd.getNumPartitions() == 1
    per_file = (
        spark.read.format("prox_table")
        .option("max_partition_bytes", "1")
        .load(tbl)
    )
    assert per_file.rdd.getNumPartitions() == n_files
    assert _diff(packed, per_file) == 0
    assert _diff(packed, read_table(spark, tbl)) == 0


def test_pushed_filter_prunes_same_files_as_jvm_point_lookup(spark, tbl):
    from pyspark.sql.datasource import EqualTo, GreaterThanOrEqual, LessThan

    from prox_spark.table import (
        read_manifest_pruned,
        split_files_by_key_ranges,
    )
    from prox_spark.table_ds import ProxTableReader
    from prox_spark.table_stream import load_manifest

    mm = load_manifest(tbl)
    for key_ranges, filters in [
        ({"doc_id": (3, 3)}, [EqualTo(("doc_id",), 3)]),
        (
            {"doc_id": (100, 300)},
            [
                GreaterThanOrEqual(("doc_id",), 100),
                LessThan(("doc_id",), 300),
            ],
        ),
    ]:
        rd = ProxTableReader({}, mm, tbl)
        full = rd.pruned_files()
        unsupported = list(rd.pushFilters(filters))
        # every filter comes back unsupported: Spark re-applies them
        # exactly; pruning is IO-only
        assert unsupported == filters
        got = rd.pruned_files()
        mp = read_manifest_pruned(spark, tbl, key_ranges)
        want, _ = split_files_by_key_ranges(mp, key_ranges)
        assert sorted(got) == sorted(want)
        assert len(got) < len(full)  # the prune actually bit
    # ...and the pruned read returns exactly the matching rows
    df = spark.read.format("prox_table").load(tbl)
    assert df.filter(F.col("doc_id") == 3).count() == 1


def test_filtered_read_correct_under_pruning(spark, tbl):
    from prox_spark.table import read_table

    a = (
        spark.read.format("prox_table")
        .load(tbl)
        .filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 300))
    )
    b = read_table(spark, tbl).filter(
        (F.col("doc_id") >= 100) & (F.col("doc_id") < 300)
    )
    assert _diff(a, b) == 0


def test_one_sided_pushed_filter_keeps_matching_files(spark, tbl):
    """A LONE >, >=, <, <= pushed through format() must stay a
    one-sided interval — collapsing it to a point interval prunes
    files that entirely MATCH (a file with stats (6, 9) under
    doc_id > 5)."""
    from pyspark.sql.datasource import GreaterThan, LessThanOrEqual

    from prox_spark.table import read_table
    from prox_spark.manifest import overlaps
    from prox_spark.table_ds import ProxTableReader, _filter_ranges
    from prox_spark.table_stream import load_manifest

    # unit: the harvested interval keeps its open side, and a file
    # wholly above a lone lower bound is NOT pruned
    assert _filter_ranges([GreaterThan(("doc_id",), 5)]) == {
        "doc_id": (5, None)
    }
    assert _filter_ranges([LessThanOrEqual(("doc_id",), 5)]) == {
        "doc_id": (None, 5)
    }
    assert overlaps({"doc_id": (6, 9)}, {"doc_id": (5, None)})
    assert not overlaps({"doc_id": (6, 9)}, {"doc_id": (None, 5)})
    assert not overlaps({"doc_id": (1, 4)}, {"doc_id": (5, None)})

    # end-to-end parity: pruned format() read == read_table, and the
    # lone upper bound really prunes the high (appended) files
    for cond in [
        F.col("doc_id") > 5,
        F.col("doc_id") >= 100,
        F.col("doc_id") < 300,
        F.col("doc_id") <= 200,
    ]:
        a = spark.read.format("prox_table").load(tbl).filter(cond)
        b = read_table(spark, tbl).filter(cond)
        assert _diff(a, b) == 0, str(cond)
    mm = load_manifest(tbl)
    rd = ProxTableReader({}, mm, tbl)
    full = rd.pruned_files()
    list(rd.pushFilters([LessThanOrEqual(("doc_id",), 200)]))
    assert 0 < len(rd.pruned_files()) < len(full)


def test_branch_ref_read(spark, tbl):
    from prox_spark.table import (
        commit_delta,
        create_branch,
        read_manifest,
        read_table,
    )

    create_branch(spark, tbl, "exp")
    base = read_table(spark, tbl)
    vals = {"doc_id": F.lit(9_000_000), "source": F.lit("exp"),
            "text_len": F.lit(1), "tier": F.lit(None)}
    extra = spark.range(1).select(
        *[vals[c].cast(t).alias(c) for c, t in base.dtypes]
    )
    m = read_manifest(spark, tbl, ref="exp")
    commit_delta(spark, tbl, extra, list(m["files"]), ref="exp",
                 update_key_ranges={})
    a = spark.read.format("prox_table").option("ref", "exp").load(tbl)
    b = read_table(spark, tbl, ref="exp")
    assert _diff(a, b) == 0
    # main is untouched by the branch commit
    assert (
        spark.read.format("prox_table")
        .load(tbl)
        .filter(F.col("source") == "exp")
        .count()
        == 0
    )


def test_sql_view_entry_point(spark, tbl):
    from prox_spark.table import read_table
    from prox_spark.table_ds import register_sql

    register_sql(spark, "ds_docs_test", tbl)
    n = spark.sql("SELECT count(*) AS n FROM ds_docs_test").first()["n"]
    assert n == read_table(spark, tbl).count()


def test_writer_create_append_roundtrip(spark, tmp_path):
    """df.write.format('prox_table'): overwrite creates v1 with
    task-side footer stats, append publishes v2 carrying v1's files;
    the JVM reader (read_table) sees exactly the written rows and the
    python-written stats drive the same file pruning."""
    from prox_spark.table import (
        read_manifest,
        read_table,
        split_files_by_key_ranges,
    )
    from prox_spark.table_ds import register

    register(spark)
    t = str(tmp_path / "wtbl")
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "source", "n_chars")
    (
        docs.filter(F.col("doc_id") % 2 == 0)
        .repartition(4)
        .write.format("prox_table")
        .mode("overwrite")
        .option("stat_cols", "doc_id")
        .save(t)
    )
    docs.filter(F.col("doc_id") % 2 == 1).repartition(3).write.format(
        "prox_table"
    ).mode("append").save(t)
    m = read_manifest(spark, t)
    assert m["version"] == 2
    assert m["stat_cols"] == ["doc_id"]
    assert _diff(read_table(spark, t), docs) == 0
    # every written file carries usable doc_id stats
    assert all(
        st and st.get("doc_id") for st in m["stats"].values()
    )
    touched, untouched = split_files_by_key_ranges(m, {"doc_id": (3, 3)})
    assert untouched  # the stats actually prune
    # overwrite replaces everything
    docs.limit(7).write.format("prox_table").mode("overwrite").save(t)
    assert read_table(spark, t).count() == 7
    assert read_manifest(spark, t)["version"] == 3


def test_writer_append_carries_deletes_and_renames(spark, tbl):
    """A writer append to a table with live MoR deletes and rename
    mappings carries both verbatim: old rows stay deleted, pre-rename
    files still resolve, and the appended rows surface."""
    from prox_spark.table import read_manifest, read_table

    base = read_table(spark, tbl)
    vals = {"doc_id": F.lit(7_000_000), "source": F.lit("w"),
            "text_len": F.lit(42), "tier": F.lit(None)}
    extra = spark.range(1).select(
        *[vals[c].cast(t).alias(c) for c, t in base.dtypes]
    )
    extra.write.format("prox_table").mode("append").save(tbl)
    m = read_manifest(spark, tbl)
    assert m.get("deletes") and m.get("renames")
    got = read_table(spark, tbl)
    assert got.filter(F.col("doc_id") == 7_000_000).count() == 1
    assert got.filter(F.col("doc_id").isin(5, 1000007)).count() == 0
    assert _diff(got, base.unionByName(extra)) == 0


def test_writer_concurrent_appends_both_land(spark, tmp_path):
    """Two appends racing the manifest CAS: the loser rebases onto the
    winner's version (pure appends never conflict), so BOTH sets of
    rows land and no version is skipped."""
    import threading

    from prox_spark.table import read_table, table_versions
    from prox_spark.table_ds import activate, register

    register(spark)
    t = str(tmp_path / "race")
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "source", "n_chars")
    docs.filter(F.col("doc_id") < 10).write.format("prox_table").mode(
        "overwrite"
    ).option("stat_cols", "doc_id").save(t)
    errs: list[str] = []
    barrier = threading.Barrier(2)

    def appender(mod):
        # a fresh Python thread's JVM thread has NO active session, so
        # the Python-datasource lookup fails without this (see
        # table_ds.activate)
        activate(spark)
        barrier.wait()
        try:
            docs.filter(
                (F.col("doc_id") >= 10) & (F.col("doc_id") % 2 == mod)
            ).write.format("prox_table").mode("append").save(t)
        except Exception as ex:  # noqa: BLE001
            errs.append(f"{type(ex).__name__}: {ex}")

    ts = [threading.Thread(target=appender, args=(i,)) for i in (0, 1)]
    for th in ts:
        th.start()
    for th in ts:
        th.join()
    assert not errs, errs
    assert table_versions(spark, t) == [1, 2, 3]
    assert _diff(read_table(spark, t), docs) == 0


def test_stream_sink_rejects_truncate_output_modes(spark, tmp_path):
    """The sink is append-only: outputMode complete/update (truncate
    semantics, overwrite=True at streamWriter) must raise rather than
    silently append every micro-batch's full state."""
    from pyspark.sql.types import StructType

    from prox_spark.table_ds import ProxTableDataSource

    ds = ProxTableDataSource({"path": str(tmp_path / "nosuch")})
    schema = StructType.fromDDL("doc_id BIGINT")
    with pytest.raises(ValueError, match="append-only"):
        ds.streamWriter(schema, True)
    # append mode still constructs
    assert ds.streamWriter(schema, False) is not None


def test_stream_sink_exactly_once(spark, tmp_path):
    """writeStream.format('prox_table'): one manifest append per
    micro-batch with the applied batch id fenced in the SAME rename —
    a checkpoint restart with nothing new moves no version, and a
    crash-replay of an applied batch id lands nothing (its rewritten
    files are dropped, not double-appended), also after a compaction."""
    import pyarrow as pa

    from prox_spark.table import (
        compact_table,
        read_manifest,
        read_table,
        table_versions,
    )
    from prox_spark.table_ds import ProxTableStreamWriter, register

    register(spark)
    t = str(tmp_path / "stbl")
    feed = str(tmp_path / "feed")
    ckpt = str(tmp_path / "ckpt")
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "source", "n_chars")
    docs.repartition(3).write.parquet(feed)
    schema = spark.read.parquet(feed).schema

    def run():
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(feed)
            .writeStream.format("prox_table")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start(t)
        )
        try:
            assert q.awaitTermination(300)
        finally:
            q.stop()

    run()
    versions = table_versions(spark, t)
    assert len(versions) >= 2  # one append per micro-batch
    assert _diff(read_table(spark, t), docs) == 0
    m = read_manifest(spark, t)
    assert int(m["stream_batches"]["stream"]) >= 1
    run()  # restart, nothing new
    assert table_versions(spark, t)[-1] == versions[-1]
    # maintenance rewrites every file and must keep the fence: without
    # it the replay below would land a second time
    head = compact_table(spark, t)
    assert read_manifest(spark, t)["stream_batches"] == m["stream_batches"]
    # replay an already-applied batch id through a fresh writer
    w = ProxTableStreamWriter({"path": t}, schema)
    batch = pa.RecordBatch.from_pylist(
        [{"doc_id": -1, "source": "replay", "n_chars": 1}],
        schema=pa.schema(
            [
                pa.field("doc_id", pa.int64()),
                pa.field("source", pa.string()),
                pa.field("n_chars", pa.int64()),
            ]
        ),
    )
    w.commit([w.write(iter([batch]))], 0)
    assert table_versions(spark, t)[-1] == head
    assert read_table(spark, t).filter(
        F.col("source") == "replay"
    ).count() == 0
    # ...while a genuinely NEW batch id appends
    w2 = ProxTableStreamWriter({"path": t}, schema)
    w2.commit([w2.write(iter([batch]))], 99)
    assert table_versions(spark, t)[-1] == head + 1
    assert read_table(spark, t).filter(
        F.col("source") == "replay"
    ).count() == 1


def test_reader_timestamp_as_of(spark, tmp_path):
    """option('timestamp_ms', t): resolve the newest version published
    at or before t — the same manifest-mtime clock as
    table.version_at_timestamp, so both paths pick the same version."""
    import time

    from prox_spark.table import (
        commit_delta,
        commit_snapshot,
        read_manifest,
        version_at_timestamp,
    )
    from prox_spark.table_ds import register

    register(spark)
    t = str(tmp_path / "ttbl")
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "source")
    commit_snapshot(spark, t, docs.filter(F.col("doc_id") < 100),
                    stat_cols=["doc_id"], n_files=2)
    time.sleep(1.1)
    between = time.time() * 1000.0
    time.sleep(1.1)
    m = read_manifest(spark, t)
    commit_delta(spark, t, docs.filter(F.col("doc_id") >= 100),
                 list(m["files"]), update_key_ranges={})
    df = (
        spark.read.format("prox_table")
        .option("timestamp_ms", str(between))
        .load(t)
    )
    assert df.count() == 100  # v1 only
    assert version_at_timestamp(spark, t, between) == 1
    import pytest as _pytest

    with _pytest.raises(Exception, match="exclusive"):
        (
            spark.read.format("prox_table")
            .option("timestamp_ms", str(between))
            .option("version", "1")
            .load(t)
            .count()
        )


def test_sql_cli_over_committed_tables(spark, tbl, tmp_path, capsys):
    """``python -m prox_spark sql``: NAME=PATH registers a prox_table
    view (@V pins a version), the query runs with zero library
    imports, and --output lands parquet."""
    from prox_spark.__main__ import main
    from prox_spark.table import read_table

    n = read_table(spark, tbl).count()
    assert main(
        ["sql", "SELECT count(*) AS n FROM d", "--table", f"d={tbl}"]
    ) == 0
    assert f"|{n} " in capsys.readouterr().out.replace("|" + str(n) + "|",
                                                       f"|{n} |")
    out = str(tmp_path / "res")
    assert main(
        [
            "sql",
            "SELECT source, count(*) AS n FROM d GROUP BY source",
            "--table", f"d={tbl}@1", "--output", out,
        ]
    ) == 0
    v1 = read_table(spark, tbl, version=1)
    got = spark.read.parquet(out)
    assert got.agg(F.sum("n")).first()[0] == v1.count()


def test_reader_assembles_chunked_manifests(spark, tmp_path, monkeypatch):
    """A table past the chunked-manifest (v2) threshold: load_manifest
    must assemble the chunk files into the classic shape, so the
    format() read equals read_table — and the pushed-filter prune
    still matches the JVM prune over the assembled stats."""
    import prox_spark.table as T
    from pyspark.sql.datasource import EqualTo

    from prox_spark.table import (
        commit_delta,
        read_manifest,
        read_manifest_pruned,
        read_table,
        split_files_by_key_ranges,
    )
    from prox_spark.table_ds import ProxTableReader, register
    from prox_spark.table_stream import load_manifest

    monkeypatch.setattr("prox_spark.manifest.CHUNK_THRESHOLD", 4)
    monkeypatch.setattr("prox_spark.manifest.CHUNK_SIZE", 2)
    register(spark)
    t = str(tmp_path / "chunky")
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "source")
    T.commit_snapshot(spark, t, docs.filter(F.col("doc_id") < 200),
                      stat_cols=["doc_id"], n_files=4)
    m = read_manifest(spark, t)
    commit_delta(spark, t, docs.filter(F.col("doc_id") >= 200),
                 list(m["files"]), stat_cols=["doc_id"], n_files=4)
    mm = load_manifest(t)
    assert "chunks" in mm and len(mm["files"]) >= 5  # really chunked
    a = spark.read.format("prox_table").load(t)
    b = read_table(spark, t)
    assert _diff(a, b) == 0
    rd = ProxTableReader({}, mm, t)
    rd.pushFilters([EqualTo(("doc_id",), 42)])
    mp = read_manifest_pruned(spark, t, {"doc_id": (42, 42)})
    want, _ = split_files_by_key_ranges(mp, {"doc_id": (42, 42)})
    assert sorted(rd.pruned_files()) == sorted(want)


def test_reader_resolves_shallow_clone_foreign_entries(spark, tmp_path):
    """A shallow clone's manifest references the source's files by
    ABSOLUTE path; the reader must pass those through untouched (and
    resolve the clone's own relative files after divergence)."""
    from prox_spark.table import (
        clone_table,
        commit_delta,
        commit_snapshot,
        read_manifest,
        read_table,
    )
    from prox_spark.table_ds import register

    register(spark)
    src = str(tmp_path / "src")
    dst = str(tmp_path / "clone")
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "source")
    commit_snapshot(spark, src, docs, stat_cols=["doc_id"], n_files=2)
    clone_table(spark, src, dst)
    assert _diff(spark.read.format("prox_table").load(dst), docs) == 0
    # diverge the clone: one local file next to the foreign ones
    m = read_manifest(spark, dst)
    extra = docs.limit(0).unionByName(
        spark.range(1).select(
            F.lit(9_999_999).cast("long").alias("doc_id"),
            F.lit("local").alias("source"),
        )
    )
    commit_delta(spark, dst, extra, list(m["files"]),
                 update_key_ranges={})
    a = spark.read.format("prox_table").load(dst)
    assert _diff(a, read_table(spark, dst)) == 0
    assert a.filter(F.col("source") == "local").count() == 1


def test_writer_appends_to_chunked_table(spark, tmp_path, monkeypatch):
    """A writer append to a chunked (v2) table carries every existing
    chunk entry BY REFERENCE (verbatim, never re-read) and packs only
    the new files into fresh chunk files — and the JVM reader sees
    exactly the union."""
    import prox_spark.table as T
    from prox_spark.table import commit_delta, read_manifest, read_table
    from prox_spark.table_ds import register
    from prox_spark.table_stream import load_manifest

    monkeypatch.setattr("prox_spark.manifest.CHUNK_THRESHOLD", 4)
    monkeypatch.setattr("prox_spark.manifest.CHUNK_SIZE", 2)
    register(spark)
    t = str(tmp_path / "chunkw")
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "source")
    T.commit_snapshot(spark, t, docs.filter(F.col("doc_id") < 200),
                      stat_cols=["doc_id"], n_files=4)
    m = read_manifest(spark, t)
    commit_delta(spark, t,
                 docs.filter((F.col("doc_id") >= 200)
                             & (F.col("doc_id") < 400)),
                 list(m["files"]), stat_cols=["doc_id"], n_files=4)
    before = load_manifest(t)
    assert "chunks" in before
    prev_entries = [e["file"] for e in before["chunks"]]
    (
        docs.filter(F.col("doc_id") >= 400)
        .repartitionByRange(2, "doc_id")
        .write.format("prox_table")
        .mode("append")
        .save(t)
    )
    after = load_manifest(t)
    assert "chunks" in after
    got_entries = [e["file"] for e in after["chunks"]]
    # old entries carried verbatim, in order, plus >=1 fresh one
    assert got_entries[: len(prev_entries)] == prev_entries
    assert len(got_entries) > len(prev_entries)
    # every fresh entry carries a doc_id range for chunk pruning
    for e in after["chunks"][len(prev_entries):]:
        assert e.get("ranges", {}).get("doc_id")
    assert _diff(read_table(spark, t), docs) == 0
    # born rides in the chunk files: the appended files' birth version
    assert all(
        after["born"][f] == after["version"]
        for f in after["files"]
        if f not in set(before["files"])
    )


def test_row_group_skipping_inside_surviving_files(spark, tmp_path):
    """Pushed ranges prune ROW GROUPS inside a file that survived the
    manifest prune (a point probe decodes only groups whose footer
    min/max admit the key), and the filtered read stays row-identical
    to the JVM path."""
    from pyspark.sql.datasource import EqualTo

    import pyarrow.parquet as pq

    from prox_spark.table import read_table
    from prox_spark.manifest import local_file
    from prox_spark.table_ds import ProxTableReader, register
    from prox_spark.table_stream import load_manifest

    register(spark)
    t = str(tmp_path / "rgtbl")
    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "source")
        .repartitionByRange(1, "doc_id")
        .sortWithinPartitions("doc_id")
    )
    # one file, many small row groups -> the manifest prune keeps the
    # file, the row-group prune must bite inside it
    (
        docs.write.format("prox_table")
        .mode("overwrite")
        .option("stat_cols", "doc_id")
        .save(t)
    )
    mm = load_manifest(t)
    assert len(mm["files"]) == 1
    fpath = local_file(t, mm["files"][0])
    # rewrite the single file with tiny row groups (pyarrow-level, the
    # manifest entry is unchanged — same path, same bytes semantics)
    tbl = pq.read_table(fpath)
    pq.write_table(tbl, fpath, row_group_size=64)
    pf = pq.ParquetFile(fpath)
    assert pf.metadata.num_row_groups > 3

    rd = ProxTableReader({}, load_manifest(t), t)
    rd.pushFilters([EqualTo(("doc_id",), 5)])
    parts = rd.partitions()
    assert len(parts) == 1
    kept = rd.matching_row_groups(pf, parts[0].files[0][1])
    assert kept is not None and 0 < len(kept) < pf.metadata.num_row_groups
    # ...and the end-to-end filtered read is still exact
    a = (
        spark.read.format("prox_table")
        .load(t)
        .filter(F.col("doc_id") == 5)
    )
    b = read_table(spark, t).filter(F.col("doc_id") == 5)
    assert _diff(a, b) == 0 and a.count() == 1
    # an impossible range reads nothing but stays a valid plan
    assert (
        spark.read.format("prox_table")
        .load(t)
        .filter(F.col("doc_id") == -42)
        .count()
        == 0
    )


def test_writer_enforces_check_constraints(spark, tmp_path):
    """A writer append to a CHECK-constrained table validates the new
    bytes before any manifest publish (commit_delta semantics: NULL
    passes, IS FALSE violates) — a violating append lands nothing and
    names the counts; a clean one publishes and CARRIES the
    constraint entry forward."""
    import pytest as _pytest

    from prox_spark.table import (
        add_constraint,
        commit_snapshot,
        read_manifest,
        read_table,
        table_versions,
    )
    from prox_spark.table_ds import register

    register(spark)
    t = str(tmp_path / "ctbl")
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "n_chars")
    commit_snapshot(spark, t, docs, stat_cols=["doc_id"], n_files=2)
    add_constraint(spark, t, "pos_len", "n_chars > 0")
    head = table_versions(spark, t)[-1]
    bad = spark.range(3).select(
        (F.col("id") + 8_000_000).alias("doc_id"),
        F.lit(-5).cast(dict(docs.dtypes)["n_chars"]).alias("n_chars"),
    )
    with _pytest.raises(Exception, match="pos_len"):
        bad.write.format("prox_table").mode("append").save(t)
    assert table_versions(spark, t)[-1] == head  # nothing landed
    assert read_table(spark, t).filter(
        F.col("doc_id") >= 8_000_000
    ).count() == 0
    good = spark.range(3).select(
        (F.col("id") + 8_000_000).alias("doc_id"),
        F.lit(7).cast(dict(docs.dtypes)["n_chars"]).alias("n_chars"),
    )
    good.write.format("prox_table").mode("append").save(t)
    m = read_manifest(spark, t)
    assert any(c["name"] == "pos_len" for c in m["constraints"])
    assert read_table(spark, t).filter(
        F.col("doc_id") >= 8_000_000
    ).count() == 3
    # ...and an OVERWRITE both enforces and CARRIES the constraint
    # (commit_delta parity: table-level metadata survives rewrites)
    with _pytest.raises(Exception, match="pos_len"):
        bad.write.format("prox_table").mode("overwrite").save(t)
    good.write.format("prox_table").mode("overwrite").save(t)
    m2 = read_manifest(spark, t)
    assert any(c["name"] == "pos_len" for c in m2["constraints"])
    assert read_table(spark, t).count() == 3


def test_writer_merge_schema_append(spark, tmp_path):
    """option('merge_schema','true') on append: new columns extend the
    declared schema (old files read them as typed nulls, zero
    rewrite); without the option the mismatch refuses; a type CHANGE
    on a common column always refuses."""
    import pytest as _pytest

    from prox_spark.table import read_table
    from prox_spark.table_ds import register

    register(spark)
    t = str(tmp_path / "evolve")
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "source")
    docs.write.format("prox_table").mode("overwrite").option(
        "stat_cols", "doc_id"
    ).save(t)
    extra = spark.range(2).select(
        (F.col("id") + 5_000_000).alias("doc_id"),
        F.lit("new").alias("source"),
        F.lit(3).cast("int").alias("tier"),
    )
    with _pytest.raises(Exception, match="merge_schema"):
        extra.write.format("prox_table").mode("append").save(t)
    extra.write.format("prox_table").mode("append").option(
        "merge_schema", "true"
    ).save(t)
    got = read_table(spark, t)
    assert got.columns == ["doc_id", "source", "tier"]
    assert got.filter(F.col("tier").isNotNull()).count() == 2
    assert got.filter(F.col("tier").isNull()).count() == docs.count()
    # a type change on a common column refuses even with merge_schema
    bad = spark.range(1).select(
        F.lit("oops").alias("doc_id"), F.lit("x").alias("source"),
        F.lit(1).cast("int").alias("tier"),
    )
    with _pytest.raises(Exception, match="does not match"):
        bad.write.format("prox_table").mode("append").option(
            "merge_schema", "true"
        ).save(t)


def test_non_table_path_raises(spark, tmp_path):
    from prox_spark.table_ds import register

    register(spark)
    with pytest.raises(Exception, match="manifest"):
        spark.read.format("prox_table").load(str(tmp_path / "nope")).count()


def test_partition_packing_at_10k_file_scale():
    """Task packing at metadata scale, pure-unit (partitions() plans
    from the manifest alone — no IO): a 10^4-small-file table must
    schedule ~total_bytes/budget tasks, NOT 10^4; files with no
    recorded size conservatively fill their own task; and a huge file
    never shares one."""
    from prox_spark.table_ds import ProxTableReader

    n = 10_000
    files = [f"data/part-{i:05d}.parquet" for i in range(n)]
    manifest = {
        "version": 1,
        "files": files,
        "schema": {
            "type": "struct",
            "fields": [{
                "name": "doc_id", "type": "long",
                "nullable": True, "metadata": {},
            }],
        },
        "sizes": dict.fromkeys(files, 100 * 1024),  # 100 KB each
        "stats": {},
    }
    rd = ProxTableReader({}, manifest, "/nosuch")
    parts = rd.partitions()
    total = n * 100 * 1024
    want = -(-total // rd.max_partition_bytes)  # ceil
    assert len(parts) <= want + 1, (len(parts), want)
    assert len(parts) < n / 100  # ≪ file count
    assert sum(len(p.files) for p in parts) == n  # nothing dropped
    # unknown-size file: its own partition (conservative)
    manifest["sizes"].pop(files[0])
    parts2 = ProxTableReader({}, manifest, "/nosuch").partitions()
    assert len(parts2) <= want + 2
    # a file bigger than the budget never packs with neighbours
    manifest["sizes"][files[1]] = 512 * 1024 * 1024
    parts3 = ProxTableReader({}, manifest, "/nosuch").partitions()
    assert any(len(p.files) == 1 for p in parts3)


def test_chunked_read_packs_tasks_below_file_count(spark, tmp_path, monkeypatch):
    """End-to-end over a CHUNKED (v2) table of many tiny files: the
    format() scan packs them into far fewer tasks than files under
    the byte budget, and the packed read is row-identical to
    read_table."""
    import prox_spark.table as T
    from prox_spark.table import read_table
    from prox_spark.table_ds import ProxTableReader, register
    from prox_spark.table_stream import load_manifest

    monkeypatch.setattr("prox_spark.manifest.CHUNK_THRESHOLD", 8)
    monkeypatch.setattr("prox_spark.manifest.CHUNK_SIZE", 4)
    register(spark)
    t = str(tmp_path / "many")
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "source", "n_chars")
    T.commit_snapshot(spark, t, docs, stat_cols=["doc_id"], n_files=40)
    mm = load_manifest(t)
    assert "chunks" in mm and len(mm["files"]) >= 30
    rd = ProxTableReader({}, mm, t)
    parts = rd.partitions()
    assert len(parts) <= max(2, len(mm["files"]) // 10), (
        len(parts), len(mm["files"]),
    )
    a = spark.read.format("prox_table").load(t)
    assert _diff(a, read_table(spark, t)) == 0


def test_stream_sink_rejects_txn_workspace(spark, tmp_path):
    """txn staging is a batch composition; a stream would accumulate
    pins nothing publishes — the sink refuses the option loudly."""
    from pyspark.sql.types import StructType

    from prox_spark.table_ds import ProxTableDataSource

    ds = ProxTableDataSource({
        "path": str(tmp_path / "t"),
        "txn_workspace": str(tmp_path / "ws"),
    })
    with pytest.raises(ValueError, match="txn_workspace"):
        ds.streamWriter(StructType.fromDDL("doc_id BIGINT"), False)


def test_in_list_prunes_per_value_not_envelope(spark, tbl):
    """A sparse membership probe (doc_id IN (3, 1000003)) must prune
    per VALUE: the [min, max] envelope spans the whole table and
    keeps every file; the value-set check keeps only the files whose
    range can hold one of the listed keys — and the read stays
    row-identical to read_table."""
    from pyspark.sql.datasource import In

    from prox_spark.manifest import overlaps_sets
    from prox_spark.table import read_table
    from prox_spark.table_ds import ProxTableReader
    from prox_spark.table_stream import load_manifest

    assert overlaps_sets({"doc_id": (0, 9)}, {"doc_id": [3, 1000003]})
    assert not overlaps_sets(
        {"doc_id": (100, 400)}, {"doc_id": [3, 1000003]}
    )
    # an empty value list admits nothing the column has stats for
    assert not overlaps_sets({"doc_id": (0, 9)}, {"doc_id": []})
    mm = load_manifest(tbl)
    rd = ProxTableReader({}, mm, tbl)
    full = rd.pruned_files()
    list(rd.pushFilters([In(("doc_id",), (3, 1000003))]))
    got = rd.pruned_files()
    # the envelope [3, 1000003] covers every file; per-value pruning
    # must do strictly better
    assert 0 < len(got) < len(full)
    a = (
        spark.read.format("prox_table")
        .load(tbl)
        .filter(F.col("doc_id").isin(3, 1000003))
    )
    b = read_table(spark, tbl).filter(F.col("doc_id").isin(3, 1000003))
    assert _diff(a, b) == 0 and a.count() == 2


def test_stream_reader_rows_mode_resumes_from_checkpoint(spark, tmp_path):
    """readStream.format('prox_table') (Delta table-as-stream parity):
    run 1 delivers v1's rows; a version committed while the stream is
    DOWN is delivered exactly once by the resumed run — the union is
    row-identical to a batch read of the head, with no change-feed
    columns in rows mode."""
    from prox_spark.table import (
        commit_delta,
        commit_snapshot,
        read_manifest,
        read_table,
    )
    from prox_spark.table_ds import register

    register(spark)
    t = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "source", "n_chars")
    commit_snapshot(
        spark, t, docs.filter(F.col("doc_id") % 10 <= 5),
        stat_cols=["doc_id"], n_files=2,
    )

    def run():
        q = (
            spark.readStream.format("prox_table")
            .load(t)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            assert q.awaitTermination(300)
        finally:
            q.stop()

    run()
    first = spark.read.parquet(out)
    assert "_change_type" not in first.columns  # rows mode
    assert _diff(first, read_table(spark, t)) == 0
    prev = read_manifest(spark, t)
    commit_delta(
        spark, t, docs.filter(F.col("doc_id") % 10 > 5),
        list(prev["files"]), update_key_ranges={},
    )
    run()  # resumes from the checkpoint: delivers ONLY the new version
    got = spark.read.parquet(out)
    assert got.count() == docs.count()  # re-delivery would inflate this
    assert _diff(got, read_table(spark, t)) == 0


def test_stream_reader_change_feed_mode(spark, tmp_path):
    """option('readChangeFeed', 'true') through the unified format:
    commits stream as SIGNED rows with the feed columns — the append
    arrives as inserts, a merge-on-read delete as delete rows."""
    from prox_spark.table import (
        commit_delete_file,
        commit_snapshot,
        read_manifest,
    )
    from prox_spark.table_ds import register

    register(spark)
    t = str(tmp_path / "src")
    out = str(tmp_path / "out")
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "source", "n_chars")
    commit_snapshot(spark, t, docs, stat_cols=["doc_id"], n_files=2)
    keys = spark.createDataFrame([(3,), (7,)], "doc_id BIGINT")
    commit_delete_file(
        spark, t, keys, ["doc_id"], list(read_manifest(spark, t)["files"])
    )
    sdf = (
        spark.readStream.format("prox_table")
        .option("readChangeFeed", "true")
        .load(t)
    )
    assert sdf.columns[-2:] == ["_change_type", "_commit_version"]
    q = (
        sdf.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(300)
    finally:
        q.stop()
    got = spark.read.parquet(out)
    n = docs.count()
    assert got.filter(F.col("_change_type") == "insert").count() == n
    deleted = got.filter(F.col("_change_type") == "delete")
    assert sorted(r.doc_id for r in deleted.collect()) == [3, 7]
    assert deleted.select("_commit_version").distinct().first()[0] == 2


def test_stream_reader_rejects_pins_and_batch_cdf(spark, tmp_path):
    """Streams follow the live log: version/timestamp_ms pins and
    branch refs raise at streamReader construction; snapshot pins and
    branch refs do not compose with a BATCH readChangeFeed either
    (the feed range is addressed by startingVersion/endingVersion)."""
    from pyspark.errors.exceptions.captured import (
        AnalysisException,
        PythonException,
    )

    from prox_spark.table import commit_snapshot
    from prox_spark.table_ds import ProxTableDataSource, register

    register(spark)
    t = str(tmp_path / "src")
    commit_snapshot(
        spark, t,
        spark.createDataFrame([(1, "a")], "doc_id BIGINT, source STRING"),
        stat_cols=["doc_id"],
    )
    # direct construction: the guard message is ours, not wrapped
    for opts in (
        {"path": t, "version": "1"},
        {"path": t, "timestamp_ms": "1"},
        {"path": t, "ref": "exp"},
    ):
        with pytest.raises(ValueError, match="prox_table streaming"):
            ProxTableDataSource(opts).streamReader(None)
    # end-to-end: a pinned stream dies at/before start
    with pytest.raises((AnalysisException, PythonException, Exception)):
        (
            spark.readStream.format("prox_table")
            .option("version", "1")
            .load(t)
            .writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / "c"))
            .trigger(availableNow=True)
            .start()
            .awaitTermination(60)
        )
    with pytest.raises(Exception, match="does not compose"):
        (
            spark.read.format("prox_table")
            .option("readChangeFeed", "true")
            .option("version", "1")
            .load(t)
            .count()
        )
    with pytest.raises(ValueError, match="main only"):
        ProxTableDataSource(
            {"path": t, "readchangefeed": "true", "ref": "exp"}
        ).reader(None)


def test_stream_reader_delegates_pacing_to_change_engine(spark, tmp_path):
    """streamReader IS the proven change reader — offset/pacing options
    (startingVersion, maxVersionsPerBatch) pass through the unified
    format unchanged, so q191's pacing-floor guarantees apply."""
    from prox_spark.table import commit_delta, commit_snapshot, read_manifest
    from prox_spark.table_ds import ProxTableDataSource
    from prox_spark.table_stream import TableChangesStreamReader

    t = str(tmp_path / "src")
    docs = spark.range(0, 30).selectExpr("id AS doc_id", "id % 3 AS v")
    commit_snapshot(
        spark, t, docs.filter("doc_id < 10"), stat_cols=["doc_id"]
    )
    for lo in (10, 20):
        prev = read_manifest(spark, t)
        commit_delta(
            spark, t,
            docs.filter(f"doc_id >= {lo} AND doc_id < {lo + 10}"),
            list(prev["files"]), update_key_ranges={},
        )
    ds = ProxTableDataSource(
        {"path": t, "startingversion": "1", "maxversionsperbatch": "1"}
    )
    rd = ds.streamReader(ds.schema())
    assert isinstance(rd, TableChangesStreamReader)
    assert rd.initialOffset() == {"version": 1}
    assert rd.latestOffset() == {"version": 2}  # paced: one version/batch
    assert rd.latestOffset() == {"version": 3}


def test_reader_tag_pin(spark, tmp_path):
    """option('tag', name): Iceberg-style immutable-ref read — resolves
    through the pure-python tag record to the same rows as
    read_table(version=tag_version); exclusive with the other pins and
    rejected for streams."""
    from prox_spark.table import (
        commit_delta,
        commit_snapshot,
        create_tag,
        read_manifest,
        read_table,
        tag_version,
    )
    from prox_spark.table_ds import ProxTableDataSource, register

    register(spark)
    t = str(tmp_path / "tbl")
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "source")
    commit_snapshot(
        spark, t, docs.filter(F.col("doc_id") % 2 == 0),
        stat_cols=["doc_id"],
    )
    create_tag(spark, t, "train-v1")
    prev = read_manifest(spark, t)
    commit_delta(
        spark, t, docs.filter(F.col("doc_id") % 2 == 1),
        list(prev["files"]), update_key_ranges={},
    )
    tagged = spark.read.format("prox_table").option("tag", "train-v1").load(t)
    v = tag_version(spark, t, "train-v1")
    assert _diff(tagged, read_table(spark, t, version=v)) == 0
    assert tagged.count() < read_table(spark, t).count()
    with pytest.raises(Exception, match="does not exist"):
        spark.read.format("prox_table").option("tag", "nope").load(t).count()
    with pytest.raises(ValueError, match="mutually exclusive"):
        ProxTableDataSource(
            {"path": t, "tag": "train-v1", "version": "1"}
        ).schema()
    with pytest.raises(ValueError, match="exclusive"):
        ProxTableDataSource(
            {"path": t, "tag": "train-v1", "ref": "exp"}
        ).schema()
    with pytest.raises(ValueError, match="streaming"):
        ProxTableDataSource(
            {"path": t, "tag": "train-v1"}
        ).streamReader(None)


def test_batch_change_feed_parity_with_cdf(spark, tmp_path):
    """spark.read + readChangeFeed (Delta batch-CDF parity): the signed
    rows for (startingVersion, endingVersion] are row-identical to
    cdf.read_table_changes over the same range — one change engine,
    batch and stream triggers."""
    from prox_spark.cdf import read_table_changes
    from prox_spark.table import (
        commit_delete_file,
        commit_delta,
        commit_snapshot,
        read_manifest,
    )
    from prox_spark.table_ds import register

    register(spark)
    t = str(tmp_path / "tbl")
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "source", "n_chars")
    commit_snapshot(
        spark, t, docs.filter(F.col("doc_id") % 3 == 0),
        stat_cols=["doc_id"], n_files=2,
    )
    prev = read_manifest(spark, t)
    commit_delta(
        spark, t, docs.filter(F.col("doc_id") % 3 == 1),
        list(prev["files"]), update_key_ranges={},
    )
    keys = spark.createDataFrame([(3,), (6,), (9,)], "doc_id BIGINT")
    commit_delete_file(
        spark, t, keys, ["doc_id"], list(read_manifest(spark, t)["files"])
    )

    def feed(start, end=None):
        r = (
            spark.read.format("prox_table")
            .option("readChangeFeed", "true")
            .option("startingVersion", str(start))
        )
        if end is not None:
            r = r.option("endingVersion", str(end))
        return r.load(t)

    # whole history
    assert _diff(feed(0), read_table_changes(spark, t, 0)) == 0
    # a middle slice: only v2's inserts
    assert _diff(feed(1, 2), read_table_changes(spark, t, 1, 2)) == 0
    # the delete commit alone: exactly the 3 deleted keys, signed
    d = feed(2)
    assert _diff(d, read_table_changes(spark, t, 2)) == 0
    assert d.count() == 3
    assert set(
        r.doc_id for r in d.filter(F.col("_change_type") == "delete").collect()
    ) == {3, 6, 9}
    # empty range reads as zero rows, feed schema intact
    e = feed(3)
    assert e.count() == 0
    assert e.columns[-2:] == ["_change_type", "_commit_version"]
    # bad range raises
    with pytest.raises(Exception, match="startingVersion"):
        feed(5, 2).count()


def test_columns_projection_option(spark, tmp_path):
    """option('columns', 'a,b') — explicit projection pushdown (the
    Python DS API has no automatic column pruning): tasks decode only
    the listed columns, parity with read_table().select(), filter
    pruning still composes, and pending merge-on-read deletes whose
    keys the projection drops are refused loudly (silently skipping
    the anti-filter would resurrect deleted rows)."""
    from prox_spark.table import (
        commit_delete_file,
        commit_snapshot,
        compact_table,
        read_manifest,
        read_table,
    )
    from prox_spark.table_ds import register, register_sql

    register(spark)
    t = str(tmp_path / "tbl")
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "source", "n_chars")
    commit_snapshot(spark, t, docs, stat_cols=["doc_id"], n_files=3)

    proj = (
        spark.read.format("prox_table")
        .option("columns", "source,doc_id")
        .load(t)
    )
    assert proj.columns == ["source", "doc_id"]  # user order
    assert _diff(proj, read_table(spark, t).select("source", "doc_id")) == 0
    # pushed filter on a projected stat column still prunes + matches
    a = proj.filter(F.col("doc_id") == 3)
    assert a.count() == 1 and a.first().source is not None
    with pytest.raises(Exception, match="not in the table schema"):
        (
            spark.read.format("prox_table")
            .option("columns", "nope")
            .load(t)
            .count()
        )
    # a pending MoR delete keyed on doc_id: projecting it away refuses
    keys = spark.createDataFrame([(3,)], "doc_id BIGINT")
    commit_delete_file(
        spark, t, keys, ["doc_id"], list(read_manifest(spark, t)["files"])
    )
    with pytest.raises(Exception, match="merge-on-read deletes key on"):
        (
            spark.read.format("prox_table")
            .option("columns", "source")
            .load(t)
            .count()
        )
    # including the key keeps the anti-filter exact...
    ok = (
        spark.read.format("prox_table")
        .option("columns", "doc_id,source")
        .load(t)
    )
    assert ok.filter(F.col("doc_id") == 3).count() == 0
    # ...and compaction folds the deletes, unlocking the narrow read
    compact_table(spark, t)
    narrow = (
        spark.read.format("prox_table").option("columns", "source").load(t)
    )
    assert narrow.columns == ["source"]
    assert narrow.count() == read_table(spark, t).count()
    # register_sql carries the projection
    register_sql(spark, "docs_narrow", t, columns=["source"])
    assert spark.sql("SELECT * FROM docs_narrow").columns == ["source"]
    # streams and change feeds refuse the option
    from prox_spark.table_ds import ProxTableDataSource

    with pytest.raises(ValueError, match="does not support columns"):
        ProxTableDataSource(
            {"path": t, "columns": "source"}
        ).streamReader(None)
    with pytest.raises(ValueError, match="does not compose"):
        ProxTableDataSource(
            {"path": t, "columns": "source", "readchangefeed": "true"}
        ).schema()


def test_q228_source_order_is_null_safe():
    from prox_spark.queries.table_q import _by_source

    rows = [("b", 2), (None, 5), ("a", 1), (None, 3)]
    assert _by_source(rows) == [("a", 1), ("b", 2), (None, 3), (None, 5)]
    assert _by_source(list(reversed(rows))) == _by_source(rows)
