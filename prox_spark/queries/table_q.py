"""Change-data-capture over the manifest-log table format
(prox_spark/table.py): version-diff a table's committed snapshots to
produce the row-level change feed downstream incremental jobs consume.

The reference pipeline full-refreshes every layer (all writes are
mode("overwrite"), reference glue_scripts/gold_data_curation_script.py
:83-84) — at 100 TB a refresh reprocesses everything, so a real
pipeline runs incrementally instead: readers ask "what changed between
version N-1 and N" and touch only those rows. The manifest log makes
that question well-posed (snapshots are immutable and atomically
published; a diff of two pinned versions is consistent by
construction — no torn reads while a writer commits version N+1).

Both engines read the SAME staged snapshot bytes: Spark resolves them
through the real ``read_table(version=...)`` manifest reader (time
travel is the query's input path, not a mock), and the DuckDB oracle
reads the snapshot parquet directories the manifests name.

Staging is Spark-free (pyarrow), deterministic (content derived from
md5 of row ids, fixed snapshot-dir suffixes), idempotent (temp file +
os.replace, existing files reused) — the fixture_store recipe, so
whichever of queries()/oracle_sql() runs first sees a complete table.
The manifests are built by the format's own writer and rewritten when
the staged copy differs, so a fixture always has the committed layout.
"""

from __future__ import annotations

import hashlib
import json
import os

import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from prox_spark import manifest as M
from prox_spark.hashing import (
    _HEXV_DUCK,
    _cms_bucket_duck,
    _u48_expr,
    hex4_duck,
)
from prox_spark.io import read_parquet
from prox_spark.local_frames import values_df, values_df_like

CDC_ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    ".fixtures",
    "cdc_docs",
)

N_CDC_DOCS = 200


def _cdc_versions() -> dict[int, list[tuple[int, str, str]]]:
    """Two deterministic snapshot row sets (doc_id, source, text).

    v1: ids with id % 10 != 7 at revision 0.
    v2: ids with id % 10 != 4; ids divisible by 3 move to revision 1.
    => inserts (id % 10 == 7), deletes (id % 10 == 4), updates
    (surviving ids % 3 == 0), and a majority of unchanged rows the
    diff must NOT emit."""
    def row(i: int, rev: int) -> tuple[int, str, str]:
        filler = hashlib.md5(f"cdc:{i}".encode()).hexdigest()
        return (i, f"src{i % 5}", f"cdc doc {i} rev{rev} {filler}")

    v1 = [row(i, 0) for i in range(N_CDC_DOCS) if i % 10 != 7]
    v2 = [row(i, 1 if i % 3 == 0 else 0) for i in range(N_CDC_DOCS) if i % 10 != 4]
    return {1: v1, 2: v2}


_CDC_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("source", StringType()),
        StructField("text", StringType()),
    ]
)


def _write_parquet_once(path: str, table: pa.Table) -> None:
    """Write ``table`` to ``path`` unless a staged copy exists (temp
    file + os.replace: a reader never sees a partial file)."""
    if os.path.exists(path):
        return
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def _write_json_if_changed(path: str, doc: dict) -> None:
    """Publish ``doc`` at ``path`` unless the file already holds it; a
    file that differs (a manifest staged in an older layout) is
    replaced."""
    text = json.dumps(doc)
    if os.path.exists(path):
        with open(path) as f:
            if f.read() == text:
                return
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        f.write(text)
    os.replace(tmp, path)


def _stage_manifests(root: str, schema: StructType,
                     commits: list[tuple[list[str], bool]]) -> None:
    """Publish versions 1..n of the table at ``root``, one per
    (new files, append) commit whose data files are staged: each doc
    is built by the format's own writer (``manifest.next_doc``) with
    the files' sizes read from disk and no stat columns, so the
    fixture is the committed layout by construction. An append keeps
    the previous version's files; otherwise the version is a full
    snapshot."""
    cur: dict = {}
    for v, (new_files, append) in enumerate(commits, start=1):
        cur, _ = M.next_doc(
            cur, v, list(cur.get("files", [])) if append else [], new_files,
            dict.fromkeys(new_files),
            {f: os.path.getsize(os.path.join(root, f)) for f in new_files},
            stat_cols=[], schema=schema.jsonValue(),
            write_json=lambda rel, doc: _write_json_if_changed(
                os.path.join(root, rel), doc
            ),
        )
        _write_json_if_changed(os.path.join(root, M.manifest_rel(v)), cur)


def stage_cdc_table(root: str = CDC_ROOT) -> tuple[str, dict[int, str]]:
    """Materialize the 2-version table of :func:`_cdc_versions` on
    disk, Spark-free and idempotent. Each version is a full snapshot
    of one file, ``data/snap-<v>-<suffix>/part-00000.parquet``, with
    the manifest :func:`_stage_manifests` builds; a manifest staged in
    an older layout is rewritten. Returns (table_path, {version: abs
    snapshot dir}) — the dirs are what the DuckDB oracles read."""
    snaps: dict[int, str] = {}
    commits = []
    for v, rows in sorted(_cdc_versions().items()):
        suffix = hashlib.md5(f"cdc-snap:{v}".encode()).hexdigest()[:8]
        rel = f"data/snap-{v:08d}-{suffix}/part-00000.parquet"
        _write_parquet_once(
            os.path.join(root, rel),
            pa.table(
                {
                    "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                    "source": pa.array([r[1] for r in rows], pa.string()),
                    "text": pa.array([r[2] for r in rows], pa.string()),
                }
            ),
        )
        snaps[v] = os.path.dirname(os.path.join(root, rel))
        commits.append(([rel], False))
    _stage_manifests(root, _CDC_SCHEMA, commits)
    return root, snaps


def q114_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level change feed between two committed versions: full-outer
    join the pinned snapshots on the primary key and classify each key
    as insert / delete / update (fingerprint mismatch), dropping the
    unchanged majority. ``sf_dir`` is ignored by design — the CDC
    table is its own deterministic dataset (kpi_q pattern).

    Scale shape: the diff is one key-keyed full-outer join between two
    immutable snapshots — at 100 TB both sides are bucketed by the
    key so the join co-locates without a shuffle, and rows compare by
    md5 fingerprint, never by the wide payload. Snapshot isolation
    (atomic manifest publish) is what makes the result exact while
    writers keep committing: both inputs are pinned versions, so the
    feed can be replayed or resumed byte-identically."""
    path, _ = stage_cdc_table()
    from prox_spark.table import read_table

    v1 = read_table(spark, path, version=1).select(
        "doc_id", F.md5("text").alias("old_fp")
    )
    v2 = read_table(spark, path, version=2).select(
        "doc_id", F.md5("text").alias("new_fp")
    )
    j = v1.join(v2, "doc_id", "full_outer")
    return (
        j.withColumn(
            "change",
            F.when(F.col("old_fp").isNull(), F.lit("insert"))
            .when(F.col("new_fp").isNull(), F.lit("delete"))
            .when(F.col("old_fp") != F.col("new_fp"), F.lit("update")),
        )
        .filter(F.col("change").isNotNull())
        .select("doc_id", "change", "old_fp", "new_fp")
        .orderBy("doc_id")
    )


def _oracle_q114() -> str:
    _, snaps = stage_cdc_table()
    return f"""
WITH v1 AS (SELECT doc_id, md5(text) AS old_fp FROM read_parquet('{snaps[1]}/*.parquet')),
v2 AS (SELECT doc_id, md5(text) AS new_fp FROM read_parquet('{snaps[2]}/*.parquet')),
j AS (
  SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id, v1.old_fp, v2.new_fp
  FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
)
SELECT doc_id,
       CASE WHEN old_fp IS NULL THEN 'insert'
            WHEN new_fp IS NULL THEN 'delete'
            WHEN old_fp <> new_fp THEN 'update' END AS change,
       old_fp, new_fp
FROM j
WHERE old_fp IS NULL OR new_fp IS NULL OR old_fp <> new_fp
ORDER BY doc_id
"""


def q118_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance — the consumer of q114's
    change feed: a per-source (n_docs, total_chars) aggregate
    maintained by applying the v1→v2 delta to the v1 aggregate,
    instead of re-aggregating v2 from scratch. The oracle computes
    the v2 aggregate directly, so the hash gate proves the
    incremental path reproduces the full recompute exactly — the
    correctness property that lets a 100 TB pipeline process only the
    changed keys per commit (work ∝ |delta|, not |table|).

    Scale shape: the base aggregate is one groupBy over the OLD
    snapshot (in production it's the previously-materialized result,
    read back, no scan of v1 at all); the delta aggregate touches
    only changed rows from the version diff; the merge is a
    full-outer join on the group key between two already-aggregated
    (tiny) frames. count/sum are the self-maintainable aggregates;
    min/max would need the per-key recompute fallback on deletes."""
    path, _ = stage_cdc_table()
    from prox_spark.table import read_table

    v1 = read_table(spark, path, version=1).select(
        "doc_id", "source", F.length("text").cast("long").alias("chars")
    )
    v2 = read_table(spark, path, version=2).select(
        "doc_id", "source", F.length("text").cast("long").alias("chars")
    )
    base = v1.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("chars").alias("total_chars")
    )
    diff = (
        v1.select("doc_id", F.col("source").alias("old_src"), F.col("chars").alias("old_chars"))
        .join(
            v2.select("doc_id", F.col("source").alias("new_src"), F.col("chars").alias("new_chars")),
            "doc_id",
            "full_outer",
        )
        .filter(
            F.col("old_src").isNull()
            | F.col("new_src").isNull()
            | (F.col("old_chars") != F.col("new_chars"))
        )
    )
    delta = (
        diff.select(
            F.coalesce("new_src", "old_src").alias("source"),
            (
                F.when(F.col("new_src").isNotNull(), 1).otherwise(0)
                - F.when(F.col("old_src").isNotNull(), 1).otherwise(0)
            ).alias("d_docs"),
            (F.coalesce("new_chars", F.lit(0)) - F.coalesce("old_chars", F.lit(0))).alias(
                "d_chars"
            ),
        )
        .groupBy("source")
        .agg(F.sum("d_docs").alias("d_docs"), F.sum("d_chars").alias("d_chars"))
    )
    return (
        base.join(delta, "source", "full_outer")
        .select(
            "source",
            (F.coalesce("n_docs", F.lit(0)) + F.coalesce("d_docs", F.lit(0)))
            .cast("long")
            .alias("n_docs"),
            (F.coalesce("total_chars", F.lit(0)) + F.coalesce("d_chars", F.lit(0)))
            .cast("long")
            .alias("total_chars"),
        )
        .filter(F.col("n_docs") > 0)
        .orderBy("source")
    )


def _oracle_q118() -> str:
    _, snaps = stage_cdc_table()
    return f"""
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(length(text)) AS BIGINT) AS total_chars
FROM read_parquet('{snaps[2]}/*.parquet')
GROUP BY source
ORDER BY source
"""


def q152_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CONSUME half of the CDC loop: build the v1->v2 change feed
    (q114's diff, here carrying the new payloads), apply it to a fresh
    downstream table seeded at v1 via prox_spark.upsert.apply_changes
    (delete + upsert in ONE atomic snapshot commit), and aggregate the
    result. If apply is exact, the downstream table IS v2 — the oracle
    reads the staged v2 snapshot bytes directly, so any drop, dup, or
    mis-applied op breaks the hash. ``sf_dir`` ignored by design (the
    CDC table is its own dataset, kpi_q pattern)."""
    import tempfile
    import uuid

    from prox_spark.table import commit_snapshot, read_table
    from prox_spark.upsert import apply_changes

    path, _ = stage_cdc_table()
    v1 = read_table(spark, path, version=1)
    v2 = read_table(spark, path, version=2)
    # downstream work table seeded at v1 through the real commit path
    work = tempfile.mkdtemp(prefix=f"prox_cdc_apply_{uuid.uuid4().hex[:8]}_") + "/t"
    import atexit
    import os
    import shutil

    atexit.register(shutil.rmtree, os.path.dirname(work), ignore_errors=True)
    commit_snapshot(spark, work, v1)
    # the feed: diff v1/v2 by fingerprint, carry v2 payloads for
    # insert/update; deletes carry v1's key with null payload
    a = v1.select("doc_id", F.md5("text").alias("old_fp"))
    b = v2.select("doc_id", F.md5("text").alias("new_fp"))
    cls = (
        a.join(b, "doc_id", "full_outer")
        .withColumn(
            "change",
            F.when(F.col("old_fp").isNull(), F.lit("insert"))
            .when(F.col("new_fp").isNull(), F.lit("delete"))
            .when(F.col("old_fp") != F.col("new_fp"), F.lit("update")),
        )
        .filter(F.col("change").isNotNull())
        .select("doc_id", "change")
    )
    feed = cls.join(v2, "doc_id", "left").select(
        "doc_id", "source", "text", "change"
    )
    apply_changes(spark, work, feed, ["doc_id"])
    applied = read_table(spark, work)
    return (
        applied.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("doc_id").alias("sum_ids"),
            F.countDistinct(F.md5("text")).alias("n_distinct_texts"),
        )
        .orderBy("source")
    )


def _oracle_q152() -> str:
    _, snaps = stage_cdc_table()
    return f"""
SELECT source,
       count(*) AS n_docs,
       CAST(sum(doc_id) AS BIGINT) AS sum_ids,
       count(DISTINCT md5(text)) AS n_distinct_texts
FROM read_parquet('{snaps[2]}/*.parquet')
GROUP BY source
ORDER BY source
"""


def q153_streaming_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CDC loop end-to-end INCREMENTAL: the v1->v2 change feed
    arrives as a STREAM of micro-batches (file source, one feed file
    per trigger) and a ``foreachBatch`` sink applies each batch to the
    downstream table through prox_spark.upsert.apply_changes — one
    atomic file-granular commit per micro-batch, exactly the
    streaming-merge pattern of streaming.py run_stream_upsert_latest
    but through the manifest table format. After the stream drains,
    the downstream table must BE v2: the oracle reads the staged v2
    snapshot bytes directly, so a dropped batch, a torn commit, or a
    mis-applied op breaks the hash. Batches partition the feed by key
    (each key changes once per feed), so apply order across batches
    cannot matter — and each apply is idempotent under replay
    (re-upserting an applied row / re-deleting an absent key are
    no-ops), the property a restarted stream needs. ``sf_dir`` ignored
    by design (the CDC table is its own dataset, kpi_q pattern)."""
    import tempfile
    import uuid as _uuid

    from prox_spark.table import commit_snapshot, read_table
    from prox_spark.upsert import apply_changes

    path, _ = stage_cdc_table()
    v1 = read_table(spark, path, version=1)
    v2 = read_table(spark, path, version=2)
    scratch = tempfile.mkdtemp(prefix=f"prox_cdc_stream_{_uuid.uuid4().hex[:8]}_")
    import atexit
    import shutil

    atexit.register(shutil.rmtree, scratch, ignore_errors=True)
    work = f"{scratch}/t"
    commit_snapshot(spark, work, v1, stat_cols=["doc_id"])

    # the feed, staged as N_BATCH files -> N_BATCH micro-batches
    a = v1.select("doc_id", F.md5("text").alias("old_fp"))
    b = v2.select("doc_id", F.md5("text").alias("new_fp"))
    cls = (
        a.join(b, "doc_id", "full_outer")
        .withColumn(
            "change",
            F.when(F.col("old_fp").isNull(), F.lit("insert"))
            .when(F.col("new_fp").isNull(), F.lit("delete"))
            .when(F.col("old_fp") != F.col("new_fp"), F.lit("update")),
        )
        .filter(F.col("change").isNotNull())
        .select("doc_id", "change")
    )
    feed = cls.join(v2, "doc_id", "left").select(
        "doc_id", "source", "text", "change"
    )
    n_batch = 4
    feed_dir = f"{scratch}/feed"
    # ONE write job stages all n_batch feed files (hash-partitioned on
    # the key — each doc_id lands in exactly one file, which is the
    # only property the micro-batches need: each key changes once, so
    # the composed apply is batch-assignment-independent). The r11
    # form ran four sequential filter+coalesce(1) writes off a cached
    # diff — 4 jobs plus a cache pin (guide §1.2: fewer passes).
    feed.repartition(n_batch, "doc_id").write.parquet(feed_dir)
    feed_schema = read_parquet(spark, feed_dir).schema

    def _apply(batch_df: DataFrame, _batch_id: int) -> None:
        apply_changes(spark, work, batch_df, ["doc_id"])

    stream = (
        spark.readStream.schema(feed_schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(feed_dir)
    )
    from prox_spark.queries.streaming_q import _stream_partitions

    # size the per-batch merge joins to the stream scope (r13): each
    # micro-batch's apply_changes otherwise planned its anti-join at
    # the session-wide 32 shuffle partitions for a 4-file feed
    with _stream_partitions(spark):
        q = (
            stream.writeStream.foreachBatch(_apply)
            .option("checkpointLocation", f"{scratch}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        finished = q.awaitTermination(120)
    exc = q.exception()
    if exc is not None:
        raise exc
    if not finished:
        q.stop()
        raise TimeoutError("q153 change-feed stream did not drain in 120s")

    applied = read_table(spark, work)
    return (
        applied.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("doc_id").alias("sum_ids"),
            F.sum(F.length("text")).cast("long").alias("sum_chars"),
        )
        .orderBy("source")
    )


def _oracle_q153() -> str:
    _, snaps = stage_cdc_table()
    return f"""
SELECT source,
       count(*) AS n_docs,
       CAST(sum(doc_id) AS BIGINT) AS sum_ids,
       CAST(sum(length(text)) AS BIGINT) AS sum_chars
FROM read_parquet('{snaps[2]}/*.parquet')
GROUP BY source
ORDER BY source
"""


# probe keys for the point-lookup gate: present at every sf (doc_ids are
# 0..N-1 with N >= 500 at the gated scales); a missing id is simply an
# empty lookup on both engines
PL_PROBES = (1, 123, 250, 499)
_PL_CACHE: dict[str, str] = {}


def _pl_table(spark: SparkSession, sf_dir: str) -> str:
    """documents as a range-clustered multi-file manifest table, staged
    once per process (commit_snapshot with key stats + blooms)."""
    from prox_spark.queries._staging import staged
    from prox_spark.table import commit_snapshot

    def build(scratch: str) -> str:
        table = f"{scratch}/docs"
        docs = read_parquet(spark, f"{sf_dir}/documents.parquet").select(
            "doc_id", "source", "n_chars"
        )
        commit_snapshot(spark, table, docs, stat_cols=["doc_id"], n_files=16)
        return table

    return staged(_PL_CACHE, sf_dir, "prox_pl_table_", build)


def q154_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed POINT LOOKUPS through the manifest table format: the
    documents table committed as 16 range-disjoint, bloom-filtered
    files, probed per key via prox_spark.table.read_table_point — the
    manifest's min/max stats prune to ~1 file per probe DRIVER-SIDE
    (before any Spark planning), and the parquet blooms reject
    non-matching row groups inside the survivor. The oracle re-reads
    the same keys from the clean table, so a wrong manifest stat, a
    mis-pruned file, or a stale snapshot shows up as a hash mismatch.
    File-skipping itself is asserted in tests/test_table_format.py
    (test_point_lookup_skips_files)."""
    from functools import reduce

    from prox_spark.table import read_table_point

    table = _pl_table(spark, sf_dir)
    frames = [
        read_table_point(spark, table, {"doc_id": k}) for k in PL_PROBES
    ]
    return reduce(lambda a, b: a.unionByName(b), frames).orderBy("doc_id")


ORACLE_Q154 = f"""
SELECT doc_id, source, n_chars
FROM documents
WHERE doc_id IN ({", ".join(str(k) for k in PL_PROBES)})
ORDER BY doc_id
"""


def q159_mor_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-ON-READ delete through the real table format: seed a work
    table from the staged v1 snapshot (range-clustered, 8 files), then
    delete every doc_id ≡ 1 (mod 10) via
    prox_spark.upsert.delete_keys_mor — which must commit ONLY a key
    file: the gate's ``zero_rewrite`` column (oracle pins TRUE) is
    computed by comparing the manifests' data-file lists before/after,
    so a delete that rewrote (or dropped) any data file fails even if
    the surviving rows are right. The row-side aggregate comes from
    ``read_table`` over the new version — i.e. through the anti-join
    masking path — and the oracle recomputes it from the staged v1
    bytes with the same ids filtered out, so a mis-targeted or leaky
    mask breaks the hash too. ``sf_dir`` ignored by design (the CDC
    table is its own dataset, kpi_q pattern)."""
    import atexit
    import shutil
    import tempfile
    import uuid as _uuid

    from prox_spark.table import commit_snapshot, read_manifest, read_table
    from prox_spark.upsert import delete_keys_mor

    path, _ = stage_cdc_table()
    v1 = read_table(spark, path, version=1)
    scratch = tempfile.mkdtemp(prefix=f"prox_mor_del_{_uuid.uuid4().hex[:8]}_")
    atexit.register(shutil.rmtree, scratch, ignore_errors=True)
    work = f"{scratch}/t"
    commit_snapshot(spark, work, v1, stat_cols=["doc_id"], n_files=8)
    before = set(read_manifest(spark, work)["files"])

    dels = v1.filter(F.col("doc_id") % 10 == 1).select("doc_id")
    delete_keys_mor(spark, work, dels, ["doc_id"])

    after = read_manifest(spark, work)
    zero_rewrite = set(after["files"]) == before and bool(after.get("deletes"))
    return (
        read_table(spark, work)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("doc_id").alias("sum_ids"),
        )
        .withColumn("zero_rewrite", F.lit(zero_rewrite))
        .orderBy("source")
    )


def _oracle_q159() -> str:
    _, snaps = stage_cdc_table()
    return f"""
SELECT source,
       count(*) AS n_docs,
       CAST(sum(doc_id) AS BIGINT) AS sum_ids,
       TRUE AS zero_rewrite
FROM read_parquet('{snaps[1]}/*.parquet')
WHERE doc_id % 10 != 1
GROUP BY source
ORDER BY source
"""


def q166_rename_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rewrite-free column rename through the real table format, under
    the hash gate: seed a work table from the staged v1 snapshot,
    rename ``text`` -> ``body`` (a METADATA commit — the gate's
    ``zero_rewrite`` column, oracle-pinned TRUE, compares the data-
    file lists across the rename version, so a rename that rewrote
    anything fails even with correct rows), then merge a post-rename
    batch so the table holds BOTH generations: files physically
    carrying the old column name (read through the birth-versioned
    mapping, prox_spark/table.py rename_column) and files born with
    the new name. The aggregate reads through read_table — i.e.
    through the mixed-generation mapping path — and the oracle
    re-derives it from the staged v1 bytes with the same update
    applied, so a mis-mapped, dropped, or stale column breaks the
    hash. ``sf_dir`` ignored by design (kpi_q pattern)."""
    import atexit
    import shutil
    import tempfile
    import uuid as _uuid

    from prox_spark.table import (
        commit_snapshot,
        read_manifest,
        read_table,
        rename_column,
    )
    from prox_spark.upsert import upsert_parquet

    path, _ = stage_cdc_table()
    v1 = read_table(spark, path, version=1)
    scratch = tempfile.mkdtemp(prefix=f"prox_rename_{_uuid.uuid4().hex[:8]}_")
    atexit.register(shutil.rmtree, scratch, ignore_errors=True)
    work = f"{scratch}/t"
    commit_snapshot(spark, work, v1, stat_cols=["doc_id"], n_files=8)
    before = set(read_manifest(spark, work)["files"])
    rename_column(spark, work, "text", "body")
    zero_rewrite = set(read_manifest(spark, work)["files"]) == before

    ups = (
        v1.filter(F.col("doc_id") % 10 == 2)
        .select(
            "doc_id", "source",
            F.concat(F.lit("UPD:"), F.col("text")).alias("body"),
        )
    )
    upsert_parquet(spark, work, ups, ["doc_id"])
    return (
        read_table(spark, work)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("doc_id").cast("long").alias("sum_ids"),
            F.sum(F.length("body")).cast("long").alias("sum_body_len"),
        )
        .withColumn("zero_rewrite", F.lit(bool(zero_rewrite)))
        .orderBy("source")
    )


def _oracle_q166() -> str:
    _, snaps = stage_cdc_table()
    return f"""
WITH cur AS (
  SELECT doc_id, source,
         CASE WHEN doc_id % 10 = 2 THEN 'UPD:' || text ELSE text END AS body
  FROM read_parquet('{snaps[1]}/*.parquet')
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(doc_id) AS BIGINT) AS sum_ids,
       CAST(sum(length(body)) AS BIGINT) AS sum_body_len,
       TRUE AS zero_rewrite
FROM cur
GROUP BY source
ORDER BY source
"""


CHUNKED_N_FILES = 600  # > CHUNK_THRESHOLD (256): forces the v2 layout

_CHUNKED_CACHE: dict[str, str] = {}


def _chunked_table(spark: SparkSession, sf_dir: str) -> str:
    """documents as a CHUNKED-layout manifest table, staged once per
    process into a tempdir (the _pl_table recipe — a persistent
    fixture keyed on the sf path would serve stale rows if the
    testdata were ever regenerated, and a half-finished first staging
    would wedge every later run). Narrow columns and blooms sized to
    the per-file row count: the default 100k-NDV bloom is ~120 KB —
    bigger than a whole one-row part file at this fan-out."""
    from prox_spark.queries._staging import staged
    from prox_spark.table import commit_snapshot

    def build(scratch: str) -> str:
        table = f"{scratch}/docs"
        docs = read_parquet(spark, f"{sf_dir}/documents.parquet").select(
            "doc_id", "source", "n_chars"
        )
        commit_snapshot(
            spark, table, docs, stat_cols=["doc_id"],
            n_files=CHUNKED_N_FILES, bloom_ndv=1024,
        )
        return table

    return staged(_CHUNKED_CACHE, sf_dir, "prox_chunked_docs_", build)


def q167_chunked_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point lookups through the CHUNKED (v2) manifest layout — the
    driver-gated counterpart of tests/test_chunked_manifest.py: the documents
    table is staged per process as a CHUNKED_N_FILES-way range-
    clustered commit, which exceeds CHUNK_THRESHOLD so the snapshot
    references immutable chunk files with per-chunk key ranges (the
    gate's ``is_chunked`` column, oracle-pinned TRUE, reads the raw
    snapshot doc — a layout regression to the inline single-doc form
    fails even with correct rows). Each probe resolves through
    read_table_point → read_manifest_pruned, so chunk files outside
    the probed key's range are never even opened, then per-file
    min/max stats prune inside the surviving chunks — the two-level
    metadata path a 10^7-file table needs. Probe keys derive from
    max(doc_id) by integer arithmetic (sf-invariant); the staged
    commit also exercises the empty-part-file drop (600 writers over
    a small corpus leave empty partitions that must NOT become
    always-hot 'unknown range' manifest entries)."""
    from functools import reduce

    from prox_spark.table import (
        _read_manifest_file,
        read_table_point,
        table_versions,
    )

    stage = _chunked_table(spark, sf_dir)
    doc = _read_manifest_file(spark, stage, table_versions(spark, stage)[-1])
    is_chunked = "chunks" in doc and "files" not in doc
    max_id = (
        read_parquet(spark, f"{sf_dir}/documents.parquet")
        .agg(F.max("doc_id")).collect()[0][0]
    )
    probes = [(max_id * k) // 10 for k in (1, 4, 7)]
    out = reduce(
        lambda a, b: a.unionByName(b),
        [
            read_table_point(spark, stage, {"doc_id": p}).select(
                "doc_id", "source", "n_chars"
            )
            for p in probes
        ],
    )
    return (
        out.withColumn("is_chunked", F.lit(bool(is_chunked)))
        .orderBy("doc_id")
    )


ORACLE_Q167 = """
WITH probes AS (
  SELECT (max(doc_id) * k) // 10 AS doc_id
  FROM documents, (SELECT unnest([1, 4, 7]) AS k)
  GROUP BY k
)
SELECT d.doc_id, d.source, d.n_chars, TRUE AS is_chunked
FROM documents d JOIN probes USING (doc_id)
ORDER BY d.doc_id
"""


_SPEC_EVO_CACHE: dict[str, str] = {}


def _spec_evolved_table(spark: SparkSession, sf_dir: str) -> str:
    """documents as a MIXED-SPEC manifest table, staged once per
    process (the _chunked_table recipe): the first half commits
    clustered/statted on doc_id, then :func:`set_cluster_spec` flips
    the spec to n_chars METADATA-ONLY, and the second half commits
    under the new spec — so the staged table holds files whose
    recorded stats cover doc_id only next to files covering n_chars
    only, exactly the state a 100 TB table lives in for months after
    a partition-spec change (Iceberg spec-evolution semantics: old
    files are never rewritten for a spec change)."""
    from prox_spark.queries._staging import staged
    from prox_spark.table import (
        commit_delta,
        commit_snapshot,
        read_manifest,
        set_cluster_spec,
    )

    def build(scratch: str) -> str:
        table = f"{scratch}/docs"
        docs = read_parquet(spark, f"{sf_dir}/documents.parquet").select(
            "doc_id", "source", "n_chars"
        )
        split = docs.agg(F.max("doc_id")).collect()[0][0] // 2
        commit_snapshot(
            spark, table, docs.filter(F.col("doc_id") <= split),
            stat_cols=["doc_id"], n_files=6, bloom_ndv=1024,
        )
        set_cluster_spec(spark, table, ["n_chars"])
        old_files = read_manifest(spark, table)["files"]
        commit_delta(
            spark, table, docs.filter(F.col("doc_id") > split),
            list(old_files), n_files=6, bloom_ndv=1024,
            update_key_ranges={},
        )
        return table

    return staged(_SPEC_EVO_CACHE, sf_dir, "prox_spec_evo_docs_", build)


def q171_cluster_spec_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-spec evolution under the driver gate — the Iceberg
    partition-spec-evolution parity query: the staged table's first
    generation is clustered on doc_id, the spec then flips to n_chars
    metadata-only, and a second generation commits under the new spec
    (:func:`_spec_evolved_table`). The query point-probes BOTH specs
    through :func:`read_table_point` — a doc_id probe (old-spec files
    prune by their recorded id ranges; new-spec files are
    conservatively hot) and an n_chars probe (the mirror) — and
    pins ``spec_evolved`` TRUE only when the raw snapshot declares the
    NEW spec while old-generation files still carry old-spec-only
    stats (i.e. the table is genuinely mixed — a regression that
    rewrote old files or lost the spec change fails even with correct
    rows)."""
    from prox_spark.table import (
        _read_manifest_file,
        read_manifest,
        read_table_point,
        table_versions,
    )

    stage = _spec_evolved_table(spark, sf_dir)
    raw = _read_manifest_file(spark, stage, table_versions(spark, stage)[-1])
    m = read_manifest(spark, stage)
    stats = m.get("stats") or {}
    id_only = [f for f in m["files"]
               if "doc_id" in (stats.get(f) or {})
               and "n_chars" not in (stats.get(f) or {})]
    nc_files = [f for f in m["files"] if "n_chars" in (stats.get(f) or {})]
    spec_evolved = (
        raw.get("stat_cols") == ["n_chars"] and bool(id_only) and bool(nc_files)
    )
    src = read_parquet(spark, f"{sf_dir}/documents.parquet")
    row = src.agg(
        F.max("doc_id").alias("mx"), F.max("n_chars").alias("nc")
    ).collect()[0]
    probe_id = (row["mx"] * 2) // 10  # inside the old-spec half
    probe_nc = row["nc"]
    a = (
        read_table_point(spark, stage, {"doc_id": probe_id})
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("doc_id").cast("long").alias("sum_ids"),
        )
        .select(F.lit("doc_id").alias("probe"), "n_rows", "sum_ids")
    )
    b = (
        read_table_point(spark, stage, {"n_chars": probe_nc})
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("doc_id").cast("long").alias("sum_ids"),
        )
        .select(F.lit("n_chars").alias("probe"), "n_rows", "sum_ids")
    )
    return (
        a.unionByName(b)
        .withColumn("spec_evolved", F.lit(bool(spec_evolved)))
        .orderBy("probe")
    )


ORACLE_Q171 = """
WITH probe_id AS (SELECT (max(doc_id) * 2) // 10 AS pid FROM documents),
probe_nc AS (SELECT max(n_chars) AS nc FROM documents)
SELECT 'doc_id' AS probe,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(doc_id) AS BIGINT) AS sum_ids,
       TRUE AS spec_evolved
FROM documents, probe_id WHERE doc_id = pid
UNION ALL
SELECT 'n_chars' AS probe,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(doc_id) AS BIGINT) AS sum_ids,
       TRUE AS spec_evolved
FROM documents, probe_nc WHERE n_chars = nc
ORDER BY probe
"""


# --- q173: auto-maintenance policy under the gate --------------------------

_MAINT_CACHE: dict[str, tuple] = {}


def _maintained_table(spark: SparkSession, sf_dir: str) -> tuple:
    """A documents-backed table driven through the FULL auto-
    maintenance lifecycle, staged once per process: seed → 9
    fragmenting single-row merges (each leaves one small delta file)
    → maintain_table #1 (must consolidate small files — decided from
    the manifest's commit-time ``sizes`` record, zero stat RPCs) → 5
    merge-on-read deletes (past the pending cap) → maintain_table #2
    (must fold them). Returns (table_path, flags dict)."""
    from prox_spark.queries._staging import staged
    from prox_spark.table import (
        commit_snapshot,
        maintain_table,
        read_manifest,
        read_table,
    )
    from prox_spark.upsert import delete_keys_mor, upsert_parquet

    def build(scratch: str) -> tuple:
        table = f"{scratch}/docs"
        docs = read_parquet(spark, f"{sf_dir}/documents.parquet").select(
            "doc_id", "source", "n_chars"
        )
        mx = docs.agg(F.max("doc_id")).collect()[0][0]
        commit_snapshot(spark, table, docs, stat_cols=["doc_id"], n_files=4)
        up_ids = [(mx * k) // 10 for k in range(1, 10)]
        for uid in up_ids:
            upd = (
                read_table(spark, table)
                .filter(F.col("doc_id") == uid)
                .withColumn("n_chars", F.col("n_chars") + F.lit(1000))
            )
            upsert_parquet(spark, table, upd, ["doc_id"])
        m = read_manifest(spark, table)
        sizes_metadata = set(m.get("sizes") or {}) == set(m["files"])
        r1 = maintain_table(
            spark, table, max_small_files=8, keep_versions=2,
            retention_minutes=0.0,
        )
        for k in range(1, 6):
            delete_keys_mor(
                spark, table,
                spark.createDataFrame([((mx * k) // 10,)], "doc_id long"),
                ["doc_id"],
            )
        r2 = maintain_table(
            spark, table, max_pending_deletes=4, keep_versions=2,
            retention_minutes=0.0,
        )
        flags = {
            "compacted_small": r1["compacted_small"] is not None,
            "folded_deletes": bool(r2["folded_deletes"]),
            "sizes_metadata": bool(sizes_metadata),
        }
        return table, flags

    return staged(_MAINT_CACHE, sf_dir, "prox_maint_docs_", build)


def q173_auto_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The auto-maintenance policy (:func:`prox_spark.table.
    maintain_table`) under the driver gate: the staged lifecycle
    (:func:`_maintained_table`) fragments a table with 9 single-row
    merges, lets the policy consolidate them (small-file decision made
    from the manifest's commit-time ``sizes`` record — the
    ``sizes_metadata`` column pins that the record actually covered
    every live file, i.e. the zero-RPC path was available), then
    accrues 5 pending merge-on-read deletes and lets the second cycle
    fold them. The aggregate over the final table must equal the
    oracle's direct computation (updates applied, deletes gone) — a
    maintenance pass that lost or resurrected a row fails the hash
    gate, and a policy that didn't run fails the pinned flags."""
    table, flags = _maintained_table(spark, sf_dir)
    from prox_spark.table import read_table

    return (
        read_table(spark, table)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("doc_id").cast("long").alias("sum_ids"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
        .withColumn("compacted_small", F.lit(flags["compacted_small"]))
        .withColumn("folded_deletes", F.lit(flags["folded_deletes"]))
        .withColumn("sizes_metadata", F.lit(flags["sizes_metadata"]))
    )


ORACLE_Q173 = """
WITH mx AS (SELECT max(doc_id) AS m FROM documents),
up_ids AS (
  SELECT (m * k) // 10 AS doc_id FROM mx, (SELECT unnest(range(1, 10)) AS k)
),
del_ids AS (
  SELECT (m * k) // 10 AS doc_id FROM mx, (SELECT unnest(range(1, 6)) AS k)
),
final AS (
  SELECT d.doc_id,
         CASE WHEN d.doc_id IN (SELECT doc_id FROM up_ids)
              THEN d.n_chars + 1000 ELSE d.n_chars END AS n_chars
  FROM documents d
  WHERE d.doc_id NOT IN (SELECT doc_id FROM del_ids)
)
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(doc_id) AS BIGINT) AS sum_ids,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       TRUE AS compacted_small,
       TRUE AS folded_deletes,
       TRUE AS sizes_metadata
FROM final
"""


# --- q178: write-audit-publish branch flow ---------------------------------

_WAP_CACHE: dict[str, tuple] = {}

WAP_GOOD_ROWS = 50
WAP_BAD_ROWS = 7


def _wap_table(spark: SparkSession, sf_dir: str) -> tuple:
    """The full write-audit-publish lifecycle, staged once per
    process: a REJECTED branch first (staged rows fail the audit, the
    branch is dropped, main never sees them), then an APPROVED branch
    (staged rows pass, one atomic fast-forward publishes them).
    Returns (table_path, flags dict) — every flag must come back True
    or the gate's pinned-TRUE oracle columns mismatch.

    This is the publish pattern the reference lacks (it overwrites
    prod tables in place, gold_data_curation_script.py:83-84): at
    100 TB the audit must run against the EXACT files that will serve
    prod, and the publish must be one metadata CAS — both are what
    table.py's branch refs give (fast_forward re-targets the audited
    manifest, it never rewrites data)."""
    from prox_spark.queries._staging import staged
    from prox_spark.table import (
        commit_delta,
        commit_snapshot,
        create_branch,
        drop_branch,
        fast_forward,
        list_branches,
        read_manifest,
        read_table,
        table_versions,
    )

    def _stage_rows(first_id: int, n: int, chars) -> DataFrame:
        rows = [(first_id + i, "wap_feed", chars(i)) for i in range(n)]
        return spark.createDataFrame(
            rows, "doc_id long, source string, n_chars long"
        )

    def build(scratch: str) -> tuple:
        table = f"{scratch}/docs"
        docs = read_parquet(spark, f"{sf_dir}/documents.parquet").select(
            "doc_id", "source", "n_chars"
        )
        base_n = docs.count()
        commit_snapshot(spark, table, docs, stat_cols=["doc_id"], n_files=8)

        def _append(branch: str, batch: DataFrame) -> None:
            prev = read_manifest(spark, table, ref=branch)
            commit_delta(
                spark, table, batch, list(prev["files"]),
                ref=branch, update_key_ranges={},
            )

        # 1) a batch that FAILS the audit: staged, audited, discarded —
        # main must never have seen it
        create_branch(spark, table, "quarantine")
        _append(
            "quarantine",
            _stage_rows(20_000_000, WAP_BAD_ROWS, lambda i: -1),
        )
        bad = (
            read_table(spark, table, ref="quarantine")
            .filter(F.col("n_chars") < 0).count()
        )
        drop_branch(spark, table, "quarantine")
        rejected_discarded = (
            bad == WAP_BAD_ROWS
            and table_versions(spark, table) == [1]
            and "quarantine" not in list_branches(spark, table)
        )

        # 2) a batch that PASSES: staged, audited against the exact
        # bytes, then published atomically
        create_branch(spark, table, "audit")
        _append(
            "audit",
            _stage_rows(10_000_000, WAP_GOOD_ROWS, lambda i: 100 + 7 * i),
        )
        main_isolated = (
            read_table(spark, table).count() == base_n
            and table_versions(spark, table) == [1]
        )
        staged_df = read_table(spark, table, ref="audit")
        audit_passed = (
            staged_df.count() == base_n + WAP_GOOD_ROWS
            and staged_df.filter(F.col("n_chars") < 0).count() == 0
        )
        new_v = fast_forward(spark, table, "audit")
        published = (
            new_v == 2
            and read_table(spark, table).count() == base_n + WAP_GOOD_ROWS
            and list_branches(spark, table) == {}
        )
        flags = {
            "main_isolated": bool(main_isolated),
            "audit_passed": bool(audit_passed),
            "rejected_discarded": bool(rejected_discarded),
            "published": bool(published),
        }
        return table, flags

    return staged(_WAP_CACHE, sf_dir, "prox_wap_docs_", build)


def q178_wap_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-audit-publish under the driver gate: the staged lifecycle
    (:func:`_wap_table`) rejects one branch and publishes another, and
    the per-source aggregate over MAIN after the publish must equal the
    oracle's direct computation (base corpus + exactly the approved
    batch — a publish that leaked the rejected rows, dropped staged
    rows, or double-applied the batch fails the hash gate; a branch
    flow that wasn't isolated/audited/atomic fails the pinned flags).

    Scale shape: the branch fork and the publish are each ONE manifest
    document of metadata — zero data movement at any table size; the
    audit reads only the staged files (manifest-resolved), and main
    readers plan against an immutable published version throughout."""
    table, flags = _wap_table(spark, sf_dir)
    from prox_spark.table import read_table

    return (
        read_table(spark, table)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
        .withColumn("main_isolated", F.lit(flags["main_isolated"]))
        .withColumn("audit_passed", F.lit(flags["audit_passed"]))
        .withColumn("rejected_discarded", F.lit(flags["rejected_discarded"]))
        .withColumn("published", F.lit(flags["published"]))
        .orderBy("source")
    )


ORACLE_Q178 = f"""
WITH wap AS (
  SELECT 'wap_feed' AS source, CAST(100 + 7 * range AS BIGINT) AS n_chars
  FROM range({WAP_GOOD_ROWS})
),
allrows AS (
  SELECT source, CAST(n_chars AS BIGINT) AS n_chars FROM documents
  UNION ALL
  SELECT source, n_chars FROM wap
)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       TRUE AS main_isolated, TRUE AS audit_passed,
       TRUE AS rejected_discarded, TRUE AS published
FROM allrows
GROUP BY source
ORDER BY source
"""


# --- q182: tag-pinned rollback (bad-deploy recovery) ------------------------

_ROLLBACK_CACHE: dict[str, tuple] = {}

RB_GOOD_ROWS = 40
RB_BAD_ROWS = 9


def _rollback_table(spark: SparkSession, sf_dir: str) -> tuple:
    """The bad-deploy recovery lifecycle, staged once per process:
    v1 = base corpus, v2 = a good release batch (TAGGED 'release'),
    v3 = a corrupt batch, rollback to the tag -> v4, then a vacuum
    that must keep the tagged version while aging the others out.
    Returns (table_path, flags) — every flag must come back True or
    q182's pinned-TRUE oracle columns mismatch.

    The reference has no undo: a bad Glue run overwrites prod in
    place (gold_data_curation_script.py mode('overwrite')) and the
    previous state is simply gone. Here recovery is one metadata
    commit (rollback_table re-publishes the tagged manifest — zero
    data movement at any table size), the corrupt version stays
    readable for forensics until vacuum, and the tag pins its bytes
    against vacuum indefinitely."""
    from prox_spark.queries._staging import staged
    from prox_spark.table import (
        commit_delta,
        commit_snapshot,
        create_tag,
        read_manifest,
        read_table,
        rollback_table,
        table_versions,
        tag_version,
        vacuum,
    )

    def _batch(first_id: int, n: int, chars) -> DataFrame:
        rows = [(first_id + i, "release_feed", chars(i)) for i in range(n)]
        return spark.createDataFrame(
            rows, "doc_id long, source string, n_chars long"
        )

    def build(scratch: str) -> tuple:
        table = f"{scratch}/docs"
        docs = read_parquet(spark, f"{sf_dir}/documents.parquet").select(
            "doc_id", "source", "n_chars"
        )
        base_n = docs.count()
        commit_snapshot(spark, table, docs, stat_cols=["doc_id"], n_files=8)

        def _append(batch: DataFrame) -> None:
            prev = read_manifest(spark, table)
            commit_delta(
                spark, table, batch, list(prev["files"]),
                update_key_ranges={},
            )

        # v2: the good release, tagged at publish time
        _append(_batch(30_000_000, RB_GOOD_ROWS, lambda i: 10 + 3 * i))
        create_tag(spark, table, "release")
        # v3: the bad deploy (negative n_chars = corrupt)
        _append(_batch(40_000_000, RB_BAD_ROWS, lambda i: -1))
        bad_visible = (
            read_table(spark, table).filter(F.col("n_chars") < 0).count()
            == RB_BAD_ROWS
        )
        # recovery: one metadata commit back to the tagged state
        new_v = rollback_table(spark, table, tag_version(spark, table, "release"))
        main = read_table(spark, table)
        rolled_back = (
            new_v == 4
            and main.count() == base_n + RB_GOOD_ROWS
            and main.filter(F.col("n_chars") < 0).count() == 0
        )
        # forensics: the bad version stays readable until vacuumed
        forensics = (
            read_table(spark, table, version=3)
            .filter(F.col("n_chars") < 0).count() == RB_BAD_ROWS
        )
        # vacuum ages v1/v3 out but the TAG pins v2 (keep_last=1 keeps
        # only v4, whose files are v2's anyway; retention 0 = eager)
        vacuum(spark, table, keep_last=1, retention_minutes=0.0)
        tag_survived = (
            tag_version(spark, table, "release") == 2
            and read_table(spark, table, version=2).count()
            == base_n + RB_GOOD_ROWS
            and table_versions(spark, table) == [2, 4]
        )
        flags = {
            "bad_visible": bool(bad_visible),
            "rolled_back": bool(rolled_back),
            "forensics": bool(forensics),
            "tag_survived": bool(tag_survived),
        }
        return table, flags

    return staged(_ROLLBACK_CACHE, sf_dir, "prox_rollback_docs_", build)


def q182_tagged_rollback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tag-pinned rollback under the driver gate: the staged lifecycle
    (:func:`_rollback_table`) deploys a good batch (tagged), a corrupt
    batch, rolls back to the tag, and vacuums. The per-source
    aggregate over MAIN must equal the oracle's direct computation
    (base corpus + exactly the good batch — a rollback that leaked
    corrupt rows, dropped release rows, or restored the wrong version
    fails the hash gate; a lifecycle whose visibility/forensics/
    tag-pinning misbehaved fails the pinned flags).

    Scale shape: rollback and tagging are each ONE manifest document
    of metadata — zero data movement at any table size; vacuum's
    protection set is computed from manifests, never by rewriting
    data."""
    table, flags = _rollback_table(spark, sf_dir)
    from prox_spark.table import read_table

    return (
        read_table(spark, table)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
        .withColumn("bad_visible", F.lit(flags["bad_visible"]))
        .withColumn("rolled_back", F.lit(flags["rolled_back"]))
        .withColumn("forensics", F.lit(flags["forensics"]))
        .withColumn("tag_survived", F.lit(flags["tag_survived"]))
        .orderBy("source")
    )


ORACLE_Q182 = f"""
WITH rel AS (
  SELECT 'release_feed' AS source, CAST(10 + 3 * range AS BIGINT) AS n_chars
  FROM range({RB_GOOD_ROWS})
),
allrows AS (
  SELECT source, CAST(n_chars AS BIGINT) AS n_chars FROM documents
  UNION ALL
  SELECT source, n_chars FROM rel
)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       TRUE AS bad_visible, TRUE AS rolled_back,
       TRUE AS forensics, TRUE AS tag_survived
FROM allrows
GROUP BY source
ORDER BY source
"""


# --- q183: files metadata table (Iceberg table$files parity) ----------------

META_ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    ".fixtures",
    "meta_docs",
)

# per-generation (born version -> (n_files, rows_per_file))
_META_GENS = {1: (3, 60), 2: (1, 25), 3: (1, 15)}

_META_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
    ]
)


def stage_meta_table(root: str = META_ROOT) -> tuple[str, dict[int, str]]:
    """Materialize a 3-version table on disk, Spark-free and
    idempotent (the :func:`stage_cdc_table` recipe): v1 commits 3
    files, v2 and v3 append one each, under one
    ``data/gen-<v>-<suffix>/`` dir per version. The manifests carry
    the ``sizes`` and ``born`` records files_metadata exposes, built
    by :func:`_stage_manifests`. Returns (table_path, {version: abs
    generation dir})."""
    gens: dict[int, str] = {}
    commits = []
    for v in sorted(_META_GENS):
        n_files, n_rows = _META_GENS[v]
        suffix = hashlib.md5(f"meta-gen:{v}".encode()).hexdigest()[:8]
        gen_rel = f"data/gen-{v:08d}-{suffix}"
        gens[v] = os.path.join(root, gen_rel)
        new_files = []
        for k in range(n_files):
            rel = f"{gen_rel}/part-{k:05d}.parquet"
            first = v * 100_000 + k * 1_000
            ids = list(range(first, first + n_rows))
            _write_parquet_once(
                os.path.join(root, rel),
                pa.table(
                    {
                        "doc_id": pa.array(ids, pa.int64()),
                        "source": pa.array(
                            [f"src{i % 4}" for i in ids], pa.string()
                        ),
                        "n_chars": pa.array(
                            [
                                int(
                                    hashlib.md5(f"meta:{i}".encode())
                                    .hexdigest()[:4],
                                    16,
                                )
                                for i in ids
                            ],
                            pa.int64(),
                        ),
                    }
                ),
            )
            new_files.append(rel)
        commits.append((new_files, True))
    _stage_manifests(root, _META_SCHEMA, commits)
    return root, gens


def q183_files_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FILES metadata table as a gated query (Iceberg `table$files`
    parity): per birth version, how many live files, their total
    commit-time recorded bytes, and the row count actually stored in
    those files — the storage-accounting / compaction-planning view.
    The oracle recomputes the metadata INDEPENDENTLY by parsing the
    same manifest JSON (files/sizes/born as typed MAPs) and counting
    rows straight from the parquet generations, so a metadata record
    that drifted from the data (wrong size, wrong birth, missing
    file) hash-mismatches.

    Scale shape: the metadata side never touches data (one manifest
    read — the same read every planner pass already does); the row
    counts read each generation's files once, grouped by the
    metadata's own born record (file lists are driver-collected, but
    they are METADATA — bounded by file count, the thing manifests
    exist to keep small/chunked)."""
    path, _ = stage_meta_table()
    from prox_spark.table import files_metadata

    fm = files_metadata(spark, path)
    meta = fm.groupBy("born").agg(
        F.count(F.lit(1)).cast("long").alias("n_files"),
        F.sum("bytes").cast("long").alias("total_bytes"),
    )
    by_born: dict[int, list[str]] = {}
    for r in fm.collect():
        by_born.setdefault(int(r["born"]), []).append(r["file"])
    # ONE scan job counts every generation's rows: read all live files
    # together and group by the file's birth version resolved from the
    # metadata's own (file -> born) record via the scanned file path —
    # replacing one count job per generation (r12, guide §1.2: fewer
    # passes; the per-file row count is what each count computed anyway)
    file_born = {
        f"{path}/{f}": v for v, fs in by_born.items() for f in fs
    }
    # _metadata.file_path is a URI (file:/...); resolve each row's
    # birth version by joining the file's PARENT DIRECTORY (the last
    # two path components minus the basename — generation dirs are
    # unique per commit; basenames alone collide across generations)
    # against the manifest's own (dir -> born) record as a tiny
    # broadcast VALUES map. The r12 form built an O(n_files) nested
    # CASE WHEN tower over the full path instead — a plan-size /
    # analysis-time hazard at real file counts (VERDICT r12 item 7);
    # the join relation is O(n_generations), constant per commit.
    dir_born: dict[str, int] = {}
    for v, fs in by_born.items():
        for f in fs:
            if "/" not in f:
                # its scanned parent is the table dir, which no
                # generation names: the join below would drop its rows
                raise ValueError(
                    f"manifest entry {f!r} has no generation dir; "
                    "cannot resolve its birth version by dir"
                )
            # the file's immediate parent dir NAME (matches the
            # scanned path's last-but-one component below)
            d = f.split("/")[-2]
            if dir_born.setdefault(d, v) != v:
                raise ValueError(
                    f"generation dir {d!r} spans versions "
                    f"{dir_born[d]} and {v}; cannot resolve birth by dir"
                )
    dirs_df = values_df(
        spark, sorted(dir_born.items()), "dir string, born long"
    )
    parent = F.expr(
        "substring_index(substring_index(_metadata.file_path, '/', -2), '/', 1)"
    )
    counted = (
        read_parquet(spark, *sorted(file_born))
        .select(parent.alias("dir"))
        .join(F.broadcast(dirs_df), "dir")
        .groupBy("born")
        .agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
    )
    # seed every generation with 0 rows: a zero-row generation has no
    # data rows to count, but the oracle's per-generation count(*)
    # still emits n_rows=0 for it (ADVICE r12) — the inner join below
    # must not drop it
    rows = {v: 0 for v in by_born}
    rows.update(
        (int(r["born"]), int(r["n_rows"])) for r in counted.collect()
    )
    rows_df = values_df(
        spark, sorted(rows.items()), "born long, n_rows long"
    )
    return (
        meta.join(rows_df, "born")
        .select("born", "n_files", "total_bytes", "n_rows")
        .orderBy("born")
    )


def _oracle_q183() -> str:
    root, gens = stage_meta_table()
    head = os.path.join(root, "_manifests", "manifest-00000003.json")
    rows_union = "\nUNION ALL\n".join(
        f"SELECT CAST({v} AS BIGINT) AS born, CAST(count(*) AS BIGINT) AS n_rows "
        f"FROM read_parquet('{d}/*.parquet')"
        for v, d in sorted(gens.items())
    )
    return f"""
WITH m AS (
  SELECT * FROM read_json('{head}',
    columns={{files: 'VARCHAR[]', sizes: 'MAP(VARCHAR,BIGINT)',
             born: 'MAP(VARCHAR,BIGINT)'}})
), e AS (
  SELECT unnest(files) AS file, sizes, born FROM m
), meta AS (
  SELECT CAST(coalesce(born[file][1], 1) AS BIGINT) AS born,
         CAST(count(*) AS BIGINT) AS n_files,
         CAST(sum(sizes[file][1]) AS BIGINT) AS total_bytes
  FROM e GROUP BY 1
), rws AS (
{rows_union}
)
SELECT meta.born, n_files, total_bytes, n_rows
FROM meta JOIN rws USING (born)
ORDER BY meta.born
"""


# --- q184: incremental min/max maintenance (the hard IVM case) --------------


def q184_incremental_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of per-source (count, min, max) across
    the CDC table's v1→v2 delta — the aggregate family q118's
    sum/count trick does NOT cover: min/max are not self-maintainable
    under deletes (removing the current extreme leaves no way to
    derive the next one from the old aggregate). The classic fix:
    maintain insert-only groups algebraically (count ± delta,
    min/least, max/greatest) and RECOMPUTE only the groups whose
    stored extreme was deleted — work ∝ |delta| + |affected groups|,
    never |table|. The oracle computes the v2 aggregate DIRECTLY plus
    the affected-group rule independently, so the gate proves the
    incremental path reproduces the full recompute exactly AND that
    the recompute decision fired for precisely the right groups.

    Scale shape: the delta is the q114 key-keyed diff; per-group
    delta aggregates are tiny partial-agg frames; the recompute scan
    reads v2 filtered to the affected sources only (a semi-join that
    partition-prunes when the table clusters on the group key)."""
    path, _ = stage_cdc_table()
    from prox_spark.table import read_table

    # pinned: v1 feeds the anti-joins and the base aggregate, v2 the
    # anti-joins and the affected-group recompute — unpinned, each
    # branch re-ran the snapshot read (r12, guide §5)
    v1 = read_table(spark, path, version=1).select("doc_id", "source").persist()
    v2 = read_table(spark, path, version=2).select("doc_id", "source").persist()
    ins = v2.join(v1.select("doc_id"), "doc_id", "left_anti")
    dels = v1.join(v2.select("doc_id"), "doc_id", "left_anti")
    base = v1.groupBy("source").agg(
        F.count(F.lit(1)).alias("n1"),
        F.min("doc_id").alias("min1"),
        F.max("doc_id").alias("max1"),
    )
    ia = ins.groupBy("source").agg(
        F.count(F.lit(1)).alias("ni"),
        F.min("doc_id").alias("imin"),
        F.max("doc_id").alias("imax"),
    )
    da = dels.groupBy("source").agg(
        F.count(F.lit(1)).alias("nd"),
        F.min("doc_id").alias("dmin"),
        F.max("doc_id").alias("dmax"),
    )
    j = (
        base.join(ia, "source", "full_outer")
        .join(da, "source", "full_outer")
        .withColumn(
            "needs",
            F.coalesce(
                (F.col("dmin") == F.col("min1"))
                | (F.col("dmax") == F.col("max1")),
                F.lit(False),
            ),
        )
        # EAGER barrier (r13): the maintained and affected branches
        # raced the r12 pin's cold cache inside one action; the frame
        # is sources-sized, so the checkpoint job is tiny and it also
        # pre-materializes the v1/v2 caches for the recompute branch
        .localCheckpoint(eager=True)
    )
    maintained = j.filter(~F.col("needs")).select(
        "source",
        (
            F.coalesce(F.col("n1"), F.lit(0))
            + F.coalesce(F.col("ni"), F.lit(0))
            - F.coalesce(F.col("nd"), F.lit(0))
        ).cast("long").alias("n_docs"),
        # least/greatest skip NULLs in both engines: an insert-free
        # group keeps its stored extreme
        F.least("min1", "imin").cast("long").alias("min_id"),
        F.greatest("max1", "imax").cast("long").alias("max_id"),
        F.lit(False).alias("recomputed"),
    )
    affected = j.filter(F.col("needs")).select("source")
    recomputed = (
        v2.join(F.broadcast(affected), "source")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("doc_id").cast("long").alias("min_id"),
            F.max("doc_id").cast("long").alias("max_id"),
        )
        .withColumn("recomputed", F.lit(True))
    )
    return maintained.unionByName(recomputed).orderBy("source")


def _oracle_q184() -> str:
    _, snaps = stage_cdc_table()
    return f"""
WITH v1 AS (SELECT doc_id, source FROM read_parquet('{snaps[1]}/*.parquet')),
v2 AS (SELECT doc_id, source FROM read_parquet('{snaps[2]}/*.parquet')),
dels AS (SELECT v1.* FROM v1 ANTI JOIN v2 USING (doc_id)),
ext AS (
  SELECT source, min(doc_id) AS min1, max(doc_id) AS max1
  FROM v1 GROUP BY source
),
flag AS (
  SELECT e.source,
         count(*) FILTER (WHERE d.doc_id = e.min1 OR d.doc_id = e.max1) > 0
           AS needs
  FROM ext e LEFT JOIN dels d USING (source)
  GROUP BY e.source
)
SELECT v2.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(doc_id) AS BIGINT) AS min_id,
       CAST(max(doc_id) AS BIGINT) AS max_id,
       coalesce(any_value(f.needs), FALSE) AS recomputed
FROM v2 LEFT JOIN flag f USING (source)
GROUP BY v2.source
ORDER BY v2.source
"""


# --- q187: content-addressed lookup through a secondary value index ---------

_CIDX_CACHE: dict[str, tuple] = {}

CIDX_FRESH_ID = 90_000_000
CIDX_FRESH_TEXT = "fresh appended document never indexed"


def _content_index(spark: SparkSession, sf_dir: str) -> tuple:
    """Staged once per process: documents (doc_id, digest=md5(text))
    committed range-clustered on doc_id across 16 files — so the
    digest column gets NO manifest min/max pruning — then a secondary
    inverted index built on digest, then one post-index append (a
    file the index has never seen). Returns (table, index, indexed
    version, flags)."""
    from prox_spark.queries._staging import staged
    from prox_spark.table import (
        build_value_index,
        commit_delta,
        commit_snapshot,
        read_manifest,
    )

    def build(scratch: str) -> tuple:
        table = f"{scratch}/docs"
        index = f"{scratch}/digest_idx"
        base = read_parquet(spark, f"{sf_dir}/documents.parquet").select(
            "doc_id", F.md5("text").alias("digest")
        )
        commit_snapshot(spark, table, base, stat_cols=["doc_id"], n_files=16)
        v = build_value_index(spark, table, "digest", index)
        fresh = spark.range(1).select(
            F.lit(CIDX_FRESH_ID).cast("long").alias("doc_id"),
            F.md5(F.lit(CIDX_FRESH_TEXT)).alias("digest"),
        )
        prev = read_manifest(spark, table)
        commit_delta(
            spark, table, fresh, list(prev["files"]), update_key_ranges={}
        )
        return table, index, v

    return staged(_CIDX_CACHE, sf_dir, "prox_cidx_docs_", build)


def q187_content_index_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-addressed document lookup through the secondary index
    (:func:`prox_spark.table.build_value_index`): probe three
    uniquely-owned digests chosen by an oracle-reproducible rule (the
    min, max, and first-above-midpoint doc_ids among digests owned by
    exactly one document) plus the digest of a document APPENDED
    AFTER the index was built. Each probe resolves through
    read_table_point_indexed — index hit + unindexed-tail fallback —
    and must return exactly the owning document; the pinned flags
    prove every probe scanned fewer files than the table holds
    (`pruned`) and that the stale index still found the fresh row
    (`fresh_found`).

    Scale shape: a probe reads the index (itself a range-clustered
    manifest table, so the index read prunes to ~1 index file), then
    O(files-holding-the-value) data files plus the post-index tail —
    never the 16-file table; at 10^5 files this is the difference
    between one RPC and a full footer sweep on every non-cluster-key
    lookup."""
    table, index, v = _content_index(spark, sf_dir)
    # _read_files reuses the manifest/targets indexed_point_files already
    # resolved — calling read_table_point_indexed here would re-run the
    # whole index probe a second time per digest
    from prox_spark.table import _read_files, indexed_point_files

    base = (
        read_parquet(spark, f"{sf_dir}/documents.parquet")
        .select("doc_id", F.md5("text").alias("digest"))
        .groupBy("digest")
        .agg(F.count(F.lit(1)).alias("n"), F.min("doc_id").alias("doc_id"))
        .filter(F.col("n") == 1)
        # pinned: THREE consumers (bounds agg, midpoint agg, probe
        # filter) — without the pin the documents scan + md5 + digest
        # agg replayed once per consumer (r12: fewer passes, guide §5)
        .persist()
    )
    lo, hi = base.agg(F.min("doc_id"), F.max("doc_id")).first()
    mid = base.filter(F.col("doc_id") > (lo + hi) // 2).agg(
        F.min("doc_id")
    ).first()[0]
    probe_ids = [lo, mid, hi]
    probes = {
        int(r["doc_id"]): r["digest"]
        for r in base.filter(F.col("doc_id").isin(probe_ids)).collect()
    }
    # a constant's md5 needs no Spark job — hashlib computes the same
    # 32-char hex digest the md5() SQL function would
    import hashlib

    fresh_digest = hashlib.md5(CIDX_FRESH_TEXT.encode("utf-8")).hexdigest()
    probes[CIDX_FRESH_ID] = fresh_digest

    # the four probes are INDEPENDENT point lookups: overlap them from
    # a small thread pool (guide §2.6 — Spark schedules concurrent jobs
    # FIFO and back-fills idle cores) instead of paying four serial
    # (manifest-probe + read + collect) driver round-trips
    from concurrent.futures import ThreadPoolExecutor

    def probe(pid: int) -> tuple:
        dg = probes[pid]
        m, targets, n_live = indexed_point_files(
            spark, table, index, v, "digest", dg
        )
        found = (
            _read_files(spark, table, m, targets)
            .filter(F.col("digest") == F.lit(dg))
            .collect()
        )
        return (
            (min(int(r["doc_id"]) for r in found), dg, len(found)),
            len(targets) < n_live,
        )

    with ThreadPoolExecutor(max_workers=4) as pool:
        results = list(pool.map(probe, sorted(probes)))
    out_rows = [r for r, _ in results]
    pruned = all(p for _, p in results)
    fresh_found = any(r[0] == CIDX_FRESH_ID and r[2] == 1 for r in out_rows)
    # 4 driver-known rows: a pure-JVM VALUES relation instead of a
    # Python-RDD-backed createDataFrame (the values_df rationale —
    # no Python-worker scan under the final sort)
    return (
        values_df(spark, out_rows, "doc_id long, digest string, n_copies long")
        .withColumn("pruned", F.lit(bool(pruned)))
        .withColumn("fresh_found", F.lit(bool(fresh_found)))
        .orderBy("doc_id")
    )


ORACLE_Q187 = f"""
WITH d AS (SELECT doc_id, md5(text) AS digest FROM documents),
uniq AS (
  SELECT digest, min(doc_id) AS doc_id
  FROM d GROUP BY digest HAVING count(*) = 1
),
b AS (SELECT min(doc_id) AS mn, max(doc_id) AS mx FROM uniq),
probes AS (
  -- UNION (not ALL): mirrors the query side's dict-dedup, so a
  -- first-above-midpoint pick coinciding with max cannot double-count
  SELECT doc_id, digest FROM uniq WHERE doc_id = (SELECT mn FROM b)
  UNION
  SELECT doc_id, digest FROM uniq WHERE doc_id = (SELECT mx FROM b)
  UNION
  SELECT doc_id, digest FROM uniq
  WHERE doc_id = (
    SELECT min(doc_id) FROM uniq
    WHERE doc_id > ((SELECT mn FROM b) + (SELECT mx FROM b)) // 2
  )
  UNION
  SELECT CAST({CIDX_FRESH_ID} AS BIGINT), md5('{CIDX_FRESH_TEXT}')
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, digest,
       CAST(1 AS BIGINT) AS n_copies,
       TRUE AS pruned, TRUE AS fresh_found
FROM probes
ORDER BY doc_id
"""


# --- q188: z-ordered table layout — multi-column probe pruning --------------

_ZORDER_CACHE: dict[str, tuple] = {}


def _zorder_table(spark: SparkSession, sf_dir: str) -> str:
    """lineitem (partkey, suppkey, quantity) committed once per
    process as a 16-file MORTON-clustered manifest table
    (cluster_curve="zorder" on both keys): the layout that gives
    point probes file pruning on EITHER key, where the lexicographic
    range layout serves only the leading one."""
    from prox_spark.queries._staging import staged
    from prox_spark.table import commit_snapshot

    def build(scratch: str) -> str:
        table = f"{scratch}/li_z"
        li = read_parquet(spark, f"{sf_dir}/lineitem.parquet").select(
            "l_partkey", "l_suppkey", "l_quantity"
        )
        commit_snapshot(
            spark, table, li, stat_cols=["l_partkey", "l_suppkey"],
            n_files=16, cluster_curve="zorder",
        )
        return table

    return staged(_ZORDER_CACHE, sf_dir, "prox_zorder_li_", build)


def q188_zorder_table_probes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-OPTIMIZE-ZORDER parity under the gate: point probes on
    BOTH Morton-clustered keys — the min l_partkey and the max
    l_suppkey (oracle-reproducible picks) — each resolve through
    read_table_point's manifest stats pruning and must aggregate to
    exactly the oracle's direct computation over lineitem; the pinned
    flags prove each probe scanned FEWER files than the table holds,
    which the lexicographic layout cannot do for the trailing key
    (tests/test_zorder.py pins zorder strictly beating range on the
    second column).

    Scale shape: the z-value costs 2·bits integer ops per row at
    write time and zero at read time — pruning runs on the ordinary
    per-file min/max footer stats, which the curve makes tight on
    every clustered column simultaneously; at 100 TB this is what
    lets BOTH `WHERE partkey = ?` and `WHERE suppkey = ?` dashboards
    share one table layout instead of two sorted copies."""
    table = _zorder_table(spark, sf_dir)
    from prox_spark.table import (
        _read_files,
        read_manifest,
        read_manifest_pruned,
        split_files_by_key_ranges,
    )

    li = read_parquet(spark, f"{sf_dir}/lineitem.parquet")
    pk, sk = li.agg(F.min("l_partkey"), F.max("l_suppkey")).first()
    n_live = len(read_manifest(spark, table)["files"])

    def probe(col: str, key: int) -> tuple:
        # ONE pruned manifest resolve serves both the flag and the scan
        m = read_manifest_pruned(spark, table, {col: (key, key)})
        files, _ = split_files_by_key_ranges(m, {col: (key, key)})
        agg = (
            _read_files(spark, table, m, files)
            .filter(F.col(col) == F.lit(key))
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            )
            .first()
        )
        return len(files) < n_live, int(agg["n_rows"]), float(agg["sum_qty"])

    # the two probes are independent point lookups — overlap them
    # (guide §2.6), and return the 2 driver-known rows as a VALUES
    # relation (r12)
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        fp = pool.submit(probe, "l_partkey", int(pk))
        fs = pool.submit(probe, "l_suppkey", int(sk))
        p_pruned, p_rows, p_qty = fp.result()
        s_pruned, s_rows, s_qty = fs.result()
    rows = [
        ("partkey", int(pk), p_rows, p_qty),
        ("suppkey", int(sk), s_rows, s_qty),
    ]
    return (
        values_df(
            spark, rows, "probe string, key long, n_rows long, sum_qty double"
        )
        .withColumn("pruned", F.lit(bool(p_pruned and s_pruned)))
        .orderBy("probe")
    )


ORACLE_Q188 = """
WITH k AS (
  SELECT min(l_partkey) AS pk, max(l_suppkey) AS sk FROM lineitem
)
SELECT 'partkey' AS probe, CAST(pk AS BIGINT) AS key,
       CAST(count(*) AS BIGINT) AS n_rows,
       round(sum(l_quantity), 2) AS sum_qty,
       TRUE AS pruned
FROM lineitem, k WHERE l_partkey = pk GROUP BY pk
UNION ALL
SELECT 'suppkey', CAST(sk AS BIGINT),
       CAST(count(*) AS BIGINT),
       round(sum(l_quantity), 2),
       TRUE
FROM lineitem, k WHERE l_suppkey = sk GROUP BY sk
ORDER BY probe
"""


# --- q192: multi-table atomic commit (corpus + value index) -----------------

_TXN_CACHE: dict[str, tuple] = {}


def _txn_workspace(spark: SparkSession, sf_dir: str) -> tuple:
    """Staged once per process: a corpus table and its secondary value
    index evolved through TWO transactions plus one CRASHED update.

    - txn 1 pins (corpus v1 = doc_id%10 ∉ {7,8}, index v1 covering it);
    - staging for txn 2: append %10==7 (corpus v2) AND refresh the
      index (covers v2); txn 2 pins the PAIR atomically;
    - a third corpus append (%10==8, v3) commits but its writer
      "crashes" before the txn publish — and before any index refresh,
      exactly the torn state per-table atomicity can't prevent.

    Returns (workspace, corpus path, index path)."""
    from prox_spark.queries._staging import staged
    from prox_spark.table import (
        build_value_index,
        commit_delta,
        commit_snapshot,
        read_manifest,
        refresh_value_index,
    )
    from prox_spark.txn import txn_commit

    def build(scratch: str) -> tuple:
        ws = f"{scratch}/ws"
        t = f"{scratch}/docs"
        idx = f"{scratch}/digest_idx"
        docs = read_parquet(spark, f"{sf_dir}/documents.parquet").select(
            "doc_id", "source", F.md5("text").alias("digest")
        )
        commit_snapshot(
            spark, t, docs.filter(~(F.col("doc_id") % 10).isin(7, 8)),
            stat_cols=["doc_id"], n_files=8,
        )
        build_value_index(spark, t, "digest", idx)
        txn_commit(spark, ws, {t: 1, idx: 1})
        prev = read_manifest(spark, t)
        commit_delta(
            spark, t, docs.filter((F.col("doc_id") % 10) == 7),
            list(prev["files"]), update_key_ranges={},
        )
        refresh_value_index(spark, t, idx)
        txn_commit(
            spark, ws, {t: 2, idx: read_manifest(spark, idx)["version"]}
        )
        # the crashed writer: corpus v3 exists, no index refresh, no txn
        prev = read_manifest(spark, t)
        commit_delta(
            spark, t, docs.filter((F.col("doc_id") % 10) == 8),
            list(prev["files"]), update_key_ranges={},
        )
        return ws, t, idx

    return staged(_TXN_CACHE, sf_dir, "prox_txn_ws_", build)


def q192_multi_table_txn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-TABLE ATOMIC COMMIT (prox_spark/txn.py — the Nessie-style
    catalog pattern): a corpus and its secondary value index publish
    together through one transaction-log rename, so transactional
    readers get both-or-neither visibility that N per-table commits
    cannot give. The gate reads per-source counts through the TXN
    VIEW: a crashed third update (corpus committed, index not
    refreshed, txn never published) must stay invisible — its rows
    leaking in, or the txn pinning a corpus version the index doesn't
    cover, both surface as wrong output. ``index_consistent`` pins
    that the txn-pinned index's ``index_of.version`` equals the
    txn-pinned corpus version (the pair is coherent);
    ``crashed_invisible`` pins that the corpus's LATEST version has
    moved past the pinned one (the orphan exists and is excluded, not
    merely absent).

    Scale shape: the txn document is O(tables) metadata and its
    publish is one atomic rename; readers resolve one doc then read
    pinned versions through ordinary manifest pruning — no cross-table
    lock, no coordination beyond the rename CAS."""
    from prox_spark.table import read_manifest
    from prox_spark.txn import txn_read, txn_state

    ws, t, idx = _txn_workspace(spark, sf_dir)
    state = txn_state(spark, ws)
    pinned_idx = read_manifest(spark, idx, state[idx])
    consistent = (
        pinned_idx.get("index_of", {}).get("version") == state[t]
    )
    crashed_invisible = read_manifest(spark, t)["version"] > state[t]
    return (
        txn_read(spark, ws, t)
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .withColumn("index_consistent", F.lit(bool(consistent)))
        .withColumn("crashed_invisible", F.lit(bool(crashed_invisible)))
        .orderBy("source")
    )


ORACLE_Q192 = """
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       TRUE AS index_consistent, TRUE AS crashed_invisible
FROM documents
WHERE doc_id % 10 <> 8
GROUP BY source
ORDER BY source
"""


# --- q190: incremental JOIN view maintenance (both sides change) ------------

# the dimension's two versions, inline constants both engines read:
# v1 -> v2 changes src3's region (update), DELETES src4, INSERTS src5
DIM_V1 = (
    ("src0", "r0"), ("src1", "r1"), ("src2", "r0"),
    ("src3", "r1"), ("src4", "r2"),
)
DIM_V2 = (
    ("src0", "r0"), ("src1", "r1"), ("src2", "r0"),
    ("src3", "r2"), ("src5", "r3"),
)


def q190_incremental_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a materialized JOIN view with BOTH
    sides changing — the textbook delta algebra q118 (single-table
    sum/count) and q184 (min/max) lead up to:

        A₂⋈B₂ − A₁⋈B₁ = ΔA⋈B₁ + A₁⋈ΔB + ΔA⋈ΔB

    with signed multiplicities (insert +1, delete −1, update =
    delete+insert). The view is per-region document counts over
    docs(source) ⋈ dim(source → region); the docs delta comes from
    the CDC table's version diff and the dim delta from its two
    versions (an update, a delete, and an insert — so every signed
    case exercises). The oracle computes the v2 view DIRECTLY from
    the v2 snapshots, so the gate proves the delta algebra reproduces
    the full recompute exactly.

    Scale shape: every term joins a DELTA (tiny by definition)
    against a base or another delta — the full A₂⋈B₂ is never built;
    work ∝ |ΔA|·fanout + |ΔB|·matching-partition scan, which is the
    whole point of maintaining the view instead of recomputing the
    join at every commit."""
    path, _ = stage_cdc_table()
    from prox_spark.table import read_table

    a1 = read_table(spark, path, version=1).select("doc_id", "source")
    a2 = read_table(spark, path, version=2).select("doc_id", "source")
    da = (
        a2.join(a1.select("doc_id"), "doc_id", "left_anti")
        .select("source", F.lit(1).alias("sa"))
        .unionByName(
            a1.join(a2.select("doc_id"), "doc_id", "left_anti")
            .select("source", F.lit(-1).alias("sa"))
        )
        # EAGER barrier (r13): the ΔA⋈B₁ and ΔA⋈ΔB terms raced the
        # r12 pin's cold cache inside one action — the snapshot
        # anti-joins still ran twice (the q75 adjudication)
        .localCheckpoint(eager=True)
    )
    # driver-known dims as pure-JVM VALUES relations: the Python-RDD
    # createDataFrame paid a fresh-worker scan per materialization —
    # three measured 0.5-0.8 s zero-CPU single-task stages (r12, the
    # values_df rationale)
    b1 = values_df(spark, list(DIM_V1), "source string, region string")
    b2 = values_df(spark, list(DIM_V2), "source string, region string")
    db = (
        b2.exceptAll(b1).select("source", "region", F.lit(1).alias("sb"))
        .unionByName(
            b1.exceptAll(b2).select("source", "region", F.lit(-1).alias("sb"))
        )
    )
    v1_view = (
        a1.join(F.broadcast(b1), "source")
        .groupBy("region")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    t1 = (
        da.join(F.broadcast(b1), "source")
        .groupBy("region")
        .agg(F.sum("sa").cast("long").alias("n"))
    )
    t2 = (
        a1.join(F.broadcast(db), "source")
        .groupBy("region")
        .agg(F.sum("sb").cast("long").alias("n"))
    )
    t3 = (
        da.join(F.broadcast(db), "source")
        .groupBy("region")
        .agg(F.sum(F.col("sa") * F.col("sb")).cast("long").alias("n"))
    )
    from functools import reduce

    merged = reduce(
        lambda x, y: x.unionByName(y), [v1_view, t1, t2, t3]
    )
    return (
        merged.groupBy("region")
        .agg(F.sum("n").cast("long").alias("n_docs"))
        .filter(F.col("n_docs") > 0)
        .orderBy("region")
    )


def _oracle_q190() -> str:
    _, snaps = stage_cdc_table()
    dim2 = ", ".join(f"('{s}', '{r}')" for s, r in DIM_V2)
    return f"""
WITH a2 AS (SELECT doc_id, source FROM read_parquet('{snaps[2]}/*.parquet')),
b2(source, region) AS (VALUES {dim2})
SELECT region, CAST(count(*) AS BIGINT) AS n_docs
FROM a2 JOIN b2 USING (source)
GROUP BY region
ORDER BY region
"""


# --- q196: change-data-feed reader (Delta CDF parity) -----------------------

_CDF_CACHE: dict[str, tuple] = {}


def _cdf_table(spark: SparkSession, sf_dir: str) -> tuple:
    """A documents-backed table driven through every change kind the
    feed must reconstruct, staged once per process:
    v1 snapshot (doc_id % 10 ≤ 5) → v2 append (% 10 ∈ {6,7}) →
    v3 merge-on-read DELETE (% 5 = 0; zero files rewritten) →
    v4 UPSERT (% 10 = 3 gains 1000 chars; the rewrite path) →
    v5 compaction (data_change=false — must be silent in the feed).
    Returns (table_path, head_version)."""
    from prox_spark.queries._staging import staged
    from prox_spark.table import (
        commit_delta,
        commit_snapshot,
        compact_table,
        read_manifest,
        read_table,
    )
    from prox_spark.upsert import delete_keys_mor, upsert_parquet

    def build(scratch: str) -> tuple:
        table = f"{scratch}/docs"
        docs = read_parquet(spark, f"{sf_dir}/documents.parquet").select(
            "doc_id", "source", "n_chars"
        )
        commit_snapshot(
            spark, table, docs.filter(F.col("doc_id") % 10 <= 5),
            stat_cols=["doc_id"], n_files=4,
        )
        prev = read_manifest(spark, table)
        commit_delta(
            spark, table, docs.filter((F.col("doc_id") % 10).isin(6, 7)),
            list(prev["files"]), update_key_ranges={},
        )
        delete_keys_mor(
            spark, table,
            docs.filter(
                (F.col("doc_id") % 10 <= 7) & (F.col("doc_id") % 5 == 0)
            ).select("doc_id"),
            ["doc_id"],
        )
        ups = (
            read_table(spark, table)
            .filter(F.col("doc_id") % 10 == 3)
            .withColumn("n_chars", F.col("n_chars") + F.lit(1000))
        )
        upsert_parquet(spark, table, ups, ["doc_id"])
        compact_table(spark, table)
        head = read_manifest(spark, table)["version"]
        return table, int(head)

    return staged(_CDF_CACHE, sf_dir, "prox_cdf_docs_", build)


def q196_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CHANGE-DATA-FEED READER under the driver gate (Delta CDF /
    Iceberg changelog parity — prox_spark/cdf.py): the staged lifecycle
    commits an append, a merge-on-read delete, an upsert, and a
    compaction, and the SIGNED feed reconstructed from the manifest
    log alone (no change files were ever written) is aggregated per
    source with insert = +1 / delete = −1 — which must net to the
    final table state the oracle computes directly. An echo row the
    rewrite shouldn't have cancelled, a delete the feed missed, or a
    compaction leaking into the feed all break the hash. Two pinned
    flags tighten it: ``mor_precise`` (the delete commit's feed slice
    is EXACTLY the deleted keys' rows — no rewrite echo, the
    merge-on-read precision claim) and ``compaction_silent`` (the
    data_change=false commit contributed zero rows).

    Scale shape: per version the reader opens only added/removed/
    targeted files (work ∝ commit volume, never table size); delete
    key sets broadcast into the visibility semi-joins; the signed
    fold is one partial agg. This is the read-side completion of the
    CDC loop: q114 diffs snapshots, q152/q153 apply feeds, q196
    derives the feed from the log itself."""
    from prox_spark.cdf import read_table_changes

    table, head = _cdf_table(spark, sf_dir)
    feed = read_table_changes(spark, table, 0, head).persist()
    try:
        sign = F.when(F.col("_change_type") == "insert", F.lit(1)).otherwise(
            F.lit(-1)
        )
        # ONE scalar job for every probe the flags need: the v3
        # (merge-on-read delete) slice stats, the v5 (compaction)
        # row count, and the expected-delete count from the base
        # parquet — conditional aggregates + a 1-row cross join
        # replace three separate driver actions (r12, guide §1.2)
        v3 = F.col("_commit_version") == 3
        mor = (
            feed.agg(
                F.sum(F.when(v3, 1).otherwise(0)).alias("n"),
                F.sum(
                    F.when(
                        v3 & (F.col("_change_type") == "delete"), 1
                    ).otherwise(0)
                ).alias("d"),
                F.sum(
                    F.when(v3 & (F.col("doc_id") % 5 == 0), 1).otherwise(0)
                ).alias("k"),
                F.sum(
                    F.when(F.col("_commit_version") == 5, 1).otherwise(0)
                ).alias("c5"),
            )
            .crossJoin(
                read_parquet(spark, f"{sf_dir}/documents.parquet")
                .filter(
                    (F.col("doc_id") % 10 <= 7) & (F.col("doc_id") % 5 == 0)
                )
                .agg(F.count(F.lit(1)).alias("expected"))
            )
            .first()
        )
        mor_precise = bool(
            mor["n"] == mor["expected"]
            and mor["d"] == mor["n"]
            and mor["k"] == mor["n"]
        )
        compaction_silent = bool(mor["c5"] == 0)
        out = (
            feed.groupBy("source")
            .agg(
                F.sum(sign).cast("long").alias("d_docs"),
                F.sum(sign * F.col("n_chars")).cast("long").alias("d_chars"),
            )
            # a source whose rows all net away (every doc deleted) has
            # no row in the final state — drop the zero groups like
            # q190's maintained view does
            .filter(F.col("d_docs") != 0)
            .withColumn("mor_precise", F.lit(mor_precise))
            .withColumn("compaction_silent", F.lit(compaction_silent))
            .orderBy("source")
        )
        # localize the sources-sized result while the feed pin is alive
        # — returning the lazy plan would re-derive the whole feed on
        # the caller's first action, after the unpersist below. VALUES
        # relation, not createDataFrame: no Python-RDD scan (r12)
        rows = [tuple(r) for r in out.collect()]
        return values_df(
            spark,
            rows,
            "source string, d_docs bigint, d_chars bigint, "
            "mor_precise boolean, compaction_silent boolean",
        )
    finally:
        feed.unpersist()


ORACLE_Q196 = """
WITH final AS (
  SELECT source,
         CASE WHEN doc_id % 10 = 3 THEN n_chars + 1000 ELSE n_chars END
           AS n_chars
  FROM documents
  WHERE doc_id % 10 <= 7 AND doc_id % 5 <> 0
)
SELECT source,
       CAST(count(*) AS BIGINT) AS d_docs,
       CAST(sum(n_chars) AS BIGINT) AS d_chars,
       TRUE AS mor_precise,
       TRUE AS compaction_silent
FROM final
GROUP BY source
ORDER BY source
"""


# --- q199: incremental dedup data card (IVM over the change feed) -----------

_CARD_CDC_CACHE: dict[str, tuple] = {}

N_CARD_DOCS = 240


def _card_all_docs(spark: SparkSession) -> DataFrame:
    """The card workload's full doc universe, formulaic so the DuckDB
    oracle re-derives it: 3-doc digest groups (g = id div 3) spanning
    sources (src = id % 5); updates later move ids (% 6 = 0, < 60) to
    a ' MOVED' digest."""
    return spark.range(N_CARD_DOCS).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("src"), (F.col("id") % 5).cast("string")).alias(
            "source"
        ),
        F.concat(
            F.lit("card g"), F.expr("cast(id div 3 as string)")
        ).alias("text"),
    )


def _card_cdc_table(spark: SparkSession, sf_dir: str) -> tuple:
    """Staged once per process through REAL commit paths (so the
    change feed can reconstruct it): v1 snapshot (ids % 10 ≠ 7) →
    append inserts (% 10 = 7) → merge-on-read delete (% 10 = 4,
    including group KEEPERS — the hard IVM case) → upsert moving
    ids (% 6 = 0, < 60) to a new digest (update = leave one group,
    found another). Returns (table_path, head)."""
    from prox_spark.queries._staging import staged
    from prox_spark.table import (
        commit_delta,
        commit_snapshot,
        read_manifest,
    )
    from prox_spark.upsert import delete_keys_mor, upsert_parquet

    def build(scratch: str) -> tuple:
        t = f"{scratch}/card"
        allr = _card_all_docs(spark)
        commit_snapshot(
            spark, t, allr.filter(F.col("doc_id") % 10 != 7),
            stat_cols=["doc_id"], n_files=4,
        )
        prev = read_manifest(spark, t)
        commit_delta(
            spark, t, allr.filter(F.col("doc_id") % 10 == 7),
            list(prev["files"]), update_key_ranges={},
        )
        delete_keys_mor(
            spark, t,
            allr.filter(F.col("doc_id") % 10 == 4).select("doc_id"),
            ["doc_id"],
        )
        upd = allr.filter(
            (F.col("doc_id") % 6 == 0)
            & (F.col("doc_id") < 60)
            & (F.col("doc_id") % 10 != 4)
        ).withColumn("text", F.concat(F.col("text"), F.lit(" MOVED")))
        upsert_parquet(spark, t, upd, ["doc_id"])
        head = read_manifest(spark, t)["version"]
        return t, int(head)

    return staged(_CARD_CDC_CACHE, sf_dir, "prox_card_cdc_", build)


def q199_incremental_data_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL maintenance of the dedup data card (q193's shape)
    from the change feed — the q118/q184/q190 IVM algebra applied to
    the card's two aggregate classes, fed by q196's reader instead of
    a snapshot diff:

    - SELF-MAINTAINABLE arms (n_docs, the per-doc quality flag): one
      signed sum over the feed — insert +1, delete −1, an update's
      delete+insert pair nets its own move. Work ∝ |delta|.
    - GROUP-DEPENDENT arms (n_exact_dup, n_clean): a doc's exact-dup
      verdict depends on its digest group's KEEPER (min doc_id) — the
      q184 min-under-deletes case. Groups whose membership the delta
      touched (any digest appearing in the feed, old or new side —
      updates touch both the left and the joined group) are recomputed
      from the current table SEMI-JOINED on the touched digest set;
      untouched groups keep their stored contribution. Work ∝
      |delta| + |affected groups|, never |table| — ``recompute_
      bounded`` (oracle-pinned TRUE) asserts strictly fewer groups
      were recomputed than exist.

    The oracle computes the v2 card FROM SCRATCH (the formulaic final
    corpus), so the gate proves incremental == full recompute exactly:
    a keeper the delete should have reassigned, a group the update
    should have split, or an uncancelled rewrite echo all break the
    hash. The workload deletes group keepers on purpose."""
    from prox_spark.cdf import read_table_changes
    from prox_spark.table import read_table

    t, head = _card_cdc_table(spark, sf_dir)
    v1 = (
        read_table(spark, t, version=1)
        .select("doc_id", "source", "text")
        # EAGER barrier, not a pin: three consumers (self-maintainable
        # arm + two contrib passes) all materialize inside the final
        # action and raced the r12 persist's cold cache — the snapshot
        # read still ran per branch (the q75 adjudication, r13 §5).
        # The two counts below only pre-materialize touched/v2d, never
        # v1, so v1 needs its own barrier.
        .localCheckpoint(eager=True)
    )
    feed = read_table_changes(spark, t, 1, head)
    sgn = F.when(F.col("_change_type") == "insert", F.lit(1)).otherwise(
        F.lit(-1)
    )
    f = feed.select(
        "source",
        F.md5("text").alias("digest"),
        sgn.alias("s"),
        (F.col("doc_id") % 7 == 0).cast("int").alias("flg"),
    )

    # self-maintainable arm: signed sums merged onto the stored card
    base1 = v1.groupBy("source").agg(
        F.count(F.lit(1)).alias("n1"),
        F.sum((F.col("doc_id") % 7 == 0).cast("int")).alias("fl1"),
    )
    d1 = f.groupBy("source").agg(
        F.sum("s").alias("dn"),
        F.sum(F.col("s") * F.col("flg")).alias("dfl"),
    )

    # group-dependent arm: recompute ONLY the touched digest groups
    touched = f.select("digest").distinct().persist()
    v1d = v1.withColumn("digest", F.md5("text"))
    v2d = (
        read_table(spark, t)
        .select("doc_id", "source", "text")
        .withColumn("digest", F.md5("text"))
        # two consumers (new-contrib pass + the bounded-flag distinct)
        .persist()
    )

    def contrib(df: DataFrame, only_touched: bool) -> DataFrame:
        sub = df.join(F.broadcast(touched), "digest") if only_touched else df
        keep = sub.groupBy("digest").agg(F.min("doc_id").alias("keeper"))
        return (
            sub.join(keep, "digest")
            .select(
                "source",
                (F.col("doc_id") > F.col("keeper")).cast("long").alias("dup"),
                (
                    (F.col("doc_id") == F.col("keeper"))
                    & (F.col("doc_id") % 7 != 0)
                ).cast("long").alias("cln"),
            )
            .groupBy("source")
            .agg(F.sum("dup").alias("c_dup"), F.sum("cln").alias("c_cln"))
        )

    base2 = contrib(v1d, only_touched=False)  # the stored card's arm
    old_c = contrib(v1d, only_touched=True).select(
        "source", F.col("c_dup").alias("o_dup"), F.col("c_cln").alias("o_cln")
    )
    new_c = contrib(v2d, only_touched=True).select(
        "source", F.col("c_dup").alias("w_dup"), F.col("c_cln").alias("w_cln")
    )
    # Two separate eager counts, ON PURPOSE (r12 negative result):
    # they double as cache-priming barriers — each materializes one
    # of the pinned frames (touched / v2d) BEFORE the main action.
    # A fully lazy in-plan fold measured 2.69→4.06 s (the three
    # contrib branches race the cold caches and re-run the snapshot
    # build — the q105 cache-race hazard), and a single combined
    # scalar job still read ~0.5 s above this form in-suite.
    bounded = bool(
        touched.count() < v2d.select("digest").distinct().count()
    )

    z = F.lit(0)
    merged = (
        base1.join(d1, "source", "full_outer")
        .join(base2, "source", "full_outer")
        .join(old_c, "source", "full_outer")
        .join(new_c, "source", "full_outer")
        .select(
            "source",
            (F.coalesce("n1", z) + F.coalesce("dn", z)).cast("long").alias("n_docs"),
            (
                F.coalesce("c_dup", z) - F.coalesce("o_dup", z)
                + F.coalesce("w_dup", z)
            ).cast("long").alias("n_exact_dup"),
            (F.coalesce("fl1", z) + F.coalesce("dfl", z)).cast("long").alias(
                "n_flagged"
            ),
            (
                F.coalesce("c_cln", z) - F.coalesce("o_cln", z)
                + F.coalesce("w_cln", z)
            ).cast("long").alias("n_clean"),
        )
        .filter(F.col("n_docs") > 0)
        .withColumn("recompute_bounded", F.lit(bounded))
        .orderBy("source")
    )
    return merged


ORACLE_Q199 = f"""
WITH final AS (
  SELECT i AS doc_id, 'src' || CAST(i % 5 AS VARCHAR) AS source,
         CASE WHEN i % 6 = 0 AND i < 60 AND i % 10 <> 4
              THEN 'card g' || CAST(i // 3 AS VARCHAR) || ' MOVED'
              ELSE 'card g' || CAST(i // 3 AS VARCHAR) END AS text
  FROM range({N_CARD_DOCS}) t(i)
  WHERE i % 10 <> 4
),
keep AS (
  SELECT md5(text) AS digest, min(doc_id) AS keeper
  FROM final GROUP BY 1
),
flags AS (
  SELECT fi.source,
         fi.doc_id > k.keeper AS exact_dup,
         fi.doc_id % 7 = 0 AS flagged
  FROM final fi JOIN keep k ON md5(fi.text) = k.digest
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN exact_dup THEN 1 ELSE 0 END) AS BIGINT)
         AS n_exact_dup,
       CAST(sum(CASE WHEN flagged THEN 1 ELSE 0 END) AS BIGINT)
         AS n_flagged,
       CAST(sum(CASE WHEN NOT exact_dup AND NOT flagged THEN 1 ELSE 0 END)
         AS BIGINT) AS n_clean,
       TRUE AS recompute_bounded
FROM flags
GROUP BY source
ORDER BY source
"""


# --- q202: shallow clone (zero-copy fork + divergence + pin safety) --------

_CLONE_CACHE: dict[str, tuple] = {}


def _clone_pair(spark: SparkSession, sf_dir: str) -> tuple:
    """Staged once per process: a documents-backed SOURCE table with a
    merge-on-read delete in its history, shallow-CLONED, then driven
    through the full hazard sequence — divergent writes on both sides,
    a source compaction, and a hard source vacuum (keep_last=1,
    retention 0) that would destroy the clone if the clone's tag pin
    did not hold. Returns (clone_path, zero_copy, survives)."""
    import os

    from prox_spark.table import (
        clone_table,
        commit_delta,
        commit_snapshot,
        compact_table,
        read_manifest,
        read_table,
        vacuum,
    )
    from prox_spark.upsert import delete_keys_mor, upsert_parquet

    from ._staging import staged

    def build(scratch: str) -> tuple:
        src, dst = f"{scratch}/src", f"{scratch}/dst"
        docs = read_parquet(spark, f"{sf_dir}/documents.parquet").select(
            "doc_id", "source", "n_chars"
        )
        commit_snapshot(
            spark, src, docs.filter(F.col("doc_id") % 3 != 0),
            stat_cols=["doc_id"], n_files=4,
        )
        prev = read_manifest(spark, src)
        commit_delta(
            spark, src, docs.filter(F.col("doc_id") % 3 == 0),
            list(prev["files"]), update_key_ranges={},
        )
        delete_keys_mor(
            spark, src,
            docs.filter(F.col("doc_id") % 10 == 6).select("doc_id"),
            ["doc_id"],
        )
        clone_table(spark, src, dst)
        m = read_manifest(spark, dst)
        zero_copy = bool(
            all(f.startswith("/") for f in m["files"])
            and not os.path.exists(f"{dst}/data")
        )
        # diverge the CLONE: bump n_chars for doc_id % 7 == 0
        upd = (
            read_table(spark, dst)
            .filter(F.col("doc_id") % 7 == 0)
            .withColumn("n_chars", F.col("n_chars") + F.lit(500))
        )
        upsert_parquet(spark, dst, upd, ["doc_id"])
        # diverge the SOURCE: rows the clone must never see
        cur = read_manifest(spark, src)
        commit_delta(
            spark, src,
            docs.limit(5).select(
                (F.col("doc_id") + F.lit(1_000_000)).alias("doc_id"),
                "source", "n_chars",
            ),
            list(cur["files"]), update_key_ranges={},
        )
        # the hazard: rewrite + hard-vacuum the source; only the
        # clone's tag pin keeps the cloned version's files alive
        compact_table(spark, src)
        vacuum(spark, src, keep_last=1, retention_minutes=0.0)
        try:
            survives = read_table(spark, dst).count() > 0
        except Exception:
            survives = False
        return dst, zero_copy, bool(survives)

    return staged(_CLONE_CACHE, sf_dir, "prox_clone_", build)


def q202_shallow_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHALLOW CLONE under the driver gate (Delta CREATE TABLE ...
    SHALLOW CLONE parity, prox_spark.table.clone_table): the clone
    references the source's files by absolute path (zero bytes
    copied), diverges via an upsert that must rewrite foreign files
    into local ones, must NOT see the source's post-clone append, and
    must survive a source compaction + hard vacuum through its tag
    pin. The aggregate reads the clone's final state; the oracle
    derives it formulaically from the raw documents table — a leaked
    source row, a lost foreign file, or a mis-applied carried
    merge-on-read delete all break the hash. Pinned flags:
    ``zero_copy`` (no data files under the clone at clone time) and
    ``survives_src_vacuum``."""
    dst, zero_copy, survives = _clone_pair(spark, sf_dir)
    from prox_spark.table import read_table

    return (
        read_table(spark, dst)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
        .withColumn("zero_copy", F.lit(zero_copy))
        .withColumn("survives_src_vacuum", F.lit(survives))
        .orderBy("source")
    )


ORACLE_Q202 = """
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN doc_id % 7 = 0 THEN n_chars + 500
                     ELSE n_chars END) AS BIGINT) AS sum_chars,
       TRUE AS zero_copy,
       TRUE AS survives_src_vacuum
FROM documents
WHERE doc_id % 10 <> 6
GROUP BY source
ORDER BY source
"""


# --- q204: CHECK constraints enforced at commit time -----------------------

_CONSTRAINT_CACHE: dict[str, tuple] = {}


def _constraint_table(spark: SparkSession, sf_dir: str) -> tuple:
    """Staged once per process: a documents-backed table with a CHECK
    constraint, driven through a VIOLATING commit (must be rejected
    atomically — no new version, no leftover rows) and then a valid
    synthetic append. Returns (path, rejected_atomically)."""
    from prox_spark.table import (
        ConstraintViolationError,
        add_constraint,
        commit_delta,
        commit_snapshot,
        read_manifest,
    )

    from ._staging import staged

    def build(scratch: str) -> tuple:
        t = f"{scratch}/t"
        docs = read_parquet(spark, f"{sf_dir}/documents.parquet").select(
            "doc_id", "source", "n_chars"
        )
        commit_snapshot(spark, t, docs, stat_cols=["doc_id"], n_files=4)
        add_constraint(spark, t, "chars_nonneg", "n_chars >= 0")
        head = read_manifest(spark, t)["version"]
        prev = read_manifest(spark, t)
        bad = docs.limit(3).select(
            (F.col("doc_id") + F.lit(2_000_000)).alias("doc_id"),
            "source",
            F.lit(-1).cast("long").alias("n_chars"),
        )
        rejected = False
        try:
            commit_delta(
                spark, t, bad, list(prev["files"]), update_key_ranges={}
            )
        except ConstraintViolationError:
            rejected = True
        atomic = read_manifest(spark, t)["version"] == head
        ok = docs.filter(F.col("doc_id") % 11 == 0).select(
            (F.col("doc_id") + F.lit(1_000_000)).alias("doc_id"),
            F.lit("synthetic").alias("source"),
            (F.col("doc_id") % 100).cast("long").alias("n_chars"),
        )
        cur = read_manifest(spark, t)
        commit_delta(spark, t, ok, list(cur["files"]), update_key_ranges={})
        return t, bool(rejected and atomic)

    return staged(_CONSTRAINT_CACHE, sf_dir, "prox_constraint_", build)


def q204_check_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHECK constraints under the driver gate (Delta ALTER TABLE ADD
    CONSTRAINT parity, prox_spark.table.add_constraint): a violating
    append must be rejected ATOMICALLY (no version published, its
    files removed — the pinned ``rejected_atomically`` flag) while a
    valid append lands; the aggregate reads the final table, so a
    leaked violating row or a lost valid row breaks the hash. SQL
    CHECK semantics (IS FALSE violates, NULL passes); enforcement
    reads back only the commit's new bytes, columnar-pruned to the
    constraint's columns — never table-sized work."""
    from prox_spark.table import read_table

    t, flag = _constraint_table(spark, sf_dir)
    return (
        read_table(spark, t)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
        .withColumn("rejected_atomically", F.lit(flag))
        .orderBy("source")
    )


ORACLE_Q204 = """
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       TRUE AS rejected_atomically
FROM (
  SELECT source, n_chars FROM documents
  UNION ALL
  SELECT 'synthetic' AS source, doc_id % 100 AS n_chars
  FROM documents WHERE doc_id % 11 = 0
)
GROUP BY source
ORDER BY source
"""


# --- q207: materialized view with change-feed incremental refresh ----------

_MV_CACHE: dict[str, tuple] = {}


def _mv_pair(spark: SparkSession, sf_dir: str) -> tuple:
    """Staged once per process: a documents-backed base table, a
    registered count+sum-by-source materialized view, then an append,
    a merge-on-read delete, and an upsert on the base followed by ONE
    incremental refresh. Returns (mv_path, refreshed, covered_ok)."""
    from prox_spark.mv import create_mv, mv_info, refresh_mv
    from prox_spark.table import (
        commit_delta,
        commit_snapshot,
        read_manifest,
    )
    from prox_spark.upsert import delete_keys_mor, upsert_parquet

    from ._staging import staged

    def build(scratch: str) -> tuple:
        base, mv = f"{scratch}/base", f"{scratch}/mv"
        docs = read_parquet(spark, f"{sf_dir}/documents.parquet").select(
            "doc_id", "source", "n_chars"
        )
        commit_snapshot(
            spark, base, docs.filter(F.col("doc_id") % 10 <= 7),
            stat_cols=["doc_id"], n_files=4,
        )
        create_mv(spark, base, mv, ["source"], ["n_chars"])
        prev = read_manifest(spark, base)
        commit_delta(
            spark, base, docs.filter(F.col("doc_id") % 10 > 7),
            list(prev["files"]), update_key_ranges={},
        )
        delete_keys_mor(
            spark, base,
            docs.filter(F.col("doc_id") % 5 == 0).select("doc_id"),
            ["doc_id"],
        )
        upsert_parquet(
            spark, base,
            docs.filter(
                (F.col("doc_id") % 7 == 0) & (F.col("doc_id") % 5 != 0)
            ).withColumn("n_chars", F.col("n_chars") + F.lit(1000)),
            ["doc_id"],
        )
        out = refresh_mv(spark, mv)
        covered_ok = bool(
            mv_info(spark, mv)["version"]
            == read_manifest(spark, base)["version"]
        )
        return mv, bool(out["refreshed"]), covered_ok

    return staged(_MV_CACHE, sf_dir, "prox_mv_", build)


def q207_materialized_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATERIALIZED VIEW with change-feed incremental refresh
    (prox_spark/mv.py — the operational wrapper around the q118/q199
    IVM algebra): a count+sum-by-source view registered over the base,
    maintained through an append + merge-on-read delete + upsert by
    ONE refresh that folds the signed feed per key and merges through
    the format's keyed primitives (MoR delete for groups netting to
    zero, file-pruned upsert for changed groups) — work ∝ touched
    groups, never a base re-scan. The oracle aggregates the formulaic
    final base directly, so a missed retraction, a double-folded
    update, or a stale covered version breaks the hash; ``covered_ok``
    pins the lineage bookkeeping."""
    from prox_spark.table import read_table

    mv, refreshed, covered_ok = _mv_pair(spark, sf_dir)
    return (
        read_table(spark, mv)
        .select("source", "n_rows", "sum_n_chars")
        .withColumn("refreshed", F.lit(refreshed))
        .withColumn("covered_ok", F.lit(covered_ok))
        .orderBy("source")
    )


ORACLE_Q207 = """
WITH final AS (
  SELECT source,
         CASE WHEN doc_id % 7 = 0 THEN n_chars + 1000
              ELSE n_chars END AS n_chars
  FROM documents
  WHERE doc_id % 5 <> 0
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(n_chars) AS BIGINT) AS sum_n_chars,
       TRUE AS refreshed,
       TRUE AS covered_ok
FROM final
GROUP BY source
ORDER BY source
"""


# --- q208: JOIN materialized view, both sides changing ---------------------

_JMV_CACHE: dict[str, tuple] = {}


def _join_mv_pair(spark: SparkSession, sf_dir: str) -> tuple:
    """Staged once per process: a documents fact and an
    embeddings-derived dim registered as a JOIN view, then changes on
    BOTH sides (fact append + merge-on-read delete + upsert; dim
    upsert) folded by ONE two-sided incremental refresh. Returns
    (mv_path, refreshed, covered_ok)."""
    from prox_spark.mv import create_join_mv, mv_info, refresh_join_mv
    from prox_spark.table import (
        commit_delta,
        commit_snapshot,
        read_manifest,
    )
    from prox_spark.upsert import delete_keys_mor, upsert_parquet

    from ._staging import staged

    def build(scratch: str) -> tuple:
        left, right, mv = f"{scratch}/fact", f"{scratch}/dim", f"{scratch}/mv"
        docs = read_parquet(spark, f"{sf_dir}/documents.parquet").select(
            "doc_id", "source", "n_chars"
        )
        dim = read_parquet(spark, f"{sf_dir}/embeddings.parquet").select(
            F.col("vec_id").alias("doc_id"),
            F.col("label").cast("long").alias("label"),
        )
        commit_snapshot(
            spark, left, docs.filter(F.col("doc_id") % 10 <= 7),
            stat_cols=["doc_id"], n_files=4,
        )
        commit_snapshot(spark, right, dim, stat_cols=["doc_id"], n_files=4)
        create_join_mv(
            spark, left, right, mv, ["doc_id"], ["source", "label"],
            ["n_chars"],
        )
        prev = read_manifest(spark, left)
        commit_delta(
            spark, left, docs.filter(F.col("doc_id") % 10 > 7),
            list(prev["files"]), update_key_ranges={},
        )
        delete_keys_mor(
            spark, left,
            docs.filter(F.col("doc_id") % 5 == 0).select("doc_id"),
            ["doc_id"],
        )
        upsert_parquet(
            spark, left,
            docs.filter(
                (F.col("doc_id") % 7 == 0) & (F.col("doc_id") % 5 != 0)
            ).withColumn("n_chars", F.col("n_chars") + F.lit(1000)),
            ["doc_id"],
        )
        upsert_parquet(
            spark, right,
            dim.filter(F.col("doc_id") % 3 == 0)
            .withColumn("label", F.col("label") + F.lit(100)),
            ["doc_id"],
        )
        out = refresh_join_mv(spark, mv)
        info = mv_info(spark, mv)
        covered_ok = bool(
            info["left"]["version"] == read_manifest(spark, left)["version"]
            and info["right"]["version"]
            == read_manifest(spark, right)["version"]
        )
        return mv, bool(out["refreshed"]), covered_ok

    return staged(_JMV_CACHE, sf_dir, "prox_jmv_", build)


def q208_join_materialized_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOIN materialized view with BOTH sides changing — q190's
    three-term delta algebra (ΔA⋈B₁ + A₁⋈ΔB + ΔA⋈ΔB, signed
    multiplicities) registered as an API (prox_spark/mv.py
    refresh_join_mv): the fact side appends, merge-on-read deletes and
    upserts; the dim side re-labels a third of its keys; one refresh
    folds both feeds against TIME-TRAVELED covered bases (the full v2
    join is never rebuilt — every term joins a delta). The oracle
    aggregates the formulaic final join directly; a dim update applied
    to the wrong fact slice, a missed ΔA⋈ΔB cross-term, or a stale
    covered version breaks the hash."""
    from prox_spark.table import read_table

    mv, refreshed, covered_ok = _join_mv_pair(spark, sf_dir)
    return (
        read_table(spark, mv)
        .select("source", "label", "n_rows", "sum_n_chars")
        .withColumn("refreshed", F.lit(refreshed))
        .withColumn("covered_ok", F.lit(covered_ok))
        .orderBy("source", "label")
    )


ORACLE_Q208 = """
WITH fact AS (
  SELECT doc_id, source,
         CASE WHEN doc_id % 7 = 0 THEN n_chars + 1000
              ELSE n_chars END AS n_chars
  FROM documents
  WHERE doc_id % 5 <> 0
), dim AS (
  SELECT vec_id AS doc_id,
         CAST(CASE WHEN vec_id % 3 = 0 THEN label + 100
                   ELSE label END AS BIGINT) AS label
  FROM embeddings
)
SELECT source, label,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(n_chars) AS BIGINT) AS sum_n_chars,
       TRUE AS refreshed,
       TRUE AS covered_ok
FROM fact JOIN dim USING (doc_id)
GROUP BY source, label
ORDER BY source, label
"""


# --- q210: continuous (stream-driven) materialized-view maintenance --------

_SMV_CACHE: dict[str, tuple] = {}


def _stream_mv(spark: SparkSession, sf_dir: str) -> tuple:
    """Staged once per process: the q207 view maintained by a STANDING
    readChangeFeed stream instead of explicit refresh calls — three
    checkpoint-sharing runs (the first delivers only rows the view
    already covers, which the lineage fence must skip; the second
    folds an append + merge-on-read delete + upsert; the third has
    nothing new and must publish NOTHING). Returns
    (mv_path, covered_ok, replay_noop)."""
    from prox_spark.mv import create_mv, mv_info, mv_stream_batch
    from prox_spark.table import (
        commit_delta,
        commit_snapshot,
        read_manifest,
        table_versions,
    )
    from prox_spark.table_stream import TableChangesDataSource
    from prox_spark.upsert import delete_keys_mor, upsert_parquet

    from ._staging import staged
    from .streaming_q import _stream_partitions

    def build(scratch: str) -> tuple:
        spark.dataSource.register(TableChangesDataSource)
        base, mv, ckpt = f"{scratch}/base", f"{scratch}/mv", f"{scratch}/ckpt"
        docs = read_parquet(spark, f"{sf_dir}/documents.parquet").select(
            "doc_id", "source", "n_chars"
        )

        def run() -> None:
            with _stream_partitions(spark):
                q = (
                    spark.readStream.format("prox_table_changes")
                    .option("path", base)
                    .option("readChangeFeed", "true")
                    .load()
                    .writeStream.foreachBatch(
                        lambda bdf, bid: mv_stream_batch(bdf, bid, mv)
                    )
                    .option("checkpointLocation", ckpt)
                    .trigger(availableNow=True)
                    .start()
                )
                try:
                    if not q.awaitTermination(600):
                        raise RuntimeError(
                            "MV stream did not drain within 600s"
                        )
                finally:
                    q.stop()

        commit_snapshot(
            spark, base, docs.filter(F.col("doc_id") % 10 <= 6),
            stat_cols=["doc_id"], n_files=4,
        )
        create_mv(spark, base, mv, ["source"], ["n_chars"])
        run()  # covers only already-materialized rows: fence must skip
        fence_ok = int(mv_info(spark, mv)["version"]) == 1
        prev = read_manifest(spark, base)
        commit_delta(
            spark, base, docs.filter(F.col("doc_id") % 10 > 6),
            list(prev["files"]), update_key_ranges={},
        )
        delete_keys_mor(
            spark, base,
            docs.filter(F.col("doc_id") % 3 == 0).select("doc_id"),
            ["doc_id"],
        )
        upsert_parquet(
            spark, base,
            docs.filter(
                (F.col("doc_id") % 11 == 0) & (F.col("doc_id") % 3 != 0)
            ).withColumn("n_chars", F.col("n_chars") + F.lit(500)),
            ["doc_id"],
        )
        run()  # one catch-up batch folds all three commits
        covered_ok = bool(
            fence_ok
            and int(mv_info(spark, mv)["version"])
            == int(read_manifest(spark, base)["version"])
        )
        head = table_versions(spark, mv)[-1]
        run()  # nothing new: must publish NO view commit at all
        replay_noop = bool(table_versions(spark, mv)[-1] == head)
        return mv, covered_ok, replay_noop

    return staged(_SMV_CACHE, sf_dir, "prox_smv_", build)


def q210_streaming_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The materialized view maintained by a STANDING STREAM — q207's
    registry composed with the table-as-stream source (Databricks
    DLT's continuous-MV shape): foreachBatch folds each micro-batch's
    signed rows directly (work ∝ batch, no feed re-read), and
    idempotence comes from the covered-version LINEAGE, not marker
    rows — a replayed or overlapping batch contributes only its
    uncovered slice, so the first stream run (which re-delivers the
    rows the view was created from) must change nothing. The oracle
    aggregates the formulaic final base; pinned flags: ``covered_ok``
    (the genesis fence held and the lineage tracks the base head) and
    ``replay_noop`` (a run with nothing new published no view
    commit)."""
    from prox_spark.table import read_table

    mv, covered_ok, replay_noop = _stream_mv(spark, sf_dir)
    return (
        read_table(spark, mv)
        .select("source", "n_rows", "sum_n_chars")
        .withColumn("covered_ok", F.lit(covered_ok))
        .withColumn("replay_noop", F.lit(replay_noop))
        .orderBy("source")
    )


ORACLE_Q210 = """
WITH final AS (
  SELECT source,
         CASE WHEN doc_id % 11 = 0 THEN n_chars + 500
              ELSE n_chars END AS n_chars
  FROM documents
  WHERE doc_id % 3 <> 0
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(n_chars) AS BIGINT) AS sum_n_chars,
       TRUE AS covered_ok,
       TRUE AS replay_noop
FROM final
GROUP BY source
ORDER BY source
"""


# --- q211: serve-from-view — the MV READ path -------------------------------

_MVREAD_CACHE: dict[str, tuple] = {}


def _mv_read_pair(spark: SparkSession, sf_dir: str) -> tuple:
    """Staged once per process: the q207 shape (base + registered view
    + churn + ONE refresh) followed by POST-refresh base commits the
    view has NOT folded — a merge-on-read delete and an upsert — and
    the set of covered-history base files those commits left untouched
    (the files a serve-from-view plan must never open). Returns
    (base, mv, untouched_abs_paths)."""
    from prox_spark.mv import create_mv, mv_info, refresh_mv
    from prox_spark.table import (
        commit_delta,
        commit_snapshot,
        read_manifest,
        table_versions,
    )
    from prox_spark.upsert import delete_keys_mor, upsert_parquet

    from ._staging import staged

    def build(scratch: str) -> tuple:
        base, mv = f"{scratch}/base", f"{scratch}/mv"
        docs = read_parquet(spark, f"{sf_dir}/documents.parquet").select(
            "doc_id", "source", "n_chars"
        )
        commit_snapshot(
            spark, base, docs.filter(F.col("doc_id") % 10 <= 7),
            stat_cols=["doc_id"], n_files=8,
        )
        create_mv(spark, base, mv, ["source"], ["n_chars"])
        prev = read_manifest(spark, base)
        commit_delta(
            spark, base, docs.filter(F.col("doc_id") % 10 > 7),
            list(prev["files"]), update_key_ranges={},
        )
        delete_keys_mor(
            spark, base,
            docs.filter(F.col("doc_id") % 5 == 0).select("doc_id"),
            ["doc_id"],
        )
        upsert_parquet(
            spark, base,
            docs.filter(
                (F.col("doc_id") % 7 == 0) & (F.col("doc_id") % 5 != 0)
            ).withColumn("n_chars", F.col("n_chars") + F.lit(1000)),
            ["doc_id"],
        )
        refresh_mv(spark, mv)
        covered = int(mv_info(spark, mv)["version"])
        covered_files = set(read_manifest(spark, base, covered)["files"])

        # the view does NOT see these: a delete and an upsert after
        # the refresh (both narrow — most covered files stay untouched)
        delete_keys_mor(
            spark, base,
            docs.filter(F.col("doc_id") % 11 == 3).select("doc_id"),
            ["doc_id"],
        )
        upsert_parquet(
            spark, base,
            docs.filter(
                (F.col("doc_id") % 13 == 1)
                & (F.col("doc_id") % 5 != 0)
                & (F.col("doc_id") % 11 != 3)
            ).withColumn("n_chars", F.col("n_chars") + F.lit(1050)),
            ["doc_id"],
        )

        # covered-history files no post-refresh commit touched
        window: set[str] = set()
        prev_m = read_manifest(spark, base, covered)
        for v in [x for x in table_versions(spark, base) if x > covered]:
            cur_m = read_manifest(spark, base, v)
            pf, cf = set(prev_m["files"]), set(cur_m["files"])
            window |= (cf - pf) | (pf - cf)
            prev_entries = {d["file"] for d in (prev_m.get("deletes") or [])}
            for e in cur_m.get("deletes") or []:
                if e["file"] not in prev_entries:
                    window.add(e["file"])
                    window.update(e["targets"])
            prev_m = cur_m
        untouched = {f"{base}/{f}" for f in covered_files - window}
        return base, mv, untouched

    return staged(_MVREAD_CACHE, sf_dir, "prox_mvread_", build)


def _norm_file(p: str) -> str:
    return "/" + p.split("file:", 1)[-1].lstrip("/") if p.startswith(
        "file:"
    ) else p


def q211_mv_serve_from_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SERVE-FROM-VIEW — the MV READ path (prox_spark/mv.py
    read_mv_current + rewrite_aggregate), the half of materialized
    views users actually touch (Databricks/Redshift auto-rewrite; the
    reference's Redshift layer full-refreshes precisely because it
    lacks this, reference glue_scripts/s3_to_redshift_script.py
    preactions): a count+sum-by-source aggregate over the base is
    ROUTED to the covering registered view, whose stored files answer
    for the covered history while a read-time fold of the change feed
    catches up the post-refresh delete + upsert — an exact current
    answer with ZERO refresh publish. The oracle aggregates the
    formulaic final base directly, so a stale stored row or a missed/
    double-folded delta breaks the hash. Pins: ``served_from_mv`` (the
    rewrite matched and the plan read the view's files) and
    ``no_base_rescan`` (no covered-history base file untouched by the
    delta window was opened — the plan cannot have re-scanned the
    base)."""
    from prox_spark.mv import rewrite_aggregate

    base, mv, untouched = _mv_read_pair(spark, sf_dir)
    out, hit = rewrite_aggregate(spark, base, ["source"], ["n_chars"], [mv])
    opened = {_norm_file(f) for f in out.inputFiles()}
    served_from_mv = bool(
        hit == mv and any(f.startswith(mv) for f in opened)
    )
    no_base_rescan = not (opened & untouched)
    return (
        out.select("source", "n_rows", "sum_n_chars")
        .withColumn("served_from_mv", F.lit(served_from_mv))
        .withColumn("no_base_rescan", F.lit(no_base_rescan))
        .orderBy("source")
    )


ORACLE_Q211 = """
WITH final AS (
  SELECT source,
         CASE WHEN doc_id % 13 = 1 THEN n_chars + 1050
              WHEN doc_id % 7 = 0 THEN n_chars + 1000
              ELSE n_chars END AS n_chars
  FROM documents
  WHERE doc_id % 5 <> 0 AND doc_id % 11 <> 3
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(n_chars) AS BIGINT) AS sum_n_chars,
       TRUE AS served_from_mv,
       TRUE AS no_base_rescan
FROM final
GROUP BY source
ORDER BY source
"""


# --- q212: min/max materialized view (keeper deletes on purpose) ------------

_MINMAX_MV_CACHE: dict[str, tuple] = {}


def _minmax_mv(spark: SparkSession, sf_dir: str) -> tuple:
    """Staged once per process: a documents base, a count+sum+min+max
    by-source view, a RENAME of the recorded sum/extreme column
    (n_chars → chars_v2 — the view must resolve through the mapping),
    an append under the new name, then a KEEPER DELETE — for every
    source in a deterministic half (md5-gated), delete exactly the
    rows holding the source's current max — and ONE refresh. Returns
    (mv_path, recompute_bounded, covered_ok, rename_survived)."""
    from prox_spark.mv import create_mv, mv_info, refresh_mv
    from prox_spark.table import (
        commit_delta,
        commit_snapshot,
        read_manifest,
        rename_column,
    )
    from prox_spark.upsert import delete_keys_mor

    from ._staging import staged

    def build(scratch: str) -> tuple:
        base, mv = f"{scratch}/base", f"{scratch}/mv"
        docs = read_parquet(spark, f"{sf_dir}/documents.parquet").select(
            "doc_id", "source", "n_chars"
        )
        commit_snapshot(
            spark, base, docs.filter(F.col("doc_id") % 10 <= 8),
            stat_cols=["doc_id"], n_files=8,
        )
        create_mv(spark, base, mv, ["source"], ["n_chars"],
                  mins=["doc_id", "n_chars"], maxs=["n_chars"])
        rename_column(spark, base, "n_chars", "chars_v2")
        prev = read_manifest(spark, base)
        commit_delta(
            spark, base,
            docs.filter(F.col("doc_id") % 10 > 8)
            .withColumnRenamed("n_chars", "chars_v2"),
            list(prev["files"]), update_key_ranges={},
        )
        # keeper delete: per-source argmax rows, md5-gated half of the
        # sources (every such group's stored max is removed)
        w = Window.partitionBy("source")
        gated = F.substring(F.md5(F.col("source")), 1, 1) < F.lit("8")
        keepers = (
            docs.withColumn("_mx", F.max("n_chars").over(w))
            .filter((F.col("n_chars") == F.col("_mx")) & gated)
            .select("doc_id")
        )
        delete_keys_mor(spark, base, keepers, ["doc_id"])
        n_gated = int(
            docs.filter(gated).select("source").distinct().count()
        )
        n_total = int(docs.select("source").distinct().count())
        out = refresh_mv(spark, mv)
        # deletes only touch gated sources, so the recompute set is
        # bounded by them; an argmax that lived only in the append
        # window nets out and correctly avoids the recompute
        recompute_bounded = bool(
            0 < out["recomputed_groups"] <= n_gated < n_total
        )
        covered_ok = bool(
            mv_info(spark, mv)["version"]
            == read_manifest(spark, base)["version"]
        )
        from prox_spark.table import read_table

        rename_survived = bool(
            read_table(spark, mv).columns
            == ["source", "n_rows", "sum_n_chars", "min_doc_id",
                "min_n_chars", "max_n_chars"]
        )
        return mv, recompute_bounded, covered_ok, rename_survived

    return staged(_MINMAX_MV_CACHE, sf_dir, "prox_mmv_", build)


def q212_minmax_materialized_view(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MIN/MAX MATERIALIZED VIEW — the aggregate class count/sum
    self-maintenance does NOT cover, operationalized in the registry
    (prox_spark/mv.py create_mv(mins=, maxs=), the q184 algebra):
    inserts fold monotonically; a refresh RECOMPUTES exactly the
    groups whose stored extreme was deleted, scoped by a broadcast
    semi-join against the base (work ∝ affected groups, never a base
    re-scan for the rest). The staging deletes every md5-gated
    source's argmax rows ON PURPOSE — the keeper-delete worst case —
    and RENAMES the recorded column (n_chars → chars_v2) before the
    churn, so the refresh must resolve its registration-time names
    through the base's rename history (mv.py _rename_events; a
    dropped column raises MvSchemaError instead of folding wrong).
    The oracle aggregates the formulaic final base; pins:
    ``recompute_bounded`` (the refresh recomputed exactly the gated
    groups — no more, no fewer), ``covered_ok`` (lineage tracks the
    base head), and ``rename_survived`` (the view's own schema never
    shifted under the base rename)."""
    from prox_spark.table import read_table

    mv, recompute_bounded, covered_ok, rename_survived = _minmax_mv(
        spark, sf_dir
    )
    return (
        read_table(spark, mv)
        .select(
            "source", "n_rows", "sum_n_chars", "min_doc_id",
            "min_n_chars", "max_n_chars",
        )
        .withColumn("recompute_bounded", F.lit(recompute_bounded))
        .withColumn("covered_ok", F.lit(covered_ok))
        .withColumn("rename_survived", F.lit(rename_survived))
        .orderBy("source")
    )


ORACLE_Q212 = """
WITH mx AS (
  SELECT source, max(n_chars) AS mxc FROM documents GROUP BY source
), final AS (
  SELECT d.doc_id, d.source, d.n_chars
  FROM documents d JOIN mx USING (source)
  WHERE NOT (substr(md5(source), 1, 1) < '8' AND d.n_chars = mx.mxc)
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(n_chars) AS BIGINT) AS sum_n_chars,
       CAST(min(doc_id) AS BIGINT) AS min_doc_id,
       CAST(min(n_chars) AS BIGINT) AS min_n_chars,
       CAST(max(n_chars) AS BIGINT) AS max_n_chars,
       TRUE AS recompute_bounded,
       TRUE AS covered_ok,
       TRUE AS rename_survived
FROM final
GROUP BY source
ORDER BY source
"""


# --- q216: derived-artifact registry, one-call maintenance ------------------

_ARTREG_CACHE: dict[str, tuple] = {}


def _artifact_registry(spark: SparkSession, sf_dir: str) -> tuple:
    """Staged once per process: a documents base with a registered
    materialized view AND a registered value index, churned (append +
    merge-on-read delete + upsert) and brought current by ONE
    maintain_artifacts call. Returns (mv_path, all_current,
    second_call_noop, index_served)."""
    from prox_spark.artifacts import maintain_artifacts, register_artifact
    from prox_spark.mv import create_mv, mv_info
    from prox_spark.table import (
        build_value_index,
        commit_delta,
        commit_snapshot,
        read_manifest,
        read_table_point_indexed,
    )
    from prox_spark.upsert import delete_keys_mor, upsert_parquet

    from ._staging import staged

    def build(scratch: str) -> tuple:
        base, reg = f"{scratch}/base", f"{scratch}/registry"
        mv, vidx = f"{scratch}/mv", f"{scratch}/vidx"
        docs = read_parquet(spark, f"{sf_dir}/documents.parquet").select(
            "doc_id", "source", "n_chars",
            F.md5(F.col("doc_id").cast("string")).alias("digest"),
        )
        commit_snapshot(
            spark, base, docs.filter(F.col("doc_id") % 10 <= 7),
            stat_cols=["doc_id"], n_files=8,
        )
        create_mv(spark, base, mv, ["source"], ["n_chars"])
        build_value_index(spark, base, "digest", vidx)
        register_artifact(spark, reg, "mv", base, mv)
        register_artifact(spark, reg, "value_index", base, vidx)

        commit_delta(
            spark, base, docs.filter(F.col("doc_id") % 10 > 7),
            list(read_manifest(spark, base)["files"]),
            update_key_ranges={},
        )
        delete_keys_mor(
            spark, base,
            docs.filter(F.col("doc_id") % 5 == 0).select("doc_id"),
            ["doc_id"],
        )
        upsert_parquet(
            spark, base,
            docs.filter(
                (F.col("doc_id") % 7 == 0) & (F.col("doc_id") % 5 != 0)
            ).withColumn("n_chars", F.col("n_chars") + F.lit(1000)),
            ["doc_id"],
        )
        results = maintain_artifacts(spark, reg)
        head = int(read_manifest(spark, base)["version"])
        all_current = bool(
            all(r["status"] == "refreshed" for r in results.values())
            and int(mv_info(spark, mv)["version"]) == head
            and int(read_manifest(spark, vidx)["index_of"]["version"])
            == head
        )
        again = maintain_artifacts(spark, reg)
        second_call_noop = bool(
            all(r["status"] == "noop" for r in again.values())
        )
        # the maintained index serves a point lookup landed by the
        # post-registration append (doc_id % 10 > 7 ⇒ unseen at build)
        probe_id = int(
            docs.filter(F.col("doc_id") % 10 > 7)
            .agg(F.min("doc_id")).first()[0]
        )
        probe = spark.range(1).select(
            F.md5(F.lit(str(probe_id)))
        ).first()[0]
        got = read_table_point_indexed(
            spark, base, vidx, None, "digest", probe
        )
        index_served = bool(
            [r["doc_id"] for r in got.collect()] == [probe_id]
        )
        return mv, all_current, second_call_noop, index_served

    return staged(_ARTREG_CACHE, sf_dir, "prox_artreg_", build)


def q216_artifact_registry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DERIVED-ARTIFACT REGISTRY with one-call maintenance
    (prox_spark/artifacts.py) — the operational layer over the round's
    MV/index machinery, transposing the reference's scheduled-rebuild
    Step Functions DAG (reference stepfunctions.tf:8-226) into
    incremental refreshes: a materialized view and a value index
    registered against one base, churned by append + merge-on-read
    delete + upsert, brought current by ONE maintain_artifacts call
    with per-artifact error isolation. The oracle aggregates the
    formulaic final base. Pins: ``all_current`` (every artifact's
    covered version reached the base head in one call),
    ``second_call_noop`` (an idle call publishes nothing), and
    ``index_served`` (a point lookup through the maintained index
    finds a row the post-registration append landed)."""
    from prox_spark.table import read_table

    mv, all_current, second_call_noop, index_served = _artifact_registry(
        spark, sf_dir
    )
    return (
        read_table(spark, mv)
        .select("source", "n_rows", "sum_n_chars")
        .withColumn("all_current", F.lit(all_current))
        .withColumn("second_call_noop", F.lit(second_call_noop))
        .withColumn("index_served", F.lit(index_served))
        .orderBy("source")
    )


ORACLE_Q216 = """
WITH final AS (
  SELECT source,
         CASE WHEN doc_id % 7 = 0 THEN n_chars + 1000
              ELSE n_chars END AS n_chars
  FROM documents
  WHERE doc_id % 5 <> 0
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(n_chars) AS BIGINT) AS sum_n_chars,
       TRUE AS all_current,
       TRUE AS second_call_noop,
       TRUE AS index_served
FROM final
GROUP BY source
ORDER BY source
"""


# --- q217: frozen training-set manifest (reproducible data) -----------------

_FROZEN_SET_CACHE: dict[str, tuple] = {}


def _frozen_training_set(spark: SparkSession, sf_dir: str) -> tuple:
    """Staged once per process: a corpus and its split-assignment
    artifact FROZEN together in one workspace txn, then the corpus
    churned hard (append + merge-on-read delete + upsert + compaction)
    and the workspace vacuumed aggressively — the txn pins must keep
    the frozen pair byte-identical while the head moves on. Returns
    (ws, corpus, splits, head_moved, vacuumed)."""
    from prox_spark.table import (
        commit_delta,
        commit_snapshot,
        compact_table,
        read_manifest,
    )
    from prox_spark.txn import txn_commit, vacuum_workspace
    from prox_spark.upsert import delete_keys_mor, upsert_parquet

    from ._staging import staged

    def build(scratch: str) -> tuple:
        corpus = f"{scratch}/corpus"
        splits = f"{scratch}/splits"
        ws = f"{scratch}/ws"
        docs = read_parquet(spark, f"{sf_dir}/documents.parquet").select(
            "doc_id", "source", "n_chars"
        )
        commit_snapshot(
            spark, corpus, docs.filter(F.col("doc_id") % 10 <= 8),
            stat_cols=["doc_id"], n_files=8,
        )
        assign = docs.filter(F.col("doc_id") % 10 <= 8).select(
            "doc_id",
            F.when(
                F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
                < F.lit("c"),
                F.lit("train"),
            ).otherwise(F.lit("eval")).alias("split"),
        )
        commit_snapshot(spark, splits, assign, stat_cols=["doc_id"],
                        n_files=2)
        cv = int(read_manifest(spark, corpus)["version"])
        sv = int(read_manifest(spark, splits)["version"])
        txn_commit(spark, ws, {corpus: cv, splits: sv})

        # the world moves on: append, delete, mutate, compact
        commit_delta(
            spark, corpus, docs.filter(F.col("doc_id") % 10 > 8),
            list(read_manifest(spark, corpus)["files"]),
            update_key_ranges={},
        )
        delete_keys_mor(
            spark, corpus,
            docs.filter(F.col("doc_id") % 4 == 1).select("doc_id"),
            ["doc_id"],
        )
        upsert_parquet(
            spark, corpus,
            docs.filter(F.col("doc_id") % 6 == 2)
            .withColumn("n_chars", F.col("n_chars") + F.lit(77)),
            ["doc_id"],
        )
        compact_table(spark, corpus)
        head_moved = bool(
            int(read_manifest(spark, corpus)["version"]) > cv
        )
        # aggressive maintenance: only the txn pins protect the frozen
        # versions' bytes
        vacuum_workspace(
            spark, ws, [corpus, splits], keep_txns=1, keep_versions=1,
            retention_minutes=0.0,
        )
        return ws, corpus, splits, head_moved, True

    return staged(_FROZEN_SET_CACHE, sf_dir, "prox_frozen_", build)


def q217_frozen_training_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FROZEN TRAINING-SET MANIFEST — the reproducibility contract a
    training pipeline needs: one workspace txn pins (corpus version,
    split-assignment version) so a training run's exact input bytes
    stay re-servable LATER, byte-identical, while the corpus is
    appended, deleted from, mutated, compacted, and the workspace is
    vacuumed down to one kept version — the txn pins are the only
    thing protecting the frozen snapshot (prox_spark/txn.py's
    pin-aware vacuum). The read is the pinned corpus joined with the
    pinned split assignment; the oracle recomputes the FROZEN state
    formulaically (pre-churn slice, pre-mutation values, md5 split
    gate), so a leaked post-freeze row, a lost deleted-row
    resurrection, or a vacuumed frozen file all break the hash. Pins:
    ``head_moved`` (the live table genuinely diverged) and
    ``served_after_vacuum``."""
    from prox_spark.txn import txn_read

    ws, corpus, splits, head_moved, vacuumed = _frozen_training_set(
        spark, sf_dir
    )
    frozen = txn_read(spark, ws, corpus).join(
        txn_read(spark, ws, splits), "doc_id"
    )
    return (
        frozen.groupBy("split", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_n_chars"),
        )
        .withColumn("head_moved", F.lit(head_moved))
        .withColumn("served_after_vacuum", F.lit(vacuumed))
        .orderBy("split", "source")
    )


ORACLE_Q217 = """
WITH frozen AS (
  SELECT doc_id, source, n_chars,
         CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'c'
              THEN 'train' ELSE 'eval' END AS split
  FROM documents
  WHERE doc_id % 10 <= 8
)
SELECT split, source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_n_chars,
       TRUE AS head_moved,
       TRUE AS served_after_vacuum
FROM frozen
GROUP BY split, source
ORDER BY split, source
"""


_LLM_PIPE_CACHE: dict[str, tuple] = {}


def _llm_pipeline_run(spark: SparkSession, sf_dir: str) -> tuple:
    """Staged once per process: the ONE-CALL curation pipeline
    (prox_spark/llm_jobs.py run_llm_pipeline) over the documents
    table, then the production aftermath — the live corpus churned
    (append + merge-on-read delete + upsert + compaction), the
    registry re-maintained through the churn, and BOTH retention
    passes run (vacuum_with_registry composing the registry's
    covered-version pins with the frozen txn's pins; workspace-pinned
    splits vacuumed too) — so the frozen training set must survive on
    its pins alone. Returns (ws, corpus, splits, cross_split_pairs,
    head_moved, registry_ok, True)."""
    from prox_spark.artifacts import maintain_artifacts, vacuum_with_registry
    from prox_spark.llm_jobs import run_llm_pipeline
    from prox_spark.table import (
        commit_delta,
        compact_table,
        read_manifest,
        read_table,
        vacuum,
    )
    from prox_spark.txn import txn_pinned_versions
    from prox_spark.upsert import delete_keys_mor, upsert_parquet

    from ._staging import staged

    def build(scratch: str) -> tuple:
        docs = read_parquet(spark, f"{sf_dir}/documents.parquet").select(
            "doc_id", "source", "text", "n_chars"
        )
        out = f"{scratch}/run"
        results = run_llm_pipeline(spark, docs, out)
        bad = {n: r.error for n, r in results.items()
               if r.status != "succeeded"}
        if bad:
            raise RuntimeError(f"llm pipeline stages failed: {bad}")
        corpus = results["corpus"].output
        ws = results["freeze"].output["workspace"]
        splits = results["splits"].output["path"]
        cross = int(results["splits"].output["cross_split_pairs"])
        frozen_v = int(results["freeze"].output["corpus_version"])
        registry = results["register"].output["registry"]

        # the world moves on: late crawl lands, takedowns delete,
        # metadata mutates, maintenance compacts
        late = docs.filter(F.col("doc_id") % 7 == 3).select(
            (F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"),
            F.lit("late_crawl").alias("source"),
            F.concat(F.col("text"), F.lit(" late")).alias("text"),
            (F.col("n_chars") + F.lit(5)).alias("n_chars"),
        )
        prev = read_manifest(spark, corpus)
        commit_delta(spark, corpus, late, list(prev["files"]),
                     update_key_ranges={})
        delete_keys_mor(
            spark, corpus,
            docs.filter(F.col("doc_id") % 9 == 2).select("doc_id"),
            ["doc_id"],
        )
        upsert_parquet(
            spark, corpus,
            read_table(spark, corpus).filter(F.col("doc_id") % 11 == 4)
            .withColumn("n_chars", F.col("n_chars") + F.lit(1)),
            ["doc_id"],
        )
        compact_table(spark, corpus)
        head_moved = bool(
            int(read_manifest(spark, corpus)["version"]) > frozen_v
        )
        # registry maintenance straight through the churn
        report = maintain_artifacts(spark, registry)
        registry_ok = all(r["status"] != "error" for r in report.values())
        # retention: registry pins + txn pins COMPOSE on the corpus;
        # the splits table has only its txn pin
        vacuum_with_registry(
            spark, corpus, registry, keep_last=1, retention_minutes=0.0,
            extra_pins=txn_pinned_versions(spark, ws, corpus),
        )
        vacuum(
            spark, splits, keep_last=1, retention_minutes=0.0,
            extra_pins=txn_pinned_versions(spark, ws, splits),
        )
        return ws, corpus, splits, cross, head_moved, registry_ok, True

    return staged(_LLM_PIPE_CACHE, sf_dir, "prox_llmpipe_", build)


def q218_llm_pipeline_capstone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE CAPSTONE: every curation piece the engine gates
    individually — dedup signals (q30/q36), data card (q193),
    leakage-free splits (q206), frozen training-set txn (q217),
    derived-artifact registry (q216) — composed as ONE invokable job
    through the retrying DAG runner (O1-O4; `python -m prox_spark
    llm-pipeline`), the transposition of the reference's Step
    Functions pipeline (reference stepfunctions.tf:8-226) to the
    training-data workload. The gate reads the run's FROZEN manifest
    (pinned corpus ⋈ pinned splits) after the live corpus was churned,
    re-maintained, and vacuumed; the oracle recomputes the clean
    corpus + cluster-representative split assignment formulaically
    from the raw documents table, so a wrong dedup keeper, a leaked
    post-freeze row, a mis-assigned split, or a vacuumed frozen file
    all break the hash. Pins: ``cross_split_pairs`` (structurally 0),
    ``head_moved``, ``served_after_vacuum``, ``registry_ok``."""
    from prox_spark.txn import txn_read

    ws, corpus, splits, cross, head_moved, registry_ok, vac = (
        _llm_pipeline_run(spark, sf_dir)
    )
    frozen = txn_read(spark, ws, corpus).join(
        txn_read(spark, ws, splits), "doc_id"
    )
    return (
        frozen.groupBy("split", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_n_chars"),
        )
        .withColumn("cross_split_pairs", F.lit(cross).cast("long"))
        .withColumn("head_moved", F.lit(head_moved))
        .withColumn("served_after_vacuum", F.lit(vac))
        .withColumn("registry_ok", F.lit(registry_ok))
        .orderBy("split", "source")
    )


def _oracle_q218() -> str:
    from prox_spark.llm_jobs import TRAIN_LT, VAL_LT
    from prox_spark.queries.text import _CC_LABELS_CTE

    hx = hex4_duck()
    return f"""{_CC_LABELS_CTE},
own AS (
  SELECT md5(text) AS dg, min(doc_id) AS keeper FROM documents GROUP BY 1
), kept AS (
  SELECT d.doc_id, d.source, d.n_chars
  FROM documents d
  JOIN own ON md5(d.text) = own.dg AND d.doc_id = own.keeper
), rep_t AS (
  SELECT k.doc_id, k.source, k.n_chars,
         coalesce(c.cluster_id, k.doc_id) AS rep
  FROM kept k LEFT JOIN cc_labels c ON k.doc_id = c.doc_id
), assigned AS (
  SELECT doc_id, source, n_chars,
         CASE WHEN bucket < {TRAIN_LT} THEN 'train'
              WHEN bucket < {VAL_LT} THEN 'val'
              ELSE 'test' END AS split
  FROM (
    SELECT doc_id, source, n_chars, CAST({hx} AS BIGINT) % 100 AS bucket
    FROM (
      SELECT doc_id, source, n_chars, md5(rep::VARCHAR) AS m FROM rep_t
    )
  )
)
SELECT split, source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_n_chars,
       CAST(0 AS BIGINT) AS cross_split_pairs,
       TRUE AS head_moved,
       TRUE AS served_after_vacuum,
       TRUE AS registry_ok
FROM assigned
GROUP BY split, source
ORDER BY split, source
"""


_SERVED_STATS_CACHE: dict[str, tuple] = {}


def _served_stats(spark: SparkSession, sf_dir: str) -> tuple:
    """Staged once per process: a corpus table with a registered
    count+sum view AND a registered KMV distinct sketch, churned
    through an insert-only window (the sketch's FOLD path) and an
    upsert window (delete echoes — the sketch's bounded RECOMPUTE
    path), brought current by maintain_artifacts, then served. Returns
    (avg_rows, est, mv_hit, kmv_hit, fold_seen, recompute_seen)."""
    from prox_spark.artifacts import (
        build_kmv_sketch,
        maintain_artifacts,
        register_artifact,
        serve_aggregate,
        serve_distinct,
    )
    from prox_spark.mv import create_mv
    from prox_spark.table import commit_delta, commit_snapshot, read_manifest
    from prox_spark.upsert import upsert_parquet

    from ._staging import staged

    def build(scratch: str) -> tuple:
        base, reg = f"{scratch}/base", f"{scratch}/reg"
        mv, kmv = f"{scratch}/mv", f"{scratch}/kmv"
        docs = read_parquet(spark, f"{sf_dir}/documents.parquet").select(
            "doc_id", "source", "text", "n_chars"
        )
        commit_snapshot(
            spark, base, docs.filter(F.col("doc_id") % 10 <= 8),
            stat_cols=["doc_id"], n_files=4,
        )
        create_mv(spark, base, mv, ["source"], ["n_chars"])
        build_kmv_sketch(spark, base, "text", kmv)
        register_artifact(spark, reg, "mv", base, mv)
        register_artifact(spark, reg, "kmv", base, kmv, {"col": "text"})

        # insert-only window: the sketch folds (never rescans)
        prev = read_manifest(spark, base)
        commit_delta(
            spark, base, docs.filter(F.col("doc_id") % 10 > 8),
            list(prev["files"]), update_key_ranges={},
        )
        r1 = maintain_artifacts(spark, reg)
        fold_seen = r1[kmv].get("mode") == "fold"
        # upsert window: delete echoes force the bounded recompute
        upsert_parquet(
            spark, base,
            docs.filter(F.col("doc_id") % 6 == 2)
            .withColumn("n_chars", F.col("n_chars") + F.lit(7)),
            ["doc_id"],
        )
        r2 = maintain_artifacts(spark, reg)
        recompute_seen = r2[kmv].get("mode") == "recompute"

        served, mv_hit = serve_aggregate(
            spark, reg, base, ["source"], [], avgs=["n_chars"]
        )
        est, kmv_hit = serve_distinct(spark, reg, base, "text")
        rows = served.collect()
        return (
            values_df_like(spark, rows, served.schema),
            float(est),
            mv_hit == mv,
            kmv_hit == kmv,
            bool(fold_seen),
            bool(recompute_seen),
        )

    return staged(_SERVED_STATS_CACHE, sf_dir, "prox_servestats_", build)


def q220_registry_served_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """REGISTRY-SERVED AVG + APPROX DISTINCT — the serve_aggregate
    surface extended past count/sum/min/max: an AVG request derives
    exactly from the registered count+sum view (sum_c / n_rows — the
    identical arithmetic the direct path uses, so serving is
    bit-exact), and a distinct request routes through a registered
    KMV sketch artifact (prox_spark/artifacts.py build_kmv_sketch)
    maintained like every other artifact — insert windows FOLD
    (kilobytes of state, work ∝ delta), windows with delete echoes
    RECOMPUTE (KMV cannot retract), coverage advancing atomically
    with the sketch replacement. The estimate is md5-deterministic,
    so the oracle reproduces it exactly. Pins: ``avg_served`` /
    ``distinct_served`` (both requests actually routed through the
    registry), ``fold_seen`` / ``recompute_seen`` (both maintenance
    modes exercised)."""
    avg_rows, est, mv_hit, kmv_hit, fold_seen, recompute_seen = (
        _served_stats(spark, sf_dir)
    )
    return (
        avg_rows.withColumn("est_distinct", F.lit(est))
        .withColumn("avg_served", F.lit(mv_hit))
        .withColumn("distinct_served", F.lit(kmv_hit))
        .withColumn("fold_seen", F.lit(fold_seen))
        .withColumn("recompute_seen", F.lit(recompute_seen))
        .orderBy("source")
    )


def _oracle_q220() -> str:
    from prox_spark.artifacts import KMV_K

    return f"""
WITH cur AS (
  SELECT doc_id, source, text,
         n_chars + CASE WHEN doc_id % 6 = 2 THEN 7 ELSE 0 END AS n_chars
  FROM documents
), u_t AS (
  SELECT DISTINCT {_u48_expr(_HEXV_DUCK)} AS u
  FROM (SELECT md5(CAST(text AS VARCHAR)) AS m FROM cur)
), ranked AS (
  SELECT u, row_number() OVER (ORDER BY u) AS rn FROM u_t
), est_t AS (
  SELECT CASE WHEN (SELECT count(*) FROM u_t) < {KMV_K}
              THEN CAST((SELECT count(*) FROM u_t) AS DOUBLE)
              ELSE round({float(KMV_K - 1)!r}
                         / max(CASE WHEN rn = {KMV_K} THEN u END), 6)
         END AS est
  FROM ranked
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_rows,
       round(CAST(sum(n_chars) AS DOUBLE) / count(*), 6) AS avg_n_chars,
       (SELECT est FROM est_t) AS est_distinct,
       TRUE AS avg_served,
       TRUE AS distinct_served,
       TRUE AS fold_seen,
       TRUE AS recompute_seen
FROM cur
GROUP BY source
ORDER BY source
"""


_GROUPED_KMV_CACHE: dict[str, tuple] = {}


def _grouped_distinct(spark: SparkSession, sf_dir: str) -> tuple:
    """Staged once per process: a GROUPED KMV sketch (per-source
    distinct texts, ≤k rows per group) registered and maintained
    through q220's churn shape — an insert-only window (fold) and an
    upsert window (delete echoes → recompute) — then served. Returns
    (rows_frame, grouped_served, fold_seen, recompute_seen)."""
    from prox_spark.artifacts import (
        build_kmv_sketch,
        maintain_artifacts,
        register_artifact,
        serve_distinct_by,
    )
    from prox_spark.table import commit_delta, commit_snapshot, read_manifest
    from prox_spark.upsert import upsert_parquet

    from ._staging import staged

    def build(scratch: str) -> tuple:
        base, reg, kmv = f"{scratch}/base", f"{scratch}/reg", f"{scratch}/kmv"
        docs = read_parquet(spark, f"{sf_dir}/documents.parquet").select(
            "doc_id", "source", "text", "n_chars"
        )
        commit_snapshot(
            spark, base, docs.filter(F.col("doc_id") % 10 <= 8),
            stat_cols=["doc_id"], n_files=4,
        )
        build_kmv_sketch(spark, base, "text", kmv, keys=["source"])
        register_artifact(
            spark, reg, "kmv", base, kmv,
            {"col": "text", "keys": ["source"]},
        )
        prev = read_manifest(spark, base)
        commit_delta(
            spark, base, docs.filter(F.col("doc_id") % 10 > 8),
            list(prev["files"]), update_key_ranges={},
        )
        r1 = maintain_artifacts(spark, reg)
        fold_seen = r1[kmv].get("mode") == "fold"
        upsert_parquet(
            spark, base,
            docs.filter(F.col("doc_id") % 6 == 2)
            .withColumn("n_chars", F.col("n_chars") + F.lit(7)),
            ["doc_id"],
        )
        r2 = maintain_artifacts(spark, reg)
        recompute_seen = r2[kmv].get("mode") == "recompute"
        served, hit = serve_distinct_by(
            spark, reg, base, "text", ["source"]
        )
        rows = served.collect()
        return (
            values_df_like(spark, rows, served.schema),
            hit == kmv, bool(fold_seen), bool(recompute_seen),
        )

    return staged(_GROUPED_KMV_CACHE, sf_dir, "prox_gkmv_", build)


def q222_grouped_distinct_serving(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """GROUPED approx-distinct serving — q220's KMV artifact extended
    to the per-group shape a production dashboard actually asks for
    ("distinct documents per source"): the sketch stores ≤k md5-derived
    minimum hashes PER GROUP (kilobytes per group at any corpus size,
    shuffle keyed by the group), maintenance folds insert windows and
    recomputes on delete echoes with coverage atomic in the sketch
    commit, and ``serve_distinct_by`` routes the grouped request
    through it with a read-time fold for stale sketches. Estimates are
    md5-deterministic, so the oracle reproduces every per-group value
    exactly. Pins: ``grouped_served``, ``fold_seen``,
    ``recompute_seen``."""
    rows, served, fold_seen, recompute_seen = _grouped_distinct(
        spark, sf_dir
    )
    return (
        rows.withColumn("grouped_served", F.lit(served))
        .withColumn("fold_seen", F.lit(fold_seen))
        .withColumn("recompute_seen", F.lit(recompute_seen))
        .orderBy("source")
    )


def _oracle_q222() -> str:
    from prox_spark.artifacts import KMV_K

    return f"""
WITH u_t AS (
  SELECT DISTINCT source, {_u48_expr(_HEXV_DUCK)} AS u
  FROM (SELECT source, md5(CAST(text AS VARCHAR)) AS m FROM documents)
), ranked AS (
  SELECT source, u,
         row_number() OVER (PARTITION BY source ORDER BY u) AS rn
  FROM u_t
)
SELECT source,
       CASE WHEN count(*) < {KMV_K}
            THEN CAST(count(*) AS DOUBLE)
            ELSE round({float(KMV_K - 1)!r}
                       / max(CASE WHEN rn = {KMV_K} THEN u END), 6)
       END AS est_distinct,
       TRUE AS grouped_served,
       TRUE AS fold_seen,
       TRUE AS recompute_seen
FROM ranked
GROUP BY source
ORDER BY source
"""


# --- q223: batch DataSource read of the manifest table format --------------

_DS_TABLE_CACHE: dict[str, tuple] = {}

_DS_DELETED = (5, 7, 1000005)


def _ds_table(spark: SparkSession, sf_dir: str) -> tuple:
    """Staged once per process: a committed table whose history
    exercises EVERY read-path feature the ``prox_table`` batch
    DataSource must replicate — v1 snapshot, v2 schema-evolving
    append (new files carry ``tier``, old files read it as null),
    v3 merge-on-read equality delete, v4 zero-rewrite column rename
    (n_chars -> text_len). Returns (table_path, pruned, prune_match):
    ``pruned`` pins that a pushed doc_id equality dropped files from
    the reader's partition plan, ``prune_match`` that its pruned file
    list is EXACTLY ``read_table_point``'s (the JVM-side prune)."""
    from pyspark.sql.datasource import EqualTo

    from prox_spark.table import (
        commit_delete_file,
        commit_delta,
        commit_snapshot,
        read_manifest,
        read_manifest_pruned,
        rename_column,
        split_files_by_key_ranges,
    )
    from prox_spark.table_ds import ProxTableReader
    from prox_spark.table_stream import load_manifest

    from ._staging import staged

    def build(scratch: str) -> tuple:
        t = f"{scratch}/ds_docs"
        docs = read_parquet(spark, f"{sf_dir}/documents.parquet").select(
            "doc_id", "source", "n_chars"
        )
        commit_snapshot(spark, t, docs, stat_cols=["doc_id"], n_files=4)
        m1 = read_manifest(spark, t)
        added = (
            docs.filter(F.col("doc_id") < 10)
            .withColumn("doc_id", F.col("doc_id") + F.lit(1000000))
            .withColumn(
                "tier", F.floor(F.col("n_chars") / F.lit(100)).cast("int")
            )
        )
        commit_delta(spark, t, added, list(m1["files"]),
                     stat_cols=["doc_id"])
        m2 = read_manifest(spark, t)
        keys = spark.createDataFrame(
            [(int(k),) for k in _DS_DELETED], "doc_id BIGINT"
        )
        commit_delete_file(spark, t, keys, ["doc_id"], list(m2["files"]))
        rename_column(spark, t, "n_chars", "text_len")

        # prune pins: the DataSource's pushed-filter file list must
        # equal the JVM point-lookup prune on the same predicate
        mm = load_manifest(t)
        rd = ProxTableReader({}, mm, t)
        full = rd.pruned_files()
        rd.pushFilters([EqualTo(("doc_id",), 3)])
        got = rd.pruned_files()
        mp = read_manifest_pruned(spark, t, {"doc_id": (3, 3)})
        want, _ = split_files_by_key_ranges(mp, {"doc_id": (3, 3)})
        pruned = len(got) < len(full)
        prune_match = sorted(got) == sorted(want)
        return t, bool(pruned), bool(prune_match)

    return staged(_DS_TABLE_CACHE, sf_dir, "prox_dsread_", build)


def q223_datasource_table_read(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """BATCH DataSource parity for the manifest table format (the
    last missing entry point — the streaming half is q191/q197): the
    staged table's full history (schema evolution + merge-on-read
    delete + rename, :func:`_ds_table`) is read back through
    ``spark.sql`` over a view registered on the ``prox_table``
    format — zero library imports on the query path — and aggregated
    per source. The oracle recomputes the table's final logical state
    formulaically from the raw documents parquet, so a missed delete,
    a null-filled evolution column decoded wrong, an unresolved
    rename, or a file dropped by over-eager pruning all break the
    hash. Pins: ``pruned`` (pushFilters actually shrank the partition
    plan) and ``prune_match`` (the pruned file list equals
    read_table_point's JVM-side prune for the same key)."""
    from prox_spark.table_ds import register_sql

    t, pruned, prune_match = _ds_table(spark, sf_dir)
    register_sql(spark, "prox_ds_docs", t)
    return spark.sql(
        f"""
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(text_len) AS BIGINT) AS sum_len,
               CAST(count(tier) AS BIGINT) AS n_tiered,
               CAST(sum(coalesce(tier, 0)) AS BIGINT) AS sum_tier,
               {str(bool(pruned)).lower()} AS pruned,
               {str(bool(prune_match)).lower()} AS prune_match
        FROM prox_ds_docs
        GROUP BY source
        ORDER BY source
        """
    )


def _oracle_q223() -> str:
    dels = ", ".join(str(k) for k in _DS_DELETED)
    return f"""
WITH v2add AS (
  SELECT doc_id + 1000000 AS doc_id, source, n_chars,
         CAST(floor(n_chars / 100.0) AS INT) AS tier
  FROM documents WHERE doc_id < 10
), allrows AS (
  SELECT doc_id, source, n_chars, CAST(NULL AS INT) AS tier
  FROM documents
  UNION ALL
  SELECT * FROM v2add
), live AS (
  SELECT * FROM allrows WHERE doc_id NOT IN ({dels})
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(n_chars) AS BIGINT) AS sum_len,
       CAST(count(tier) AS BIGINT) AS n_tiered,
       CAST(sum(coalesce(tier, 0)) AS BIGINT) AS sum_tier,
       TRUE AS pruned,
       TRUE AS prune_match
FROM live
GROUP BY source
ORDER BY source
"""


# --- q224: registry-served quantiles (mergeable hash-sample sketch) --------

_SERVED_Q_CACHE: dict[str, tuple] = {}

QSK_GATE_K = 64
QSK_BAND = 0.05


def _served_quantiles(spark: SparkSession, sf_dir: str) -> tuple:
    """Staged once per process: the q220 serving-lifecycle shape for
    QUANTILES — a grouped quantile sketch (bottom-k-by-hash row
    sample, ``artifacts.build_quantile_sketch``) registered on a
    committed base, driven through an insert-only window (FOLD: the k
    smallest of stored ∪ window — mergeable by construction) and an
    upsert window with delete echoes (RECOMPUTE: a hash sample cannot
    retract), then served via ``serve_aggregate(..., quantile=)``.
    Returns (rows, quantile_served, fold_seen, recompute_seen)."""
    from prox_spark.artifacts import (
        build_quantile_sketch,
        maintain_artifacts,
        register_artifact,
        serve_aggregate,
    )
    from prox_spark.table import (
        commit_delta,
        commit_snapshot,
        read_manifest,
        read_table,
    )
    from prox_spark.upsert import upsert_parquet

    from ._staging import staged

    def build(scratch: str) -> tuple:
        base, reg, qsk = (
            f"{scratch}/base", f"{scratch}/reg", f"{scratch}/qsk"
        )
        docs = read_parquet(spark, f"{sf_dir}/documents.parquet").select(
            "doc_id", "source", "n_chars"
        )
        commit_snapshot(
            spark, base, docs.filter(F.col("doc_id") % 10 <= 8),
            stat_cols=["doc_id"], n_files=4,
        )
        build_quantile_sketch(
            spark, base, "doc_id", "n_chars", qsk,
            k=QSK_GATE_K, keys=["source"],
        )
        register_artifact(
            spark, reg, "quantile_sketch", base, qsk,
            {"key": "doc_id", "val": "n_chars", "keys": ["source"],
             "k": QSK_GATE_K},
        )
        # insert-only window: the sample folds (never rescans)
        prev = read_manifest(spark, base)
        commit_delta(
            spark, base, docs.filter(F.col("doc_id") % 10 > 8),
            list(prev["files"]), update_key_ranges={},
        )
        r1 = maintain_artifacts(spark, reg)
        fold_seen = r1[qsk].get("mode") == "fold"
        # upsert window: delete echoes force the bounded recompute
        upsert_parquet(
            spark, base,
            docs.filter(F.col("doc_id") % 6 == 2)
            .withColumn("n_chars", F.col("n_chars") + F.lit(7)),
            ["doc_id"],
        )
        r2 = maintain_artifacts(spark, reg)
        recompute_seen = r2[qsk].get("mode") == "recompute"

        served, hit = serve_aggregate(
            spark, reg, base, ["source"], [],
            quantile=("n_chars", 0.5),
        )
        exact = read_table(spark, base).groupBy("source").agg(
            F.round(
                F.expr("percentile(cast(n_chars as double), 0.5)"), 6
            ).alias("exact_med")
        )
        rows = (
            served.withColumnRenamed("est_q", "est_med")
            .join(exact, "source")
            .collect()
        )
        return rows, hit == qsk, bool(fold_seen), bool(recompute_seen)

    return staged(_SERVED_Q_CACHE, sf_dir, "prox_serveq_", build)


def q224_registry_served_quantiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """REGISTRY-SERVED QUANTILES — the serving-family lattice
    completed past q220's AVG/KMV and q222's grouped KMV: a
    ``quantile_sketch`` artifact (bottom-k-by-md5-hash row sample —
    deterministic, mergeable: the k smallest of unioned samples are
    the k smallest overall; exactly SQL-reproducible, unlike GK/KLL
    internals) registered and maintained like every other artifact —
    insert windows FOLD (kilobytes of state per group, work ∝ delta),
    windows with delete echoes RECOMPUTE (a hash sample cannot
    retract), coverage advancing atomically with the sample
    replacement. ``serve_aggregate(..., quantile=("n_chars", 0.5))``
    routes the request through the registry; the estimate
    interpolates over the sample (``percentile`` ≡ DuckDB
    quantile_cont), so the oracle reconstructs the SAME sample from
    raw parquet and reproduces the served value bit-for-bit. Pins:
    ``quantile_served`` (the request actually routed through the
    registry), ``fold_seen`` / ``recompute_seen`` (both maintenance
    modes exercised), ``in_band`` (q144's idiom — the estimate within
    5% of the exact interpolated twin)."""
    rows, served_ok, fold_seen, recompute_seen = _served_quantiles(
        spark, sf_dir
    )
    # VALUES relation, not createDataFrame: the staged rows are
    # driver-known scalars, and the Python-RDD scan behind
    # createDataFrame paid a 32-task Python-worker stage TWICE per
    # evaluation under the global sort (range sampler + sort) —
    # r13, guide §4. repr-rendered doubles round-trip bit-exactly.
    out = values_df(
        spark,
        [
            (
                r["source"],
                float(r["est_med"]),
                float(r["exact_med"]),
                bool(
                    abs(r["est_med"] - r["exact_med"])
                    <= QSK_BAND * r["exact_med"]
                ),
            )
            for r in rows
        ],
        "source string, est_med double, exact_med double, in_band boolean",
    )
    return (
        out.withColumn("quantile_served", F.lit(bool(served_ok)))
        .withColumn("fold_seen", F.lit(bool(fold_seen)))
        .withColumn("recompute_seen", F.lit(bool(recompute_seen)))
        .orderBy("source")
    )


def _oracle_q224() -> str:
    return f"""
WITH final AS (
  SELECT doc_id, source,
         CASE WHEN doc_id % 6 = 2 THEN n_chars + 7 ELSE n_chars END
           AS n_chars
  FROM documents
), u_t AS (
  SELECT source, CAST(n_chars AS DOUBLE) AS v, {_u48_expr(_HEXV_DUCK)} AS u
  FROM (SELECT source, n_chars, md5(doc_id::VARCHAR) AS m FROM final)
), ranked AS (
  SELECT source, v,
         row_number() OVER (PARTITION BY source ORDER BY u) AS rn
  FROM u_t
), est AS (
  SELECT source, round(quantile_cont(v, 0.5), 6) AS est_med
  FROM ranked WHERE rn <= {QSK_GATE_K}
  GROUP BY source
), ex AS (
  SELECT source, round(quantile_cont(n_chars, 0.5), 6) AS exact_med
  FROM final GROUP BY source
)
SELECT e.source, e.est_med, x.exact_med,
       TRUE AS in_band,
       TRUE AS quantile_served,
       TRUE AS fold_seen,
       TRUE AS recompute_seen
FROM est e JOIN ex x ON e.source = x.source
ORDER BY e.source
"""


# --- q225: DataSource writer commit protocol --------------------------------

_DS_WRITE_CACHE: dict[str, tuple] = {}


def _ds_written_table(spark: SparkSession, sf_dir: str) -> tuple:
    """Staged once per process: the documents table written ENTIRELY
    through ``df.write.format("prox_table")`` — an overwrite-create
    (task-side parquet encode + footer stats, pure-python manifest
    CAS publish) followed by an append carrying v1's files verbatim.
    Returns (table_path, two_commits, stats_prune, carried)."""
    from prox_spark.table import read_manifest, split_files_by_key_ranges
    from prox_spark.table_ds import register

    from ._staging import staged

    def build(scratch: str) -> tuple:
        register(spark)
        t = f"{scratch}/written"
        docs = read_parquet(spark, f"{sf_dir}/documents.parquet").select(
            "doc_id", "source", "n_chars"
        )
        (
            docs.filter(F.col("doc_id") % 2 == 0)
            .repartitionByRange(4, "doc_id")
            .write.format("prox_table")
            .mode("overwrite")
            .option("stat_cols", "doc_id")
            .save(t)
        )
        m1 = read_manifest(spark, t)
        (
            docs.filter(F.col("doc_id") % 2 == 1)
            .repartitionByRange(2, "doc_id")
            .write.format("prox_table")
            .mode("append")
            .save(t)
        )
        m2 = read_manifest(spark, t)
        probe_key = int(
            docs.agg(F.min("doc_id")).first()[0]
        )
        touched, untouched = split_files_by_key_ranges(
            m2, {"doc_id": (probe_key, probe_key)}
        )
        return (
            t,
            bool(m2["version"] == 2),
            bool(untouched and len(touched) < len(m2["files"])),
            bool(set(m1["files"]) <= set(m2["files"])),
        )

    return staged(_DS_WRITE_CACHE, sf_dir, "prox_dswrite_", build)


def q225_datasource_table_write(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """WRITE parity for the connector (q223's twin): the table is
    created and appended exclusively through
    ``df.write.format("prox_table")`` — per-task Arrow→parquet encode
    with footer stats gathered TASK-SIDE (no driver metadata loop),
    ranges tightened by an in-task sort on the stat columns, and the
    next manifest version published by the same atomic-CAS protocol
    as ``commit_delta`` (tmp write + link-fails-on-existing; lost
    races rebase — pure appends carry every current file). The gate
    reads the python-written table back through the JVM reader
    (``read_table``), so a wrong manifest shape, a missing file, or a
    mangled schema breaks the hash. Pins: ``two_commits`` (the append
    landed as v2, not a rewrite), ``stats_prune`` (the task-side
    footer stats actually prune a point probe), ``carried`` (v1's
    files survive the append verbatim — zero rewrite)."""
    from prox_spark.table import read_table

    t, two_commits, stats_prune, carried = _ds_written_table(
        spark, sf_dir
    )
    return (
        read_table(spark, t)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("n_chars").cast("long").alias("sum_len"),
            F.min("doc_id").cast("long").alias("min_doc"),
            F.max("doc_id").cast("long").alias("max_doc"),
        )
        .withColumn("two_commits", F.lit(bool(two_commits)))
        .withColumn("stats_prune", F.lit(bool(stats_prune)))
        .withColumn("carried", F.lit(bool(carried)))
        .orderBy("source")
    )


ORACLE_Q225 = """
SELECT source,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(n_chars) AS BIGINT) AS sum_len,
       CAST(min(doc_id) AS BIGINT) AS min_doc,
       CAST(max(doc_id) AS BIGINT) AS max_doc,
       TRUE AS two_commits,
       TRUE AS stats_prune,
       TRUE AS carried
FROM documents
GROUP BY source
ORDER BY source
"""


# --- q226: streaming DataSource sink (exactly-once batch fencing) ----------

_DS_STREAM_CACHE: dict[str, tuple] = {}


def _ds_streamed_table(spark: SparkSession, sf_dir: str) -> tuple:
    """Staged once per process: the documents table materialized by a
    REAL micro-batch stream through ``writeStream.format("prox_
    table")`` (one source file per trigger -> one manifest append per
    batch, the batch id fenced IN the same manifest rename), then a
    manually REPLAYED batch that must be dropped by the fence.
    Returns (table_path, multi_batch, replay_fenced, restart_noop)."""
    from prox_spark.table import read_manifest, table_versions
    from prox_spark.table_ds import ProxTableStreamWriter, register

    from ._staging import staged

    def build(scratch: str) -> tuple:
        register(spark)
        t = f"{scratch}/streamed"
        feed = f"{scratch}/feed"
        ckpt = f"{scratch}/ckpt"
        docs = read_parquet(spark, f"{sf_dir}/documents.parquet").select(
            "doc_id", "source", "n_chars"
        )
        docs.repartition(4).write.parquet(feed)
        schema = read_parquet(spark, feed).schema

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
                if not q.awaitTermination(600):
                    raise RuntimeError("stream did not drain within 600s")
            finally:
                q.stop()

        run()
        versions = table_versions(spark, t)
        m = read_manifest(spark, t)
        applied = int((m.get("stream_batches") or {}).get("stream", -1))
        multi_batch = bool(len(versions) >= 2 and applied >= 1)
        # checkpoint restart with nothing new: the head must not move
        head = versions[-1]
        run()
        restart_noop = bool(table_versions(spark, t)[-1] == head)
        # crash-replay of an ALREADY-APPLIED batch id through a fresh
        # writer: the fence must drop it (no version, no rows)
        import pyarrow as pa

        w = ProxTableStreamWriter({"path": t}, schema)
        batch = pa.RecordBatch.from_pylist(
            [{"doc_id": 1, "source": "replay", "n_chars": 1}],
            schema=pa.schema(
                [
                    pa.field("doc_id", pa.int64()),
                    pa.field("source", pa.string()),
                    pa.field("n_chars", pa.int64()),
                ]
            ),
        )
        msg = w.write(iter([batch]))
        w.commit([msg], 0)  # batch 0 was applied by the stream
        replay_fenced = bool(table_versions(spark, t)[-1] == head)
        return t, multi_batch, replay_fenced, restart_noop

    return staged(_DS_STREAM_CACHE, sf_dir, "prox_dsstream_", build)


def q226_datasource_stream_sink(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STREAMING sink parity for the connector (q225's stream twin —
    the connector matrix is now read/write × batch/stream): a real
    micro-batch stream appends one manifest version per batch through
    the writer's task-side-stats + CAS path, with the applied batch
    id recorded IN the same atomic manifest rename (the repo's
    marker/lineage exactly-once idiom in connector form) — so a
    checkpoint replay of a committed batch drops its rewrite instead
    of double-appending, with no crash window between data and fence.
    The gate re-aggregates the streamed table through the JVM reader;
    a dropped batch, a double-applied batch, or a fence that let the
    replayed batch through all break the hash. Pins: ``multi_batch``
    (the stream really ran >1 fenced batch), ``replay_fenced`` (a
    re-commit of an already-applied batch id landed nothing),
    ``restart_noop``
    (a checkpoint restart with nothing new moved no version)."""
    from prox_spark.table import read_table

    t, multi_batch, replay_fenced, restart_noop = _ds_streamed_table(
        spark, sf_dir
    )
    return (
        read_table(spark, t)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("n_chars").cast("long").alias("sum_len"),
        )
        .withColumn("multi_batch", F.lit(bool(multi_batch)))
        .withColumn("replay_fenced", F.lit(bool(replay_fenced)))
        .withColumn("restart_noop", F.lit(bool(restart_noop)))
        .orderBy("source")
    )


ORACLE_Q226 = """
SELECT source,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(n_chars) AS BIGINT) AS sum_len,
       TRUE AS multi_batch,
       TRUE AS replay_fenced,
       TRUE AS restart_noop
FROM documents
GROUP BY source
ORDER BY source
"""


# --- q227: registry-served heavy hitters (CMS + candidate list) ------------

_SERVED_TOPK_CACHE: dict[str, tuple] = {}

TOPK_GATE_K = 15
TOPK_GATE_W = 16
TOPK_GATE_D = 4
TOPK_CAND_K = 64
_Q227_SUFFIX = " zq227tok zq227tok"


def _served_topk(spark: SparkSession, sf_dir: str) -> tuple:
    """Staged once per process: the q220/q224 serving-lifecycle shape
    for FREQUENCY/TOP-K — a ``cms`` artifact (q174's md5-bucketed D×W
    grid + a capacity-bounded candidate list,
    ``artifacts.build_cms_sketch``) registered on a committed base,
    driven through an insert-only window (FOLD: grids add
    elementwise; candidates re-rank under the folded grid) and an
    upsert window with delete echoes (RECOMPUTE: an evicted candidate
    cannot be restored when rivals shrink), then served via
    ``serve_topk``. Returns (rows, topk_served, fold_seen,
    recompute_seen, total_tokens)."""
    from prox_spark.artifacts import (
        build_cms_sketch,
        maintain_artifacts,
        register_artifact,
        serve_topk,
    )
    from prox_spark.table import (
        commit_delta,
        commit_snapshot,
        read_manifest,
        read_table,
    )
    from prox_spark.upsert import upsert_parquet

    from ._staging import staged

    def build(scratch: str) -> tuple:
        base, reg, cms = (
            f"{scratch}/base", f"{scratch}/reg", f"{scratch}/cms"
        )
        docs = read_parquet(spark, f"{sf_dir}/documents.parquet").select(
            "doc_id", "source", "text"
        )
        commit_snapshot(
            spark, base, docs.filter(F.col("doc_id") % 10 <= 8),
            stat_cols=["doc_id"], n_files=4,
        )
        build_cms_sketch(
            spark, base, "text", cms,
            d=TOPK_GATE_D, w=TOPK_GATE_W, cand_k=TOPK_CAND_K,
            tokens=True,
        )
        register_artifact(
            spark, reg, "cms", base, cms,
            {"col": "text", "tokens": True, "d": TOPK_GATE_D,
             "w": TOPK_GATE_W, "cand_k": TOPK_CAND_K},
        )
        # insert-only window: the grid folds additively (never rescans)
        prev = read_manifest(spark, base)
        commit_delta(
            spark, base, docs.filter(F.col("doc_id") % 10 > 8),
            list(prev["files"]), update_key_ranges={},
        )
        r1 = maintain_artifacts(spark, reg)
        fold_seen = r1[cms].get("mode") == "fold"
        # upsert window: delete echoes force the bounded recompute —
        # and introduce a brand-new token the rebuilt candidate list
        # must pick up
        upsert_parquet(
            spark, base,
            docs.filter(F.col("doc_id") % 6 == 2)
            .withColumn("text", F.concat("text", F.lit(_Q227_SUFFIX))),
            ["doc_id"],
        )
        r2 = maintain_artifacts(spark, reg)
        recompute_seen = r2[cms].get("mode") == "recompute"

        served, hit = serve_topk(
            spark, reg, base, "text", TOPK_GATE_K, tokens=True,
        )
        toks = read_table(spark, base).select(
            F.explode(
                F.expr("split(lower(trim(text)), '\\\\s+')")
            ).alias("tok")
        )
        cnt = toks.groupBy("tok").agg(
            F.count(F.lit(1)).cast("long").alias("true_cnt")
        )
        total = toks.count()
        rows = served.join(cnt, "tok").collect()
        return (
            rows, hit == cms, bool(fold_seen), bool(recompute_seen),
            int(total), base, reg,
        )

    return staged(_SERVED_TOPK_CACHE, sf_dir, "prox_servetopk_", build)


def q227_serve_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LAZY registry serve plan behind q227 (staged artifacts,
    zero recompute), exposed so the plan audit and test_plans can
    assert the probe shape: the ≤ d×w-row GLOBAL grid is an explicit
    broadcast into the candidate probes (kilobytes at any corpus
    size — the one CMS frame that is always broadcast-safe)."""
    from prox_spark.artifacts import serve_topk

    t = _served_topk(spark, sf_dir)
    base, reg = t[5], t[6]
    return serve_topk(
        spark, reg, base, "text", TOPK_GATE_K, tokens=True
    )[0]


def q227_registry_served_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """REGISTRY-SERVED HEAVY HITTERS — the last serve_aggregate verb:
    the serving lattice (count/sum/min/max/avg q220, distinct
    q220/q222, quantiles q224) completed with FREQUENCY/TOP-K, served
    from a maintained ``cms`` artifact instead of scanning the base.
    The artifact is q174's D×W md5-bucketed counter grid plus a
    capacity-bounded candidate list (the standard CMS+heap
    heavy-hitter recipe) in ONE manifest table, so grid, candidates,
    and covered version replace atomically. Insert windows FOLD (grid
    addition is elementwise — the q189 associativity argument — and
    candidates re-rank under the folded grid; work ∝ window
    vocabulary, state ≤ d×w + cand_k rows at any corpus size);
    windows with delete echoes RECOMPUTE (the grid could subtract —
    CMS is linear — but an evicted candidate cannot be restored when
    rivals shrink). Estimates are min-over-D-buckets exact integer
    arithmetic on md5 hashes, so the oracle rebuilds the SAME grid
    from raw parquet and reproduces every served count bit-for-bit
    (q174's idiom). Pins: ``topk_served`` (the request actually
    routed through the registry), ``fold_seen`` / ``recompute_seen``
    (both maintenance modes exercised), ``in_band`` (estimate ≥ true
    — the CMS invariant — and overestimate within the 2N/W sketch
    bound)."""
    rows, served_ok, fold_seen, recompute_seen, total = _served_topk(
        spark, sf_dir
    )[:5]
    # VALUES relation, not createDataFrame — see q224 (the Python-RDD
    # scan ran twice per evaluation under the global sort; in-suite
    # this query read 3.2 s for a staged 15-row serve)
    out = values_df(
        spark,
        [
            (
                r["tok"],
                int(r["est_cnt"]),
                int(r["true_cnt"]),
                int(r["est_cnt"] - r["true_cnt"]),
                bool(
                    r["est_cnt"] >= r["true_cnt"]
                    and (r["est_cnt"] - r["true_cnt"]) * TOPK_GATE_W
                    <= 2 * total
                ),
            )
            for r in rows
        ],
        "tok string, est_cnt bigint, true_cnt bigint, "
        "overestimate bigint, in_band boolean",
    )
    return (
        out.withColumn("topk_served", F.lit(bool(served_ok)))
        .withColumn("fold_seen", F.lit(bool(fold_seen)))
        .withColumn("recompute_seen", F.lit(bool(recompute_seen)))
        .orderBy(F.desc("est_cnt"), F.asc("tok"))
    )


def _oracle_q227() -> str:
    buckets = " UNION ALL ".join(
        f"SELECT {d} AS d, {_cms_bucket_duck(d, TOPK_GATE_W)} AS bucket,"
        " cnt FROM cnt"
        for d in range(TOPK_GATE_D)
    )
    probe_rows = " UNION ALL ".join(
        f"SELECT tok, {d} AS d, {_cms_bucket_duck(d, TOPK_GATE_W)}"
        " AS bucket FROM cnt"
        for d in range(TOPK_GATE_D)
    )
    return f"""
WITH final AS (
  SELECT CASE WHEN doc_id % 6 = 2 THEN text || '{_Q227_SUFFIX}'
              ELSE text END AS text
  FROM documents
), toks AS (
  SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
  FROM final
), cnt AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY tok
), grid AS (
  SELECT d, bucket, CAST(sum(cnt) AS BIGINT) AS c
  FROM ({buckets}) GROUP BY d, bucket
), est AS (
  SELECT p.tok, CAST(min(g.c) AS BIGINT) AS est_cnt
  FROM ({probe_rows}) p JOIN grid g USING (d, bucket)
  GROUP BY p.tok
), top AS (
  SELECT tok, est_cnt FROM est
  ORDER BY est_cnt DESC, tok ASC LIMIT {TOPK_GATE_K}
), tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM toks)
SELECT t.tok, t.est_cnt, c.cnt AS true_cnt,
       CAST(t.est_cnt - c.cnt AS BIGINT) AS overestimate,
       (t.est_cnt >= c.cnt
        AND (t.est_cnt - c.cnt) * {TOPK_GATE_W} <= 2 * tot.n) AS in_band,
       TRUE AS topk_served,
       TRUE AS fold_seen,
       TRUE AS recompute_seen
FROM top t JOIN cnt c USING (tok) CROSS JOIN tot
ORDER BY t.est_cnt DESC, t.tok ASC
"""


# --- q229: grouped heavy-hitter serving (per-group CMS top-k) --------------

_SERVED_GTOPK_CACHE: dict[str, tuple] = {}

GTOPK_K = 5
GTOPK_W = 16
GTOPK_D = 4
GTOPK_CAND_K = 64
_Q229_SUFFIX = " zq229tok"


def _served_grouped_topk(spark: SparkSession, sf_dir: str) -> tuple:
    """Staged once per process: q227's heavy-hitter lifecycle in the
    PER-GROUP shape (the q222/q224 grouped idiom) — a ``cms``
    artifact grouped by source (one D×W grid and one candidate list
    per group), driven through an insert-only window (FOLD) and an
    upsert window with delete echoes (RECOMPUTE), served per group
    via ``serve_topk(..., keys=["source"])``. Returns (rows,
    grouped_served, fold_seen, recompute_seen, totals_by_source)."""
    from prox_spark.artifacts import (
        build_cms_sketch,
        maintain_artifacts,
        register_artifact,
        serve_topk,
    )
    from prox_spark.table import (
        commit_delta,
        commit_snapshot,
        read_manifest,
        read_table,
    )
    from prox_spark.upsert import upsert_parquet

    from ._staging import staged

    def build(scratch: str) -> tuple:
        base, reg, cms = (
            f"{scratch}/base", f"{scratch}/reg", f"{scratch}/cms"
        )
        docs = read_parquet(spark, f"{sf_dir}/documents.parquet").select(
            "doc_id", "source", "text"
        )
        commit_snapshot(
            spark, base, docs.filter(F.col("doc_id") % 10 <= 8),
            stat_cols=["doc_id"], n_files=4,
        )
        build_cms_sketch(
            spark, base, "text", cms,
            d=GTOPK_D, w=GTOPK_W, cand_k=GTOPK_CAND_K,
            tokens=True, keys=["source"],
        )
        register_artifact(
            spark, reg, "cms", base, cms,
            {"col": "text", "tokens": True, "keys": ["source"],
             "d": GTOPK_D, "w": GTOPK_W, "cand_k": GTOPK_CAND_K},
        )
        prev = read_manifest(spark, base)
        commit_delta(
            spark, base, docs.filter(F.col("doc_id") % 10 > 8),
            list(prev["files"]), update_key_ranges={},
        )
        r1 = maintain_artifacts(spark, reg)
        fold_seen = r1[cms].get("mode") == "fold"
        upsert_parquet(
            spark, base,
            docs.filter(F.col("doc_id") % 6 == 2)
            .withColumn("text", F.concat("text", F.lit(_Q229_SUFFIX))),
            ["doc_id"],
        )
        r2 = maintain_artifacts(spark, reg)
        recompute_seen = r2[cms].get("mode") == "recompute"

        served, hit = serve_topk(
            spark, reg, base, "text", GTOPK_K,
            tokens=True, keys=["source"],
        )
        toks = read_table(spark, base).select(
            "source",
            F.explode(
                F.expr("split(lower(trim(text)), '\\\\s+')")
            ).alias("tok"),
        )
        cnt = toks.groupBy("source", "tok").agg(
            F.count(F.lit(1)).cast("long").alias("true_cnt")
        )
        totals = {
            r["source"]: int(r["n"])
            for r in toks.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        rows = served.join(cnt, ["source", "tok"]).collect()
        return (
            rows, hit == cms, bool(fold_seen), bool(recompute_seen),
            totals, base, reg,
        )

    return staged(_SERVED_GTOPK_CACHE, sf_dir, "prox_servegtopk_", build)


def q229_serve_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LAZY grouped serve plan behind q229, exposed for plan
    assertions: the per-group grid is CORPUS-DERIVED (groups × d×w
    rows), so the probe join carries NO broadcast hint — AQE
    broadcasts only when the built side genuinely fits, exactly the
    q206 discipline for corpus-sized frames."""
    from prox_spark.artifacts import serve_topk

    t = _served_grouped_topk(spark, sf_dir)
    base, reg = t[5], t[6]
    return serve_topk(
        spark, reg, base, "text", GTOPK_K, tokens=True, keys=["source"]
    )[0]


def q229_grouped_topk_serving(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """GROUPED heavy-hitter serving — q227's CMS top-k in the
    per-group shape the rest of the serving lattice already has
    (grouped distinct q222, grouped quantiles q224): "top tokens PER
    SOURCE" served from one registered artifact holding a D×W grid
    and a capacity-bounded candidate list PER GROUP (state ∝ groups ×
    (d×w + cand_k) rows — kilobytes per group at any corpus size; the
    grouped grid is corpus-derived so probe joins stay un-hinted and
    AQE broadcasts only when it genuinely fits). Same fold/recompute
    maintenance and atomic coverage as every artifact; estimates are
    md5-deterministic so the oracle rebuilds each group's grid and
    reproduces every served count bit-for-bit. Pins:
    ``grouped_served``, ``fold_seen``/``recompute_seen``, ``in_band``
    (per-group 2N_g/W bound, exact integer arithmetic)."""
    rows, served_ok, fold_seen, recompute_seen, totals = (
        _served_grouped_topk(spark, sf_dir)[:5]
    )
    # VALUES relation, not createDataFrame — see q224/q227
    out = values_df(
        spark,
        [
            (
                r["source"],
                r["tok"],
                int(r["est_cnt"]),
                int(r["true_cnt"]),
                bool(
                    r["est_cnt"] >= r["true_cnt"]
                    and (r["est_cnt"] - r["true_cnt"]) * GTOPK_W
                    <= 2 * totals[r["source"]]
                ),
            )
            for r in rows
        ],
        "source string, tok string, est_cnt bigint, true_cnt bigint, "
        "in_band boolean",
    )
    return (
        out.withColumn("grouped_served", F.lit(bool(served_ok)))
        .withColumn("fold_seen", F.lit(bool(fold_seen)))
        .withColumn("recompute_seen", F.lit(bool(recompute_seen)))
        .orderBy("source", F.desc("est_cnt"), F.asc("tok"))
    )


def _oracle_q229() -> str:
    buckets = " UNION ALL ".join(
        f"SELECT source, {d} AS d, {_cms_bucket_duck(d, GTOPK_W)}"
        " AS bucket, cnt FROM cnt"
        for d in range(GTOPK_D)
    )
    probe_rows = " UNION ALL ".join(
        f"SELECT source, tok, {d} AS d, {_cms_bucket_duck(d, GTOPK_W)}"
        " AS bucket FROM cnt"
        for d in range(GTOPK_D)
    )
    return f"""
WITH final AS (
  SELECT source,
         CASE WHEN doc_id % 6 = 2 THEN text || '{_Q229_SUFFIX}'
              ELSE text END AS text
  FROM documents
), toks AS (
  SELECT source,
         unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
  FROM final
), cnt AS (
  SELECT source, tok, CAST(count(*) AS BIGINT) AS cnt
  FROM toks GROUP BY source, tok
), grid AS (
  SELECT source, d, bucket, CAST(sum(cnt) AS BIGINT) AS c
  FROM ({buckets}) GROUP BY source, d, bucket
), est AS (
  SELECT p.source, p.tok, CAST(min(g.c) AS BIGINT) AS est_cnt
  FROM ({probe_rows}) p
  JOIN grid g USING (source, d, bucket)
  GROUP BY p.source, p.tok
), top AS (
  SELECT source, tok, est_cnt,
         row_number() OVER (
           PARTITION BY source ORDER BY est_cnt DESC, tok ASC
         ) AS rn
  FROM est
), tot AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n FROM toks GROUP BY source
)
SELECT t.source, t.tok, t.est_cnt, c.cnt AS true_cnt,
       (t.est_cnt >= c.cnt
        AND (t.est_cnt - c.cnt) * {GTOPK_W} <= 2 * x.n) AS in_band,
       TRUE AS grouped_served,
       TRUE AS fold_seen,
       TRUE AS recompute_seen
FROM top t
JOIN cnt c ON t.source = c.source AND t.tok = c.tok
JOIN tot x ON t.source = x.source
WHERE t.rn <= {GTOPK_K}
ORDER BY t.source, t.est_cnt DESC, t.tok ASC
"""


# --- q228: DataSource writers composed into one multi-table txn ------------

_DS_TXN_CACHE: dict[str, tuple] = {}


def _ds_txn_workspace(spark: SparkSession, sf_dir: str) -> tuple:
    """Staged once per process: q192's corpus + derived-table
    lifecycle with every table write going through
    ``df.write.format("prox_table")`` — the writers record their
    (table → version) pins into the workspace staging area
    (``.option("txn_workspace", ws).option("txn_stage", label)``) and
    ONE ``txn_publish_staged`` per stage flips visibility for the
    whole set:

    - stage s1: corpus v1 (doc_id%10 ∉ {7,8}) + its per-source count
      table v1, published as txn 1;
    - stage s2: corpus append %10==7 (v2) + count-table overwrite
      covering v2, published as txn 2;
    - stage s3: corpus append %10==8 (v3) commits and stages its pin,
      but the writer "crashes" before the publish — the torn state
      per-table atomicity can't prevent, left invisible.

    Returns (ws, corpus, counts, staged_pending)."""
    from prox_spark.queries._staging import staged
    from prox_spark.table_ds import TXN_STAGING_DIR, register
    from prox_spark.txn import txn_publish_staged

    def build(scratch: str) -> tuple:
        register(spark)
        ws = f"{scratch}/ws"
        t = f"{scratch}/docs"
        a = f"{scratch}/src_counts"
        docs = read_parquet(spark, f"{sf_dir}/documents.parquet").select(
            "doc_id", "source"
        )

        def w(df, path, mode, stage):
            (
                df.write.format("prox_table").mode(mode)
                .option("txn_workspace", ws)
                .option("txn_stage", stage)
                .option("stat_cols", "doc_id" if path == t else "source")
                .save(path)
            )

        def counts(pred):
            return (
                docs.filter(pred)
                .groupBy("source")
                .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
            )

        ten = F.col("doc_id") % 10
        w(docs.filter(~ten.isin(7, 8)), t, "overwrite", "s1")
        w(counts(~ten.isin(7, 8)), a, "overwrite", "s1")
        txn_publish_staged(spark, ws, "s1")
        w(docs.filter(ten == 7), t, "append", "s2")
        w(counts(ten != 8), a, "overwrite", "s2")
        txn_publish_staged(spark, ws, "s2")
        # the crashed writer: corpus v3 committed + pin staged, no
        # publish — its record must survive as recovery evidence
        w(docs.filter(ten == 8), t, "append", "s3")
        sdir = os.path.join(ws, TXN_STAGING_DIR, "s3")
        staged_pending = bool(
            os.path.isdir(sdir)
            and any(n.startswith("pin-") for n in os.listdir(sdir))
        )
        return ws, t, a, staged_pending

    return staged(_DS_TXN_CACHE, sf_dir, "prox_dstxn_", build)


def _by_source(rows: list[tuple]) -> list[tuple]:
    """``(source, n_docs)`` rows in a total order: a NULL source sorts
    last instead of raising ``TypeError`` against a string."""
    return sorted(rows, key=lambda r: (r[0] is None, r[0] or "", r[1]))


def q228_datasource_multi_table_txn(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MULTI-TABLE ATOMIC COMMIT THROUGH THE CONNECTOR — q192's
    both-or-neither guarantee extended to sets of tables written
    entirely via ``df.write.format("prox_table")``: each writer's CAS
    publish also records its (table → version) pin under the
    workspace staging area (``txn_workspace``/``txn_stage`` options,
    pure-python tmp-write + rename in the sessionless commit worker),
    and one ``txn.txn_publish_staged`` folds a stage's pins into a
    single transaction-log rename. The gate evolves a corpus and its
    per-source count table through two published stages plus one
    CRASHED third write (corpus version committed and staged, never
    published) and reads per-source counts through the TXN VIEW:
    leaked %10==8 rows, or a pinned count table inconsistent with the
    pinned corpus, break the hash. Pins: ``index_consistent`` (the
    txn-pinned count table EQUALS a recount of the txn-pinned
    corpus), ``crashed_invisible`` (the corpus head moved past the
    pin — the orphan exists and is excluded, not merely absent),
    ``staged_pending`` (the crashed stage's pin record survives as
    the roll-forward evidence: retrying its publish is recovery)."""
    from prox_spark.txn import txn_read, txn_state

    ws, t, a, staged_pending = _ds_txn_workspace(spark, sf_dir)
    state = txn_state(spark, ws)
    view = (
        txn_read(spark, ws, t)
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    pinned = txn_read(spark, ws, a).select("source", "n_docs")
    # ONE connector scan per table: collect both (source-grained ⇒
    # bounded rows) and compare as multisets driver-side. The r12
    # exceptAll pair re-ran the Python-datasource corpus scan per
    # count, and the returned view scanned it again — five connector
    # passes per evaluation for a two-pass check (r13, guide §1.2)
    view_rows = [(r["source"], int(r["n_docs"])) for r in view.collect()]
    pinned_rows = [(r["source"], int(r["n_docs"])) for r in pinned.collect()]
    consistent = _by_source(view_rows) == _by_source(pinned_rows)
    from prox_spark.table import read_manifest

    crashed_invisible = read_manifest(spark, t)["version"] > state[t]
    out = values_df(spark, _by_source(view_rows), "source string, n_docs long")
    return (
        out.withColumn("index_consistent", F.lit(bool(consistent)))
        .withColumn("crashed_invisible", F.lit(bool(crashed_invisible)))
        .withColumn("staged_pending", F.lit(bool(staged_pending)))
        .orderBy("source")
    )


ORACLE_Q228 = """
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       TRUE AS index_consistent, TRUE AS crashed_invisible,
       TRUE AS staged_pending
FROM documents
WHERE doc_id % 10 <> 8
GROUP BY source
ORDER BY source
"""


# --- q230: the connector loop closed (write → stream-read → stream-sink) ---

_DS_LOOP_CACHE: dict[str, tuple] = {}


def _ds_loop_tables(spark: SparkSession, sf_dir: str) -> tuple:
    """Staged once per process: every connector surface chained into
    ONE lifecycle with no library read/write anywhere in the data
    path — (1) the batch writer creates source table T (doc_id%10≤5,
    v1); (2) ``readStream.format("prox_table").load(T)`` feeds
    ``writeStream.format("prox_table").start(S)`` and drains (run 1
    lands v1's rows in S as a fenced batch); (3) while the stream is
    DOWN the batch writer appends %10∈{6,7,8} to T (v2 — %10==9 never
    written, so a leak past the manifest log would surface); (4) the
    resumed run delivers exactly v2's rows (checkpointed version
    offsets composing with the sink's batch-id fence — re-delivery or
    a skipped version both break the count); (5) a
    ``readChangeFeed=true`` stream over T folds signed per-batch
    counts, whose insert total must equal T's final row count.
    Returns (sink_path, resumed, rows_mode, cdf_ok)."""
    from prox_spark.table import read_table, table_versions
    from prox_spark.table_ds import register

    from ._staging import staged

    def build(scratch: str) -> tuple:
        register(spark)
        t = f"{scratch}/src"
        s = f"{scratch}/sink"
        ckpt = f"{scratch}/ckpt"
        docs = read_parquet(spark, f"{sf_dir}/documents.parquet").select(
            "doc_id", "source", "n_chars"
        )
        ten = F.col("doc_id") % 10
        (
            docs.filter(ten <= 5)
            .repartitionByRange(2, "doc_id")
            .write.format("prox_table")
            .mode("overwrite")
            .option("stat_cols", "doc_id")
            .save(t)
        )
        rows_mode = True

        def run() -> None:
            nonlocal rows_mode
            sdf = spark.readStream.format("prox_table").load(t)
            rows_mode = rows_mode and "_change_type" not in sdf.columns
            q = (
                sdf.writeStream.format("prox_table")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start(s)
            )
            try:
                if not q.awaitTermination(600):
                    raise RuntimeError("stream did not drain within 600s")
            finally:
                q.stop()

        run()
        (
            docs.filter(ten.isin(6, 7, 8))
            .repartitionByRange(2, "doc_id")
            .write.format("prox_table")
            .mode("append")
            .save(t)
        )
        run()
        resumed = len(table_versions(spark, s)) >= 2
        # the signed twin: a change-feed stream over T through the
        # SAME format name; its insert total must equal T's row count
        # (and nothing may arrive signed as a delete)
        tally: list = []

        def fold(bdf: DataFrame, _bid: int) -> None:
            tally.extend(
                bdf.groupBy("_change_type")
                .agg(F.count(F.lit(1)).cast("long").alias("n"))
                .collect()
            )

        q = (
            spark.readStream.format("prox_table")
            .option("readChangeFeed", "true")
            .load(t)
            .writeStream.foreachBatch(fold)
            .option("checkpointLocation", f"{scratch}/ckpt_cdf")
            .trigger(availableNow=True)
            .start()
        )
        try:
            if not q.awaitTermination(600):
                raise RuntimeError("cdf stream did not drain within 600s")
        finally:
            q.stop()
        ins = sum(r.n for r in tally if r._change_type == "insert")
        dels = sum(r.n for r in tally if r._change_type == "delete")
        cdf_ok = bool(
            ins == read_table(spark, t).count() and dels == 0
        )
        return s, bool(resumed), bool(rows_mode), cdf_ok

    return staged(_DS_LOOP_CACHE, sf_dir, "prox_dsloop_", build)


def q230_datasource_stream_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TABLE-AS-STREAM THROUGH THE UNIFIED CONNECTOR — the format
    matrix closes: ``readStream.format("prox_table")`` (Delta
    streaming-read parity on the SAME format name as q223's batch
    read, q225's writer, q226's sink; ``table_ds.streamReader``
    delegates to q191's proven change reader, so offsets-as-versions,
    checkpoint recovery, pacing, and the data-loss/schema-drift
    guards are shared code). The gate chains the whole loop — batch
    writer → stream read → stream sink, two runs with a version
    committed while the stream is DOWN — and reads the SINK table
    back through the batch reader: a re-delivered version, a skipped
    version, an unfenced replay, or change-feed columns leaking into
    rows mode all break the hash. Pins: ``resumed`` (the sink holds
    ≥2 fenced batches — the second run really consumed only the
    missed version), ``rows_mode`` (no feed columns in the default
    stream), ``cdf_ok`` (a readChangeFeed=true stream over the same
    table accounts every row as an insert, none as a delete).

    Scale shape: offset resolution is driver-side metadata over NEW
    manifests only; each micro-batch reads just the files its version
    added, and the sink appends one fenced manifest per batch — the
    standing table-to-table replication pattern (Delta's
    readStream→writeStream idiom) that keeps a derived 100 TB table
    fresh for the cost of the delta."""
    t, resumed, rows_mode, cdf_ok = _ds_loop_tables(spark, sf_dir)
    return (
        spark.read.format("prox_table")
        .load(t)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
        .withColumn("resumed", F.lit(bool(resumed)))
        .withColumn("rows_mode", F.lit(bool(rows_mode)))
        .withColumn("cdf_ok", F.lit(bool(cdf_ok)))
        .orderBy("source")
    )


ORACLE_Q230 = """
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       TRUE AS resumed,
       TRUE AS rows_mode,
       TRUE AS cdf_ok
FROM documents
WHERE doc_id % 10 <= 8
GROUP BY source
ORDER BY source
"""


# --- q231: batch change feed through the connector --------------------------

_CDF_AUDIT_CACHE: dict[str, tuple] = {}


def _cdf_connector_audit(spark: SparkSession, sf_dir: str) -> tuple:
    """Staged once per process (q230's cdf_ok precedent — the audit is
    a one-time cross-engine comparison, not the serving claim): over
    the q196 lifecycle table, compare the connector's batch change
    feed against ``cdf.read_table_changes`` with one-pass
    order-insensitive signatures (count + summed 48-bit md5 prefix
    over every column — an exceptAll row-diff would re-scan each feed
    twice through the Python DS), and pin range addressing: the
    (2, 3] connector read must equal the full feed's
    _commit_version == 3 slice. Returns (table, head, engine_match,
    slice_match)."""
    from prox_spark.cdf import read_table_changes
    from prox_spark.queries._staging import staged
    from prox_spark.table_ds import register

    def build(_scratch: str) -> tuple:
        register(spark)
        table, head = _cdf_table(spark, sf_dir)

        def connector_feed(start: int, end: int) -> DataFrame:
            return (
                spark.read.format("prox_table")
                .option("readChangeFeed", "true")
                .option("startingVersion", str(start))
                .option("endingVersion", str(end))
                .load(table)
            )

        def _sig(df: DataFrame):
            h = F.sum(
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat_ws(
                                "\x1f",
                                F.col("doc_id").cast("string"),
                                F.col("source"),
                                F.col("n_chars").cast("string"),
                                F.col("_change_type"),
                                F.col("_commit_version").cast("string"),
                            )
                        ),
                        1,
                        12,
                    ),
                    16,
                    10,
                ).cast("decimal(28,0)")
            )
            return df.agg(
                F.count(F.lit(1)).alias("n"), h.alias("h")
            ).first()

        feed = connector_feed(0, head).persist()
        try:
            engine_match = _sig(feed) == _sig(
                read_table_changes(spark, table, 0, head)
            )
            slice_match = _sig(connector_feed(2, 3)) == _sig(
                feed.filter(F.col("_commit_version") == 3)
            )
        finally:
            feed.unpersist()
        return table, head, bool(engine_match), bool(slice_match)

    return staged(_CDF_AUDIT_CACHE, sf_dir, "prox_cdfaudit_", build)


def q231_datasource_change_feed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """BATCH CDF THROUGH THE CONNECTOR — Delta's
    ``spark.read.option("readChangeFeed","true")`` parity on
    ``format("prox_table")``: the q196 lifecycle (append → merge-on-
    read delete → upsert rewrite → data_change=false compaction) read
    as signed rows with NO library imports, planned and decoded by the
    SAME change engine as the q230 stream (``table_ds.
    ProxTableChangesBatchReader`` delegating to the q191 reader — one
    engine, two triggers). The gate folds the whole-history feed to
    the final per-source state like q196; a missed delete, a rewrite
    echo, or a compaction leak breaks the hash. Pins:
    ``engine_match`` (the connector feed carries the same row content
    as ``cdf.read_table_changes`` over the same range — count +
    order-insensitive md5-sum signature, one pass per side — so the
    two CDF implementations agree commit by commit), ``slice_match``
    (range addressing via startingVersion/endingVersion returns
    exactly the full feed's (2, 3] slice — the MoR delete commit).
    Both audits run ONCE per process in staging (q230's idiom); the
    timed path is the connector feed scan + signed fold.

    Scale shape: q196's — per version only added/removed/targeted
    files are opened (work ∝ commit volume), per-file partitions give
    file-level task parallelism, and the signed fold is one partial
    agg."""
    table, head, engine_match, slice_match = _cdf_connector_audit(
        spark, sf_dir
    )
    feed = (
        spark.read.format("prox_table")
        .option("readChangeFeed", "true")
        .option("endingVersion", str(head))
        .load(table)
        .persist()
    )
    try:
        sign = F.when(
            F.col("_change_type") == "insert", F.lit(1)
        ).otherwise(F.lit(-1))
        out = (
            feed.groupBy("source")
            .agg(
                F.sum(sign).cast("long").alias("d_docs"),
                F.sum(sign * F.col("n_chars")).cast("long").alias(
                    "d_chars"
                ),
            )
            .filter(F.col("d_docs") != 0)
            .withColumn("engine_match", F.lit(bool(engine_match)))
            .withColumn("slice_match", F.lit(bool(slice_match)))
            .orderBy("source")
        )
        rows = out.collect()
        return values_df_like(spark, rows, out.schema)
    finally:
        feed.unpersist()


ORACLE_Q231 = """
WITH final AS (
  SELECT source,
         CASE WHEN doc_id % 10 = 3 THEN n_chars + 1000 ELSE n_chars END
           AS n_chars
  FROM documents
  WHERE doc_id % 10 <= 7 AND doc_id % 5 <> 0
)
SELECT source,
       CAST(count(*) AS BIGINT) AS d_docs,
       CAST(sum(n_chars) AS BIGINT) AS d_chars,
       TRUE AS engine_match,
       TRUE AS slice_match
FROM final
GROUP BY source
ORDER BY source
"""


QUERIES = {
    "q114_snapshot_diff": q114_snapshot_diff,
    "q118_incremental_agg": q118_incremental_agg,
    "q152_cdc_apply": q152_cdc_apply,
    "q153_streaming_cdc_apply": q153_streaming_cdc_apply,
    "q154_point_lookup": q154_point_lookup,
    "q159_mor_delete": q159_mor_delete,
    "q166_rename_evolution": q166_rename_evolution,
    "q167_chunked_point_lookup": q167_chunked_point_lookup,
    "q171_cluster_spec_evolution": q171_cluster_spec_evolution,
    "q173_auto_maintenance": q173_auto_maintenance,
    "q178_wap_publish": q178_wap_publish,
    "q182_tagged_rollback": q182_tagged_rollback,
    "q183_files_metadata": q183_files_metadata,
    "q184_incremental_minmax": q184_incremental_minmax,
    "q187_content_index_lookup": q187_content_index_lookup,
    "q188_zorder_table_probes": q188_zorder_table_probes,
    "q190_incremental_join": q190_incremental_join,
    "q192_multi_table_txn": q192_multi_table_txn,
    "q196_change_feed": q196_change_feed,
    "q199_incremental_data_card": q199_incremental_data_card,
    "q202_shallow_clone": q202_shallow_clone,
    "q204_check_constraints": q204_check_constraints,
    "q207_materialized_view": q207_materialized_view,
    "q208_join_materialized_view": q208_join_materialized_view,
    "q210_streaming_mv": q210_streaming_mv,
    "q211_mv_serve_from_view": q211_mv_serve_from_view,
    "q212_minmax_materialized_view": q212_minmax_materialized_view,
    "q216_artifact_registry": q216_artifact_registry,
    "q217_frozen_training_set": q217_frozen_training_set,
    "q218_llm_pipeline_capstone": q218_llm_pipeline_capstone,
    "q220_registry_served_stats": q220_registry_served_stats,
    "q222_grouped_distinct_serving": q222_grouped_distinct_serving,
    "q223_datasource_table_read": q223_datasource_table_read,
    "q224_registry_served_quantiles": q224_registry_served_quantiles,
    "q225_datasource_table_write": q225_datasource_table_write,
    "q226_datasource_stream_sink": q226_datasource_stream_sink,
    "q227_registry_served_topk": q227_registry_served_topk,
    "q228_datasource_multi_table_txn": q228_datasource_multi_table_txn,
    "q229_grouped_topk_serving": q229_grouped_topk_serving,
    "q230_datasource_stream_source": q230_datasource_stream_source,
    "q231_datasource_change_feed": q231_datasource_change_feed,
}


def oracles() -> dict[str, str]:
    """Built lazily: building the SQL stages the snapshot bytes both
    engines read (fixture_store/kpi_q pattern)."""
    return {
        "q114_snapshot_diff": _oracle_q114(),
        "q118_incremental_agg": _oracle_q118(),
        "q152_cdc_apply": _oracle_q152(),
        "q153_streaming_cdc_apply": _oracle_q153(),
        "q154_point_lookup": ORACLE_Q154,
        "q159_mor_delete": _oracle_q159(),
        "q166_rename_evolution": _oracle_q166(),
        "q167_chunked_point_lookup": ORACLE_Q167,
        "q171_cluster_spec_evolution": ORACLE_Q171,
        "q173_auto_maintenance": ORACLE_Q173,
        "q178_wap_publish": ORACLE_Q178,
        "q182_tagged_rollback": ORACLE_Q182,
        "q183_files_metadata": _oracle_q183(),
        "q184_incremental_minmax": _oracle_q184(),
        "q187_content_index_lookup": ORACLE_Q187,
        "q188_zorder_table_probes": ORACLE_Q188,
        "q190_incremental_join": _oracle_q190(),
        "q192_multi_table_txn": ORACLE_Q192,
        "q196_change_feed": ORACLE_Q196,
        "q199_incremental_data_card": ORACLE_Q199,
        "q202_shallow_clone": ORACLE_Q202,
        "q204_check_constraints": ORACLE_Q204,
        "q207_materialized_view": ORACLE_Q207,
        "q208_join_materialized_view": ORACLE_Q208,
        "q210_streaming_mv": ORACLE_Q210,
        "q211_mv_serve_from_view": ORACLE_Q211,
        "q212_minmax_materialized_view": ORACLE_Q212,
        "q216_artifact_registry": ORACLE_Q216,
        "q217_frozen_training_set": ORACLE_Q217,
        "q218_llm_pipeline_capstone": _oracle_q218(),
        "q220_registry_served_stats": _oracle_q220(),
        "q222_grouped_distinct_serving": _oracle_q222(),
        "q223_datasource_table_read": _oracle_q223(),
        "q224_registry_served_quantiles": _oracle_q224(),
        "q225_datasource_table_write": ORACLE_Q225,
        "q226_datasource_stream_sink": ORACLE_Q226,
        "q227_registry_served_topk": _oracle_q227(),
        "q228_datasource_multi_table_txn": ORACLE_Q228,
        "q229_grouped_topk_serving": _oracle_q229(),
        "q230_datasource_stream_source": ORACLE_Q230,
        "q231_datasource_change_feed": ORACLE_Q231,
    }
