"""Sources and sinks (SURVEY.md §2.1 S1-S9) as thin, scale-aware
wrappers over stock Spark readers/writers.

Differences from the reference, by design (§4.2 anti-patterns):

- JDBC reads take partitioning options (partitionColumn/num
  Partitions) — the reference reads every table on a single task
  (reference glue_scripts/bronze_ingestion_script.py:46-57);
- JDBC writes run their pre-DDL through a plain JDBC connection
  (OSS replacement for Glue's Redshift ``preactions``;
  reference glue_scripts/s3_to_redshift_script.py:145-162);
- CSV reads always carry an explicit schema + multiLine/escape
  (the reference's seed CSVs embed quoted JSON and newlines).

:func:`read_parquet` is the one plain parquet reader of the package.
A bare ``spark.read.parquet(path)`` runs Spark's footer read as a
one-task job on every call, even when the file has not changed; at
small scale that job costs more than the query. The reader memoizes
the schema Spark itself inferred and, on a hit, reads with
``spark.read.schema(memo)``, which launches no job. The memo rule:

- an entry is keyed by the path string(s) and holds a driver-side
  stat signature plus the values of the session confs that change
  parquet inference (``_INFER_CONFS``: binaryAsString,
  int96AsTimestamp, inferTimestampNTZ, mergeSchema, nanosAsLong,
  caseSensitive, partition column type inference);
- the signature of a file is its size, mtime (ns) and inode; of a
  directory, every entry below it (hidden files included) with its
  relative name, size and mtime. Any change to the signature or to
  one of those confs re-infers and replaces the entry, so the memo
  holds one entry per path (capped at ``_MEMO_MAX``, oldest first);
- a path that does not exist, a glob, or a non-local scheme
  (``s3a://``, ``hdfs://``, …) is not memoized: the read goes
  straight to Spark. A miss is Spark's own inferring read, so its
  errors (``PATH_NOT_FOUND``, ``UNABLE_TO_INFER_SCHEMA``) surface
  unchanged and nothing is stored.

Reads that pass a reader option or an explicit schema call Spark
directly; they never infer, or infer differently.
"""

from __future__ import annotations

import os
import re
import stat
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# session confs whose value changes the schema parquet inference returns
_INFER_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.caseSensitive",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
)
_MEMO_MAX = 1024
_GLOB = re.compile(r"[*?\[{\\]")
_SCHEME = re.compile(r"^([A-Za-z][A-Za-z0-9+.-]*):")
_memo: dict[tuple[str, ...], tuple[tuple, StructType]] = {}
_memo_lock = threading.Lock()


def _local_path(path: str) -> str | None:
    """The local filesystem path ``path`` names, or None when it is a
    glob or names another filesystem."""
    if _GLOB.search(path):
        return None
    m = _SCHEME.match(path)
    if m is None:
        return path
    if m.group(1).lower() != "file":
        return None
    rest = path[len("file:"):]
    if rest.startswith("//"):
        rest = rest[2:]  # file:///abs -> /abs
    return rest if rest.startswith("/") else None


def _signature(path: str) -> tuple | None:
    """The stat signature of one local file or directory tree, or None
    when it cannot be taken (missing path, a listing race)."""
    local = _local_path(path)
    if local is None:
        return None
    try:
        st = os.stat(local)
        if not stat.S_ISDIR(st.st_mode):
            return (st.st_size, st.st_mtime_ns, st.st_ino)
        entries = []
        todo = [""]
        while todo:
            rel = todo.pop()
            with os.scandir(os.path.join(local, rel)) as it:
                for e in it:
                    name = os.path.join(rel, e.name)
                    s = e.stat()
                    entries.append((name, s.st_size, s.st_mtime_ns))
                    if e.is_dir():
                        todo.append(name)
        return tuple(sorted(entries))
    except OSError:
        return None


def read_parquet(spark: SparkSession, *paths: str) -> DataFrame:
    """``spark.read.parquet(*paths)`` that infers the schema once per
    unchanged input (the memo rule is in the module docstring)."""
    sigs = [_signature(p) for p in paths]
    if not paths or None in sigs:
        return spark.read.parquet(*paths)
    sig = (tuple(sigs), tuple(spark.conf.get(k, None) for k in _INFER_CONFS))
    hit = _memo.get(paths)
    if hit is not None and hit[0] == sig:
        return spark.read.schema(hit[1]).parquet(*paths)
    df = spark.read.parquet(*paths)
    with _memo_lock:
        _memo.pop(paths, None)
        _memo[paths] = (sig, df.schema)
        while len(_memo) > _MEMO_MAX:
            del _memo[next(iter(_memo))]
    return df


def write_parquet(df: DataFrame, path: str, partition_by: list[str] | None = None,
                  mode: str = "overwrite") -> None:
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_bucketed(
    df: DataFrame,
    name: str,
    path: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
    mode: str = "overwrite",
) -> None:
    """Bucketed + sorted parquet table (hash co-location). Two tables
    bucketed on the same key with the same bucket count join WITHOUT any
    shuffle exchange (asserted in tests/test_io_catalog.py) — the
    pre-partitioning strategy for repeated large-large joins at 100 TB:
    pay the shuffle once at write time, never again at read time."""
    (
        df.write.mode(mode)
        .bucketBy(n_buckets, *bucket_cols)
        .sortBy(*bucket_cols)
        .option("path", path)
        .saveAsTable(name)
    )


def read_parquet_evolved(spark: SparkSession, path: str) -> DataFrame:
    """Schema-evolution read: union the schemas of every file in the
    table (``mergeSchema``), so batches appended after a column was
    added read alongside old files (missing columns become NULL).
    Costs a footer read per file at planning time — at 100 TB leave it
    off hot paths and use it only on tables that actually evolve (or
    compact old files to the new schema once, `compact_parquet`)."""
    return spark.read.option("mergeSchema", "true").parquet(path)


def write_sorted(
    df: DataFrame,
    path: str,
    sort_cols: list[str],
    n_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Range-clustered sorted parquet: ``repartitionByRange`` assigns
    each output file a disjoint key range, ``sortWithinPartitions``
    orders rows inside it. Parquet footers then carry tight,
    non-overlapping min/max stats per file, so a later
    ``WHERE sort_col BETWEEN a AND b`` scan skips every file whose
    range misses the predicate — the linear-clustering ("z-order with
    one dimension") layout that turns a 100 TB full scan into a read
    of only the matching key ranges. Disjointness is asserted in
    tests/test_io_catalog.py.

    ``repartitionByRange`` samples the key distribution, so file
    sizes stay balanced under skew (unlike hash bucketing, which
    needs uniform keys)."""
    part = df.repartitionByRange(n_files, *sort_cols) if n_files \
        else df.repartitionByRange(*sort_cols)
    part.sortWithinPartitions(*sort_cols).write.mode(mode).parquet(path)


def compact_parquet(
    spark: SparkSession,
    src: str,
    dst: str,
    target_file_mb: int = 128,
) -> int:
    """Small-file compaction: rewrite a parquet directory into
    ~``target_file_mb`` files and return the output file count.

    The operational fix for the classic 100 TB failure mode — streaming
    micro-batches and over-parallel writers leaving millions of KB-size
    files whose open/footer cost dominates scans. Target partition
    count comes from the actual byte size on disk (never a row count
    heuristic), measured through the Hadoop FileSystem API so the same
    code compacts file://, hdfs:// and s3:// layouts; the rewrite uses
    ``repartition`` (round-robin) so output files are evenly sized even
    when input files are skewed. For a layout that must stay clustered,
    write with :func:`write_bucketed` instead — compaction here
    optimizes file geometry, not data placement."""
    import math

    jvm = spark._jvm  # noqa: SLF001 - hadoop FS side channel
    hconf = spark._jsc.hadoopConfiguration()  # noqa: SLF001

    def _fs_path(p: str):
        path = jvm.org.apache.hadoop.fs.Path(p)
        return path.getFileSystem(hconf), path

    fs, src_path = _fs_path(src)
    total_bytes = fs.getContentSummary(src_path).getLength()
    n = max(1, math.ceil(total_bytes / (target_file_mb * 1024 * 1024)))
    read_parquet(spark, src).repartition(n).write.mode("overwrite").parquet(dst)
    fs, dst_path = _fs_path(dst)
    return sum(
        1
        for st in fs.listStatus(dst_path)
        if st.getPath().getName().endswith(".parquet")
    )


def read_jsonl(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    """JSON-lines source with a REQUIRED explicit schema: schema
    inference over JSONL costs a full extra pass of the data (fatal at
    100 TB) and silently widens types; corrupt lines land in
    ``_corrupt_record`` when the schema declares it instead of failing
    the job (PERMISSIVE mode default)."""
    return spark.read.schema(schema).json(path)


def write_jsonl(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """JSON-lines sink — the interchange format of most LLM-corpus
    tooling; compression and file sizing follow the writer conf."""
    df.write.mode(mode).json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC source (columnar sibling of parquet, common in Hive-era
    lakes). Spark's native vectorized ORC reader supports the same
    predicate pushdown / column pruning as parquet, so migrating a
    query between the two formats changes no plan shape."""
    return spark.read.orc(path)


def write_orc(df: DataFrame, path: str, partition_by: list[str] | None = None,
              mode: str = "overwrite") -> None:
    """ORC sink, partition-layout compatible with :func:`write_parquet`."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)


def read_csv(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    """S9: seed-CSV reader (quoted multiline text, embedded JSON)."""
    return (
        spark.read.schema(schema)
        .option("header", "true")
        .option("multiLine", "true")
        .option("escape", '"')
        .csv(path)
    )


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    user: str,
    password: str,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int = 8,
) -> DataFrame:
    """S1 with parallel range partitioning (fixes the reference's
    single-partition scan)."""
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("user", user)
        .option("password", password)
    )
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound or 0))
            .option("upperBound", str(upper_bound or 1_000_000))
            .option("numPartitions", str(num_partitions))
        )
    return reader.load()


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    user: str,
    password: str,
    pre_ddl: str | None = None,
    mode: str = "append",
    batch_size: int = 10_000,
) -> None:
    """S8: JDBC sink with optional pre-DDL (CREATE TABLE IF NOT
    EXISTS …), executed through the JVM's DriverManager — the OSS
    equivalent of Glue's ``preactions``."""
    if pre_ddl:
        jvm = df.sparkSession._jvm  # noqa: SLF001 - py4j DDL side channel
        conn = jvm.java.sql.DriverManager.getConnection(url, user, password)
        try:
            stmt = conn.createStatement()
            stmt.execute(pre_ddl)
            stmt.close()
        finally:
            conn.close()
    (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("user", user)
        .option("password", password)
        .option("batchsize", str(batch_size))
        .mode(mode)
        .save()
    )


def write_parquet_bloom(
    df: DataFrame,
    path: str,
    bloom_cols: list[str],
    *,
    expected_ndv: int = 100_000,
    mode: str = "overwrite",
) -> None:
    """Parquet write with BLOOM FILTERS on ``bloom_cols`` — the
    point-lookup complement to min/max stats (io sorted writes,
    zorder clustering): range predicates prune via stats, but an
    equality probe on a high-cardinality unordered column (doc digest,
    user id) matches every file's [min,max] span; a per-row-group
    bloom filter rejects non-member row groups at the footer, before
    any page IO. Spark's vectorized parquet reader consults the filter
    automatically for `=` / `IN` predicates — no read-side code.

    ``expected_ndv`` sizes the filter (bits ∝ ndv for the target false
    positive rate); undersizing degrades to pass-through, oversizing
    wastes footer bytes — at 100 TB set it per-column from stats the
    pipeline already collects."""
    writer = df.write.mode(mode)
    for c in bloom_cols:
        writer = writer.option(f"parquet.bloom.filter.enabled#{c}", "true").option(
            f"parquet.bloom.filter.expected.ndv#{c}", str(expected_ndv)
        )
    writer.parquet(path)
