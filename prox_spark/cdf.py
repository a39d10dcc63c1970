"""Change-data-feed READER: the signed-row change feed between two
committed versions, reconstructed from the manifest log alone — the
Delta CDF / Iceberg changelog parity piece, and the read-side
completion of the CDC loop the table format already produces (q114's
snapshot diff) and applies (upsert.apply_changes).

No change files are ever written: every commit's manifest already
names exactly what moved — the files it added, the files it removed,
and the merge-on-read delete entries it introduced — so the feed is
derived, version by version, as

- ``insert`` rows: the content of files ADDED at v, read with v's own
  delete entries applied (rows masked in the same commit never became
  visible);
- ``delete`` rows: the content of files REMOVED at v as it was
  visible at v−1 (prior deletes applied), plus — for each NEW
  merge-on-read delete entry — the targeted carried files' visible
  rows semi-joined with the entry's key set;
- updates appear as delete+insert pairs (signed-multiplicity
  semantics: the standard IVM encoding, and Delta's own without
  ``_change_data`` files). A rewriting commit (upsert/merge) therefore
  also echoes the UNCHANGED rows it co-rewrote as cancelling
  delete+insert pairs — net-exact for any additive consumer, with
  volume ∝ rewritten bytes, never table size. Merge-on-read deletes
  (``upsert.delete_keys_mor``) produce exactly the deleted rows and
  nothing else.
- rewrite-only maintenance commits (compaction, small-file
  consolidation, delete folding) carry ``data_change: false`` in the
  manifest and are SKIPPED — visible rows didn't move, and a 100 TB
  compaction must not emit a 200 TB feed echo.

Scale shape: per version the reader opens only the added/removed/
targeted files (work ∝ commit volume); delete key sets broadcast;
reads route through table._read_files so rename mappings and
birth-versioned schema evolution resolve exactly as table scans do.

Columns: the table's own, plus ``_change_type`` ('insert'|'delete')
and ``_commit_version`` (long) — Delta CDF's column contract.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructType

from prox_spark import manifest as M
from prox_spark.io import read_parquet
from prox_spark.local_frames import empty_df
from prox_spark.manifest import CHANGE_TYPE_COL, COMMIT_VERSION_COL
from prox_spark.table import _manifest_versions, _read_files, read_manifest


def _stamp(df: DataFrame, change_type: str, v: int) -> DataFrame:
    return df.withColumn(CHANGE_TYPE_COL, F.lit(change_type)).withColumn(
        COMMIT_VERSION_COL, F.lit(int(v)).cast("long")
    )


def _version_changes(
    spark: SparkSession, table_path: str, prev: dict, cur: dict, v: int
) -> list[DataFrame]:
    """The signed rows of ONE commit, given its manifest and the
    previous version's (classified by
    :func:`prox_spark.manifest.commit_changes`)."""
    frames: list[DataFrame] = []
    for c in M.commit_changes(prev, cur, v):
        df = _read_files(
            spark, table_path, cur if c.kind == "insert" else prev, c.files
        )
        if c.entry is not None:
            keys = (
                read_parquet(spark, M.resolve(table_path, c.entry["file"]))
                .select(*c.entry["keys"])
                .distinct()
            )
            df = df.join(F.broadcast(keys), c.entry["keys"], "left_semi")
        frames.append(_stamp(df, c.kind, v))
    return frames


def read_table_changes(
    spark: SparkSession,
    table_path: str,
    start_version: int,
    end_version: int | None = None,
    ref: str = "main",
) -> DataFrame:
    """The change feed of commits AFTER ``start_version`` through
    ``end_version`` (default: head) — the batch half of
    ``readChangeFeed`` (the streaming half lives in
    prox_spark.table_stream). ``start_version=0`` feeds the table's
    whole history, i.e. every live row as an insert plus the full
    delete trail.

    Both endpoints must still be resolvable (not vacuumed) — a feed
    with a missing middle would silently mis-state the delta, so this
    raises instead. Returns an EMPTY frame (correct schema) when
    start == end."""
    versions = _manifest_versions(spark, table_path, ref)
    if not versions:
        raise ValueError(f"{table_path} is not a manifest table")
    if end_version is None:
        end_version = versions[-1]
    if end_version not in versions:
        raise ValueError(
            f"end version {end_version} not in {versions} for {table_path}"
        )
    if start_version and start_version not in versions:
        raise ValueError(
            f"start version {start_version} not in {versions} for "
            f"{table_path} (vacuumed? raise the table's keep_versions)"
        )
    if start_version > end_version:
        raise ValueError(
            f"start {start_version} > end {end_version} for {table_path}"
        )
    needed = [x for x in versions if start_version < x <= end_version]
    missing = sorted(set(range(start_version + 1, end_version + 1)) - set(versions))
    if missing:
        raise ValueError(
            f"version(s) {missing} of {table_path} were vacuumed — the "
            f"{start_version}→{end_version} feed cannot be reconstructed "
            "exactly; raise the table's vacuum keep_versions above the "
            "feed's maximum lag"
        )

    prev = (
        read_manifest(spark, table_path, start_version, ref)
        if start_version > 0
        else {}
    )
    frames: list[DataFrame] = []
    for v in needed:
        cur = read_manifest(spark, table_path, v, ref)
        if cur.get("data_change") is not False:
            frames.extend(_version_changes(spark, table_path, prev, cur, v))
        prev = cur

    if not frames:
        schema = StructType.fromJson(prev["schema"]) if prev else StructType()
        schema = schema.add(CHANGE_TYPE_COL, StringType()).add(
            COMMIT_VERSION_COL, LongType()
        )
        return empty_df(spark, schema)
    # add-column evolution mid-range: older versions' frames miss the
    # new columns — align by name with NULL back-fill (the same
    # semantics their files read with under the evolved schema)
    return reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), frames
    )
