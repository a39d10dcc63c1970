"""Key-based upserts (SCD-1 / keep-max / SCD-2 merges / CDC apply /
deletes) over the manifest-log table format (prox_spark/table.py),
with FILE-GRANULAR rewrites.

The reference's load step truncates and reloads whole Redshift tables
(full refresh, reference glue_scripts/s3_to_redshift_script.py
preactions); at 100 TB a daily full rewrite is untenable — you merge
the day's changed rows into the standing table instead. Without
adopting Delta/Iceberg/Hudi, the parquet-native pattern is
copy-on-write — but copy-on-write of WHAT? Round 3 rewrote the whole
table per merge (snapshot-granular commits); this version rewrites
only the files whose key range intersects the update batch:

1. one tiny aggregate over the update batch yields its per-key-column
   min/max;
2. the current manifest's per-file footer stats split the table into
   TOUCHED files (range overlap — could hold a changed key) and
   UNTOUCHED files (provably hold none);
3. the merge logic runs over the touched subset only:
       new_files = merge(touched, updates)
4. :func:`prox_spark.table.commit_delta` publishes
   untouched ∪ new_files as the next version in one atomic manifest
   rename.

Because commits cluster data by the merge keys (range partition +
sort + per-file min/max + bloom filters), steady-state merge cost is
∝ the update batch's key spread, not table size — the same
matched-file pruning a Delta MERGE gets from data skipping. A table
whose stats don't cover the merge keys (or a legacy plain directory)
degrades gracefully to the full rewrite.

Every merge publishes through the manifest log: new files are fully
written before a single atomic manifest rename makes them current, so
a concurrent reader sees the previous version or the new one — never
a mix, and old versions stay readable (time travel) until vacuumed.

Pre-manifest plain-parquet targets are migrated on first merge: their
rows become the ``current`` side and the merged result is committed as
version 1; the legacy root files are then removed (single-writer
assumption, as for all merges here).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from prox_spark.io import read_parquet
from prox_spark.local_frames import values_df_like
from prox_spark.table import (
    _read_files,
    commit_delta,
    commit_snapshot,
    is_manifest_table,
    read_manifest,
    read_table,
)


def _current(spark: SparkSession, table_path: str) -> DataFrame | None:
    """The table's current snapshot, or None if the table is absent."""
    if is_manifest_table(spark, table_path):
        return read_table(spark, table_path)
    jvm = spark._jvm  # noqa: SLF001 - hadoop FS side channel
    path = jvm.org.apache.hadoop.fs.Path(table_path)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())  # noqa: SLF001
    if not fs.exists(path):
        return None
    return read_parquet(spark, table_path)  # legacy plain dir


def _drop_legacy_files(spark: SparkSession, table_path: str) -> None:
    """After migrating a plain parquet dir to manifest format, remove
    the now-shadowed root data files (everything except the manifest
    log and snapshot dirs)."""
    from prox_spark.table import DATA_DIR, MANIFEST_DIR

    jvm = spark._jvm  # noqa: SLF001
    path = jvm.org.apache.hadoop.fs.Path(table_path)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())  # noqa: SLF001
    for st in fs.listStatus(path):
        if st.getPath().getName() not in (DATA_DIR, MANIFEST_DIR):
            fs.delete(st.getPath(), True)


def _check_schema(current: DataFrame, updates: DataFrame, what: str) -> None:
    if set(current.columns) != set(updates.columns):
        raise ValueError(
            f"{what} schema mismatch: table has {sorted(current.columns)}, "
            f"updates have {sorted(updates.columns)}"
        )


def _evolve(current: DataFrame, updates: DataFrame, what: str):
    """ADD-COLUMN schema evolution: updates may carry a superset of the
    table's columns; existing rows read the new columns as NULL (the
    Iceberg/Delta add-column semantic — with the file-granular manifest
    this now rewrites NOTHING: untouched files stay as-is and the
    manifest's declared schema supplies the NULLs at read time).
    Dropping or renaming is still an error: silent column loss is how
    pipelines corrupt tables, so destructive evolution stays explicit
    (delete_keys + re-create, or a migration script).

    Returns (current', updates') with identical column sets."""
    missing_in_updates = set(current.columns) - set(updates.columns)
    if missing_in_updates:
        raise ValueError(
            f"{what}: updates drop columns {sorted(missing_in_updates)}; "
            "add-column evolution only"
        )
    new_cols = [c for c in updates.columns if c not in current.columns]
    for c in new_cols:
        dt = updates.schema[c].dataType
        current = current.withColumn(c, F.lit(None).cast(dt))
    return current, updates


def _key_ranges(key_df: DataFrame, keys: list[str]) -> dict[str, tuple]:
    """Per-column min/max of the update batch's keys — one tiny agg."""
    aggs = []
    for k in keys:
        aggs += [F.min(k).alias(f"__lo_{k}"), F.max(k).alias(f"__hi_{k}")]
    row = key_df.agg(*aggs).collect()[0]
    return {k: (row[f"__lo_{k}"], row[f"__hi_{k}"]) for k in keys}


# driver-side bound on the collected distinct-key list used for file
# pruning: ~50k scalars is a trivial collect, and a batch with MORE
# distinct keys than that is a bulk load, where min/max range pruning
# (no collect) is the appropriate granularity anyway
_KEY_SET_CAP = 50_000

_LIMIT_CONF_LOCK = __import__("threading").Lock()


def _local_df(spark: SparkSession, rows: list, schema) -> DataFrame:
    """A DataFrame over driver-local rows in ONE partition.
    ``spark.createDataFrame(list)`` parallelizes into
    defaultParallelism Python-RDD partitions — for a 1500-row CDC
    batch on local[32] that is 32 Python-worker round trips per
    downstream job, which dwarfs the data. One partition = one
    worker."""
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema
    )


# rough driver-side budget for a collected batch: beyond this the
# local-relation fast paths stop paying for themselves and the extra
# driver copies risk memory pressure, so callers fall back to the
# distributed path even when the ROW count is under the cap
_COLLECT_BYTE_BUDGET = 128 * 1024 * 1024


# ALLOWLIST of provably fixed-width typeNames — anything unrecognized
# (varchar/char report their own names, future types) must fall back
# to the sampling pass, not silently count as 48 bytes: a denylist
# here once let wide varchar batches skip the byte-budget guard
_FIXED_WIDTH_TYPES = frozenset({
    "boolean", "byte", "short", "integer", "long", "float", "double",
    "decimal", "date", "timestamp", "timestamp_ntz", "daytimeinterval",
    "yearmonthinterval", "null",
})


def _row_width_bound(schema) -> int | None:
    """A per-row byte bound derivable from the SCHEMA alone, or None
    when any column is not provably fixed-width (string/binary/nested,
    and anything not on the allowlist). All fixed-width columns ⇒ the
    byte budget can be proven up front and the collect needs no
    sampling pass at all."""
    total = 0
    for f in schema.fields:
        t = f.dataType.typeName()
        if t not in _FIXED_WIDTH_TYPES:
            return None
        # generous fixed bound per atomic column (value + Row overhead)
        total += 48
    return max(total, 48)


def _collect_capped(df: DataFrame, cap: int = _KEY_SET_CAP) -> list | None:
    """``df``'s rows when there are at most ``cap`` of them AND the
    batch is plausibly small in BYTES, else None (batch too big to
    land driver-side — caller keeps the distributed path).

    The byte budget is enforced BEFORE any large collect lands on the
    driver: for all-fixed-width schemas the bound is proven from the
    schema alone (one collect, no sampling); otherwise a 64-row
    pre-sample estimates row width and shrinks the row cap to
    ``budget // width`` so a sub-cap batch of wide text/JSON rows is
    rejected without ever materializing driver-side (checking the
    budget only after ``limit(cap+1).collect()`` would make the guard
    illusory — the OOM it exists to prevent happens during that very
    collect). A pre-sample returning under 64 rows IS the whole batch,
    so tiny CDC batches still pay exactly one job.

    Every limit-collect is forced to scan ALL partitions in its FIRST
    job: CollectLimit's default incremental strategy (1 → 4 → 16
    partitions...) launches up to four jobs for a batch spread over a
    32-partition feed, and per-job scheduling is exactly the fixed
    per-merge cost sequential CDC pipelines pay T times. The setting is
    SESSION conf, held for the collect: a limit query another thread
    plans in that window (a concurrent pipeline stage, say) scans all
    its partitions at once too. Its answer is unaffected — the setting
    changes how many partitions the first job scans, never the rows."""
    spark = df.sparkSession
    key = "spark.sql.limit.initialNumPartitions"

    def _limit_collect(n: int, force_full: bool = True) -> list:
        with _LIMIT_CONF_LOCK:
            saved = spark.conf.get(key, None)
            try:
                if force_full:
                    spark.conf.set(key, "4096")
                return df.limit(n).collect()
            finally:
                if saved is None:
                    spark.conf.unset(key)
                else:
                    spark.conf.set(key, saved)

    row_cap = cap
    bound = _row_width_bound(df.schema)
    if bound is not None:
        if (cap + 1) * bound > _COLLECT_BYTE_BUDGET:
            row_cap = _COLLECT_BYTE_BUDGET // bound
    else:
        # incremental (1-partition-first) scan: 64 rows almost always
        # live in the first partition, so the sampling job stays tiny
        sample = _limit_collect(64, force_full=False)
        if len(sample) < 64:
            # the whole batch — trivially within budget (cap may be
            # under 64: tests shrink it, so still honor the row cap)
            return sample if len(sample) <= cap else None
        width = max(1, sum(len(repr(r)) for r in sample) // len(sample))
        row_cap = min(cap, _COLLECT_BYTE_BUDGET // width)
    rows = _limit_collect(row_cap + 1)
    if len(rows) > row_cap:
        return None
    if bound is None and len(rows) > 64:
        # the head sample can under-estimate a SKEWED batch (narrow
        # rows in the first partition, wide JSON later): re-estimate
        # from a stride across the WHOLE collected batch and refuse to
        # return (and ship into a local relation) anything over budget
        # — the rows already landed, but the distributed fallback keeps
        # them out of the merge plan's broadcast path
        stride = rows[:: max(1, len(rows) // 64)][:64]
        est = sum(len(repr(r)) for r in stride) * len(rows) // len(stride)
        if est > _COLLECT_BYTE_BUDGET:
            return None
    return rows


def _prune_files(manifest: dict, key_df: DataFrame, keys: list[str],
                 key_rows: list | None = None, force_ranges: bool = False):
    """(touched_files, keep_files, key_ranges) for the merge: exact
    key-SET pruning for small batches (the CDC norm — scattered keys
    that a min/max range test couldn't prune at all), per-column
    min/max range pruning beyond the cap. ``key_ranges`` is the update
    batch's per-column min/max — the commit's conflict scope for
    optimistic concurrency — or None when it wasn't derived (the
    tiny-table fast path skips the key job entirely → strict-mode
    commit).

    ``key_rows``: the batch's rows already collected by the caller
    (any iterable of Rows carrying the key columns). Skips this
    function's own distinct-collect job — the per-merge fixed cost
    that dominates sequential CDC pipelines."""
    from prox_spark.table import split_files_by_key_ranges, split_files_by_key_sets

    files = manifest.get("files", [])
    if key_rows is not None:
        vals = {
            k: sorted({r[k] for r in key_rows if r[k] is not None})
            for k in keys
        }
        ranges = {k: (v[0], v[-1]) for k, v in vals.items() if v}
        if len(files) <= 2:
            return list(files), [], (ranges or None)
        touched, keep = split_files_by_key_sets(manifest, vals)
        return touched, keep, (ranges or None)
    if len(files) <= 2:
        # nothing worth pruning: skip the key-collect job entirely
        # (small tables — e.g. AQE-coalesced dimensions — hit this on
        # every merge of a sequential pipeline)
        return list(files), [], None
    if force_ranges:
        # caller already proved the key set exceeds the cap — don't
        # re-run the identical distinct-collect just to re-learn it
        ranges = _key_ranges(key_df, keys)
        touched, keep = split_files_by_key_ranges(manifest, ranges)
        return touched, keep, ranges
    rows = key_df.select(*keys).distinct().limit(_KEY_SET_CAP + 1).collect()
    if len(rows) <= _KEY_SET_CAP:
        vals = {
            k: sorted({r[k] for r in rows if r[k] is not None}) for k in keys
        }
        ranges = {k: (v[0], v[-1]) for k, v in vals.items() if v}
        touched, keep = split_files_by_key_sets(manifest, vals)
        return touched, keep, (ranges or None)
    ranges = _key_ranges(key_df, keys)
    touched, keep = split_files_by_key_ranges(manifest, ranges)
    return touched, keep, ranges


class _MergeScope:
    """The slice of the table a key-based merge must actually touch.

    ``touched``  — DataFrame of rows from files whose key range
                   intersects the update batch (the merge input);
    ``keep``     — file names provably free of updated keys, carried
                   into the next version verbatim;
    ``commit(df)`` — publish ``keep`` + newly-written ``df``.

    For legacy plain dirs / stat-less manifests, ``touched`` is the
    whole table and ``keep`` is empty — a full rewrite, exactly the
    pre-file-granular behavior."""

    def __init__(self, spark, table_path, keys, touched, keep, migrated,
                 stat_cols=None, base_version=None, key_ranges=None,
                 carry_chunks=None, base_manifest=None):
        self.spark = spark
        self.table_path = table_path
        self.keys = keys
        self.touched = touched
        self.keep = keep
        self._migrated = migrated
        self._stat_cols = list(stat_cols or [])
        self._base_version = base_version
        self._key_ranges = key_ranges
        self._carry_chunks = carry_chunks
        self._base_manifest = base_manifest

    def commit(self, merged: DataFrame, extra_meta: dict | None = None) -> None:
        # preserve the table's declared stat columns (they may be a
        # SUPERSET of this merge's keys — committing just the keys
        # would silently shrink them and break file pruning for later
        # merges on the dropped columns); keys not yet tracked append
        cols = [
            *self._stat_cols,
            *[k for k in self.keys if k not in self._stat_cols],
        ]
        commit_delta(
            self.spark, self.table_path, merged, self.keep, stat_cols=cols,
            base_version=self._base_version,
            update_key_ranges=self._key_ranges,
            carry_chunks=self._carry_chunks,
            base_manifest=self._base_manifest,
            extra_meta=extra_meta,
        )
        if self._migrated:
            _drop_legacy_files(self.spark, self.table_path)


def _merge_scope(
    spark: SparkSession,
    table_path: str,
    key_df: DataFrame,
    keys: list[str],
    key_rows: list | None = None,
    prune: bool = True,
) -> _MergeScope | None:
    """Build the merge scope, or None when the table doesn't exist.
    ``key_rows``: pre-collected batch rows (see :func:`_prune_files`).
    ``prune=False`` forces a FULL-TABLE scope (touched = every row,
    keep = nothing) even when stats could prune — required when the
    batch keys contain NULLs, which footer min/max stats cannot
    locate (a pruned scope would miss the NULL-keyed group's file and
    a merge would duplicate that group).

    On a CHUNKED table with a driver-small batch, the scope is
    CHUNK-PRUNED: only the chunk files whose recorded ranges overlap
    the batch keys are read; the provably-disjoint entries carry into
    the commit by reference (commit_delta's ``carry_chunks``) — both
    the metadata read and write of a merge are then O(matching
    chunks), not O(live files)."""
    if is_manifest_table(spark, table_path):
        from prox_spark.table import (
            _assemble,
            _read_manifest_file,
            split_chunks_by_key_sets,
            split_files_by_key_sets,
            table_versions,
        )

        latest = table_versions(spark, table_path)[-1]
        doc = _read_manifest_file(spark, table_path, latest)
        stat_cols = doc.get("stat_cols") or []
        base_v = doc.get("version", latest)
        if not prune:
            return _MergeScope(
                spark, table_path, keys,
                read_table(spark, table_path), [], False, stat_cols, base_v,
                None,
            )
        over_cap = False
        if "chunks" in doc and set(keys) <= set(stat_cols):
            if key_rows is None:
                rows = (
                    key_df.select(*keys).distinct()
                    .limit(_KEY_SET_CAP + 1).collect()
                )
                if len(rows) <= _KEY_SET_CAP:
                    key_rows = rows
                else:
                    # bulk merge: remember the key set overflowed so
                    # the fallback below goes straight to range
                    # pruning instead of re-running this exact
                    # distinct-collect job
                    over_cap = True
            if key_rows is not None:
                vals = {
                    k: sorted({r[k] for r in key_rows if r[k] is not None})
                    for k in keys
                }
                ranges = {k: (v[0], v[-1]) for k, v in vals.items() if v}
                overlap, disjoint = split_chunks_by_key_sets(doc, vals)
                partial = _assemble(
                    spark, table_path, {**doc, "chunks": overlap}
                )
                touched_files, keep_loose = split_files_by_key_sets(
                    partial, vals
                )
                touched = _read_files(
                    spark, table_path, partial, touched_files
                )
                return _MergeScope(
                    spark, table_path, keys, touched, keep_loose, False,
                    stat_cols, base_v, ranges or None,
                    carry_chunks=disjoint, base_manifest=partial,
                )
        manifest = _assemble(spark, table_path, doc)
        if "files" in manifest and set(keys) <= set(stat_cols):
            touched_files, keep, ranges = _prune_files(
                manifest, key_df, keys, key_rows, force_ranges=over_cap
            )
            touched = _read_files(spark, table_path, manifest, touched_files)
            return _MergeScope(
                spark, table_path, keys, touched, keep, False, stat_cols,
                base_v, ranges,
            )
        return _MergeScope(
            spark, table_path, keys, read_table(spark, table_path), [], False,
            stat_cols, base_v, None,
        )
    current = _current(spark, table_path)
    if current is None:
        return None
    return _MergeScope(spark, table_path, keys, current, [], True)


def upsert_parquet(
    spark: SparkSession,
    table_path: str,
    updates: DataFrame,
    keys: list[str],
    *,
    evolve: bool = False,
) -> None:
    """Merge ``updates`` into the table at ``table_path`` by ``keys``
    (update rows win; new keys append). Creates the table if absent.
    Columns must match the existing table's schema unless
    ``evolve=True``, which permits ADD-COLUMN evolution (see
    :func:`_evolve`). Only files whose key range intersects the update
    batch are rewritten."""
    scope = _merge_scope(spark, table_path, updates, keys)
    if scope is None:
        commit_snapshot(spark, table_path, updates, stat_cols=keys)
        return
    touched = scope.touched
    if evolve:
        # schema growth rewrites nothing extra: the commit declares the
        # evolved schema and untouched files read new columns as NULL
        touched, updates = _evolve(touched, updates, "upsert")
    else:
        _check_schema(touched, updates, "upsert")
    survivors = touched.join(updates.select(*keys).distinct(), keys, "left_anti")
    merged = updates.select(*touched.columns).unionByName(survivors)
    scope.commit(merged)


def delete_keys(
    spark: SparkSession,
    table_path: str,
    keys_df: DataFrame,
    keys: list[str],
) -> int:
    """Copy-on-write DELETE: drop every row whose key tuple appears in
    ``keys_df``, committed as a new version (readers pinned to an older
    manifest keep a consistent view; time travel still serves
    pre-deletion versions until ``vacuum`` retires them — the
    right-to-be-forgotten flow is delete_keys + vacuum). Returns the
    number of rows removed. :func:`delete_keys_mor` is the
    merge-on-read twin: it defers the rewrite entirely, committing
    only the key set.

    Scale shape: file pruning confines BOTH the rewrite and the
    removed-row count to files that can contain a deleted key; the
    count is one semi-join over that subset (not a before/after
    full-table count), and the deletion set is small by nature, so AQE
    broadcasts it."""
    current = _current(spark, table_path)
    if current is None:
        raise ValueError(f"no table at {table_path}")
    missing = [k for k in keys if k not in current.columns]
    if missing:
        raise ValueError(f"delete keys not in table schema: {missing}")
    dset = keys_df.select(*keys).distinct()
    scope = _merge_scope(spark, table_path, dset, keys)
    n_removed = scope.touched.join(dset, keys, "left_semi").count()
    scope.commit(scope.touched.join(dset, keys, "left_anti"))
    return n_removed


def delete_keys_mor(
    spark: SparkSession,
    table_path: str,
    keys_df: DataFrame,
    keys: list[str],
) -> int:
    """MERGE-ON-READ delete: the scale counterpart of :func:`delete_keys`.
    Instead of rewriting every file that holds a deleted key
    (copy-on-write — write cost ∝ touched data), this commits a tiny
    parquet of the deleted key tuples plus the pruned list of data
    files it applies to; readers anti-join those files against the key
    set and the PHYSICAL rewrite is deferred to whatever merge or
    compaction next touches them (which folds the delete in and drops
    the entry). Deleting 100 user ids from a 100 TB table writes
    kilobytes. The trade is a broadcast anti-join per read of the
    targeted files until then — Iceberg v2 equality-deletes / Delta
    deletion vectors make the same one.

    Returns the number of LIVE rows the delete removed (rows already
    masked by an earlier pending delete don't recount). A delete that
    matches nothing commits nothing. Requires a file-granular manifest
    table (the copy-on-write path handles legacy layouts)."""
    from prox_spark.table import commit_delete_file, is_manifest_table

    if not is_manifest_table(spark, table_path):
        raise ValueError(f"no manifest table at {table_path}")
    manifest = read_manifest(spark, table_path)
    if "files" not in manifest:
        raise ValueError(
            f"{table_path} predates file-granular manifests; use delete_keys"
        )
    schema_cols = {f["name"] for f in manifest["schema"]["fields"]}
    missing = [k for k in keys if k not in schema_cols]
    if missing:
        raise ValueError(f"delete keys not in table schema: {missing}")
    dset = keys_df.select(*keys).distinct()
    # land the (small-by-nature) key set once: it feeds the target
    # prune AND gives commit_delete_file's CAS the key scope it needs
    # to prove concurrently-added files disjoint on a lost race
    key_rows = _collect_capped(dset)
    key_vals = (
        {
            k: sorted({r[k] for r in key_rows if r[k] is not None})
            for k in keys
        }
        if key_rows is not None
        else None
    )
    if set(keys) <= set(manifest.get("stat_cols") or []):
        targets, _, _ = _prune_files(manifest, dset, keys, key_rows)
    else:
        targets = list(manifest["files"])  # stats can't prune: all files
    if not targets:
        return 0
    live = _read_files(spark, table_path, manifest, targets)
    n_removed = live.join(dset, keys, "left_semi").count()
    if n_removed == 0:
        return 0
    commit_delete_file(
        spark, table_path, dset, keys, targets, key_values=key_vals
    )
    return n_removed


def upsert_keep_max(
    spark: SparkSession,
    table_path: str,
    updates: DataFrame,
    keys: list[str],
    order_cols: list[str],
) -> None:
    """Order-independent upsert: per key, the row with the greatest
    ``order_cols`` tuple wins — across the update batch AND the
    standing table. Unlike :func:`upsert_parquet` (last writer wins),
    the result is independent of batch arrival order, which makes it
    the correct merge for out-of-order / replayed feeds: applying the
    same batches in any order, any number of times, converges to the
    same table (idempotent). Implementation is one struct-max
    aggregate over touched ∪ updates — partial aggregation means the
    shuffle carries one row per key per partition, and file pruning
    keeps 'touched' to the files that can hold an updated key (the
    table holds one row per key, so unpruned files pass through
    unchanged)."""

    def _reduce(df: DataFrame) -> DataFrame:
        rest = [c for c in df.columns if c not in keys and c not in order_cols]
        s = F.max(F.struct(*[F.col(c) for c in [*order_cols, *rest]])).alias("_s")
        return df.groupBy(*keys).agg(s).select(*keys, "_s.*").select(*df.columns)

    scope = _merge_scope(spark, table_path, updates, keys)
    if scope is None:
        commit_snapshot(spark, table_path, _reduce(updates), stat_cols=keys)
        return
    _check_schema(scope.touched, updates, "upsert")
    scope.commit(_reduce(scope.touched.unionByName(updates)))


SCD2_COLS = ("valid_from", "valid_to", "is_current")


def upsert_scd2(
    spark: SparkSession,
    table_path: str,
    updates: DataFrame,
    keys: list[str],
    effective_col: str,
) -> None:
    """SCD-2 history merge for parquet dimensions: instead of
    overwriting a changed row (SCD-1, :func:`upsert_parquet`), close
    the current version (``valid_to`` = the update's effective time,
    ``is_current`` = false) and append the update as the new open
    version — the dimension keeps every historical state, and
    point-in-time joins filter ``valid_from <= t < valid_to``.

    ``updates`` carries the business columns + ``effective_col``
    (timestamp of the change); the table stores them plus
    ``valid_from``/``valid_to``/``is_current``. Unchanged keys pass
    through untouched — with file-granular commits, UNTOUCHED FILES
    aren't even read: the close-and-append transform is per-row, so
    running it over the pruned (touched) subset equals running it over
    the whole table, and history files for un-updated keys carry over
    verbatim. Steady-state merge cost ∝ update batch, not dimension
    size."""
    open_ended = F.lit("9999-12-31 00:00:00").cast("timestamp_ntz")
    # Land the batch driver-side once when it is CDC-small: the rows
    # then serve (a) file pruning with NO distinct-collect job, (b)
    # the effective-time lookup and (c) the fresh rows as a LOCAL
    # relation — so the merge's single write job scans ONLY the
    # pruned table files instead of re-executing the feed's lineage
    # twice more (measured: the per-merge fixed cost of a sequential
    # weekly pipeline drops ~2x; production CDC batches arrive
    # driver-small from the log consumer anyway). Batches beyond the
    # cap keep the distributed path unchanged.
    batch_rows = _collect_capped(updates)
    if batch_rows is not None:
        updates = _local_df(spark, batch_rows, updates.schema)
        scope_rows = batch_rows
    else:
        scope_rows = None
    fresh = (
        updates.withColumn("valid_from", F.col(effective_col).cast("timestamp_ntz"))
        .withColumn("valid_to", open_ended)
        .withColumn("is_current", F.lit(True))
        .drop(effective_col)
    )
    scope = _merge_scope(spark, table_path, updates, keys, key_rows=scope_rows)
    if scope is None:
        commit_snapshot(spark, table_path, fresh, stat_cols=keys)
        return
    _check_schema(scope.touched, fresh, "scd2")
    from pyspark.sql.types import DateType, TimestampNTZType, TimestampType

    eff_monotonic = isinstance(
        updates.schema[effective_col].dataType,
        (TimestampType, TimestampNTZType, DateType),
    )
    if batch_rows is not None and eff_monotonic:
        # per-key earliest effective time computed driver-side from the
        # already-landed batch: skips the agg + broadcast-build job the
        # distributed groupBy would add to every merge. The raw values
        # are min'd BEFORE the ntz cast — safe ONLY for temporal input
        # types, where the cast is monotonic so the argmin is the same
        # row either way (a STRING effective column is excluded: string
        # order and parsed-timestamp order diverge on unpadded formats,
        # and unparseable strings cast to NULL — those batches keep the
        # distributed cast-then-min). NULL effectives are dropped,
        # matching min()'s null-skipping (a key with only NULL
        # effectives then has no eff row -> left join NULL -> no close,
        # exactly the distributed result).
        per_key: dict = {}
        for r in batch_rows:
            ev = r[effective_col]
            if ev is None:
                continue
            kt = tuple(r[k] for k in keys)
            if kt not in per_key or ev < per_key[kt]:
                per_key[kt] = ev
        from pyspark.sql.types import StructType

        eff_schema = StructType(
            [updates.schema[k] for k in keys]
            + [updates.schema[effective_col]]
        )
        eff = _local_df(
            spark, [(*kt, ev) for kt, ev in per_key.items()], eff_schema
        ).select(
            *keys,
            F.col(effective_col).cast("timestamp_ntz").alias("_eff"),
        )
        eff = F.broadcast(eff)
    else:
        eff = updates.groupBy(*keys).agg(
            F.min(F.col(effective_col).cast("timestamp_ntz")).alias("_eff")
        )
    # close ONLY the open version of updated keys; history rows and
    # untouched keys pass through unchanged
    closed = (
        scope.touched.join(eff, keys, "left")
        .withColumn(
            "valid_to",
            F.when(
                F.col("is_current") & F.col("_eff").isNotNull(), F.col("_eff")
            ).otherwise(F.col("valid_to")),
        )
        .withColumn(
            "is_current",
            F.col("is_current") & F.col("_eff").isNull(),
        )
        .drop("_eff")
    )
    scope.commit(closed.unionByName(fresh.select(*scope.touched.columns)))


_VALID_OPS = ("insert", "update", "delete")


def _validate_feed(changes: DataFrame, keys: list[str], op_col: str,
                   rows: list | None = None) -> None:
    """Reject unknown/NULL ops and duplicate key tuples. A feed within
    the key-set cap validates driver-side from ONE collect (the common
    CDC case — per-micro-batch feeds are small); a bulk feed pays one
    aggregate job instead. ``rows``: the feed already collected by the
    caller — skips this function's own collect."""
    if rows is None:
        rows = changes.select(*keys, op_col).limit(_KEY_SET_CAP + 1).collect()
    if len(rows) <= _KEY_SET_CAP:
        unknown = sorted(
            {r[op_col] for r in rows if r[op_col] not in _VALID_OPS}, key=str
        )
        if unknown:
            raise ValueError(f"unknown change ops: {unknown}")
        seen = set()
        for r in rows:
            kt = tuple(r[k] for k in keys)
            if kt in seen:
                raise ValueError(
                    "change feed has multiple rows for the same key tuple — "
                    "compact it (last change per key wins) before applying"
                )
            seen.add(kt)
        return
    bad = (
        changes.groupBy(*keys)
        .agg(
            F.count(F.lit(1)).alias("__n"),
            # isin() is NULL for a NULL op, so count "known" and invert:
            # a NULL op must land in unknown, not slip through
            F.sum(
                F.when(F.col(op_col).isin(*_VALID_OPS), 0).otherwise(1)
            ).alias("__unk"),
        )
        .agg(F.max("__n").alias("max_per_key"), F.sum("__unk").alias("n_unknown"))
        .collect()[0]
    )
    if bad.n_unknown:
        ops = {r[0] for r in changes.select(op_col).distinct().collect()}
        unknown = sorted(ops - set(_VALID_OPS), key=str)
        raise ValueError(f"unknown change ops: {unknown}")
    if (bad.max_per_key or 0) > 1:
        raise ValueError(
            "change feed has multiple rows for the same key tuple — "
            "compact it (last change per key wins) before applying"
        )


def apply_changes(
    spark: SparkSession,
    table_path: str,
    changes: DataFrame,
    keys: list[str],
    op_col: str = "change",
    extra_meta: dict | None = None,
) -> None:
    """Apply a CDC change feed — rows tagged insert/update/delete in
    ``op_col`` (the q114 snapshot-diff shape) — to the table in ONE
    atomic commit: readers see the table before the feed or after it,
    never a torn middle. This is the CONSUME half of the CDC loop
    (q114 produces the feed, q118 maintains aggregates from it, this
    materializes it into a downstream table).

    The feed must carry AT MOST ONE row per key tuple: duplicate keys
    (a replayed feed, or an insert+update pair that was never
    compacted) would silently write duplicate keys into a keyed table
    inside one 'atomic' commit, so they fail loudly like unknown ops
    do — compact the feed (keep the last change per key) upstream.

    Scale shape: one validation pass over the (small-by-nature) feed,
    file pruning to the touched key ranges, one anti-join of the
    touched rows against the changed-key set, a union with the
    insert/update payloads, one delta commit — work ∝ touched files +
    feed, never table size."""
    # CDC feeds are micro-batch-small by nature: ONE capped collect of
    # (keys, op) serves both validation and file pruning, saving the
    # separate distinct-collect job per applied batch. The feed's
    # DataFrames stay distributed — unlike upsert_scd2's fast path,
    # the typical apply_changes feed lineage (a small staged diff) is
    # cheap to re-execute, and measured end-to-end the local-relation
    # substitution LOST time here (Python-RDD scan per downstream job
    # outweighs one saved collect), so only the collect is shared.
    rows = _collect_capped(changes.select(*keys, op_col))
    _validate_feed(changes, keys, op_col, rows=rows)
    scope = _merge_scope(spark, table_path, changes, keys, key_rows=rows)
    if scope is None:
        raise ValueError(f"no table at {table_path}")
    changed_keys = changes.select(*keys).distinct()
    if rows is not None:
        # the key tuples are already on the driver: a VALUES relation
        # (pure-JVM LocalRelation — NOT the createDataFrame Python-RDD
        # scan an earlier round measured as a loss here) spares the
        # anti-join a second scan of the feed lineage per applied
        # batch (r13, guide §1.2). Temporal/decimal keys fall back to
        # the distributed distinct.
        try:
            changed_keys = values_df_like(
                spark,
                # dedupe preserving collected order (sorted() would
                # trip over NULL keys)
                list(dict.fromkeys(tuple(r[k] for k in keys) for r in rows)),
                changes.select(*keys).schema,
            )
        except TypeError:
            pass
    survivors = scope.touched.join(changed_keys, keys, "left_anti")
    upserts = (
        changes.filter(F.col(op_col) != "delete")
        .drop(op_col)
        .select(*scope.touched.columns)
    )
    scope.commit(survivors.unionByName(upserts), extra_meta=extra_meta)
