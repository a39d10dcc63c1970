"""Key-based upserts (SCD-1 / keep-max / SCD-2 merges / CDC apply /
deletes) over the manifest-log table format (prox_spark/table.py),
with FILE-GRANULAR rewrites.

The reference's load step truncates and reloads whole Redshift tables
(full refresh, reference glue_scripts/s3_to_redshift_script.py
preactions); at 100 TB a daily full rewrite is untenable — you merge
the day's changed rows into the standing table instead. Without
adopting Delta/Iceberg/Hudi, the parquet-native pattern is
copy-on-write, file by file: a merge rewrites only the files whose key
range intersects the update batch.

Every keyed write (the merges, ``apply_changes``, both deletes, and
the materialized-view fold in :mod:`prox_spark.mv`) goes through one
front end, :func:`_merge_scope`, which does each step once:

1. ONE resolution: one manifest listing and one read of the latest
   manifest (chunk-pruned on a chunked table);
2. ONE key landing: the batch's raw key rows are collected
   driver-side in one job with no shuffle when they fit the cap (the
   cap counts rows, not distinct keys; skipped when the caller already
   landed them, and on tables of ≤2 files, where pruning buys
   nothing);
3. ONE pruning step over that manifest's per-file footer stats: key
   set → chunks → files (or per-column min/max ranges past the cap)
   splits the table into TOUCHED files (could hold a batch key) and
   UNTOUCHED files (provably hold none);
4. the merge logic runs over the touched subset only:
       new_files = merge(touched, updates)
   and removes (or selects) the batch's keys there with the scope's
   batch-key filter: a literal ``k IN (…)`` over the landed keys, so
   the write is one job with no broadcast build; keys that did not
   land, cannot be rendered as exact literals, or number more than
   ``_KEY_FILTER_CAP`` keep an anti/semi join;
5. :func:`prox_spark.table.commit_delta` publishes untouched ∪
   new_files as the next version in one atomic manifest rename,
   against the manifest step 1 read — a concurrent commit since then
   rebases in (or conflicts loudly), never slips between the read and
   the commit.

Because commits cluster data by the merge keys (range partition +
sort + per-file min/max + bloom filters), steady-state merge cost is
∝ the update batch's key spread, not table size — the same
matched-file pruning a Delta MERGE gets from data skipping. A table
whose stats don't cover the merge keys degrades gracefully to the full
rewrite.

Every merge publishes through the manifest log: new files are fully
written before a single atomic manifest rename makes them current, so
a concurrent reader sees the previous version or the new one — never
a mix, and old versions stay readable (time travel) until vacuumed.
An absent path is created as a manifest table by the merges; a path
that exists without a manifest (a plain parquet directory) is refused
with ``ValueError`` and left untouched.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import cached_property

from pyspark.sql import DataFrame, SparkSession, functions as F

from prox_spark.local_frames import key_set_sql, values_df_like
from prox_spark.table import (
    _assemble,
    _fs,
    _manifest_versions,
    _read_files,
    _read_manifest_file,
    commit_delta,
    commit_snapshot,
    split_chunks_by_key_sets,
    split_files_by_key_ranges,
    split_files_by_key_sets,
)


def _check_keys(scope, keys: list[str]) -> None:
    missing = [k for k in keys if k not in scope.touched.columns]
    if missing:
        raise ValueError(f"delete keys not in table schema: {missing}")


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


def _key_values(rows, keys: list[str]) -> tuple[dict, dict | None]:
    """Landed key rows as (sorted distinct non-NULL values per key
    column, their per-column (min, max) — the commit's conflict scope —
    or None when no column has a value)."""
    vals = {
        k: sorted({r[k] for r in rows if r[k] is not None}) for k in keys
    }
    return vals, ({k: (v[0], v[-1]) for k, v in vals.items() if v} or None)


# driver-side bound on the collected distinct-key list used for file
# pruning: ~50k scalars is a trivial collect, and a batch with MORE
# distinct keys than that is a bulk load, where min/max range pruning
# (no collect) is the appropriate granularity anyway
_KEY_SET_CAP = 50_000

# bound on the distinct landed key tuples the batch-key filter renders
# as a literal IN list. Planning a literal IN grows with its length,
# while a join against the key frame costs one fixed broadcast-build
# job. On 4 cores, filter+count vs anti-join+count over a 20k-row
# 8-file table: bigint keys 0.19/0.25 s at 1,024 keys, 0.26/0.26 s at
# 4,096, 0.59/0.37 s at 16,384; string keys 0.26/0.29 s at 1,024,
# 0.32/0.31 s at 4,096; (bigint, string) keys 0.21/0.23 s at 256,
# 0.25/0.21 s at 1,024, 0.48/0.22 s at 4,096. The bound is a quarter
# of the single-column crossover and about the composite one.
_KEY_FILTER_CAP = 1024

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


def _collect_capped(df: DataFrame, cap: int | None = None) -> list | None:
    """``df``'s rows when there are at most ``cap`` (default: the
    key-set cap, read at call time) of them AND the
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
    if cap is None:
        cap = _KEY_SET_CAP
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


@dataclass
class _MergeScope:
    """The slice of the table a keyed write must actually touch.

    ``touched``       — DataFrame of rows from files that could hold a
                        batch key (the merge input);
    ``touched_files`` — those files' names;
    ``keep``          — file names provably free of batch keys, carried
                        into the next version verbatim;
    ``manifest``      — the manifest the scope read (chunk-pruned when
                        the table is chunked);
    ``key_values``    — sorted distinct landed key values per column,
                        or None when the keys were not landed;
    ``key_frame()``   — the batch's distinct key tuples;
    ``drop_batch_keys(df)`` / ``batch_key_rows(df)`` — ``df``'s rows
                        whose key tuple is not / is a batch key, with
                        equi-join semantics (a NULL key never matches);
    ``commit(df)``    — publish ``keep`` + newly-written ``df`` against
                        ``manifest``.

    When the table's stat columns don't cover the keys (or pruning is
    off), ``touched`` is the whole table and ``keep`` is empty — a
    full rewrite."""

    spark: SparkSession
    table_path: str
    key_df: DataFrame
    keys: list
    touched: DataFrame
    manifest: dict
    touched_files: list = field(default_factory=list)
    keep: list = field(default_factory=list)
    key_rows: list | None = None
    key_values: dict | None = None
    key_ranges: dict | None = None
    carry_chunks: list | None = None

    def key_frame(self) -> DataFrame:
        """The batch's distinct key tuples. Landed keys become a VALUES
        relation (pure-JVM LocalRelation — not the createDataFrame
        Python-RDD scan an earlier round measured as a loss), which
        spares each consumer a re-scan of the batch lineage plus its
        distinct shuffle; temporal/decimal keys fall back to the
        distributed distinct."""
        dset = self.key_df.select(*self.keys).distinct()
        if self.key_rows is None:
            return dset
        try:
            return values_df_like(self.spark, self._key_tuples, dset.schema)
        except TypeError:
            return dset

    @cached_property
    def _key_tuples(self) -> list:
        """The distinct landed key tuples, in landed order (sorted()
        would trip over NULL keys)."""
        return list(dict.fromkeys(
            tuple(r[k] for k in self.keys) for r in self.key_rows
        ))

    @cached_property
    def _key_set(self) -> tuple[list, str] | None:
        """(key fields, literal IN predicate) over the landed key
        tuples, or None when the keys did not land, a value has no
        exact literal, or the tuples number more than
        ``_KEY_FILTER_CAP``. Tuples holding a NULL are left out: they
        match nothing in an equi-join either."""
        if self.key_rows is None:
            return None
        tuples = [t for t in self._key_tuples if None not in t]
        if len(tuples) > _KEY_FILTER_CAP:
            return None
        fields = [self.key_df.schema[k] for k in self.keys]
        sql = key_set_sql(fields, tuples)
        return None if sql is None else (fields, sql)

    def _key_filter(self, df: DataFrame):
        """The literal batch-key predicate for ``df``, or None when the
        join must serve (see ``_key_set``; also when ``df``'s key types
        differ from the batch's, which the literals are typed as)."""
        ks = self._key_set
        if ks is None:
            return None
        fields, sql = ks
        if any(df.schema[f.name].dataType != f.dataType for f in fields):
            return None
        return F.expr(sql)

    def _key_join(self, df: DataFrame, how: str) -> DataFrame:
        # a USING join moves the key columns first: restore ``df``'s
        # column order, which a commit publishes as the table schema
        return df.join(self.key_frame(), self.keys, how).select(*df.columns)

    def drop_batch_keys(self, df: DataFrame) -> DataFrame:
        """``df``'s rows whose key tuple is not a batch key."""
        cond = self._key_filter(df)
        if cond is None:
            return self._key_join(df, "left_anti")
        return df.filter(~cond)

    def batch_key_rows(self, df: DataFrame) -> DataFrame:
        """``df``'s rows whose key tuple is a batch key."""
        cond = self._key_filter(df)
        if cond is None:
            return self._key_join(df, "left_semi")
        return df.filter(cond)

    def commit(self, merged: DataFrame, extra_meta: dict | None = None) -> None:
        m = self.manifest
        # preserve the table's declared stat columns (they may be a
        # SUPERSET of this merge's keys — committing just the keys
        # would silently shrink them and break file pruning for later
        # merges on the dropped columns); keys not yet tracked append
        stat_cols = m.get("stat_cols") or []
        cols = [*stat_cols, *[k for k in self.keys if k not in stat_cols]]
        commit_delta(
            self.spark, self.table_path, merged, self.keep, stat_cols=cols,
            base_version=m.get("version"),
            update_key_ranges=self.key_ranges,
            carry_chunks=self.carry_chunks,
            base_manifest=self.manifest,
            extra_meta=extra_meta,
        )


def _merge_scope(
    spark: SparkSession,
    table_path: str,
    key_df: DataFrame,
    keys: list[str],
    key_rows: list | None = None,
    prune: bool = True,
) -> _MergeScope | None:
    """Resolve the table once and build the scope of a keyed write
    over ``key_df``'s keys, or None when the table doesn't exist. A
    path that exists without a manifest raises ``ValueError``.

    ``key_rows``: the batch's rows already landed by the caller (any
    Rows carrying the key columns) — skips the scope's own key-landing
    job, the per-merge fixed cost that dominates sequential CDC
    pipelines. ``prune=False`` forces a FULL-TABLE scope (touched =
    every row, keep = nothing) even when stats could prune — required
    when the batch keys contain NULLs, which footer min/max stats
    cannot locate (a pruned scope would miss the NULL-keyed group's
    file and a merge would duplicate that group).

    Pruning is exact key-SET pruning for a batch whose distinct keys
    land (the CDC norm — scattered keys that a min/max range test
    couldn't prune at all), per-column min/max range pruning beyond
    the cap. On a CHUNKED table with landed keys only the chunk files
    whose recorded ranges overlap the batch keys are read; the
    provably-disjoint entries carry into the commit by reference
    (commit_delta's ``carry_chunks``) — both the metadata read and
    write of a merge are then O(matching chunks), not O(live files).

    The commit's conflict scope is the batch's per-column key range
    when the keys landed or were range-aggregated, else None
    (strict-mode commit: full scopes, and small tables whose keys were
    not landed)."""
    versions = _manifest_versions(spark, table_path)
    if not versions:
        _, fs, path = _fs(spark, table_path)
        if not fs.exists(path):
            return None
        raise ValueError(f"{table_path} is not a manifest table")
    doc = _read_manifest_file(spark, table_path, versions[-1])
    doc.setdefault("version", versions[-1])
    prunable = prune and set(keys) <= set(doc.get("stat_cols") or [])
    # nothing worth pruning on a table of ≤2 files: no key-landing job
    # (small tables — e.g. AQE-coalesced dimensions — hit this on
    # every merge of a sequential pipeline)
    small = len(doc.get("files", ())) <= 2 and "chunks" not in doc
    if prunable and not small and key_rows is None:
        key_rows = _collect_capped(key_df.select(*keys))
    vals, ranges = (
        _key_values(key_rows, keys) if key_rows is not None else (None, None)
    )
    carry = None
    if prunable and vals is not None and "chunks" in doc:
        overlap, carry = split_chunks_by_key_sets(doc, vals)
        doc = {**doc, "chunks": overlap}
    manifest = _assemble(spark, table_path, doc)
    files = manifest["files"]
    if not prunable:
        touched_files, keep, ranges = files, [], None
    elif small:
        touched_files, keep = files, []
    elif vals is not None:
        touched_files, keep = split_files_by_key_sets(manifest, vals)
    else:
        # the key set overflowed the cap: a bulk merge, where min/max
        # range pruning (one tiny aggregate, no collect) is the right
        # granularity anyway
        ranges = _key_ranges(key_df, keys)
        touched_files, keep = split_files_by_key_ranges(manifest, ranges)
    return _MergeScope(
        spark, table_path, key_df, keys,
        _read_files(spark, table_path, manifest, touched_files), manifest,
        touched_files=touched_files, keep=keep,
        key_rows=key_rows, key_values=vals, key_ranges=ranges,
        carry_chunks=carry,
    )


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
    survivors = scope.drop_batch_keys(touched)
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
    count is one batch-key filter over that subset (not a before/after
    full-table count)."""
    scope = _merge_scope(spark, table_path, keys_df, keys)
    if scope is None:
        raise ValueError(f"no table at {table_path}")
    _check_keys(scope, keys)
    n_removed = scope.batch_key_rows(scope.touched).count()
    scope.commit(scope.drop_batch_keys(scope.touched))
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
    matches nothing commits nothing.

    The scope supplies everything: the targets are its touched files,
    the count is its batch-key filter over them, the key file is its
    key frame, and the commit publishes against the manifest the scope
    read (unread chunks carried by reference), so an append landing
    after that read loses the CAS race, and the landed key values let
    commit_delete_file's rebase prove concurrently-added files
    disjoint — or raise :class:`CommitConflictError` when one may hold
    a deleted key. A driver-small delete is four jobs: the key landing,
    the count (a shuffle-map and a result job under AQE) and the
    key-file write."""
    from prox_spark.table import commit_delete_file

    scope = _merge_scope(spark, table_path, keys_df, keys)
    if scope is None:
        raise ValueError(f"no manifest table at {table_path}")
    _check_keys(scope, keys)
    if not scope.touched_files:
        return 0
    n_removed = scope.batch_key_rows(scope.touched).count()
    if n_removed == 0:
        return 0
    commit_delete_file(
        spark, table_path, scope.key_frame(), keys, scope.touched_files,
        key_values=scope.key_values, base_manifest=scope.manifest,
        carry_chunks=scope.carry_chunks,
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
    fresh = (
        updates.withColumn("valid_from", F.col(effective_col).cast("timestamp_ntz"))
        .withColumn("valid_to", open_ended)
        .withColumn("is_current", F.lit(True))
        .drop(effective_col)
    )
    scope = _merge_scope(spark, table_path, updates, keys, key_rows=batch_rows)
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
                   rows: list | None) -> None:
    """Reject unknown/NULL ops and duplicate key tuples. A feed that
    landed driver-side (``rows``: its (keys, op) rows, the common CDC
    case — per-micro-batch feeds are small) validates from those rows
    with no job; a bulk feed (``rows`` None) pays one aggregate job
    instead."""
    if rows is not None:
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
    file pruning to the touched key ranges, one batch-key filter of the
    touched rows against the changed-key set, a union with the
    insert/update payloads, one delta commit — work ∝ touched files +
    feed, never table size."""
    # CDC feeds are micro-batch-small by nature: ONE capped collect of
    # (keys, op) serves validation, file pruning and the anti-join's
    # key frame, saving the scope's own key-landing job per applied
    # batch. The payload rows stay distributed — unlike upsert_scd2's
    # fast path, the typical apply_changes feed lineage (a small
    # staged diff) is cheap to re-execute, and measured end-to-end the
    # createDataFrame substitution LOST time here (Python-RDD scan per
    # downstream job outweighs one saved collect).
    rows = _collect_capped(changes.select(*keys, op_col))
    _validate_feed(changes, keys, op_col, rows)
    scope = _merge_scope(spark, table_path, changes, keys, key_rows=rows)
    if scope is None:
        raise ValueError(f"no table at {table_path}")
    survivors = scope.drop_batch_keys(scope.touched)
    upserts = (
        changes.filter(F.col(op_col) != "delete")
        .drop(op_col)
        .select(*scope.touched.columns)
    )
    scope.commit(survivors.unionByName(upserts), extra_meta=extra_meta)
