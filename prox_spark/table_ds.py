"""Batch Python DataSource over the manifest table format: the
``spark.read.format("prox_table")`` / ``spark.sql`` entry point that
Delta and Iceberg readers provide for their formats.

This module provides the batch read (q223), batch write (q225),
streaming sink (q226), and — delegating to the change reader in
``table_stream.py`` (q191/q197) — the streaming READ (q230), using
the same Spark 4 ``pyspark.sql.datasource`` API proven in
``datasource.py`` (q140/q141). The reference has no table format at
all (its storage layer is S3 parquet prefixes + a Glue catalog,
reference ``transformations_script.py:51-58``); this is
reader/writer parity for OUR format so committed tables are
queryable and writable without library imports:

    register(spark)
    df = spark.read.format("prox_table").load(path)          # latest
    df = (spark.read.format("prox_table")
          .option("version", "3").option("ref", "exp").load(path))
    df = (spark.read.format("prox_table")                    # AS OF
          .option("timestamp_ms", "1786880000000").load(path))
    df = (spark.read.format("prox_table")                    # tag pin
          .option("tag", "train-v1").load(path))
    df = (spark.read.format("prox_table")             # scan projection
          .option("columns", "doc_id,source").load(path))
    register_sql(spark, "docs", path)   # then: spark.sql("... FROM docs")
    df.write.format("prox_table").mode("append").save(path)  # CAS commit
    df.writeStream.format("prox_table").start(path)  # fenced appends
    spark.readStream.format("prox_table").load(path)  # table-as-stream
    (spark.readStream.format("prox_table")             # signed CDF rows
     .option("readChangeFeed", "true").load(path))
    (spark.read.format("prox_table")                   # batch CDF range
     .option("readChangeFeed", "true")
     .option("startingVersion", "2").load(path))

Full read semantics are replicated, not approximated — the format's
rules come from :mod:`prox_spark.manifest`, the same codec
``table.py`` uses, and the reader applies, per file:

- SCHEMA EVOLUTION: files written before an add-column read the new
  columns as typed nulls (declared schema drives the decode).
- RENAMES: birth-version-keyed physical-name resolution, walking the
  declared name backwards through every applicable mapping entry
  (``table.py _read_files`` semantics, including a->b->c chains).
- MERGE-ON-READ DELETES: each partition anti-filters its applicable
  equality-delete key sets (tiny parquet files, loaded task-side).
- FILE PRUNING: ``pushFilters`` harvests range predicates on stat
  columns and drops files whose committed min/max ranges provably
  exclude them — the codec's ``overlaps`` rule, as in
  ``table.read_table_point`` — then returns every filter unsupported
  so Spark re-applies them exactly (pruning is IO-only, never
  semantics).

Scale shape: one InputPartition per live data file, so a 10k-file
snapshot scans with 10k-way task parallelism; the reader streams
Arrow RecordBatches straight from the parquet decoder (never
row-at-a-time Python tuples); partition planning is driver-side
metadata only. Workers have no JVM: manifests are listed and read
through the ``pyarrow.fs`` adapter in ``table_stream.py``, and
commits publish local tables with the codec's ``os.link`` CAS.
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from prox_spark import manifest as M
from prox_spark.table_stream import (
    load_manifest,
    resolve_tag,
    resolve_timestamp,
    write_json,
)

# workspace staging area for writer-recorded (table → version) pins,
# published atomically by txn.txn_publish_staged
TXN_STAGING_DIR = "_txn_staging"


class _TableFilePartition(InputPartition):
    """A PACK of live data files scanned by one task. Each descriptor
    is (abs path, physical column name per declared field — rename
    resolution done driver-side, applicable equality-delete entries
    as (delete_file_abs, keys))."""

    def __init__(self, files: list[tuple[str, list[str], list]]):
        self.files = files


def _filter_ranges(filters) -> dict[str, tuple]:
    """Harvest per-column [lo, hi] intervals from the pushed filters
    (top-level columns only). Intersecting multiple predicates on one
    column tightens the interval; anything unharvestable is simply
    not used for pruning (Spark re-applies every filter anyway)."""
    ranges: dict[str, list] = {}

    def bound(col: str, lo, hi):
        cur = ranges.setdefault(col, [None, None])
        try:
            if lo is not None and (cur[0] is None or lo > cur[0]):
                cur[0] = lo
            if hi is not None and (cur[1] is None or hi < cur[1]):
                cur[1] = hi
        except TypeError:
            # incomparable values across predicates on one column:
            # give up pruning on it (Spark re-applies the filters)
            ranges[col] = [None, None]

    for f in filters:
        attr = getattr(f, "attribute", None)
        if not attr or len(attr) != 1:
            continue
        col = attr[0]
        if isinstance(f, EqualTo):
            bound(col, f.value, f.value)
        elif isinstance(f, (GreaterThan, GreaterThanOrEqual)):
            bound(col, f.value, None)
        elif isinstance(f, (LessThan, LessThanOrEqual)):
            bound(col, None, f.value)
        elif isinstance(f, In) and f.value:
            try:
                bound(col, min(f.value), max(f.value))
            except TypeError:
                continue
    # one-sided intervals STAY one-sided — (lo, None) = [lo, +inf),
    # (None, hi) = (-inf, hi]; collapsing them to point intervals
    # would prune files that entirely MATCH the predicate (e.g. a
    # lone GreaterThan(col, 5) must not drop a file with stats (6, 9))
    return {
        c: (lo, hi)
        for c, (lo, hi) in ranges.items()
        if lo is not None or hi is not None
    }


def _filter_in_sets(filters) -> dict[str, list]:
    """Harvest per-column value SETS from pushed ``In`` filters
    (top-level columns only): a sparse membership list like
    ``doc_id IN (1, 10^6)`` prunes per VALUE, where the [min, max]
    envelope would keep every file in between. Multiple In filters on
    one column intersect."""
    sets: dict[str, set] = {}
    for f in filters:
        attr = getattr(f, "attribute", None)
        if not attr or len(attr) != 1 or not isinstance(f, In):
            continue
        if not f.value:
            continue
        col = attr[0]
        vals = set(f.value)
        sets[col] = sets[col] & vals if col in sets else vals
    return {c: sorted(v) for c, v in sets.items()}


# one scan task reads up to this many bytes of packed small files —
# Spark's own spark.sql.files.maxPartitionBytes default, applied to
# the manifest's recorded sizes so a 10^6-small-file table doesn't
# schedule 10^6 tasks (big files still get a task each; a file with
# no recorded size conservatively fills its own partition)
DEFAULT_MAX_PARTITION_BYTES = 128 * 1024 * 1024


def _parse_columns(opt: str | None) -> list[str] | None:
    if opt is None:
        return None
    cols: list[str] = []
    for c in opt.split(","):
        c = c.strip()
        if c and c not in cols:
            cols.append(c)
    return cols


def _narrow_schema(st: StructType, cols: list[str]) -> StructType:
    """Explicit projection pushdown: the Python DataSource API has no
    column pruning, so a full-scan format() read decodes every column
    of every file — option('columns', 'a,b') narrows the declared
    schema (user order) so tasks decode only what the query needs."""
    from pyspark.sql.types import StructField  # noqa: F401 (doc import)

    have = {f.name: f for f in st.fields}
    unknown = [c for c in cols if c not in have]
    if unknown:
        raise ValueError(
            f"prox_table: columns {unknown} not in the table schema "
            f"{sorted(have)}"
        )
    return StructType([have[c] for c in cols])


class ProxTableReader(DataSourceReader):
    def __init__(self, options, manifest: dict, table_path: str):
        self.table_path = table_path
        self.manifest = manifest
        self.schema_struct = StructType.fromJson(manifest["schema"])
        cols = _parse_columns(options.get("columns"))
        if cols is not None:
            self.schema_struct = _narrow_schema(self.schema_struct, cols)
            missing = sorted(
                {
                    k
                    for d in manifest.get("deletes") or []
                    for k in d["keys"]
                }
                - set(cols)
            )
            if missing:
                # the merge-on-read anti-filter needs the delete-key
                # columns in the decoded batch; silently reading them
                # would widen the schema, silently skipping them would
                # resurrect deleted rows — refuse loudly instead
                raise ValueError(
                    f"prox_table: pending merge-on-read deletes key on "
                    f"{missing}; include them in option('columns') or "
                    "compact_table to fold the deletes first"
                )
        self.key_ranges: dict[str, tuple] = {}
        self.key_sets: dict[str, list] = {}
        self.max_partition_bytes = int(
            options.get("max_partition_bytes",
                        DEFAULT_MAX_PARTITION_BYTES)
        )

    def pushFilters(self, filters):
        filters = list(filters)
        self.key_ranges = _filter_ranges(filters)
        self.key_sets = _filter_in_sets(filters)
        # every filter is returned UNSUPPORTED: pruning only shrinks
        # the file list (a superset of matching rows is always read),
        # so Spark must re-apply the exact predicates row-side
        return iter(filters)

    def pruned_files(self) -> list[str]:
        files = self.manifest.get("files", [])
        if not self.key_ranges and not self.key_sets:
            return list(files)
        stats = self.manifest.get("stats") or {}
        return [
            f for f in files
            if M.overlaps(stats.get(f), self.key_ranges)
            and M.overlaps_sets(stats.get(f), self.key_sets)
        ]

    def partitions(self):
        m = self.manifest
        files = self.pruned_files()
        sizes = m.get("sizes") or {}
        descs = []
        for f in files:
            applicable = M.renames_for(m, f)
            phys = [
                M.physical_name(fld.name, applicable)
                for fld in self.schema_struct.fields
            ]
            dels = [
                (M.local_file(self.table_path, d["file"]), list(d["keys"]))
                for d in M.deletes_for(m, f)
            ]
            descs.append(
                (
                    (M.local_file(self.table_path, f), phys, dels),
                    sizes.get(f),
                )
            )
        # greedy size packing: consecutive small files share one task
        # up to the byte budget; unknown sizes fill their own
        parts: list[_TableFilePartition] = []
        pack: list = []
        budget = 0
        for desc, size in descs:
            cost = self.max_partition_bytes if size is None else int(size)
            if pack and budget + cost > self.max_partition_bytes:
                parts.append(_TableFilePartition(pack))
                pack, budget = [], 0
            pack.append(desc)
            budget += cost
        if pack:
            parts.append(_TableFilePartition(pack))
        return parts

    def matching_row_groups(self, pf, phys_names) -> list[int] | None:
        """ROW-GROUP skipping inside a file that survived the manifest
        prune: the harvested filter ranges re-check against each row
        group's own footer min/max (the same ``_overlaps`` rule one
        level down), so a point probe through the connector decodes
        only the groups that can hold the key. None = read everything
        (no pushed ranges). Declared filter columns map through the
        partition's rename resolution; a group with absent stats on a
        column is conservatively kept."""
        if not self.key_ranges and not self.key_sets:
            return None
        name_map = dict(
            zip(
                [f.name for f in self.schema_struct.fields],
                phys_names,
            )
        )
        md = pf.metadata
        keep: list[int] = []
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            rg_stats: dict = {}
            for ci in range(g.num_columns):
                c = g.column(ci)
                st = c.statistics
                if st is not None and st.has_min_max:
                    rg_stats[c.path_in_schema] = (st.min, st.max)
            declared = {
                col: rg_stats[phys]
                for col, phys in name_map.items()
                if phys in rg_stats
            }
            # per-value In-list skipping: the group survives only if
            # SOME listed value can fall inside its min/max
            if M.overlaps(declared, self.key_ranges) and M.overlaps_sets(
                declared, self.key_sets
            ):
                keep.append(rg)
        return keep

    def read(self, partition: _TableFilePartition) -> Iterator:
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        from pyspark.sql.pandas.types import to_arrow_schema

        if partition is None:
            # Spark schedules one task with a None partition when
            # partitions() came back empty (every file pruned)
            return
        target = to_arrow_schema(self.schema_struct)
        # per-delete-file key-set cache: packed files often share the
        # same applicable delete entries (tiny files — deletion
        # batches are small by nature; loaded once per task, never
        # shuffled)
        del_cache: dict[tuple, set] = {}

        def del_set(dfile: str, keys: list[str]) -> set:
            ck = (dfile, tuple(keys))
            if ck not in del_cache:
                dt = pq.read_table(dfile, columns=keys)
                joined = pc.binary_join_element_wise(
                    *[pc.cast(dt[k], pa.string()) for k in keys], "\x1f"
                )
                del_cache[ck] = set(joined.to_pylist())
            return del_cache[ck]

        for path, phys_names, deletes in partition.files:
            del_sets = [
                (keys, del_set(dfile, keys)) for dfile, keys in deletes
            ]
            pf = pq.ParquetFile(path)
            row_groups = self.matching_row_groups(pf, phys_names)
            if row_groups is not None and not row_groups:
                continue  # every group provably excludes the ranges
            present = set(pf.schema_arrow.names)
            read_cols = [n for n in phys_names if n in present]
            it = (
                pf.iter_batches(columns=read_cols)
                if row_groups is None
                else pf.iter_batches(
                    columns=read_cols, row_groups=row_groups
                )
            )
            for batch in it:
                n = batch.num_rows
                arrays = []
                for fld, phys in zip(target, phys_names):
                    if phys in present:
                        arrays.append(pc.cast(batch.column(phys), fld.type))
                    else:
                        # pre-evolution file: the added column reads
                        # as typed nulls, no rewrite ever happened
                        arrays.append(pa.nulls(n, fld.type))
                out = pa.RecordBatch.from_arrays(arrays, schema=target)
                for keys, keyset in del_sets:
                    if not keyset:
                        continue
                    joined = pc.binary_join_element_wise(
                        *[
                            pc.cast(
                                out.column(target.names.index(k)),
                                pa.string(),
                            )
                            for k in keys
                        ],
                        "\x1f",
                    )
                    mask = pc.invert(
                        pc.is_in(
                            joined, value_set=pa.array(sorted(keyset))
                        )
                    )
                    out = out.filter(mask)
                yield out


class _ProxWriteMessage(WriterCommitMessage):
    """Per-task result: [(rel_path, size_bytes, n_rows, stats)]."""

    def __init__(self, files: list):
        self.files = files


def _gather_messages(messages) -> tuple[list[str], dict, dict]:
    """(sorted new files, sizes, stats) across all task messages."""
    new_files: list[str] = []
    sizes: dict = {}
    stats: dict = {}
    for m in messages:
        for rel, size, _rows, st in m.files:
            new_files.append(rel)
            sizes[rel] = int(size)
            stats[rel] = st
    new_files.sort()
    return new_files, sizes, stats


class _ProxWriteCore:
    """Shared write machinery for the batch and streaming writers —
    option/preflight resolution and the per-task Arrow→parquet encode
    (Spark requires distinct writer base classes per mode, so the
    shared logic lives in this mixin)."""

    _MAX_CAS_RETRIES = 10

    def __init__(self, options, schema: StructType, overwrite: bool):
        import uuid

        path = options.get("path")
        if not path:
            raise ValueError("prox_table requires .save(<table path>)")
        self.table_path = M.local_path(path)
        self.overwrite = bool(overwrite)
        self.schema_struct = schema
        self.schema_json = schema.jsonValue()
        self.rel_dir = f"data/snap-00000000-{uuid.uuid4().hex[:8]}"
        try:
            prev = load_manifest(path)
        except ValueError:
            prev = None
        if prev is not None:
            if not self.overwrite:
                merge = str(
                    options.get("merge_schema", "false")
                ).lower() == "true"
                declared = StructType.fromJson(prev["schema"])
                want = {f.name: f.dataType for f in declared.fields}
                got = {f.name: f.dataType for f in schema.fields}
                mismatched = [
                    n for n in set(want) & set(got) if want[n] != got[n]
                ]
                added = [f for f in schema.fields if f.name not in want]
                if mismatched or (added and not merge) or (
                    not added and want != got and not merge
                ):
                    raise ValueError(
                        f"append schema {sorted(got)} does not match the "
                        f"declared table schema {sorted(want)}"
                        + ("" if mismatched else
                           "; set option('merge_schema', 'true') to add "
                           "the new column(s)")
                    )
                if added:
                    # ADD-COLUMN evolution (Delta mergeSchema parity):
                    # the declared schema becomes declared + added; old
                    # files read the new columns as typed nulls, zero
                    # rewrite. Names that are a live rename SOURCE or a
                    # dropped-but-unswept column are refused — the same
                    # resurrection guards commit_delta enforces (which
                    # can prove footers clean; this writer cannot, so
                    # it stays conservative).
                    names = {f.name for f in added}
                    src = [
                        r["from"] for r in prev.get("renames") or []
                        if r["from"] in names
                    ]
                    dropped = [
                        e["col"] for e in prev.get("dropped_cols") or []
                        if e["col"] in names
                    ]
                    if src or dropped:
                        raise ValueError(
                            f"column(s) {sorted(src + dropped)} were "
                            "renamed-from or dropped; run compact_table "
                            "before reusing the name (commit_delta's "
                            "resurrection guard)"
                        )
                    merged = StructType([*declared.fields, *added])
                    self.schema_struct = merged
                    self.schema_json = merged.jsonValue()
                else:
                    # the declared schema stays the table's: field
                    # order is the table's contract, parquet resolves
                    # by name
                    self.schema_json = prev["schema"]
        if self.overwrite or prev is None:
            opt = options.get("stat_cols")
            inherited = (prev or {}).get("stat_cols") or []
            self.stat_cols = (
                [c.strip() for c in opt.split(",") if c.strip()]
                if opt is not None else list(inherited)
            )
        else:
            self.stat_cols = list(prev.get("stat_cols") or [])
        # multi-table txn staging (txn.py composition): after a
        # successful CAS publish the writer records its (table →
        # version) pin under the workspace's staging area; ONE
        # txn.txn_publish_staged then pins every table written with
        # the same stage label atomically (q192's both-or-neither for
        # format() writers). Until that publish, the committed
        # versions are invisible to txn readers — a crash before it
        # leaves only vacuum-retirable orphans.
        self.txn_workspace = options.get("txn_workspace")
        self.txn_stage = options.get("txn_stage", "default")

    def record_txn_stage(self, version: int) -> None:
        """Write this commit's (table → version) pin into the
        workspace staging area — pure-python tmp-write + rename (the
        commit worker has no SparkSession), unique filename so racing
        writers never collide."""
        import uuid

        if not self.txn_workspace:
            return
        sdir = os.path.join(
            M.local_path(self.txn_workspace), TXN_STAGING_DIR,
            str(self.txn_stage),
        )
        os.makedirs(sdir, exist_ok=True)
        tmp = os.path.join(sdir, f".tmp-{uuid.uuid4().hex}.json")
        with open(tmp, "w") as fh:
            json.dump(
                {"table": self.table_path, "version": int(version)}, fh
            )
        os.rename(tmp, os.path.join(
            sdir, f"pin-{uuid.uuid4().hex}.json"
        ))

    def publish(self, new_files: list[str], sizes: dict, stats: dict,
                fence: tuple[str, int] | None = None) -> int | None:
        """Commit the written files as the next version with the
        format's CAS protocol (:mod:`prox_spark.manifest`): build the
        doc against the current head, publish, rebase and retry on a
        lost race. An append keeps every current file, an overwrite
        none. ``fence`` = (writer id, batch id): when the head already
        records that batch as applied nothing is committed and None is
        returned; otherwise the fence lands in the same manifest as the
        data. Returns the published version."""
        for _ in range(self._MAX_CAS_RETRIES):
            try:
                cur = load_manifest(self.table_path)
            except ValueError:
                cur = {}
            extra = None
            if fence is not None:
                writer, batch = fence
                applied = cur.get("stream_batches") or {}
                if writer in applied and int(applied[writer]) >= batch:
                    return None
                extra = {"stream_batches": {**applied, writer: batch}}
            v = int(cur.get("version", 0)) + 1
            doc, written = M.next_doc(
                cur, v,
                [] if self.overwrite else list(cur.get("files") or []),
                new_files, stats, sizes,
                stat_cols=self.stat_cols, schema=self.schema_json,
                write_json=lambda rel, d: write_json(self.table_path, rel, d),
                cluster_curve=cur.get("cluster_curve") or "range",
                index_of=cur.get("index_of"), extra_meta=extra,
            )
            tmp = M.tmp_rel()
            write_json(self.table_path, tmp, doc)
            if M.link_publish(
                os.path.join(self.table_path, tmp),
                os.path.join(self.table_path, M.manifest_rel(v)),
            ):
                return v
            # lost the race: this attempt's chunk files recorded a stale
            # birth version — drop them and rebuild against the winner
            for rel in written:
                os.unlink(os.path.join(self.table_path, rel))
        raise OSError(
            f"commit to {self.table_path} lost the publish race "
            f"{self._MAX_CAS_RETRIES} times"
        )

    # -- executor side ------------------------------------------------
    def write(self, iterator):
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        batches = [b for b in iterator if b.num_rows]
        if not batches:
            return _ProxWriteMessage([])
        tbl = pa.Table.from_batches(batches)
        sortable = [
            c for c in self.stat_cols if c in tbl.column_names
        ]
        if sortable:
            tbl = tbl.sort_by([(c, "ascending") for c in sortable])
        rel = f"{self.rel_dir}/part-{uuid.uuid4().hex}.parquet"
        abs_path = os.path.join(self.table_path, rel)
        os.makedirs(os.path.dirname(abs_path), exist_ok=True)
        pq.write_table(tbl, abs_path)
        stats = (
            M.footer_stats(abs_path, self.stat_cols)
            if self.stat_cols else None
        )
        return _ProxWriteMessage(
            [(rel, os.path.getsize(abs_path), tbl.num_rows, stats)]
        )

    def abort_cleanup(self) -> None:
        import shutil

        shutil.rmtree(
            os.path.join(self.table_path, self.rel_dir),
            ignore_errors=True,
        )

    def enforce_constraints(self, new_files: list[str]) -> None:
        """CHECK-constraint enforcement on the commit's NEW bytes
        (``table.commit_delta`` semantics: SQL CHECK — NULL passes,
        only IS FALSE rows violate), run before any manifest publish.
        The Python-DataSource commit executes in a worker process
        with no SparkSession, so validation runs through DuckDB over
        the written parquet (ANSI predicates — the dialect the
        format's constraints use; an expression DuckDB cannot parse
        fails LOUDLY rather than publishing unvalidated bytes). A
        violation removes the written files and raises the counts."""
        try:
            cur = load_manifest(self.table_path)
        except ValueError:
            return
        constraints = cur.get("constraints") or []
        if not constraints or not new_files:
            return
        import duckdb

        paths = [os.path.join(self.table_path, f) for f in new_files]
        exprs = {c["name"]: c["expr"] for c in constraints}
        sel = ", ".join(
            f'count(*) FILTER (({e}) IS FALSE) AS "{n}"'
            for n, e in exprs.items()
        )
        try:
            con = duckdb.connect()
            row = con.execute(
                f"SELECT {sel} FROM read_parquet(?)", [paths]
            ).fetchone()
            names = list(exprs)
            counts = dict(zip(names, row))
        except Exception as ex:
            for f in new_files:
                try:
                    os.unlink(os.path.join(self.table_path, f))
                except FileNotFoundError:
                    pass
            raise ValueError(
                f"{self.table_path} declares CHECK constraints this "
                f"writer could not validate ({type(ex).__name__}: {ex}); "
                "use table.commit_delta"
            ) from ex
        bad = {n: int(v) for n, v in counts.items() if v}
        if bad:
            for f in new_files:
                try:
                    os.unlink(os.path.join(self.table_path, f))
                except FileNotFoundError:
                    pass
            raise ValueError(
                f"commit to {self.table_path} violates CHECK "
                "constraint(s) "
                + ", ".join(
                    f"{n} ({exprs[n]}): {v} row(s)"
                    for n, v in sorted(bad.items())
                )
            )


class ProxTableArrowWriter(_ProxWriteCore, DataSourceArrowWriter):
    """The batch WRITE half of the connector: each task streams its
    Arrow batches into one parquet file under a fresh ``data/snap-*``
    dir (sorted by the leading stat columns so footer min/max stay
    tight for pruning), and ``commit`` publishes the next manifest
    version through :meth:`_ProxWriteCore.publish` — the doc
    ``table.commit_delta`` would build, published by the codec's CAS;
    pure appends keep every current file with its deletes and renames,
    overwrite publishes a full snapshot. Per-file
    footer stats are gathered TASK-SIDE (the file is local to the
    task that wrote it — no driver metadata loop), so a 10k-task
    write commits without serializing on footer IO. Appends to a
    CHUNKED (v2) table carry every chunk entry by reference and pack
    only the new files into fresh chunk files — per-commit metadata
    write cost stays O(new files) at the 10^7-file regime. Writer
    scope (refused loudly, use commit_delta instead): CHECK
    constraints, schema evolution on append."""

    def commit(self, messages):
        new_files, sizes, stats = _gather_messages(messages)
        self.enforce_constraints(new_files)
        self.record_txn_stage(self.publish(new_files, sizes, stats))

    def abort(self, messages):
        self.abort_cleanup()


class ProxTableStreamWriter(_ProxWriteCore, DataSourceStreamArrowWriter):
    """The STREAMING sink half (``writeStream.format("prox_table")``):
    every micro-batch appends one manifest version through the same
    task-side-stats + CAS-publish path as the batch writer, with
    EXACTLY-ONCE replay fencing — the manifest records the last
    applied batch id per writer (``stream_batches``: the repo's
    marker/lineage idiom in connector form), so a post-commit
    checkpoint replay of batch b is a noop that drops its rewritten
    files instead of double-appending them. One logical writer per
    ``writer_id`` option (default "stream"); independent streams into
    one table use distinct ids and fence independently."""

    def __init__(self, options, schema: StructType):
        super().__init__(options, schema, overwrite=False)
        self.writer_id = options.get("writer_id", "stream")
        if self.txn_workspace:
            # txn staging is a BATCH composition (stage N writes, one
            # publish); a stream appending a pin per micro-batch with
            # no publisher would accumulate staging records that never
            # become visible — refuse rather than silently ignore
            raise ValueError(
                "prox_table streaming sink does not support "
                "txn_workspace; batch-id fencing already makes stream "
                "appends exactly-once (use txn staging with batch "
                "writes)"
            )

    def _drop_batch_files(self, messages) -> None:
        new_files, _, _ = _gather_messages(messages)
        for rel in new_files:
            try:
                os.unlink(os.path.join(self.table_path, rel))
            except FileNotFoundError:
                pass

    def commit(self, messages, batchId: int):  # noqa: N803 — Spark API
        new_files, sizes, stats = _gather_messages(messages)
        self.enforce_constraints(new_files)
        fence = (self.writer_id, int(batchId))
        if self.publish(new_files, sizes, stats, fence) is None:
            # replayed batch: already folded — exactly-once means
            # dropping the rewrite, never appending it twice
            self._drop_batch_files(messages)

    def abort(self, messages, batchId: int):  # noqa: N803 — Spark API
        self._drop_batch_files(messages)


class ProxTableChangesBatchReader(DataSourceReader):
    """The BATCH half of ``readChangeFeed`` through the connector:
    plans the same signed per-file partitions as the streaming change
    reader for the ``(startingVersion, endingVersion]`` range and
    decodes them with the same code (insert/delete classification,
    merge-on-read semi-joins, NULL back-fill, rename guards — one
    engine, two triggers). Row semantics match
    ``prox_spark.cdf.read_table_changes(start, end)``: commits AFTER
    ``startingVersion`` (default 0 = the whole history: every live row
    as an insert plus the full delete trail) through ``endingVersion``
    (default head). Both endpoints must still be resolvable — a feed
    with a vacuumed middle raises (via the engine's data-loss guard)
    rather than silently mis-stating the delta."""

    def __init__(self, schema: StructType, options: dict):
        from prox_spark.table_stream import (
            TableChangesStreamReader,
            list_versions,
        )

        opts = {k.lower(): v for k, v in options.items()}
        path = opts["path"]
        versions = list_versions(path)
        if not versions:
            raise ValueError(f"{path} is not a manifest table")
        self._start = int(opts.get("startingversion", 0))
        self._end = int(opts.get("endingversion", versions[-1]))
        if self._start > self._end:
            raise ValueError(
                f"prox_table readChangeFeed: startingVersion "
                f"{self._start} > endingVersion {self._end}"
            )
        if self._end not in versions:
            raise ValueError(
                f"endingVersion {self._end} not in {versions} for {path}"
            )
        self._rd = TableChangesStreamReader(schema, dict(options))

    def partitions(self):
        parts = self._rd.partitions(
            {"version": self._start}, {"version": self._end}
        )
        # the API needs ≥1 partition; an empty range (start == end, or
        # only data_change=false maintenance commits) reads as zero rows
        return parts or [InputPartition(0)]

    def read(self, partition: InputPartition):
        if not hasattr(partition, "paths"):  # empty-range sentinel
            return iter(())
        return self._rd.read(partition)


class ProxTableDataSource(DataSource):
    """``format("prox_table")`` — options: ``path`` (via ``.load``),
    ``version`` / ``timestamp_ms`` / ``tag`` (mutually exclusive
    snapshot pins), ``ref`` (branch)."""

    @classmethod
    def name(cls) -> str:
        return "prox_table"

    def _resolve(self) -> tuple[dict, str]:
        # resolve ONCE per DataSource instance: schema() and reader()
        # racing a concurrent commit must not see different versions
        # (files from v+1 decoded with v's schema)
        if not hasattr(self, "_manifest"):
            path = self.options.get("path")
            if not path:
                raise ValueError("prox_table requires .load(<table path>)")
            ref = self.options.get("ref", "main")
            v = self.options.get("version")
            ts = self.options.get("timestamp_ms")
            tag = self.options.get("tag")
            if sum(x is not None for x in (v, ts, tag)) > 1:
                raise ValueError(
                    "prox_table: version, timestamp_ms, and tag are "
                    "mutually exclusive snapshot pins"
                )
            if tag is not None:
                if ref != "main":
                    raise ValueError(
                        "prox_table: tags pin main versions — tag and "
                        "ref are exclusive"
                    )
                v = resolve_tag(path, tag)
            if ts is not None:
                # TIMESTAMP AS OF (Delta parity): resolve against the
                # manifests' publish times, same clock as
                # table.version_at_timestamp
                v = resolve_timestamp(path, float(ts), ref)
            self._manifest = load_manifest(
                path, int(v) if v is not None else None, ref
            )
            self._path = path
        return self._manifest, self._path

    def _cdf(self) -> bool:
        return (
            str(self.options.get("readchangefeed", "false")).lower()
            == "true"
        )

    def schema(self) -> StructType:
        manifest, _ = self._resolve()
        st = StructType.fromJson(manifest["schema"])
        cols = _parse_columns(self.options.get("columns"))
        if cols is not None:
            if self._cdf():
                raise ValueError(
                    "prox_table: columns does not compose with "
                    "readChangeFeed (the feed's schema is the table's "
                    "plus the feed columns)"
                )
            st = _narrow_schema(st, cols)
        if self._cdf():
            # change-feed STREAM schema (readStream + readChangeFeed):
            # relax nullability — old commits back-fill NULL for
            # later-added columns, and a non-nullable Arrow vector fed
            # a null crashes the JVM reader — then append the two feed
            # columns (same contract as prox_table_changes)
            from pyspark.sql.types import LongType, StringType, StructField

            from prox_spark.manifest import (
                CHANGE_TYPE_COL,
                COMMIT_VERSION_COL,
            )

            st = StructType(
                [
                    StructField(f.name, f.dataType, True, f.metadata)
                    for f in st.fields
                ]
            )
            st = st.add(CHANGE_TYPE_COL, StringType()).add(
                COMMIT_VERSION_COL, LongType()
            )
        return st

    def reader(self, schema):
        if self._cdf():
            # batch CDF read (Delta parity: spark.read + readChangeFeed
            # + startingVersion/endingVersion) — signed rows of commits
            # AFTER startingVersion through endingVersion (default
            # head), planned and decoded by the SAME change engine as
            # the stream
            for pin in ("version", "timestamp_ms", "tag"):
                if self.options.get(pin) is not None:
                    raise ValueError(
                        f"prox_table: {pin} does not compose with "
                        "readChangeFeed — the feed range is addressed "
                        "by startingVersion/endingVersion"
                    )
            if self.options.get("ref", "main") != "main":
                raise ValueError(
                    "prox_table readChangeFeed follows main only; for a "
                    "branch change feed use "
                    "prox_spark.cdf.read_table_changes(ref=)"
                )
            return ProxTableChangesBatchReader(schema, dict(self.options))
        manifest, path = self._resolve()
        return ProxTableReader(self.options, manifest, path)

    def streamReader(self, schema: StructType):
        """Delta-parity TABLE-AS-STREAM through the SAME format name:
        ``spark.readStream.format("prox_table").load(path)`` streams
        each committed version's appended rows as a micro-batch
        (``readChangeFeed=true`` upgrades to the signed change feed) —
        delegates to the proven change reader
        (:class:`prox_spark.table_stream.TableChangesStreamReader`,
        q191/q197's engine), so offsets are table versions, pacing /
        checkpoint recovery / data-loss and schema-drift guards are
        shared, and the connector matrix closes: read+write ×
        batch+stream under one ``format()``."""
        from prox_spark.table_stream import TableChangesStreamReader

        for pin in ("version", "timestamp_ms", "tag"):
            if self.options.get(pin) is not None:
                raise ValueError(
                    f"prox_table streaming read does not support {pin} "
                    "(a stream follows the live log); use "
                    "startingVersion to begin after a known version"
                )
        if self.options.get("columns") is not None:
            raise ValueError(
                "prox_table streaming read does not support columns "
                "(the stream pins the table's full schema contract); "
                "select() on the stream DataFrame instead"
            )
        if self.options.get("ref", "main") != "main":
            raise ValueError(
                "prox_table streaming read follows main only — branch "
                "manifests are outside the change log; fast_forward "
                "the branch into main to stream its commits"
            )
        return TableChangesStreamReader(schema, dict(self.options))

    def writer(self, schema, overwrite: bool) -> ProxTableArrowWriter:
        return ProxTableArrowWriter(self.options, schema, overwrite)

    def streamWriter(self, schema, overwrite) -> ProxTableStreamWriter:
        if overwrite:
            # outputMode complete/update asks for truncate semantics;
            # this sink only appends (batch-id fenced) — appending
            # every micro-batch's full state would silently duplicate
            raise ValueError(
                "prox_table streaming sink is append-only: use "
                "outputMode('append'), not complete/update"
            )
        return ProxTableStreamWriter(self.options, schema)


def register(spark) -> None:
    """Idempotent registration (latest registration wins in Spark).
    Python-DataSource filter pushdown is opt-in per session; the
    reader implements ``pushFilters`` for file pruning, so enable it
    here (a runtime SQL conf — no restart needed)."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(ProxTableDataSource)


def activate(spark) -> None:
    """Mark ``spark`` ACTIVE on the current thread. Python-datasource
    lookup resolves through the JVM's thread-local active session; a
    Python worker thread gets a fresh JVM thread with none set (even
    under pyspark.InheritableThread), so format("prox_table")
    reads/writes from such a thread fail with DATA_SOURCE_NOT_FOUND
    until this is called once on that thread. No-op when the JVM
    session handle is unavailable (Spark Connect)."""
    jss = getattr(spark, "_jsparkSession", None)
    jvm = getattr(spark, "_jvm", None)
    if jss is None or jvm is None:
        return
    jvm.org.apache.spark.sql.classic.SparkSession.setActiveSession(jss)


def register_sql(spark, name: str, table_path: str,
                 version: int | None = None, ref: str = "main",
                 tag: str | None = None,
                 columns: list[str] | None = None) -> None:
    """Expose a committed table to ``spark.sql`` as a temp view read
    through the format() path — the no-imports query surface.
    ``columns`` narrows the view to a scan-side projection (the
    Python DS API has no automatic column pruning, so a view that
    only ever serves a column subset should declare it here)."""
    register(spark)
    r = spark.read.format("prox_table")
    if version is not None:
        r = r.option("version", str(version))
    if ref != "main":
        r = r.option("ref", ref)
    if tag is not None:
        r = r.option("tag", tag)
    if columns is not None:
        r = r.option("columns", ",".join(columns))
    r.load(table_path).createOrReplaceTempView(name)
