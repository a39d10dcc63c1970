"""The manifest-log table format's driver side: commits, reads,
branches, tags, clones, schema evolution and maintenance, with
metadata IO through Hadoop FS (the only path for Hadoop-configured
schemes and for HDFS's atomic rename). The format itself (layout,
chunking, branch and tag names, sticky keys, the CAS rule) is
specified and encoded in :mod:`prox_spark.manifest`.
"""

from __future__ import annotations

import json
import os
import threading
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from prox_spark import manifest as M
from prox_spark.io import read_parquet
from prox_spark.local_frames import empty_df, values_df
from prox_spark.manifest import DATA_DIR, MANIFEST_DIR

_SMALL_COMMIT_CONF_LOCK = threading.Lock()


class CommitConflictError(OSError):
    """A concurrent writer published a manifest version this commit
    needed, and the conflict could not be resolved by rebasing (the
    concurrent commit rewrote files this commit read, added files
    overlapping its key scope, or targeted its inputs with a
    merge-on-read delete). The table is left exactly as the winning
    writer published it; the losing commit's data files are removed.
    Subclasses OSError so pre-CAS callers that caught the bare rename
    race keep working."""


class ConstraintViolationError(ValueError):
    """A commit's new rows violate a table CHECK constraint. The
    commit was NOT published and its data files were removed — the
    table is exactly as before, Delta's constraint-enforcement
    contract."""


def _fs(spark: SparkSession, path: str):
    jvm = spark._jvm  # noqa: SLF001 - hadoop FS side channel
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())  # noqa: SLF001
    return jvm, fs, hpath


def _manifest_listing(spark: SparkSession, table_path: str) -> list:
    """The FileStatus entries of ``_manifests`` (empty when absent)."""
    jvm, fs, _ = _fs(spark, table_path)
    mdir = jvm.org.apache.hadoop.fs.Path(f"{table_path}/{MANIFEST_DIR}")
    return list(fs.listStatus(mdir)) if fs.exists(mdir) else []


def _manifest_names(spark: SparkSession, table_path: str) -> list[str]:
    return [st.getPath().getName() for st in _manifest_listing(spark, table_path)]


def _manifest_versions(
    spark: SparkSession, table_path: str, ref: str = "main"
) -> list[int]:
    return M.versions_in(_manifest_names(spark, table_path), ref)


def is_manifest_table(spark: SparkSession, table_path: str) -> bool:
    return bool(_manifest_versions(spark, table_path))


def table_versions(spark: SparkSession, table_path: str) -> list[int]:
    """All readable (non-vacuumed) versions, ascending."""
    return _manifest_versions(spark, table_path)


def read_manifest(
    spark: SparkSession, table_path: str, version: int | None = None,
    ref: str = "main",
) -> dict:
    """The manifest dict for ``version`` (default: latest), with the
    file list ASSEMBLED: a chunked (v2) snapshot is resolved by
    reading its chunk files and concatenating their entries, so every
    consumer sees the classic {files, stats, ...} shape regardless of
    layout (the "chunks" key is kept for chunk-granular commits).
    ``ref`` selects a branch's manifest line instead of main's."""
    return _manifest_at(
        spark, table_path, _manifest_versions(spark, table_path, ref),
        version, ref,
    )


def _manifest_at(
    spark: SparkSession, table_path: str, versions: list[int],
    version: int | None, ref: str = "main", chunk_filter=None,
) -> dict:
    """:func:`read_manifest` over an already-made ``versions`` listing."""
    if not versions:
        raise ValueError(f"{table_path} has no manifests for ref {ref!r}")
    v = versions[-1] if version is None else version
    if v not in versions:
        raise ValueError(
            f"version {v} not in {versions} for {table_path} (ref {ref!r})"
        )
    return _assemble(
        spark, table_path, _read_manifest_file(spark, table_path, v, ref),
        chunk_filter,
    )


def _assemble(spark: SparkSession, table_path: str, doc: dict,
              chunk_filter=None) -> dict:
    """:func:`prox_spark.manifest.assemble` over driver-side reads."""
    return M.assemble(
        doc, lambda rel: _read_json(spark, table_path, rel), chunk_filter
    )


def read_manifest_pruned(
    spark: SparkSession, table_path: str, key_ranges: dict,
    version: int | None = None,
) -> dict:
    """A (possibly PARTIAL) manifest for a key probe: on a chunked
    table only the chunks whose recorded per-chunk ranges admit
    ``key_ranges`` are read — point-lookup metadata IO is then
    O(matching chunks), not O(live files). The returned dict's
    ``files`` may omit files that provably cannot match; ``deletes``
    ride on the snapshot doc, so merge-on-read masking still applies
    to every file actually read. Classic tables return the full
    manifest."""
    return _manifest_at(
        spark, table_path, _manifest_versions(spark, table_path), version,
        chunk_filter=lambda e: M.overlaps(e.get("ranges"), key_ranges),
    )


def _read_manifest_file(
    spark: SparkSession, table_path: str, v: int, ref: str = "main"
) -> dict:
    return _read_json(spark, table_path, M.manifest_rel(v, ref))


def _is_missing_file_error(ex: Exception) -> bool:
    """A driver-side metadata read that raced a concurrent delete
    (drop_tag/drop_branch/vacuum between listing and open) surfaces as
    a JVM FileNotFoundException through py4j — distinguishable from
    transient FS/RPC failures, which must stay loud.

    Classified by the thrown exception's own TOP-LEVEL class, never by
    substring-searching the stringified stack trace: a fatal error
    whose causal chain merely mentions FileNotFoundException must not
    be swallowed as benign (it would skip vacuum's branch-protect for
    a live branch)."""
    if isinstance(ex, FileNotFoundError):
        return True
    je = getattr(ex, "java_exception", None)
    if je is not None:
        try:
            return je.getClass().getName().endswith("FileNotFoundException")
        except Exception:
            pass
        return False
    # non-py4j wrappers (e.g. Spark Connect / converted exceptions):
    # anchor to the message head, not the full trace
    head = "\n".join(str(ex).splitlines()[:2])
    return "FileNotFoundException" in head


def _read_json(spark: SparkSession, table_path: str, rel: str) -> dict:
    # driver-side Hadoop FS read (works on every FS scheme): manifests
    # and chunk files are small metadata documents, and merge
    # pipelines read a handful per commit — routing this through
    # spark.read.text would cost a full Spark job each time
    jvm, fs, _ = _fs(spark, table_path)
    stream = fs.open(jvm.org.apache.hadoop.fs.Path(f"{table_path}/{rel}"))
    try:
        doc = jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()
    return json.loads(doc)


def _read_files(
    spark: SparkSession, table_path: str, manifest: dict, files: list[str]
) -> DataFrame:
    """Read a subset of a manifest's files with the DECLARED table
    schema — files written before an add-column evolution read the new
    columns as NULL, so evolution never rewrites old files.

    MERGE-ON-READ deletes are applied here: each manifest ``deletes``
    entry is a tiny parquet of deleted key tuples plus the exact list
    of data files it targets (the files that existed — and could hold
    the key — when the delete committed). Files are grouped by their
    applicable-delete signature and each group anti-joins its delete
    sets (broadcast: deletion batches are small by nature); untargeted
    files — including every file added AFTER the delete, so a
    re-inserted key is never swallowed — stream through untouched.

    RENAMES are applied the same way, keyed by BIRTH VERSION: a
    ``renames`` entry {from, to, version} applies to every file born
    before it (the file physically carries the pre-rename name);
    groups read with the file's original names — resolved by walking
    declared names backwards through the applicable entries, newest
    first, so chains a->b->c recover ``a`` for the oldest files — and
    alias to the declared ones. Rename is a pure metadata commit;
    files written after are born with the new name and no mapping
    fires for them."""
    from functools import reduce

    from pyspark.sql import functions as F

    schema = StructType.fromJson(manifest["schema"])
    if not files:
        # a JVM empty relation: the optimizer folds a merge's anti-join
        # and union over it, so a pure append writes in one job
        return empty_df(spark, schema)
    file_set = set(files)
    deletes = [
        d
        for d in (manifest.get("deletes") or [])
        if file_set & set(d["targets"])
    ]
    if not deletes and not manifest.get("renames"):
        return spark.read.schema(schema).parquet(
            *[M.resolve(table_path, f) for f in files]
        )
    d_sets = [set(d["targets"]) for d in deletes]
    # group by (applicable deletes, applicable renames); which renames
    # apply depends only on the file's birth, so their versions name
    # the set
    groups: dict[tuple, tuple[list, list[str]]] = {}
    for f in files:
        applicable = M.renames_for(manifest, f)
        sig = (
            tuple(i for i, ts in enumerate(d_sets) if f in ts),
            tuple(r["version"] for r in applicable),
        )
        groups.setdefault(sig, (applicable, []))[1].append(f)
    parts = []
    for (d_sig, _), (applicable, group) in sorted(groups.items()):
        # physical read schema for this group: declared names walked
        # back through the applicable renames, newest first (a chain
        # a->b->c reverses to the file's original name a)
        read_fields = [
            type(fld)(
                M.physical_name(fld.name, applicable),
                fld.dataType, fld.nullable, fld.metadata,
            )
            for fld in schema.fields
        ]
        read_schema = StructType(read_fields)
        df = spark.read.schema(read_schema).parquet(
            *[M.resolve(table_path, f) for f in group]
        )
        if any(p.name != d.name for p, d in zip(read_fields, schema.fields)):
            # one positional select, not sequential withColumnRenamed:
            # a pairwise rename collides when a mapping chain permutes
            # names (the intermediate frame briefly holds duplicates)
            df = df.select(
                *[
                    F.col(p.name).alias(d.name)
                    for p, d in zip(read_fields, schema.fields)
                ]
            )
        for i in d_sig:
            d = deletes[i]
            dset = (
                read_parquet(spark, M.resolve(table_path, d["file"]))
                .select(*d["keys"])
                .distinct()
            )
            df = df.join(F.broadcast(dset), d["keys"], "left_anti")
        if d_sig:
            # the USING anti-join moved the key columns first; every
            # part keeps the declared order, which a merge over them
            # publishes as the table schema
            df = df.select(*schema.names)
        parts.append(df)
    return reduce(lambda a, b: a.unionByName(b), parts)


def read_table(
    spark: SparkSession, table_path: str, version: int | None = None,
    ref: str = "main",
) -> DataFrame:
    """Read the table at its latest committed version (or a pinned
    historical ``version``) on ``ref`` (main, or a branch created by
    :func:`create_branch`). A path with no manifest raises
    ``ValueError``: every table is a manifest table. One manifest
    listing serves both the format probe and the version resolve."""
    versions = _manifest_versions(spark, table_path, ref)
    if ref == "main" and not versions:
        raise ValueError(f"{table_path} is not a manifest table")
    m = _manifest_at(spark, table_path, versions, version, ref)
    return _read_files(spark, table_path, m, m["files"])


def _write_json(jvm, fs, path: str, doc: dict):
    """Create ``path`` (never overwriting) holding ``doc``; returns its
    Hadoop Path."""
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs.mkdirs(hpath.getParent())
    out = fs.create(hpath, False)
    out.write(bytearray(json.dumps(doc), "utf-8"))
    out.close()
    return hpath


def _json_writer(spark: SparkSession, table_path: str):
    """The codec's ``write_json(rel, doc)`` for files of ``table_path``."""
    def write(rel: str, doc: dict) -> None:
        jvm, fs, _ = _fs(spark, table_path)
        _write_json(jvm, fs, f"{table_path}/{rel}", doc)

    return write


def _cas_publish(jvm, fs, tmp, final) -> bool:
    """Promote ``tmp`` to ``final`` iff no other writer holds that name
    (the codec's CAS rule); False on a lost race. ``tmp`` is always
    consumed. Local paths publish through
    :func:`prox_spark.manifest.link_publish`, because Hadoop's local
    rename silently replaces an existing target; HDFS-like filesystems
    keep exists + rename, which refuses one."""
    if final.toUri().getScheme() in (None, "file"):
        return M.link_publish(tmp.toUri().getPath(), final.toUri().getPath())
    if fs.exists(final):
        fs.delete(tmp, False)
        return False
    if fs.rename(tmp, final):
        return True
    fs.delete(tmp, False)
    return False


def _write_manifest(spark: SparkSession, table_path: str, v: int,
                    manifest: dict, ref: str = "main") -> None:
    jvm, fs, _ = _fs(spark, table_path)
    tmp = _write_json(jvm, fs, f"{table_path}/{M.tmp_rel()}", manifest)
    final = jvm.org.apache.hadoop.fs.Path(f"{table_path}/{M.manifest_rel(v, ref)}")
    if not _cas_publish(jvm, fs, tmp, final):
        # a racing writer published v first: fail the CAS loudly and
        # leave the winner's commit untouched. Only the tmp manifest
        # is dropped (by _cas_publish) — the caller owns the orphan
        # data dir, so a rebase-and-retry can re-publish the already-
        # written files without a second write job (see commit_delta's
        # CAS loop).
        raise CommitConflictError(
            f"concurrent commit of version {v} for {table_path} (ref {ref!r})"
        )


def _list_part_files(
    spark: SparkSession, table_path: str, rel_dir: str
) -> tuple[list[str], dict[str, int]]:
    """Part files under ``rel_dir`` plus their byte sizes — the sizes
    come free with the directory listing (one FS RPC for the whole
    dir), and recording them in the manifest lets later maintenance
    decide small-file compaction from metadata alone instead of
    re-stat-ing every live file per cycle."""
    jvm, fs, _ = _fs(spark, table_path)
    ddir = jvm.org.apache.hadoop.fs.Path(f"{table_path}/{rel_dir}")
    out = []
    sizes: dict[str, int] = {}
    for st in fs.listStatus(ddir):
        name = st.getPath().getName()
        if name.endswith(".parquet") and not name.startswith((".", "_")):
            rel = f"{rel_dir}/{name}"
            out.append(rel)
            sizes[rel] = st.getLen()
    return sorted(out), sizes


def _write_data(
    df: DataFrame,
    dest: str,
    stat_cols: list[str] | None,
    n_files: int | None,
    bloom_ndv: int,
    cluster: bool,
    cluster_curve: str = "range",
) -> None:
    if stat_cols:
        if cluster and cluster_curve == "zorder" and len(stat_cols) >= 2:
            # Morton-curve layout (Delta OPTIMIZE ZORDER parity): range
            # clustering prunes files for the LEADING stat column only;
            # interleaving the columns' bits gives every file a tight
            # min-max envelope on ALL of them at once, so the same
            # per-file footer stats the manifest already records prune
            # equality/range probes on ANY clustered column. Stats and
            # blooms are gathered per ORIGINAL column either way — only
            # the row-to-file assignment changes.
            from prox_spark.zorder import Z_COL, zvalue

            zdf = zvalue(df, stat_cols)
            part = (
                (
                    zdf.repartitionByRange(n_files, Z_COL)
                    if n_files
                    else zdf.repartitionByRange(Z_COL)
                )
                .sortWithinPartitions(Z_COL)
                .drop(Z_COL)
            )
        elif cluster:
            # cluster by the key columns so each file covers a compact,
            # near-disjoint key range — this is what makes later merges
            # rewrite ONE file per changed key region instead of many.
            # With an explicit n_files the range partitioner is pinned;
            # without, AQE coalesces small outputs into few files.
            part = (
                df.repartitionByRange(n_files, *stat_cols)
                if n_files
                else df.repartitionByRange(*stat_cols)
            )
        else:
            # small-table path: a local sort still tightens row-group
            # stats, without the range partitioner's sampling pass (a
            # second execution of the merge plan) — ~0.6 s of fixed
            # cost a tiny commit can't amortize
            part = df.sortWithinPartitions(*stat_cols)
        w = part.write
        if cluster:
            # bloom filters give point lookups row-group rejection on
            # top of the manifest's file-level min/max pruning — but
            # ONLY on the clustered (big-table) path: a bloom sized
            # for `bloom_ndv` values is ~10 bits each (≈120 KB at the
            # 100k default), which would dwarf a small delta file
            # whose min/max stats already prune exactly
            for c in stat_cols:
                w = w.option(f"parquet.bloom.filter.enabled#{c}", "true").option(
                    f"parquet.bloom.filter.expected.ndv#{c}", str(bloom_ndv)
                )
    else:
        w = df.write
    w.mode("overwrite").parquet(dest)


def commit_delta(
    spark: SparkSession,
    table_path: str,
    new_df: DataFrame,
    keep_files: list[str],
    *,
    stat_cols: list[str] | None = None,
    n_files: int | None = None,
    bloom_ndv: int = 100_000,
    base_version: int | None = None,
    update_key_ranges: dict | None = None,
    max_retries: int = 5,
    carry_chunks: list | None = None,
    base_manifest: dict | None = None,
    ref: str = "main",
    cluster_curve: str | None = None,
    index_of: dict | None = None,
    data_change: bool = True,
    extra_meta: dict | None = None,
) -> int:
    """Commit the table's next version as ``keep_files`` (carried over
    verbatim from the previous version — never rewritten, never moved)
    plus the newly-written files of ``new_df``. Per-file min/max stats
    for ``stat_cols`` are read from the new files' parquet footers;
    kept files keep their previously-recorded stats. Returns the new
    version.

    The new files are fully materialized before the manifest rename,
    so readers either resolve the previous manifest (old file list,
    all still intact) or the new one — never a mix and never partial
    files.

    OPTIMISTIC CONCURRENCY (the Delta/Iceberg commit protocol, on the
    atomic-rename primitive): ``base_version`` pins the table version
    this commit's inputs (``keep_files`` and the rewritten/touched
    slice) were derived from. The publish targets ``current + 1``; if
    a concurrent writer got there first the commit REBASES instead of
    silently dropping the winner's files: re-read the now-current
    manifest, verify the concurrent commits are disjoint from what
    this commit read, recompute the carry-over list against current
    (current's files minus this commit's rewritten set — so a
    concurrent append's or merge's files survive), and retry the
    rename. A true conflict raises :class:`CommitConflictError` and
    removes this commit's data files, never the winner's.

    Disjointness is judged by ``update_key_ranges``:

    - ``None`` (default, strict): any concurrently-ADDED file is a
      conflict — right for full snapshots and merges whose key scope
      is unknown;
    - ``{}``: concurrent adds never conflict — right for pure appends
      and read-only rewrites (compaction), which make no claim about
      rows they didn't read;
    - ``{col: (lo, hi)}``: a concurrent add conflicts only if its
      footer stats admit a key in the merge's range (unknown stats
      conservatively conflict).

    In every mode, a concurrent commit that rewrote/removed a file
    this commit read (i.e. not in ``keep_files``), or targeted one
    with a new merge-on-read delete, is a conflict — those rows were
    merged from a stale view.

    ``base_manifest``: the assembled manifest of ``base_version`` the
    caller already read — the commit derives its carry-over and
    conflict scope from it instead of resolving the table again, so
    a merge, delete or compaction commits against exactly the
    manifest its inputs came from. Omitted, it is read here.

    CHUNK-LEVEL merges: a caller that chunk-pruned its scope (read
    only the chunk files overlapping the batch keys) passes the
    PARTIAL manifest it read as ``base_manifest`` and the unread,
    provably-disjoint chunk entries as ``carry_chunks`` — those carry
    into the next version by reference without this commit ever
    naming their files, so per-merge metadata IO is O(matching
    chunks) on both the read and the write side. Whether the base is
    partial follows ``carry_chunks`` (not ``base_manifest``): only a
    partial base keeps records that may concern unread files, so a
    full base still retires renames no live file predates.

    ``ref``: commit to a BRANCH's manifest line instead of main's —
    the write-audit-publish staging flow (:func:`create_branch` /
    :func:`fast_forward`). Data files land under the shared ``data/``
    dir either way; only the manifest namespace differs, so main
    readers never see the branch's files until a fast-forward.

    ``extra_meta`` entries are merged into the published manifest doc
    VERBATIM, in the same atomic rename as the data — the hook that
    lets a derived artifact (a materialized view's ``mv_of`` lineage)
    publish its data and its coverage record together, so no crash
    window exists where one landed without the other. Re-applied on
    every rebase attempt.

    ``data_change=False`` marks the commit as a read-only REWRITE
    (compaction, small-file consolidation, delete folding): the rows
    visible before and after are identical, only the physical layout
    moved. The flag is recorded in the manifest (Delta's
    ``dataChange=false`` action flag) so the change-data-feed reader
    (:mod:`prox_spark.cdf`) skips these commits instead of emitting a
    table-sized delete+insert echo of the rewrite."""
    versions = _manifest_versions(spark, table_path, ref)
    latest = versions[-1] if versions else 0
    if base_version is None:
        base_version = latest

    def _read_base() -> dict:
        return (
            read_manifest(spark, table_path, base_version, ref)
            if base_version
            else {}
        )

    partial = carry_chunks is not None
    prev = _read_base() if base_manifest is None else base_manifest
    if stat_cols is None:
        stat_cols = prev.get("stat_cols") or []
    if cluster_curve is None:
        # inherit the layout policy like stat_cols — otherwise the
        # first routine append would erase a zorder table's curve and
        # maintenance would re-cluster it as range
        cluster_curve = prev.get("cluster_curve") or "range"
    if index_of is None:
        # a secondary-index table records WHAT it indexes and the base
        # version it covers (see build_value_index / refresh_value_index);
        # inherited like cluster_curve so routine commits to the index
        # table can't silently erase its coverage record
        index_of = prev.get("index_of")
    v = latest + 1
    delta_rel = f"{DATA_DIR}/snap-{v:08d}-{uuid.uuid4().hex[:8]}"
    # cluster when the WRITE is big enough to amortize the range
    # partitioner's sampling pass: an explicitly-sized layout, or a
    # commit rewriting a substantial byte volume (measured from the
    # previous version's files NOT carried over — i.e. the merge's
    # touched inputs). Tiny commits — sequential SCD-2 batches,
    # per-micro-batch CDC deltas, pure inserts — write plain sorted
    # files instead: their min/max stats still prune exactly, and
    # periodic compaction (compact_table / compact_small_files)
    # restores the clustered layout.
    cluster = bool(stat_cols) and n_files is not None
    rewritten_bytes = 0
    if bool(stat_cols) and not cluster and prev.get("files"):
        # the commit-time recorded sizes of the files this commit rewrites
        keep = set(keep_files)
        rewritten_bytes = sum(
            int(prev["sizes"][f]) for f in prev["files"] if f not in keep
        )
        cluster = rewritten_bytes > 64 * 1024 * 1024
    if cluster:
        # the range-clustered write samples its input to pick range
        # boundaries — a SECOND execution of the merge plan (scan +
        # join + union) unless the frame is pinned. The pin is bounded
        # by the merge's touched slice, which file pruning keeps ∝ the
        # update batch at steady state, never table size.
        new_df = new_df.persist()
    # a small DELTA commit (un-clustered, table already exists — i.e.
    # rewritten inputs under the clustering threshold) sizes its
    # execution to the data: 4 shuffle partitions instead of the
    # session default, AQE off (each adaptive stage is a separate job,
    # and a sub-64MB merge pays ~0.2s of scheduling per stage for
    # nothing — measured 2x on sequential SCD-2 merges). Scoped
    # set/restore of SESSION conf: a query another thread runs in the
    # window (a concurrent pipeline stage, say) is planned under it
    # too. Its answer is unaffected — AQE and the shuffle width change
    # plan shape, never results — only its sizing. A commit that rewrites
    # NOTHING (pure append — keep = all previous files) is excluded:
    # its size signal is the unknown new-data volume, not the zero
    # touched bytes, and squeezing a multi-GB append through 4
    # partitions with AQE off would be the wrong sizing. Keeping AQE on
    # costs a pure append nothing: its touched side is an empty
    # LocalRelation (_read_files), the merge's join and union fold
    # away, and the write is one scan-sort-write job with no exchange.
    small_commit = (
        bool(stat_cols)
        and not cluster
        and bool(prev.get("files"))
        and rewritten_bytes > 0
    )
    scoped = {"spark.sql.adaptive.enabled": "false",
              "spark.sql.shuffle.partitions": "4"} if small_commit else {}
    # the scoped set/restore mutates SESSION conf: serialize it across
    # writer threads (optimistic concurrency makes multi-threaded
    # commits legal), or an interleaved save/restore could strand the
    # session with AQE off. Small-commit writes are sub-second, so the
    # serialization costs nothing; big writes skip the lock entirely.
    try:
        if scoped:
            with _SMALL_COMMIT_CONF_LOCK:
                saved = {k: spark.conf.get(k) for k in scoped}
                try:
                    for k, val in scoped.items():
                        spark.conf.set(k, val)
                    _write_data(
                        new_df, f"{table_path}/{delta_rel}", stat_cols,
                        n_files, bloom_ndv, cluster, cluster_curve,
                    )
                finally:
                    for k, val in saved.items():
                        spark.conf.set(k, val)
        else:
            _write_data(
                new_df, f"{table_path}/{delta_rel}", stat_cols, n_files,
                bloom_ndv, cluster, cluster_curve,
            )
    finally:
        if cluster:
            new_df.unpersist()

    new_files, new_sizes = _list_part_files(spark, table_path, delta_rel)
    new_stats: dict = {}
    if not stat_cols:
        new_stats.update(dict.fromkeys(new_files))
    elif len(new_files) <= 32:
        gathered = [
            (
                f,
                M.footer_stats(f"{table_path}/{f}", stat_cols),
                M.footer_rows(f"{table_path}/{f}"),
            )
            for f in new_files
        ]
    else:
        # big clustered commits: read footers on the EXECUTORS — a
        # sequential driver loop over 10k+ new files would serialize
        # the commit on metadata IO. Only (path, tiny stats dict)
        # tuples cross back.
        paths = [(f, f"{table_path}/{f}") for f in new_files]
        gathered = (
            spark.sparkContext.parallelize(paths, max(1, len(paths) // 64))
            .map(
                lambda pf: (
                    pf[0],
                    M.footer_stats(pf[1], stat_cols),
                    M.footer_rows(pf[1]),
                )
            )
            .collect()
        )
    if stat_cols:
        # drop provably-EMPTY part files (a write's unlucky partition
        # split leaves them): an empty file has no footer stats, so it
        # would sit in every version as an always-hot "unknown range"
        # entry — hit by every merge prune and every concurrency
        # added-file overlap check — while holding zero rows
        empties = [f for f, _, n in gathered if n == 0]
        if empties:
            jvm0, fs0, _ = _fs(spark, table_path)
            for f in empties:
                fs0.delete(jvm0.org.apache.hadoop.fs.Path(f"{table_path}/{f}"), False)
                new_sizes.pop(f, None)
            new_files = [f for f in new_files if f not in set(empties)]
        new_stats.update({f: st for f, st, n in gathered if n != 0})

    # CHECK-constraint enforcement (Delta parity): validate the
    # commit's NEW bytes before any manifest publish — read back the
    # just-written files (columnar-pruned to the constraint columns,
    # never a recompute of new_df's lineage) and count rows where a
    # constraint IS FALSE (SQL CHECK semantics: NULL passes). A
    # violation removes the files and raises with the table exactly as
    # before. data_change=False commits (compaction) skip it: their
    # rows are a subset of rows already validated at their own commit.
    constraints = prev.get("constraints") or []
    if constraints and data_change and new_files:
        checked = spark.read.schema(new_df.schema).parquet(
            *[f"{table_path}/{f}" for f in new_files]
        )
        counts = checked.agg(
            *[
                F.sum(
                    F.expr(f"({c['expr']}) IS FALSE").cast("long")
                ).alias(c["name"])
                for c in constraints
            ]
        ).first()
        exprs = {c["name"]: c["expr"] for c in constraints}
        bad = {
            c["name"]: counts[c["name"]] or 0
            for c in constraints
            if counts[c["name"]]
        }
        if bad:
            jvmc, fsc, _ = _fs(spark, table_path)
            for f in new_files:
                fsc.delete(
                    jvmc.org.apache.hadoop.fs.Path(f"{table_path}/{f}"),
                    False,
                )
            raise ConstraintViolationError(
                f"commit to {table_path} violates CHECK constraint(s) "
                + ", ".join(
                    f"{n} ({exprs[n]}): {v} row(s)"
                    for n, v in sorted(bad.items())
                )
            )

    rewritten_set = set(prev.get("files", [])) - set(keep_files)
    schema_json = new_df.schema.jsonValue()
    rename_sources = [
        e["from"] for e in prev.get("renames") or []
        if e["from"] in set(new_df.columns)
    ]
    if rename_sources:
        # a live mapping's SOURCE name cannot be re-introduced: files
        # born before the rename physically carry that name for the
        # RENAMED column, so name-based resolution would both collide
        # (duplicate field after the mapping walk) and mis-prune
        # merges against the old stats. Compaction retires mappings.
        raise ValueError(
            f"column(s) {rename_sources} are the physical source of a "
            "live rename mapping; run compact_table before reusing the name"
        )
    readded = [
        e["col"] for e in prev.get("dropped_cols") or []
        if e["col"] in set(new_df.columns)
    ]
    if readded:
        # re-introducing a previously DROPPED column name is only safe
        # when no live file still physically carries the old values —
        # name-based parquet resolution would silently resurrect them
        # for old rows. Prove it from the kept files' footers; under a
        # chunk-pruned scope the carried chunks' files are unknown, so
        # fail conservatively.
        if carry_chunks:
            raise ValueError(
                f"column(s) {readded} were dropped and files from before "
                "the drop may survive in carried chunks; run compact_table "
                "before re-adding the name"
            )
        dirty = _files_carrying(spark, table_path, keep_files, readded)
        if dirty:
            raise ValueError(
                f"column(s) {readded} were dropped but live files still "
                f"physically carry them (e.g. {dirty[:3]}); run "
                "compact_table before re-adding the name"
            )
    cur_v, cur = base_version, prev
    attempts = 0
    chunk_orphans: list[str] = []
    base_full_cache: list = []

    def _base_full() -> dict:
        # conflict validation compares against the COMPLETE base file
        # list; a chunk-pruned partial base would misread the carried
        # chunks' files as concurrent adds. Assembled lazily — only a
        # lost publish race pays for it.
        if not base_full_cache:
            base_full_cache.append(_read_base() if partial else prev)
        return base_full_cache[0]
    while True:
        v = cur_v + 1
        # carry-over list against the CURRENT version: current's files
        # minus what this commit rewrote — on first attempt that is
        # exactly keep_files; after a rebase it additionally keeps the
        # concurrent commits' (validated-disjoint) files
        first = cur_v == base_version
        keep_now = (
            list(keep_files)
            if first
            else [f for f in cur["files"] if f not in rewritten_set]
        )
        manifest, written_chunks = M.next_doc(
            cur, v, keep_now, new_files, new_stats, new_sizes,
            stat_cols=stat_cols, schema=schema_json,
            write_json=_json_writer(spark, table_path),
            # after a rebase, cur is FULLY assembled and its own chunk
            # entries cover the formerly-disjoint chunks — passing
            # carry_chunks again would double-list them
            carry_entries=carry_chunks if first else None,
            partial=first and partial,
            cluster_curve=cluster_curve, index_of=index_of,
            data_change=data_change, extra_meta=extra_meta,
        )
        try:
            _write_manifest(spark, table_path, v, manifest, ref)
            # chunk files written for attempts that lost the race are
            # unreferenced — drop them now rather than waiting for
            # vacuum
            if chunk_orphans:
                jvmx, fsx, _ = _fs(spark, table_path)
                for rel in chunk_orphans:
                    fsx.delete(
                        jvmx.org.apache.hadoop.fs.Path(f"{table_path}/{rel}"),
                        False,
                    )
            return v
        except CommitConflictError:
            attempts += 1
            chunk_orphans.extend(written_chunks)
            try:
                if attempts > max_retries:
                    raise CommitConflictError(
                        f"commit to {table_path} lost the publish race "
                        f"{attempts} times (base version {base_version})"
                    ) from None
                cur_versions = _manifest_versions(spark, table_path, ref)
                cur_v = cur_versions[-1]
                cur = read_manifest(spark, table_path, cur_v, ref)
                _validate_rebase(
                    _base_full(), cur, rewritten_set, update_key_ranges
                )
            except CommitConflictError:
                # true conflict (or retry budget spent): this commit
                # loses — drop ITS data files and orphan chunk files,
                # never the winner's
                jvmx, fsx, _ = _fs(spark, table_path)
                fsx.delete(
                    jvmx.org.apache.hadoop.fs.Path(f"{table_path}/{delta_rel}"),
                    True,
                )
                for rel in chunk_orphans:
                    fsx.delete(
                        jvmx.org.apache.hadoop.fs.Path(f"{table_path}/{rel}"),
                        False,
                    )
                raise


def _validate_rebase(
    base: dict,
    cur: dict,
    rewritten_set: set,
    update_key_ranges: dict | None,
) -> None:
    """Decide whether a commit derived from manifest ``base`` can be
    republished on top of ``cur`` (concurrent commits in between).
    Raises :class:`CommitConflictError` unless every concurrent change
    is provably disjoint from what the losing commit read and wrote —
    see :func:`commit_delta` for the ``update_key_ranges`` modes."""
    for meta_key in (
        "schema", "renames", "dropped_cols", "stat_cols", "constraints"
    ):
        if base.get(meta_key) != cur.get(meta_key):
            raise CommitConflictError(
                f"concurrent commit changed table {meta_key}; this "
                "commit's outputs were derived under the old metadata"
            )
    cur_files = set(cur["files"])
    gone = rewritten_set - cur_files
    if gone:
        raise CommitConflictError(
            "files read by this commit were rewritten or removed by a "
            f"concurrent commit: {sorted(gone)[:5]}"
        )

    def _del_sig(m: dict) -> list:
        return sorted(
            (d["file"], tuple(sorted(set(d["targets"]) & rewritten_set)))
            for d in (m.get("deletes") or [])
            if set(d["targets"]) & rewritten_set
        )

    if _del_sig(cur) != _del_sig(base):
        raise CommitConflictError(
            "a concurrent merge-on-read delete targets files this commit "
            "rewrote from a pre-delete view"
        )
    added = cur_files - set(base.get("files", []))
    if not added:
        return
    if update_key_ranges is None:
        raise CommitConflictError(
            "concurrent commit added files and this commit declares no "
            f"key scope (strict mode): {sorted(added)[:5]}"
        )
    if update_key_ranges:
        stats = cur.get("stats") or {}
        hot = [f for f in added if M.overlaps(stats.get(f), update_key_ranges)]
        if hot:
            raise CommitConflictError(
                "concurrently-added files may hold keys in this merge's "
                f"scope: {sorted(hot)[:5]}"
            )


def commit_snapshot(
    spark: SparkSession,
    table_path: str,
    df: DataFrame,
    *,
    stat_cols: list[str] | None = None,
    n_files: int | None = None,
    bloom_ndv: int = 100_000,
    cluster_curve: str | None = None,
    index_of: dict | None = None,
    extra_meta: dict | None = None,
) -> int:
    """Write ``df`` as the table's next version — a FULL snapshot (no
    carried-over files). With ``stat_cols`` the data is range-clustered
    on those columns and written with footer stats + bloom filters
    (sized for ``bloom_ndv`` expected values per file — size it near
    rows/n_files, or a default-sized bloom dwarfs small files), so
    later key merges and point lookups prune files. Returns the
    version. ``cluster_curve="zorder"`` lays rows out along the Morton
    curve of ``stat_cols`` instead of their lexicographic range — file
    pruning then works on EVERY stat column, not just the leading
    one."""
    return commit_delta(
        spark, table_path, df, [], stat_cols=stat_cols or [], n_files=n_files,
        bloom_ndv=bloom_ndv, cluster_curve=cluster_curve, index_of=index_of,
        extra_meta=extra_meta,
    )


# --- branches: the write-audit-publish staging flow ------------------------
#
# A BRANCH is a second manifest line for the same table, living in the
# same _manifests dir under filenames the main listing never matches
# (branch.<name>.<version>.json vs manifest-<version>.json). Data and
# chunk files are SHARED — a branch commit materializes its files under
# data/ exactly like a main commit; only the manifest that makes them
# visible goes to the branch namespace. That gives the Iceberg/Nessie
# WAP pattern on the existing atomic-rename CAS:
#
#   1. create_branch(t, "audit")            — zero-copy fork at main head
#   2. commit_delta(..., ref="audit")       — stage writes, invisible to prod
#   3. read_table(t, ref="audit") + checks  — audit the EXACT bytes to ship
#   4. fast_forward(t, "audit")             — one atomic CAS publish to main
#
# Publishing re-targets the AUDITED manifest (same doc, next main
# version) — never a rewrite, so what prod reads is bit-identical to
# what the audit approved. A main commit racing the fast-forward loses
# or wins the CAS cleanly; a main commit landed since the fork makes
# the fast-forward refuse (the audit ran against a stale base — the
# Nessie fast-forward-only-if-ancestor rule).


def create_branch(
    spark: SparkSession, table_path: str, name: str
) -> int:
    """Fork ``name`` from main's current head (metadata-only: one
    manifest copy, zero data movement). Returns the fork version —
    branch version numbers continue main's numbering from there, so
    ``min(branch versions)`` is always the fork base. Refuses to
    overwrite a live branch."""
    if name == "main":
        raise ValueError("'main' is the published table, not a branch name")
    M.ref_prefix(name)  # validate early, before any FS IO
    versions = _manifest_versions(spark, table_path)
    if not versions:
        raise ValueError(f"{table_path} is not a manifest table")
    if _manifest_versions(spark, table_path, name):
        raise ValueError(f"branch {name!r} already exists on {table_path}")
    head = versions[-1]
    # copy the RAW doc (not the assembled view): a chunked snapshot's
    # chunk entries carry by reference, same as a main commit would
    doc = _read_manifest_file(spark, table_path, head)
    _write_manifest(spark, table_path, head, doc, name)
    return head


def list_branches(spark: SparkSession, table_path: str) -> dict[str, list[int]]:
    """Live branches and their version lists (ascending; the first
    entry is the fork base)."""
    out: dict[str, list[int]] = {}
    for fname in _manifest_names(spark, table_path):
        parsed = M.parse_branch(fname)
        if parsed:
            out.setdefault(parsed[0], []).append(parsed[1])
    return {k: sorted(vs) for k, vs in sorted(out.items())}


def drop_branch(spark: SparkSession, table_path: str, name: str) -> None:
    """Delete ``name``'s manifests (abandoning any unpublished staged
    commits). The branch's data files become orphans that the next
    post-grace :func:`vacuum` reclaims — same lifecycle as a failed
    commit's files."""
    jvm, fs, _ = _fs(spark, table_path)
    for v in _manifest_versions(spark, table_path, name):
        fs.delete(
            jvm.org.apache.hadoop.fs.Path(
                f"{table_path}/{M.manifest_rel(v, name)}"
            ),
            False,
        )


def fast_forward(spark: SparkSession, table_path: str, name: str) -> int:
    """Publish branch ``name``'s head to main as one atomic commit and
    drop the branch. Returns the new main version (or main's head
    unchanged when the branch staged nothing).

    The publish is a manifest RE-TARGET, not a rewrite: the branch
    head's doc — the exact file list the audit read — becomes main's
    next version via the same CAS rename every commit uses. Requires
    main's head to still be the branch's fork base; a main commit
    landed since the fork raises :class:`CommitConflictError` (the
    staged files were derived from — and audited against — a stale
    base; re-fork and re-audit rather than silently dropping the
    concurrent commit's rows)."""
    branch_versions = _manifest_versions(spark, table_path, name)
    if not branch_versions:
        raise ValueError(f"branch {name!r} does not exist on {table_path}")
    fork, bhead = branch_versions[0], branch_versions[-1]
    main_head = _manifest_versions(spark, table_path)[-1]
    if main_head != fork:
        raise CommitConflictError(
            f"cannot fast-forward branch {name!r}: main advanced "
            f"{fork} -> {main_head} since the fork; re-create the branch "
            "from the current head and re-run the audit"
        )
    if bhead == fork:
        drop_branch(spark, table_path, name)
        return main_head
    doc = _read_manifest_file(spark, table_path, bhead, name)
    fork_doc = _read_manifest_file(spark, table_path, fork)
    for key in ("renames", "dropped_cols"):
        if (doc.get(key) or []) != (fork_doc.get(key) or []):
            raise ValueError(
                f"branch {name!r} staged column-evolution metadata "
                f"({key}); rename/drop mappings are keyed by birth "
                "version, which a fast-forward renumbers — apply schema "
                "evolution on main, not on a staging branch"
            )
    new_v = main_head + 1
    # staged files carry BRANCH-line born versions (fork+1..bhead, all
    # > the published main version when the branch made 2+ commits);
    # left as-is, a LATER main rename (applied to files born < its
    # version) would skip them and read their renamed columns as NULL.
    # To main, every staged file becomes visible AT the publish, so
    # born > fork remaps to new_v — inline in the doc, and for chunked
    # snapshots by rewriting only the chunks that hold staged files
    # (exactly the chunks the branch commits touched, O(staged)).

    def _remap(b: dict) -> dict:
        return {f: (new_v if bv > fork else bv) for f, bv in b.items()}

    written_chunks: list[str] = []
    jvm, fs, _ = _fs(spark, table_path)
    if "chunks" in doc:
        new_entries = []
        for entry in doc["chunks"]:
            cdoc = _read_json(spark, table_path, entry["file"])
            cborn = cdoc.get("born") or {}
            if any(bv > fork for bv in cborn.values()):
                cdoc["born"] = _remap(cborn)
                rel = M.chunk_rel()
                _write_json(jvm, fs, f"{table_path}/{rel}", cdoc)
                written_chunks.append(rel)
                entry = {**entry, "file": rel}
            new_entries.append(entry)
        doc["chunks"] = new_entries
    elif doc.get("born"):
        doc["born"] = _remap(doc["born"])
    doc["version"] = new_v
    # CAS: a main commit racing this publish wins or loses atomically
    try:
        _write_manifest(spark, table_path, new_v, doc)
    except CommitConflictError:
        for rel in written_chunks:
            fs.delete(
                jvm.org.apache.hadoop.fs.Path(f"{table_path}/{rel}"), False
            )
        raise
    drop_branch(spark, table_path, name)
    return new_v


# --- tags & rollback: immutable release pointers + undo ----------------------
#
# A TAG is an immutable named pointer to a main version (Iceberg tags /
# git tags for data): `prod-2026-08`, `eval-freeze`. Tags pin their
# version against vacuum (manifest kept, files protected), so a reader
# resolving a tag months later still gets the exact bytes. ROLLBACK is
# the undo that tags make safe: re-publish an old version's manifest as
# the NEXT version — history stays append-only (the bad commits remain
# inspectable), readers of "latest" see the restored data, and nothing
# is rewritten.


def create_tag(
    spark: SparkSession, table_path: str, name: str, version: int | None = None
) -> int:
    """Tag ``version`` (default: main's head) as immutable ref
    ``name``. Refuses to move an existing tag — drop and re-create to
    re-point (the loud two-step is the point). Returns the tagged
    version."""
    if name == "main":
        raise ValueError("'main' is the published line, not a tag name")
    M.ref_prefix(name)  # same charset rules as branches
    versions = _manifest_versions(spark, table_path)
    if not versions:
        raise ValueError(f"{table_path} is not a manifest table")
    v = versions[-1] if version is None else version
    if v not in versions:
        raise ValueError(f"version {v} not in {versions} for {table_path}")
    if name in list_tags(spark, table_path):
        raise ValueError(
            f"tag {name!r} already exists on {table_path}; tags are "
            "immutable — drop_tag it first to re-point"
        )
    jvm, fs, _ = _fs(spark, table_path)
    final = jvm.org.apache.hadoop.fs.Path(f"{table_path}/{M.tag_rel(name)}")
    tmp = _write_json(
        jvm, fs, f"{table_path}/{M.tmp_rel()}", {"name": name, "version": v}
    )
    if not _cas_publish(jvm, fs, tmp, final):
        raise ValueError(f"tag {name!r} already exists on {table_path}")
    # RE-VALIDATE after publish: a vacuum that already passed its tag
    # re-list may have dropped this version between our validation and
    # the tag landing. Either the manifest survives (or a mid-flight
    # vacuum's tag re-list restores it — it sees this tag), or we undo
    # the tag and fail LOUDLY instead of leaving a dangling pin.
    if v not in _manifest_versions(spark, table_path):
        fs.delete(final, False)
        raise ValueError(
            f"version {v} of {table_path} was vacuumed concurrently; "
            "tag not created"
        )
    return v


def list_tags(spark: SparkSession, table_path: str) -> dict[str, int]:
    """Live tags: name -> pinned main version."""
    out: dict[str, int] = {}
    for fname in _manifest_names(spark, table_path):
        if not M.is_tag_name(fname):
            continue
        try:
            doc = _read_json(spark, table_path, f"{MANIFEST_DIR}/{fname}")
        except Exception as ex:
            if _is_missing_file_error(ex):
                continue  # dropped between listing and open
            raise
        out[doc["name"]] = int(doc["version"])
    return dict(sorted(out.items()))


def drop_tag(spark: SparkSession, table_path: str, name: str) -> None:
    """Delete tag ``name`` — its version stops being pinned and ages
    out through the normal vacuum policy."""
    jvm, fs, _ = _fs(spark, table_path)
    fs.delete(
        jvm.org.apache.hadoop.fs.Path(f"{table_path}/{M.tag_rel(name)}"), False
    )


def tag_version(spark: SparkSession, table_path: str, name: str) -> int:
    """Resolve tag ``name`` to its pinned version (pass the result as
    ``read_table(..., version=)``)."""
    tags = list_tags(spark, table_path)
    if name not in tags:
        raise ValueError(
            f"tag {name!r} does not exist on {table_path}; have {list(tags)}"
        )
    return tags[name]


def rollback_table(
    spark: SparkSession, table_path: str, to_version: int
) -> int:
    """Restore ``to_version``'s exact state as the table's NEXT
    version (Delta RESTORE / Iceberg rollback semantics, append-only):
    the old version's raw manifest doc is re-published under the next
    version number via the same atomic-rename CAS every commit uses —
    zero data movement, the rolled-back commits stay in history for
    forensics, and a concurrent commit racing the rollback loses or
    wins cleanly. The target version must still exist (not vacuumed);
    tag the versions you may need to restore."""
    versions = _manifest_versions(spark, table_path)
    if not versions:
        raise ValueError(f"{table_path} is not a manifest table")
    if to_version not in versions:
        raise ValueError(
            f"version {to_version} not in {versions} for {table_path} "
            "(vacuumed? tagged versions never age out)"
        )
    head = versions[-1]
    if to_version == head:
        return head
    doc = _read_manifest_file(spark, table_path, to_version)
    doc["version"] = head + 1
    doc["restored_from"] = to_version
    # a rollback CHANGES visible rows (it un-publishes the rolled-back
    # commits) even when the restored doc was itself a rewrite-only
    # compaction — never inherit its data_change=False marker, or the
    # change feed would silently skip the restore
    doc.pop("data_change", None)
    _write_manifest(spark, table_path, head + 1, doc)
    return head + 1


def _manifest_publish_times(
    spark: SparkSession, table_path: str, ref: str = "main"
) -> dict[int, float]:
    """{version: publish time (epoch ms)} from the manifest files' own
    modification times — the atomic renames that made each version
    visible (the same clock :func:`version_at_timestamp` resolves
    against, so age-based retention and TIMESTAMP AS OF agree)."""
    times = {
        st.getPath().getName(): float(st.getModificationTime())
        for st in _manifest_listing(spark, table_path)
    }
    return {v: times[n] for v, n in M.parse_versions(times, ref).items()}


def version_at_timestamp(
    spark: SparkSession, table_path: str, ts_ms: float, ref: str = "main"
) -> int:
    """TIMESTAMP AS OF resolution (Delta parity): the newest readable
    version whose manifest was PUBLISHED at or before ``ts_ms`` (epoch
    milliseconds). Publish time is the manifest file's own
    modification time — the atomic rename that made the version
    visible — so no manifest format change is needed and every
    existing table resolves. Raises when the timestamp predates the
    oldest readable version (it may have been vacuumed) or the table
    has no manifests."""
    return M.version_at(
        _manifest_publish_times(spark, table_path, ref), ts_ms, table_path, ref
    )


def read_table_as_of(
    spark: SparkSession, table_path: str, ts_ms: float, ref: str = "main"
) -> DataFrame:
    """``SELECT ... TIMESTAMP AS OF``: read the table as it was
    visible at ``ts_ms`` (epoch milliseconds)."""
    return read_table(
        spark, table_path,
        version=version_at_timestamp(spark, table_path, ts_ms, ref),
        ref=ref,
    )


def clone_table(
    spark: SparkSession, src_path: str, dst_path: str,
    *, version: int | None = None, pin: bool = True,
) -> int:
    """SHALLOW CLONE: publish ``dst_path`` as a new manifest table
    whose first version references ``src_path``'s live data files BY
    ABSOLUTE PATH — zero data copied, O(metadata) cost at any table
    size (the Delta ``CREATE TABLE ... SHALLOW CLONE`` semantics).
    Returns the clone's first version number.

    - DIVERGENCE: commits on the clone write their own local files and
      never touch the source; commits on the source are invisible to
      the clone (it pinned an exact file list). A full
      :func:`compact_table` on the clone rewrites every foreign
      reference into local files — the materialize path.
    - VACUUM SAFETY, clone side: the clone's vacuum sweeps only its
      own ``data/`` listing, where foreign files never appear.
    - VACUUM SAFETY, source side: with ``pin=True`` (default) the
      clone drops a ``clone-*`` TAG on the source at the cloned
      version, so the source's vacuum keeps those exact files
      resolvable (the classic shallow-clone hazard: Delta documents
      that VACUUM on the source BREAKS clones — the tag pin closes
      it). :func:`release_clone_pin` drops the tag once the clone is
      materialized or dropped.
    - VERSION NUMBERING starts at ``src version + 1``, not 1: carried
      rename mappings and per-file birth versions keep their src-
      relative ordering, so name resolution on old foreign files stays
      correct while files the clone writes later (born > every carried
      mapping) are never mis-mapped.
    - The source's ``index_of`` value-index registration is NOT
      carried (index artifacts live under the source; rebuild against
      the clone if needed)."""
    if is_manifest_table(spark, dst_path):
        raise ValueError(f"{dst_path} is already a manifest table")
    base = src_path if M.is_foreign(src_path) else os.path.abspath(src_path)
    src = read_manifest(spark, src_path, version)
    src_v = int(src["version"])

    def a(e: str) -> str:
        return M.resolve(base, e)

    tag = None
    if pin:
        tag = f"clone-{uuid.uuid4().hex[:12]}"
        create_tag(spark, src_path, tag, src_v)
    src_stats = src.get("stats") or {}
    src_born = src.get("born") or {}
    src_sizes = src.get("sizes") or {}
    doc = {
        "version": src_v + 1,
        "files": [a(f) for f in src["files"]],
        "stats": {a(f): src_stats.get(f) for f in src["files"]},
        "stat_cols": src.get("stat_cols") or [],
        "schema": src["schema"],
        "cloned_from": {"path": base, "version": src_v, "tag": tag},
    }
    born = {a(f): src_born.get(f, 0) for f in src["files"] if f in src_born}
    if born:
        doc["born"] = born
    sizes = {a(f): src_sizes[f] for f in src["files"] if f in src_sizes}
    if sizes:
        doc["sizes"] = sizes
    deletes = [
        {**d, "file": a(d["file"]), "targets": [a(t) for t in d["targets"]]}
        for d in src.get("deletes") or []
    ]
    if deletes:
        doc["deletes"] = deletes
    for k in ("renames", "dropped_cols", "cluster_curve", "constraints"):
        if src.get(k) is not None:
            doc[k] = src[k]
    try:
        _write_manifest(spark, dst_path, src_v + 1, doc)
    except BaseException:
        if tag is not None:
            try:
                drop_tag(spark, src_path, tag)
            except Exception:
                pass  # best-effort: an unreleased pin is benign
        raise
    return src_v + 1


def release_clone_pin(spark: SparkSession, dst_path: str) -> bool:
    """Drop the source-table tag a shallow clone pinned at creation —
    call once the clone is materialized (full :func:`compact_table`)
    or no longer needed. Returns True when a pin was released. After
    release, a source vacuum may reclaim files the clone still
    references; an unmaterialized clone then fails loudly on read."""
    versions = _manifest_versions(spark, dst_path)
    if not versions:
        raise ValueError(f"{dst_path} is not a manifest table")
    # every commit carries cloned_from forward (a sticky key), so the
    # LATEST manifest is authoritative
    info = _read_manifest_file(spark, dst_path, versions[-1]).get("cloned_from")
    if not info or not info.get("tag"):
        return False
    try:
        drop_tag(spark, info["path"], info["tag"])
    except Exception:
        return False  # already released, or the source is gone
    return True


def files_metadata(
    spark: SparkSession,
    table_path: str,
    version: int | None = None,
    ref: str = "main",
) -> DataFrame:
    """The table's FILES metadata table (Iceberg `table$files` parity):
    one row per live data file of ``version`` with its commit-time
    recorded byte size and birth version — the inputs every
    maintenance decision (small-file compaction, storage accounting,
    incremental-scan planning) reads, exposed as a queryable
    DataFrame instead of an internal dict. Bytes/birth come from the
    manifest's ``sizes``/``born`` records, which every commit writes
    for every file (zero FS RPCs).

    Scale note: the frame materializes from the assembled manifest,
    which is driver-read by design (manifests are metadata, not
    data); a chunked (v2) table's entries assemble from its chunk
    docs the same way every reader's planning pass already does, so
    this adds no IO beyond one manifest read."""
    m = read_manifest(spark, table_path, version, ref)
    rows = [(f, int(m["sizes"][f]), int(m["born"][f])) for f in m["files"]]
    # VALUES relation, not createDataFrame: the Python-RDD scan behind
    # createDataFrame costs a fresh Python-worker task per consuming
    # job — q183's profile showed two 32-task ~5 s-CPU stages just to
    # materialize this metadata frame (r13, guide §4)
    return values_df(spark, rows, "file string, bytes long, born long")


def commit_delete_file(
    spark: SparkSession,
    table_path: str,
    keys_df: DataFrame,
    keys: list[str],
    targets: list[str],
    key_values: dict | None = None,
    base_manifest: dict | None = None,
    carry_chunks: list | None = None,
) -> int:
    """Commit a MERGE-ON-READ equality delete: write the deleted key
    tuples as one tiny parquet and publish a new version whose DATA
    FILES ARE UNCHANGED — the manifest just gains a ``deletes`` entry
    naming the key file, its key columns, and the exact data files it
    applies to (``targets``: the files that could hold a deleted key
    when the delete committed). Readers anti-join targeted files
    against the key set (:func:`_read_files`); files added later are
    untargeted by construction, so re-inserting a deleted key works.

    This is the Iceberg-v2 equality-delete / Delta deletion-vector
    pattern, and the 100 TB answer to "delete 100 user ids from a
    100 TB table": the commit writes kilobytes, not a file rewrite —
    the physical rewrite happens when a later merge or compaction
    touches those files (both fold pending deletes in and drop the
    entry via :func:`commit_delta`'s carry-forward). Returns the new
    version.

    ``base_manifest`` / ``carry_chunks`` as in :func:`commit_delta`:
    the (possibly chunk-pruned) manifest ``targets`` were computed
    from, and the unread chunk entries that carry by reference. The
    CAS then publishes against that version, so a file added since the
    targets were read goes through the rebase check below instead of
    escaping the mask. Omitted, the latest manifest is read here."""
    partial = carry_chunks is not None
    prev = (
        read_manifest(spark, table_path)
        if base_manifest is None
        else base_manifest
    )
    live = set(prev["files"])
    unknown = [t for t in targets if t not in live]
    if unknown:
        raise ValueError(f"delete targets not in current version: {unknown}")
    v = int(prev["version"]) + 1
    del_rel = f"{DATA_DIR}/del-{v:08d}-{uuid.uuid4().hex[:8]}"
    # one part file: a deletion batch is driver-small by nature
    keys_df.select(*keys).distinct().coalesce(1).write.mode("error").parquet(
        f"{table_path}/{del_rel}"
    )
    entry = {"file": del_rel, "keys": list(keys), "targets": list(targets)}
    cur_v, cur = v - 1, prev
    for attempt in range(6):
        # the data layout is untouched: every chunk carries by
        # reference, so the commit writes one key file plus a snapshot
        # doc, never a chunk; after a rebase ``cur`` is fully assembled
        # and covers the formerly-unread chunks itself
        first = cur is prev
        manifest, _ = M.next_doc(
            cur, cur_v + 1, list(cur["files"]), [], {}, {},
            stat_cols=cur.get("stat_cols") or [], schema=cur["schema"],
            write_json=_json_writer(spark, table_path),
            carry_entries=carry_chunks if first else None,
            partial=first and partial,
            cluster_curve=cur.get("cluster_curve") or "range",
            index_of=cur.get("index_of"),
            extra_meta={"deletes": [*(cur.get("deletes") or []), entry]},
        )
        try:
            _write_manifest(spark, table_path, cur_v + 1, manifest)
            return cur_v + 1
        except CommitConflictError:
            # CAS rebase: re-read current; the delete stays valid iff
            # (a) every target file is still live — a concurrent
            # rewrite of a target folded the table WITHOUT this
            # delete, so its replacement may re-expose the rows — and
            # (b) no concurrently-ADDED file could hold a deleted key:
            # the delete's snapshot semantics cover every matching row
            # live at COMMIT time, and a file added between the target
            # computation and the publish would otherwise silently
            # escape the mask (only files added after the delete's own
            # commit are legitimately untargeted re-inserts).
            # ``key_values`` (sorted distinct key values per column,
            # from the caller's prune) proves disjointness via footer
            # stats; without it, or for stat-less adds, abort
            # conservatively — the caller reruns against current.
            cur_versions = _manifest_versions(spark, table_path)
            cur_v = cur_versions[-1]
            cur = read_manifest(spark, table_path, cur_v)
            cur_files = set(cur["files"])
            gone = [t for t in targets if t not in cur_files]
            hot_adds: list[str] = []
            if not gone:
                # a chunk-pruned base lists only the chunks it read:
                # judge the adds against the complete base file list
                base = (
                    read_manifest(spark, table_path, v - 1)
                    if partial
                    else prev
                )
                prev_files = set(base["files"])
                added = [f for f in cur["files"] if f not in prev_files]
                if added and key_values is None:
                    hot_adds = added
                elif added:
                    probe = {**cur, "files": added}
                    hot_adds, _ = split_files_by_key_sets(probe, key_values)
            if gone or hot_adds or attempt == 4:
                jvmx, fsx, _ = _fs(spark, table_path)
                fsx.delete(
                    jvmx.org.apache.hadoop.fs.Path(f"{table_path}/{del_rel}"),
                    True,
                )
                if gone:
                    why = f"targets rewritten concurrently: {gone[:5]}"
                elif hot_adds:
                    why = (
                        "concurrently-added files may hold deleted keys: "
                        f"{hot_adds[:5]}; rerun the delete against current"
                    )
                else:
                    why = "publish race lost 5 times"
                raise CommitConflictError(
                    f"merge-on-read delete for {table_path} conflicts: {why}"
                ) from None
    raise AssertionError("unreachable")


def _files_carrying(
    spark: SparkSession, table_path: str, files: list[str], cols: list[str]
) -> list[str]:
    """Files whose parquet footer schema physically contains any of
    ``cols`` — the safety check before re-introducing a dropped column
    name. Footer-only IO, driver-side (this runs only on the rare
    re-add path); unreadable footers count as carrying, conservatively."""
    import pyarrow.parquet as pq

    want = set(cols)
    out = []
    for f in files:
        try:
            names = set(pq.read_schema(M.local_file(table_path, f)).names)
        except Exception:
            out.append(f)
            continue
        if want & names:
            out.append(f)
    return out


def _commit_meta_change(spark: SparkSession, table_path: str, mutate) -> int:
    """Publish a METADATA-ONLY next version: ``mutate(doc, v)`` takes
    the current raw snapshot doc (chunk references untouched — nothing
    is assembled or rewritten) and returns the next one; the rename
    CAS retries on a lost race with a freshly-read doc, so validation
    re-runs against whatever the concurrent writer published."""
    for attempt in range(6):
        versions = _manifest_versions(spark, table_path)
        if not versions:
            raise ValueError(f"{table_path} is not a manifest table")
        cur_v = versions[-1]
        doc = _read_manifest_file(spark, table_path, cur_v)
        manifest = mutate(dict(doc), cur_v + 1)
        manifest["version"] = cur_v + 1
        try:
            _write_manifest(spark, table_path, cur_v + 1, manifest)
            return cur_v + 1
        except CommitConflictError:
            if attempt == 4:
                raise
    raise AssertionError("unreachable")


def rename_column(spark: SparkSession, table_path: str,
                  old: str, new: str) -> int:
    """Rename a column WITHOUT rewriting any data file (Delta/Iceberg
    column-mapping semantics, name-based): the snapshot's declared
    schema changes and a {from, to, version} mapping entry is
    recorded; reads resolve each file's physical name by its BIRTH
    version (files written before the rename carry the old name and
    are read through the mapping; files written after are born with
    the new name). The entry retires automatically once every
    pre-rename file has been rewritten or compacted away.

    Stat bookkeeping: declared stat_cols and snapshot-level chunk
    ranges rename immediately; per-file footer stats recorded under
    the old name inside immutable chunk files degrade to
    conservative no-prune for pre-rename files until they are next
    rewritten — sound, just temporarily coarser.

    Refused while a pending merge-on-read delete keys on the column
    (its key file carries the old name) and when ``new`` collides
    with a live or dropped-but-unswept column name."""
    def mutate(doc: dict, v: int) -> dict:
        fields = doc["schema"]["fields"]
        names = {f["name"] for f in fields}
        if old not in names:
            raise ValueError(f"column {old!r} not in table schema")
        if new in names:
            raise ValueError(f"column {new!r} already exists")
        for e in doc.get("dropped_cols") or []:
            if e["col"] == new:
                raise ValueError(
                    f"column {new!r} was dropped and old files may still "
                    "carry it; run compact_table before reusing the name"
                )
        for e in doc.get("renames") or []:
            if e["from"] == new:
                raise ValueError(
                    f"column {new!r} is the physical source of a live "
                    "rename mapping (old files still carry it); run "
                    "compact_table before reusing the name"
                )
        for d in doc.get("deletes") or []:
            if old in d["keys"]:
                raise ValueError(
                    f"a pending merge-on-read delete keys on {old!r}; "
                    "compact_table (folds deletes in) before renaming"
                )
        doc["schema"] = {
            **doc["schema"],
            "fields": [
                {**f, "name": new} if f["name"] == old else f
                for f in fields
            ],
        }
        doc["stat_cols"] = [
            new if c == old else c for c in doc.get("stat_cols") or []
        ]
        if "stats" in doc:
            doc["stats"] = {
                f: (
                    {(new if c == old else c): r for c, r in st.items()}
                    if st else st
                )
                for f, st in doc["stats"].items()
            }
        if "chunks" in doc:
            doc["chunks"] = [
                {
                    **e,
                    **(
                        {"ranges": {
                            (new if c == old else c): r
                            for c, r in e["ranges"].items()
                        }}
                        if e.get("ranges") else {}
                    ),
                }
                for e in doc["chunks"]
            ]
        doc["renames"] = [
            *(doc.get("renames") or []),
            {"from": old, "to": new, "version": v},
        ]
        return doc

    return _commit_meta_change(spark, table_path, mutate)


def drop_column(spark: SparkSession, table_path: str, col: str) -> int:
    """Drop a column WITHOUT rewriting any data file: the declared
    schema loses the field and name-based parquet resolution simply
    stops reading it (column pruning skips the bytes at the scan).
    A ``dropped_cols`` guard entry is recorded so the NAME cannot be
    re-introduced while live files still physically carry old values
    (name-based resolution would silently resurrect them) — re-adding
    is allowed again once a footer sweep proves no live file has the
    column, or after compact_table. Refused while a pending
    merge-on-read delete keys on the column or a rename mapping still
    references it."""
    def mutate(doc: dict, v: int) -> dict:
        fields = doc["schema"]["fields"]
        names = {f["name"] for f in fields}
        if col not in names:
            raise ValueError(f"column {col!r} not in table schema")
        for d in doc.get("deletes") or []:
            if col in d["keys"]:
                raise ValueError(
                    f"a pending merge-on-read delete keys on {col!r}; "
                    "compact_table before dropping it"
                )
        for r in doc.get("renames") or []:
            if col in (r["from"], r["to"]):
                raise ValueError(
                    f"a live rename mapping references {col!r}; "
                    "compact_table (retires mappings) before dropping it"
                )
        doc["schema"] = {
            **doc["schema"],
            "fields": [f for f in fields if f["name"] != col],
        }
        doc["stat_cols"] = [
            c for c in doc.get("stat_cols") or [] if c != col
        ]
        dropped = [
            e for e in doc.get("dropped_cols") or [] if e["col"] != col
        ]
        doc["dropped_cols"] = [*dropped, {"col": col, "version": v}]
        return doc

    return _commit_meta_change(spark, table_path, mutate)


def add_constraint(
    spark: SparkSession, table_path: str, name: str, expr: str
) -> int:
    """ALTER TABLE ADD CONSTRAINT (Delta CHECK-constraint parity):
    record boolean SQL ``expr`` in the manifest so every later
    data-changing commit validates its NEW bytes against it before
    publishing (SQL CHECK semantics — a row violates only when the
    expression IS FALSE; NULL passes). Existing rows are validated
    FIRST, and re-validated on every lost publish race, so a
    concurrent append of violating rows cannot slip under the new
    constraint: whichever of the two commits publishes second sees the
    other (the appender via enforcement against the published
    constraint, this via the CAS retry's re-validation). Metadata-only
    commit — no data movement. Returns the new version."""
    for attempt in range(6):
        versions = _manifest_versions(spark, table_path)
        if not versions:
            raise ValueError(f"{table_path} is not a manifest table")
        cur_v = versions[-1]
        doc = _read_manifest_file(spark, table_path, cur_v)
        cons = list(doc.get("constraints") or [])
        if any(c["name"] == name for c in cons):
            raise ValueError(
                f"constraint {name!r} already exists on {table_path}"
            )
        n_bad = (
            read_table(spark, table_path, version=cur_v)
            .filter(F.expr(f"({expr}) IS FALSE"))
            .count()
        )
        if n_bad:
            raise ConstraintViolationError(
                f"cannot add constraint {name!r} to {table_path}: "
                f"{n_bad} existing row(s) violate ({expr})"
            )
        manifest = dict(doc)
        manifest["constraints"] = [*cons, {"name": name, "expr": expr}]
        manifest["version"] = cur_v + 1
        try:
            _write_manifest(spark, table_path, cur_v + 1, manifest)
            return cur_v + 1
        except CommitConflictError:
            if attempt == 4:
                raise
    raise AssertionError("unreachable")


def drop_constraint(
    spark: SparkSession, table_path: str, name: str
) -> int:
    """ALTER TABLE DROP CONSTRAINT: metadata-only commit removing the
    named CHECK constraint. Raises when it does not exist."""
    def mutate(doc: dict, v: int) -> dict:
        cons = list(doc.get("constraints") or [])
        kept = [c for c in cons if c["name"] != name]
        if len(kept) == len(cons):
            raise ValueError(
                f"no constraint {name!r} on {table_path}"
            )
        if kept:
            doc["constraints"] = kept
        else:
            doc.pop("constraints", None)
        return doc

    return _commit_meta_change(spark, table_path, mutate)


def list_constraints(spark: SparkSession, table_path: str) -> dict[str, str]:
    """The table's live CHECK constraints as {name: expr}."""
    m = read_manifest(spark, table_path)
    return {c["name"]: c["expr"] for c in m.get("constraints") or []}


def set_cluster_spec(spark: SparkSession, table_path: str,
                     stat_cols: list[str]) -> int:
    """Change the table's clustering/stat spec WITHOUT rewriting any
    data file (Iceberg partition-spec-evolution semantics, applied to
    the stat/cluster columns): the snapshot's declared ``stat_cols``
    changes and nothing else moves. Mixed-spec correctness falls out
    of per-file metadata:

    - OLD files keep their recorded per-file min/max (and blooms) on
      the old columns — probes on the old columns still prune them
      exactly; probes on the NEW columns find no recorded range and
      treat them conservatively hot (``manifest.overlaps`` — sound, just
      unpruned until rewritten);
    - NEW commits cluster, stat and bloom on the new spec
      (``commit_delta`` inherits the declared columns), so fresh data
      prunes on the new columns immediately;
    - chunk-level ranges behave the same way per entry, and
      :func:`compact_table` completes the migration by re-clustering
      everything on the current spec.

    Concurrent merges see the change as a CAS conflict
    (``_validate_rebase`` compares ``stat_cols``) — their carry-over
    and pruning decisions were derived under the old spec, so they
    must re-read and retry. Refused when a named column is not in the
    declared schema or is the source of a live rename (old files
    physically carry that name for a DIFFERENT column — footer stats
    gathered for new commits would be incomparable with the mapping's
    semantics)."""
    def mutate(doc: dict, v: int) -> dict:
        names = {f["name"] for f in doc["schema"]["fields"]}
        unknown = [c for c in stat_cols if c not in names]
        if unknown:
            raise ValueError(
                f"cluster-spec columns {unknown} not in table schema"
            )
        sources = {e["from"] for e in doc.get("renames") or []}
        bad = [c for c in stat_cols if c in sources]
        if bad:
            raise ValueError(
                f"column(s) {bad} are physical sources of live rename "
                "mappings; run compact_table before clustering on them"
            )
        doc["stat_cols"] = list(stat_cols)
        return doc

    return _commit_meta_change(spark, table_path, mutate)


def split_files_by_key_ranges(
    manifest: dict, key_ranges: dict[str, tuple]
) -> tuple[list[str], list[str]]:
    """Partition the manifest's files into (touched, untouched) for a
    key-based merge: ``untouched`` files provably contain NO key tuple
    in the given per-column ranges and can be carried into the next
    version verbatim."""
    touched, untouched = [], []
    stats = manifest.get("stats") or {}
    for f in manifest.get("files", []):
        (touched if M.overlaps(stats.get(f), key_ranges) else untouched).append(f)
    return touched, untouched


def split_chunks_by_key_sets(
    doc: dict, key_values: dict[str, list]
) -> tuple[list[dict], list[dict]]:
    """Partition a raw chunked snapshot doc's chunk entries into
    (overlap, disjoint) for a key-based merge: a DISJOINT chunk's
    recorded per-chunk ranges prove that NO batch key value falls
    inside them on some column, so the chunk file is never read and
    its entry carries into the next version by reference
    (:func:`prox_spark.manifest.overlaps_sets`, the rule files and the
    connector prune by too). Entries without ranges are
    conservatively overlap."""
    overlap, disjoint = [], []
    for entry in doc.get("chunks", []):
        hit = M.overlaps_sets(entry.get("ranges"), key_values)
        (overlap if hit else disjoint).append(entry)
    return overlap, disjoint


def split_files_by_key_sets(
    manifest: dict, key_values: dict[str, list]
) -> tuple[list[str], list[str]]:
    """Key-SET file pruning: ``key_values`` maps each key column to
    the SORTED distinct values present in the update batch. A file is
    untouched when, for some column, NO batch value falls inside the
    file's [min, max] — checked with one bisect per (file, column), so
    scattered keys (the CDC norm: a handful of user ids spread across
    the id space) prune almost everything, where a min/max RANGE test
    would span the whole table and prune nothing. Conservative for
    multi-column keys (per-column membership is necessary, not
    sufficient, for a tuple match) — never lossy
    (:func:`prox_spark.manifest.overlaps_sets`)."""
    touched, untouched = [], []
    stats = manifest.get("stats") or {}
    for f in manifest.get("files", []):
        hit = M.overlaps_sets(stats.get(f), key_values)
        (touched if hit else untouched).append(f)
    return touched, untouched


def point_lookup_files(
    spark: SparkSession, table_path: str, eq: dict, version: int | None = None
) -> list[str]:
    """The subset of the manifest's files whose min/max stats admit the
    equality probe ``eq`` ({col: value}) — the file-skipping half of a
    point lookup, decided driver-side from the manifest alone. On a
    chunked table, whole chunks outside the probe's range are skipped
    before any chunk file is read (metadata IO O(matching chunks))."""
    ranges = {c: (v, v) for c, v in eq.items()}
    manifest = read_manifest_pruned(spark, table_path, ranges, version)
    touched, _ = split_files_by_key_ranges(manifest, ranges)
    return touched


def read_table_point(
    spark: SparkSession, table_path: str, eq: dict, version: int | None = None
) -> DataFrame:
    """Point lookup: scan only the files that can contain the key
    (manifest min/max pruning), with the equality predicate pushed to
    the parquet reader where the per-column bloom filters reject
    non-member row groups before any page IO."""
    from functools import reduce

    from pyspark.sql import functions as F

    # ONE manifest read for both the prune and the scan: a second read
    # could resolve a different version under a concurrent writer
    # (files from v+1 read with v's schema), and doubles the driver FS
    # round-trips per lookup. Chunk-level pruning happens inside the
    # same resolve — chunks whose recorded ranges exclude the key are
    # never read at all.
    manifest = read_manifest_pruned(
        spark, table_path, {c: (v, v) for c, v in eq.items()}, version
    )
    files, _ = split_files_by_key_ranges(
        manifest, {c: (v, v) for c, v in eq.items()}
    )
    df = _read_files(spark, table_path, manifest, files)
    cond = reduce(
        lambda a, b: a & b, [F.col(c) == F.lit(v) for c, v in eq.items()]
    )
    return df.filter(cond)


def build_value_index(
    spark: SparkSession,
    table_path: str,
    col: str,
    index_path: str,
    n_files: int = 4,
) -> int:
    """SECONDARY inverted index for point lookups on a NON-cluster
    column, materialized as its own manifest table (the table format
    dogfooding its own artifacts, like the BPE merge table): one
    distinct ``(col, file)`` row per value-file incidence, range-
    clustered on the value so probes prune the INDEX's files/chunks
    through the ordinary stats path. Returns the base version the
    index covers — files born later are unindexed, and
    :func:`read_table_point_indexed` scans them unconditionally, so a
    probe is correct against any later version without rebuilding
    (rebuild on whatever cadence amortizes: the index is one scan of
    the indexed column + file attribution, shuffle keyed on the
    value).

    Why not manifest min/max: the cluster columns get file pruning
    for free, but an equality probe on any OTHER column must open
    every file (footer blooms reject row groups, but the file-open
    RPCs alone dominate at 10^5+ files). The inverted index restores
    O(files-holding-the-value) probes — content-addressed document
    lookup (digest -> file) being the canonical use.

    The index manifest records ``index_of = {col, version}`` — what it
    indexes and the base version it covers — so probes can resolve the
    coverage version from the artifact itself and
    :func:`refresh_value_index` can advance it incrementally after the
    base table compacts or grows."""
    m = read_manifest(spark, table_path)
    idx = _value_incidences(spark, table_path, m, list(m["files"]), col)
    commit_snapshot(
        spark, index_path, idx, stat_cols=[col], n_files=n_files,
        index_of={"col": col, "version": int(m["version"])},
    )
    return int(m["version"])


def _value_incidences(
    spark: SparkSession, table_path: str, manifest: dict,
    files: list[str], col: str,
) -> DataFrame:
    """Distinct (col, file) incidence rows for the given files, read
    RAW — merge-on-read deletes are deliberately NOT applied (a
    deleted row's incidence is harmless: probes intersect with the
    live file set and apply the exact equality filter), which keeps
    ``input_file_name()`` on a single-source scan per rename
    generation (applying deletes would anti-join targeted files into
    a multi-source plan the expression refuses). Renames resolve per
    birth generation exactly like :func:`_read_files`."""
    from functools import reduce

    from pyspark.sql import functions as F

    groups: dict[tuple, tuple[list, list[str]]] = {}
    for f in files:
        applicable = M.renames_for(manifest, f)
        sig = tuple(r["version"] for r in applicable)
        groups.setdefault(sig, (applicable, []))[1].append(f)
    parts = []
    for _, (applicable, fs) in sorted(groups.items()):
        phys = M.physical_name(col, applicable)
        df = read_parquet(spark, *[M.resolve(table_path, f) for f in fs])
        parts.append(
            df.select(
                F.col(phys).alias(col),
                F.input_file_name().alias("_abs"),
            )
            .withColumn(
                "file", F.regexp_extract("_abs", r"[^/]+/[^/]+/[^/]+$", 0)
            )
            .select(col, "file")
        )
    return reduce(lambda a, b: a.unionByName(b), parts).distinct()


def refresh_value_index(
    spark: SparkSession, table_path: str, index_path: str
) -> int:
    """Advance a :func:`build_value_index` artifact to the base
    table's current version INCREMENTALLY: scan only the files born
    after the covered version (appends AND rewrite outputs — a
    compaction gives every output file a new birth version), append
    their ``(value, file)`` incidences as an index delta, and record
    the new covered version. Cost is one indexed-column scan of the
    data born since the last refresh — after a
    :func:`compact_small_files` cycle that is the consolidated
    fragments only, never the table; a FULL re-cluster
    (:func:`compact_table`) re-births everything, so the refresh after
    one is inherently a full single-column rescan (the same cost class
    as the compaction itself, which rewrote every column).

    Entries naming retired files stay in the index — probes intersect
    with the live set, so they are harmless — and are shed by the next
    full :func:`build_value_index` rebuild on whatever cadence
    amortizes. Returns the covered version (unchanged when the base
    table has no post-index files, in which case nothing is
    committed)."""
    mi = read_manifest(spark, index_path)
    meta = mi.get("index_of")
    if not meta:
        raise ValueError(
            f"{index_path} has no index_of record; rebuild it with "
            "build_value_index to make it refreshable"
        )
    col, covered = meta["col"], int(meta["version"])
    m = read_manifest(spark, table_path)
    if col not in {f["name"] for f in m["schema"]["fields"]}:
        raise ValueError(
            f"value index {index_path} indexes column {col!r}, which no "
            f"longer exists in {table_path}'s schema (renamed or "
            "dropped) — rebuild it with build_value_index on the "
            "current column name"
        )
    born = m.get("born") or {}
    fresh = [f for f in m["files"] if born.get(f, 0) > covered]
    new_v = int(m["version"])
    if not fresh:
        return covered
    delta = _value_incidences(spark, table_path, m, fresh, col)
    commit_delta(
        spark, index_path, delta, list(mi["files"]),
        stat_cols=[col], update_key_ranges={},
        base_version=mi.get("version"),
        index_of={"col": col, "version": new_v},
    )
    return new_v


def indexed_point_files(
    spark: SparkSession,
    table_path: str,
    index_path: str,
    indexed_version: int | None,
    col: str,
    value,
) -> tuple[dict, list[str], int]:
    """Resolve the file set an indexed probe must scan: the index's
    files for ``value`` (intersected with the current live set — the
    index may name files a later compaction retired) plus every file
    born AFTER the indexed version (unindexed by construction).
    ``indexed_version=None`` resolves the covered version from the
    index manifest's ``index_of`` record. Returns (manifest, target
    files, live file count).

    Raises when ``col`` no longer exists in the base schema (renamed
    or dropped): the index's recorded incidences key on the OLD
    physical name, so a probe under the new name would silently skip
    indexed files — rebuild the index instead."""
    m = read_manifest(spark, table_path)
    if col not in {f["name"] for f in m["schema"]["fields"]}:
        raise ValueError(
            f"value index {index_path} probes column {col!r}, which no "
            f"longer exists in {table_path}'s schema (renamed or "
            "dropped) — rebuild it with build_value_index on the "
            "current column name"
        )
    if indexed_version is None:
        indexed_version = int(
            (read_manifest(spark, index_path).get("index_of") or {})
            .get("version", 0)
        )
    hits = read_table_point(spark, index_path, {col: value})
    indexed_files = {r["file"] for r in hits.select("file").collect()}
    born = m.get("born") or {}
    live = list(m["files"])
    fresh = {f for f in live if born.get(f, 0) > indexed_version}
    targets = sorted((indexed_files & set(live)) | fresh)
    return m, targets, len(live)


def read_table_point_indexed(
    spark: SparkSession,
    table_path: str,
    index_path: str,
    indexed_version: int | None,
    col: str,
    value,
) -> DataFrame:
    """Point lookup on a non-cluster column THROUGH a
    :func:`build_value_index` artifact: probe the index (itself a
    pruned point lookup), read only the named files plus the
    unindexed tail born after the covered version (``None`` = read it
    from the index manifest), and filter exactly. Correct against
    concurrent appends without an index rebuild; a compaction that
    rewrote indexed files degrades to scanning the fresh (rewritten)
    files, never to a wrong answer — and
    :func:`refresh_value_index` (scheduled by :func:`maintain_table`)
    restores pruned probes after one."""
    m, targets, _ = indexed_point_files(
        spark, table_path, index_path, indexed_version, col, value
    )
    return _read_files(spark, table_path, m, targets).filter(
        F.col(col) == F.lit(value)
    )


def compact_table(
    spark: SparkSession,
    table_path: str,
    *,
    stat_cols: list[str] | None = None,
    n_files: int | None = None,
    cluster_curve: str | None = None,
) -> int:
    """Rewrite the table's current version as one freshly-clustered
    snapshot and commit it as the next version. The maintenance
    counterpart of :func:`commit_delta`: a long merge history leaves
    (a) many small delta files whose open/footer cost starts to
    dominate scans and (b) data dirs that are only partially live
    (vacuum deletes dir-granular, so files shadowed by later merges
    linger on disk until no manifest references their dir). One
    compaction re-clusters everything on ``stat_cols`` (default: the
    manifest's stat columns) into range-disjoint files, after which
    ``vacuum`` can retire every pre-compaction dir. Readers are never
    disturbed: this is an ordinary atomic commit. Returns the new
    version.

    The rows come from the manifest the compaction resolved, and the
    commit rebases from that same manifest: reading the latest version
    again would fold in an append that landed between the two reads
    and then keep that append's files a second time on rebase."""
    manifest = read_manifest(spark, table_path)
    cols = stat_cols if stat_cols is not None else (manifest.get("stat_cols") or [])
    df = _read_files(spark, table_path, manifest, manifest["files"])
    nf = n_files if n_files is not None else 8
    if not cols:
        # no clustering columns: plain file-count compaction
        df = df.repartition(nf)
        nf = None
    # passing n_files forces the clustered path even for small tables:
    # compaction's whole point is the layout. update_key_ranges={}:
    # compaction makes no claim about rows it didn't read, so a
    # concurrent pure APPEND rebases cleanly (its files are kept on
    # top of the compacted layout); a concurrent MERGE that rewrote
    # any compacted input still conflicts via the rewritten-set check.
    return commit_delta(
        spark, table_path, df, [], stat_cols=cols, n_files=nf,
        base_version=manifest.get("version"), base_manifest=manifest,
        update_key_ranges={},
        # None: cluster_curve inherits from the manifest (zorder stays
        # zorder); an explicit value re-clusters onto a new curve — the
        # OPTIMIZE ZORDER / back-to-range maintenance entry point
        cluster_curve=cluster_curve,
        # read-only rewrite: visible rows are unchanged (pending MoR
        # deletes were already applied logically at THEIR commit; the
        # fold just materializes them) — the change feed skips it
        data_change=False,
    )


def compact_small_files(
    spark: SparkSession,
    table_path: str,
    *,
    min_file_mb: float = 8.0,
    stat_cols: list[str] | None = None,
) -> tuple[int, int] | None:
    """Incremental compaction: rewrite ONLY the current version's
    files smaller than ``min_file_mb`` into one consolidated delta,
    carrying every adequately-sized file over untouched — the
    steady-state maintenance pass for a table accruing per-commit
    deltas (a daily CDC feed leaves one small file per merge; a full
    :func:`compact_table` rewrite of a 100 TB table to fix kilobytes
    of fragmentation would be absurd). The consolidated file spans the
    union of the small files' key ranges, so point-lookup pruning
    coarsens slightly for those keys until the next full compaction —
    stats stay CORRECT (footer-derived), just wider. Returns
    (n_rewritten, n_kept), or None when fewer than two files are under
    the threshold (nothing to consolidate — a no-op, no new version)."""
    manifest = read_manifest(spark, table_path)
    limit = int(min_file_mb * 1024 * 1024)
    small, big = [], []
    small_bytes = 0
    for f in manifest["files"]:
        n = manifest["sizes"][f]  # commit-time recorded size
        if n < limit:
            small.append(f)
            small_bytes += n
        else:
            big.append(f)
    if len(small) < 2:
        return None
    cols = stat_cols if stat_cols is not None else (manifest.get("stat_cols") or [])
    # pin the consolidated file count to the byte volume (~128 MB
    # targets) — but ONLY for consolidations big enough to amortize
    # the clustered path (range-partitioner sampling, persist, bloom
    # footers): without the pin a >64 MB consolidation would take
    # commit_delta's clustered path at the session's shuffle
    # parallelism and could re-fragment exactly what this pass is
    # meant to consolidate. KB-scale consolidations (the steady-state
    # CDC case) keep the cheap coalesce + sorted small-commit path.
    n_out = max(1, -(-small_bytes // (128 * 1024 * 1024)))  # ceil div
    pin = bool(cols) and small_bytes > 64 * 1024 * 1024
    df = _read_files(spark, table_path, manifest, small)
    if not pin:
        df = df.coalesce(n_out)
    commit_delta(
        spark, table_path, df, big, stat_cols=cols,
        n_files=n_out if pin else None,
        base_version=manifest.get("version"), base_manifest=manifest,
        update_key_ranges={},
        data_change=False,  # read-only rewrite: the change feed skips it
    )
    return len(small), len(big)


def maintain_table(
    spark: SparkSession,
    table_path: str,
    *,
    min_file_mb: float = 8.0,
    max_small_files: int = 8,
    max_pending_deletes: int = 4,
    keep_versions: int = 4,
    retention_minutes: float = 15.0,
    value_indexes: list[str] | None = None,
) -> dict:
    """The auto-maintenance policy a merge pipeline schedules after
    its commits (Delta's OPTIMIZE + VACUUM cadence, decided from the
    manifest alone — no data scan unless work is actually due):

    - consolidate small files once more than ``max_small_files``
      delta fragments are under ``min_file_mb``
      (:func:`compact_small_files`); file sizes come from the
      manifest's ``sizes`` record (written at commit time from the
      same directory listing that named the files), so the decision
      costs zero FS RPCs;
    - fold pending merge-on-read deletes into a full re-cluster once
      more than ``max_pending_deletes`` entries accrue — each entry
      is a per-read anti-join on its targeted files, so unbounded
      accrual taxes every scan (:func:`compact_table`);
    - refresh each registered secondary index in ``value_indexes``
      (:func:`refresh_value_index`) AFTER any compaction — the
      rewrite re-births every output file, so an unrefreshed index
      would degrade every probe to scanning the whole post-compaction
      tail until a manual rebuild; the refresh scans only the files
      born since the index's covered version (a no-op commit-free
      pass when nothing changed);
    - vacuum to the last ``keep_versions`` versions, with
      ``retention_minutes`` of grace for in-flight commits'
      not-yet-published files (see :func:`vacuum`).

    Returns {"compacted_small": (n_rewritten, n_kept) | None,
    "folded_deletes": bool, "refreshed_indexes": {path: version},
    "vacuumed": [versions]} describing what ran. Safe to call from a
    second writer PROVIDED
    ``retention_minutes`` exceeds the longest concurrent commit's
    write time: both compactions commit through the CAS (adds-ok
    mode), so racing ingest either rebases over them or they abort
    loudly and the next cycle retries, and the vacuum grace keeps a
    racing commit's pre-publish files out of the sweep."""
    manifest = read_manifest(spark, table_path)
    out: dict = {"compacted_small": None, "folded_deletes": False,
                 "refreshed_indexes": {}, "vacuumed": []}
    if len(manifest.get("deletes") or []) > max_pending_deletes:
        compact_table(spark, table_path)
        out["folded_deletes"] = True
    else:
        limit = int(min_file_mb * 1024 * 1024)
        n_small = sum(
            1 for f in manifest["files"] if manifest["sizes"][f] < limit
        )
        if n_small > max_small_files:
            out["compacted_small"] = compact_small_files(
                spark, table_path, min_file_mb=min_file_mb
            )
    for idx_path in value_indexes or []:
        out["refreshed_indexes"][idx_path] = refresh_value_index(
            spark, table_path, idx_path
        )
    out["vacuumed"] = vacuum(
        spark, table_path, keep_last=keep_versions,
        retention_minutes=retention_minutes,
    )
    return out


def table_history(spark: SparkSession, table_path: str) -> list[dict]:
    """DESCRIBE HISTORY equivalent: one dict per readable version,
    oldest first — version number, data-file count, total data bytes,
    pending merge-on-read delete entries (and how many data files they
    target), and the declared stat/cluster columns. All driver-side
    manifest metadata (bytes are the commit-time recorded sizes); no
    Spark job and no file stat. The operational companion to time
    travel: pick a version to pin, estimate a vacuum's reclaim, or see
    how much of the table a pending delete still masks. One version
    listing, one read per manifest and one per DISTINCT chunk (carried
    chunks repeat across a merge history)."""
    out = []
    sizes: dict[str, int] = {}
    chunk_files: dict[str, list[str]] = {}  # carried chunks repeat
    for v in _manifest_versions(spark, table_path):  # ONE listing
        m = _read_manifest_file(spark, table_path, v)
        if "chunks" in m:
            files = []
            for e in m["chunks"]:
                if e["file"] not in chunk_files:
                    cdoc = _read_json(spark, table_path, e["file"])
                    chunk_files[e["file"]] = cdoc["files"]
                    sizes.update(cdoc.get("sizes") or {})
                files.extend(chunk_files[e["file"]])
        else:
            files = m["files"]
            sizes.update(m.get("sizes") or {})
        nbytes = sum(sizes[f] for f in files)
        deletes = m.get("deletes") or []
        out.append(
            {
                "version": v,
                "n_files": len(files),
                "bytes": nbytes,
                "n_delete_entries": len(deletes),
                "n_delete_targets": len(
                    {t for d in deletes for t in d["targets"]}
                ),
                "stat_cols": m.get("stat_cols") or [],
            }
        )
    return out


def vacuum(
    spark: SparkSession,
    table_path: str,
    keep_last: int = 2,
    retention_minutes: float = 15.0,
    extra_pins: set | None = None,
    retain_hours: float | None = None,
) -> list[int]:
    """Drop all but the newest ``keep_last`` versions: their manifests,
    and any data dir no kept manifest references a single file of
    (including orphans from failed commits). Deletion stays
    dir-granular: a dir with even one still-referenced file survives
    whole (its dead files are reclaimed when a later compaction
    rewrites that key range). Returns the removed versions. Run only
    when no reader is pinned to a dropped version.

    CONCURRENT-WRITER SAFETY (the Delta VACUUM retention contract):
    an in-flight commit materializes its data dir and chunk files
    BEFORE the manifest rename publishes them, so to an unsynchronized
    vacuum they look like orphans. Two guards make the race benign:

    - a RETENTION GRACE: data dirs / chunk files younger than
      ``retention_minutes`` are never deleted, so an unpublished
      commit's files survive any vacuum that starts while it is in
      flight (pick a retention comfortably above the longest commit's
      write time; ``retention_minutes=0`` restores the old
      exclusive-access behavior for tests and offline maintenance);
    - a VERSION RE-LIST: after computing the kept set from the
      manifests read first, the version listing is repeated and any
      version published in between contributes its references to the
      kept set too — otherwise the sweep could delete files of a
      commit that published mid-vacuum (its files may be older than
      the grace window when they were carried from a dropped
      version's dir... they cannot be: carried files live in dirs the
      base version references, and the base is within keep_last of
      any version publishable mid-vacuum only if it was kept — the
      re-list closes the remaining window where the NEW version's own
      fresh references would be missed).

    ``retain_hours`` is the AGE-BASED retention contract production
    tables actually sign ("history stays queryable for 7 days"): every
    version PUBLISHED within the window is kept, PLUS the newest
    version published before it — exactly the set
    :func:`version_at_timestamp` needs so that ``TIMESTAMP AS OF`` any
    instant inside the window keeps resolving (a probe at the window's
    edge resolves to the newest pre-window version). Composes with
    ``keep_last`` (both keep sets union) and with every pin."""
    import time

    jvm, fs, _ = _fs(spark, table_path)
    versions = _manifest_versions(spark, table_path)
    keep = versions[-keep_last:] if keep_last > 0 else []
    if retain_hours is not None:
        cutoff_ms = time.time() * 1000.0 - retain_hours * 3_600_000.0
        pub = _manifest_publish_times(spark, table_path)
        recent = {v for v, t in pub.items() if t >= cutoff_ms}
        older = [v for v, t in pub.items() if t < cutoff_ms]
        if older:
            # the version a TIMESTAMP AS OF probe at the window edge
            # resolves to — without it the oldest in-window instant
            # would raise instead of serving the then-current snapshot
            recent.add(max(older))
        keep = sorted(set(keep) | recent)
    # TAGGED versions are pinned: their manifests survive any keep_last
    # and their files are protected — a tag is a promise that the exact
    # bytes stay resolvable (drop_tag releases the pin). ``extra_pins``
    # extends the same promise to externally-held references — pass
    # ``txn.txn_pinned_versions(...)`` so versions a transaction log
    # still names survive retention (expire_txns releases them).
    tagged = set(list_tags(spark, table_path).values())
    keep = sorted(
        set(keep) | ((tagged | set(extra_pins or ())) & set(versions))
    )
    dropped = [v for v in versions if v not in keep]
    kept_dirs = set()
    kept_chunks = set()

    def _protect(v: int, ref: str = "main") -> None:
        m = read_manifest(spark, table_path, v, ref)
        kept_chunks.update(
            e["file"].rsplit("/", 1)[-1] for e in m.get("chunks") or []
        )
        # foreign (shallow-clone) entries live under the SOURCE table
        # and are never candidates in the local sweep below —
        # protecting them here would only pollute kept_dirs
        kept_dirs.update(
            f.split("/")[1]
            for f in m["files"]
            if "/" in f and not M.is_foreign(f)
        )
        # merge-on-read delete key files are data too: retiring one
        # that a kept manifest still references would resurrect rows
        kept_dirs.update(
            d["file"].split("/")[1]
            for d in m.get("deletes") or []
            if not M.is_foreign(d["file"])
        )

    for v in keep:
        _protect(v)
    # live BRANCHES pin their references too (every branch version —
    # branches are short-lived staging lines that fast_forward or
    # drop_branch retires; vacuum never ages them out itself, or a
    # long-running audit would watch its staged files vanish)
    seen_branch: set = set()
    for bname, bvers in list_branches(spark, table_path).items():
        for bv in bvers:
            try:
                _protect(bv, bname)
            except Exception as ex:
                # branch retired mid-vacuum (fast_forward/drop_branch):
                # surfaces as missing-manifest ValueError (gone before
                # the version listing) or a FileNotFound (gone between
                # listing and open); a fast-forwarded version
                # re-protects via the main re-list below. Anything else
                # (transient FS/RPC) must abort the vacuum rather than
                # sweep a live branch's files.
                if not (
                    isinstance(ex, ValueError) or _is_missing_file_error(ex)
                ):
                    raise
            seen_branch.add((bname, bv))
    # buffer the raw docs before deleting: a tag created concurrently
    # for an about-to-drop version (legal — its manifest still exists
    # when create_tag validates) is detected by the tag re-list below,
    # and the buffered doc lets the manifest be RESTORED instead of
    # leaving the new tag dangling
    dropped_docs = {v: _read_manifest_file(spark, table_path, v) for v in dropped}
    for v in dropped:
        fs.delete(
            jvm.org.apache.hadoop.fs.Path(
                f"{table_path}/{M.manifest_rel(v)}"
            ),
            False,
        )
    # re-list AFTER the kept set is computed: a version published by a
    # concurrent writer between the first listing and the sweep below
    # must have its references protected too
    for v in _manifest_versions(spark, table_path):
        if v not in versions:
            _protect(v)
    for bname, bvers in list_branches(spark, table_path).items():
        for bv in bvers:
            if (bname, bv) not in seen_branch:
                try:
                    _protect(bv, bname)
                except Exception as ex:
                    if not (
                        isinstance(ex, ValueError)
                        or _is_missing_file_error(ex)
                    ):
                        raise
    # tag re-list: restore any dropped manifest a concurrent create_tag
    # pinned mid-vacuum, and protect its references before the sweep
    for tv in set(list_tags(spark, table_path).values()) - tagged:
        if tv in dropped_docs:
            try:
                _write_manifest(spark, table_path, tv, dropped_docs[tv])
            except CommitConflictError:
                pass  # someone else already restored it
            _protect(tv)
            dropped.remove(tv)
    cutoff_ms = (time.time() - retention_minutes * 60.0) * 1000.0

    def _dir_is_old(st) -> bool:
        # Age a candidate dir by the NEWEST timestamp inside it, not
        # the dir's own mtime: object stores report synthetic mtimes
        # (0 or listing time) for pseudo-directories, which would make
        # the grace either inert (everything "old" — sweeping an
        # in-flight commit's files) or absolute (everything "young" —
        # never reclaiming). File mtimes are real on every store. One
        # listing per DELETION CANDIDATE only — kept dirs never pay it.
        newest = st.getModificationTime()
        try:
            for child in fs.listStatus(st.getPath()):
                m = child.getModificationTime()
                if m > newest:
                    newest = m
        except Exception:
            # incomplete age evidence (transient listing failure, or
            # listed-then-deleted by a concurrent actor): treat the dir
            # as YOUNG so it is retried next cycle — judging it by its
            # own mtime alone would re-open the synthetic-mtime race
            # this whole listing exists to close
            return False
        return newest < cutoff_ms

    ddir = jvm.org.apache.hadoop.fs.Path(f"{table_path}/{DATA_DIR}")
    if fs.exists(ddir):
        for st in fs.listStatus(ddir):
            if st.getPath().getName() not in kept_dirs and _dir_is_old(st):
                fs.delete(st.getPath(), True)
    cdir = jvm.org.apache.hadoop.fs.Path(f"{table_path}/{MANIFEST_DIR}/chunks")
    if fs.exists(cdir):
        for st in fs.listStatus(cdir):
            if (
                st.getPath().getName() not in kept_chunks
                and st.getModificationTime() < cutoff_ms
            ):
                fs.delete(st.getPath(), False)
    return dropped
