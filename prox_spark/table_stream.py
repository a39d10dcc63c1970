"""Table-as-stream source: incremental Structured-Streaming reads of
the manifest-log table format (prox_spark/table.py) — the read-side
complement of the foreachBatch sinks in prox_spark/streaming.py, and
the Delta/Iceberg streaming-source parity piece: every committed
version's ADDED files become one micro-batch, offsets are table
versions, and Spark's own checkpoint machinery gives resume/replay.

Implemented on PySpark 4's Python Data Source API
(`pyspark.sql.datasource.DataSourceStreamReader`): offsets resolve on
the driver by listing the `_manifests` dir (pure-metadata, no Spark
job), partitions are the data files born at each new version, and
executors read them as Arrow record batches (pyarrow — vectorized,
never row-at-a-time Python).

Semantics (matching Delta's streaming source):

- APPEND commits stream their new files' rows, exactly once per
  committed version (offset = last processed version).
- CHANGE commits — a compaction/merge that REMOVED files, or a new
  merge-on-read delete entry — are not expressible as an append
  stream. They raise by default; ``skipChangeCommits=true`` skips the
  whole commit (Delta's option of the same name). A compaction's
  rewrite outputs are NOT re-streamed under skip — they carry rows
  already delivered.
- SCHEMA changes mid-stream (rename/drop/add evolution) raise — the
  stream's output schema is pinned at start; restart to pick up the
  new schema (Delta behaviour).

Scale notes: offset resolution is O(new manifests) of driver-side
metadata IO per trigger; each micro-batch reads only the files the
new versions added (work ∝ commit volume, never table size); file
listing and JSON reads go through ``pyarrow.fs`` resolved from the
table URI, so the same code paths work on local FS and object
stores. Chunked (v2) manifests resolve through their chunk files —
but only the chunks a new commit WROTE need reading in steady state
(the born-map diff is what the partitions need).
"""

from __future__ import annotations

import json
import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

from prox_spark import manifest as M
from prox_spark.manifest import CHANGE_TYPE_COL, COMMIT_VERSION_COL

# --- worker-side IO: the pyarrow.fs adapter over the manifest codec -------
#
# Python Data Source workers have no JVM, so the stream source and the
# prox_table connector list and read table metadata through pyarrow.fs;
# every name, version and document rule comes from prox_spark.manifest.


def _fs_base(path: str):
    """(pyarrow FileSystem, base path) for a table URI — LocalFileSystem
    for plain/``file:`` paths, the scheme's FS otherwise."""
    from pyarrow import fs as pafs

    if "://" in path:
        return pafs.FileSystem.from_uri(path)
    return pafs.LocalFileSystem(), os.path.abspath(M.local_path(path))


def read_json(path: str, rel: str) -> dict:
    fs, base = _fs_base(path)
    with fs.open_input_file(f"{base}/{rel}") as f:
        return json.loads(f.read().decode("utf-8"))


def write_json(path: str, rel: str, doc: dict) -> None:
    fs, base = _fs_base(path)
    target = f"{base}/{rel}"
    fs.create_dir(os.path.dirname(target), recursive=True)
    with fs.open_output_stream(target) as f:
        f.write(json.dumps(doc).encode("utf-8"))


def _manifest_listing(path: str) -> dict[str, float]:
    """{filename: modification time (epoch ms)} of ``_manifests``."""
    from pyarrow import fs as pafs

    fs, base = _fs_base(path)
    sel = pafs.FileSelector(f"{base}/{M.MANIFEST_DIR}", allow_not_found=True)
    return {
        os.path.basename(i.path): i.mtime_ns / 1e6
        for i in fs.get_file_info(sel)
    }


def list_versions(path: str, ref: str = "main") -> list[int]:
    return M.versions_in(_manifest_listing(path), ref)


def load_manifest(path: str, version: int | None = None,
                  ref: str = "main") -> dict:
    """The assembled manifest of ``version`` (default: the latest) on
    ``ref``; FileNotFoundError when that version is gone."""
    if version is None:
        versions = list_versions(path, ref)
        if not versions:
            raise ValueError(f"{path} has no manifests for ref {ref!r}")
        version = versions[-1]
    doc = read_json(path, M.manifest_rel(version, ref))
    return M.assemble(doc, lambda rel: read_json(path, rel))


def resolve_timestamp(path: str, ts_ms: float, ref: str = "main") -> int:
    """TIMESTAMP AS OF against the manifests' publish times."""
    times = _manifest_listing(path)
    return M.version_at(
        {v: times[n] for v, n in M.parse_versions(times, ref).items()},
        ts_ms, path, ref,
    )


def resolve_tag(path: str, name: str) -> int:
    try:
        return int(read_json(path, M.tag_rel(name))["version"])
    except FileNotFoundError:
        raise ValueError(f"tag {name!r} does not exist on {path}") from None


def _checkpoint_committed_offset(checkpoint: str) -> int | None:
    """The last COMMITTED table version in a streaming checkpoint over
    a single prox_table_changes source: batch B is committed iff
    ``commits/B`` exists, and its end offset is the LAST line of
    ``offsets/B`` (Spark's OffsetSeqLog format: "v1", the metadata
    JSON, then one offset JSON per source). None before the first
    committed batch. Pure metadata through pyarrow.fs — works from
    the data-source worker process and on object stores."""
    from pyarrow import fs as pafs

    fs, base = _fs_base(checkpoint)
    sel = pafs.FileSelector(f"{base}/commits", allow_not_found=True)
    batches = [
        int(os.path.basename(info.path))
        for info in fs.get_file_info(sel)
        if os.path.basename(info.path).isdigit()
    ]
    if not batches:
        return None
    with fs.open_input_file(f"{base}/offsets/{max(batches)}") as f:
        lines = [
            ln for ln in f.read().decode("utf-8").splitlines() if ln.strip()
        ]
    return int(json.loads(lines[-1])["version"])


def _delete_sig(doc: dict) -> list:
    return sorted(d["file"] for d in (doc.get("deletes") or []))


def _schema_sig(schema_json: dict | None) -> list:
    """(name, type) pairs only — nullability and metadata flip freely
    on rewrites (a parquet read-back reports everything nullable), and
    neither changes what a streaming consumer receives."""
    return [
        (f.get("name"), json.dumps(f.get("type"), sort_keys=True))
        for f in (schema_json or {}).get("fields", [])
    ]


def _keys_df(path: str, keys: list[str]):
    import pyarrow.parquet as pq

    return (
        pq.read_table(path, columns=keys)
        .to_pandas()
        .drop_duplicates()
    )


def _mask_rows(t, anti, semi):
    """Filter an Arrow table by merge-on-read key files: drop rows
    matching any ``anti`` (key-file, keys) entry, keep only rows
    matching the ``semi`` entry when given. Key matching is vectorized
    through a pandas merge over the KEY columns + a row index only —
    payload columns never round-trip through pandas."""
    import pyarrow as pa

    key_cols = sorted(
        {k for _, ks in anti for k in ks}
        | set(semi[1] if semi else [])
    )
    tdf = t.select(key_cols).to_pandas()
    tdf["__i"] = range(len(tdf))
    for kpath, ks in anti:
        m = tdf.merge(_keys_df(kpath, ks), on=ks, how="left", indicator=True)
        tdf = m[m["_merge"] == "left_only"].drop(columns="_merge")
    if semi is not None:
        kpath, ks = semi
        tdf = tdf.merge(_keys_df(kpath, ks), on=ks, how="inner")
    return t.take(pa.array(tdf["__i"].to_numpy()))


def _entries_for(
    man: dict, f: str, path: str
) -> list[tuple[str, list[str]]]:
    """The merge-on-read delete entries of manifest ``man`` that
    target file ``f``, as (key-file path, keys) pairs."""
    return [
        (M.local_file(path, d["file"]), list(d["keys"]))
        for d in M.deletes_for(man, f)
    ]


class _FilesPartition(InputPartition):
    """Plain append-stream partition. ``anti``: merge-on-read delete
    entries to mask out at read time — non-empty only for a shallow
    clone's genesis snapshot, whose first manifest may CARRY the
    source's pending deletes."""

    def __init__(
        self,
        paths: list[str],
        fields: list[str],
        anti: list[tuple[str, list[str]]] | None = None,
    ):
        self.paths = paths
        self.fields = fields
        self.anti = anti or []


class _ChangePartition(InputPartition):
    """One file's contribution to the CHANGE FEED of one commit:
    ``anti`` = (key-file, keys) pairs whose rows must be masked out
    (prior merge-on-read deletes — reconstructs visibility), ``semi``
    = the new delete entry whose key set selects the rows this commit
    deleted (None for plain insert/delete-of-removed-file parts)."""

    def __init__(
        self,
        paths: list[str],
        fields: list[str],
        change_type: str,
        version: int,
        anti: list[tuple[str, list[str]]] | None = None,
        semi: tuple[str, list[str]] | None = None,
    ):
        self.paths = paths
        self.fields = fields
        self.change_type = change_type
        self.version = version
        self.anti = anti or []
        self.semi = semi


class TableChangesStreamReader(DataSourceStreamReader):
    """Offsets are ``{"version": last_processed}``; a batch covers
    versions (start, end] and its partitions are the files born in
    that range. ``maxVersionsPerBatch`` paces catch-up reads (the
    maxFilesPerTrigger analogue) by capping how far latestOffset runs
    ahead of the last end it returned.

    OPERATIONAL CAVEAT: Spark's Python DataSource streams do not
    support Trigger.AvailableNow — MicroBatchExecution logs a warning
    and falls back to SINGLE-BATCH execution per start, and it calls
    latestOffset() BEFORE initialOffset(), so the pacing floor is
    unknown on that one batch and ``maxVersionsPerBatch`` alone does
    not bind it (the start drains to head, unpaced). To pace
    availableNow starts, also pass ``paceFromCheckpoint`` = the
    query's own checkpoint dir: the reader then seeds the floor from
    the checkpoint's committed offset (or startingVersion before the
    first commit) and each start drains exactly one capped batch —
    loop starts until caught up with
    :func:`prox_spark.streaming.drain_table_stream`. A paced
    CONTINUOUS (processingTime) stream drains fully either way, one
    capped batch per trigger after the first."""

    def __init__(self, schema: StructType, options: dict):
        # DSv2 hands options through a case-insensitive map that
        # lower-cases keys — normalize before lookup
        options = {k.lower(): v for k, v in options.items()}
        self._path = options["path"]
        self._schema = schema
        self._cdf = (
            str(options.get("readchangefeed", "false")).lower() == "true"
        )
        # the stream's pinned schema contract (names+types): commits
        # whose declared schema deviates from it raise. In change-feed
        # mode the two feed columns are OURS, not the table's — strip
        # them from the contract (and from what executors read).
        table_fields = [
            f for f in schema.fields
            if not (self._cdf and f.name in (CHANGE_TYPE_COL, COMMIT_VERSION_COL))
        ]
        self._fields = [f.name for f in table_fields]
        self._schema_json = [
            (f.name, json.dumps(f.dataType.jsonValue(), sort_keys=True))
            for f in table_fields
        ]
        self._skip_changes = (
            str(options.get("skipchangecommits", "false")).lower() == "true"
        )
        self._fail_on_data_loss = (
            str(options.get("failondataloss", "true")).lower() != "false"
        )
        self._allow_evolution = (
            str(options.get("allowschemaevolution", "false")).lower()
            == "true"
        )
        # pinned columns that are the TARGET of a live rename (or a
        # recorded drop): a version whose schema lacks such a column
        # predates the rename/drop — NULL back-filling it would
        # fabricate data, so those raise even under evolution. Live
        # records come from the head manifest (carried until a
        # compaction retires them, which also rewrites the old files).
        self._evolution_guards: set[str] = set()
        if self._allow_evolution:
            versions = list_versions(self._path)
            if versions:
                head = load_manifest(self._path, versions[-1])
                pinned_names = {
                    f.name for f in schema.fields
                }
                self._evolution_guards = (
                    {r["to"] for r in head.get("renames") or []}
                    | {d["col"] for d in head.get("dropped_cols") or []}
                ) & pinned_names
        self._start_v = int(options.get("startingversion", 0))
        self._max_versions = int(options.get("maxversionsperbatch", 0))
        self._pace_ckpt = options.get("pacefromcheckpoint")
        self._last_end: int | None = None

    def initialOffset(self) -> dict:
        # only a genuinely FRESH query asks for the initial offset
        # (restarts recover it from the checkpoint instead), so this is
        # the one place startingVersion may seed the pacing floor
        self._advance_floor(self._start_v)
        return {"version": self._start_v}

    def _advance_floor(self, v: int) -> None:
        # high-water mark for the pacing floor: never below an offset
        # Spark has already planned or committed — after checkpoint
        # recovery the recovered batch's end (seen via partitions()/
        # commit()) re-seeds it, so latestOffset can never regress
        # behind the checkpoint and re-deliver processed versions
        if self._last_end is None or v > self._last_end:
            self._last_end = v

    def latestOffset(self) -> dict:
        versions = list_versions(self._path)
        latest = versions[-1] if versions else self._start_v
        # pace only once a floor is known: on the FIRST trigger after a
        # (re)start self._last_end is None and the true floor lives in
        # the checkpoint, which partitions() sees, not this method — a
        # capped guess here could fall BEHIND the committed offset and
        # re-deliver processed versions (the restart duplicate bug).
        # With ``paceFromCheckpoint`` the caller hands this reader its
        # own checkpoint dir, so the committed floor IS knowable here
        # and pacing binds on the first trigger too — which is the
        # ONLY trigger under availableNow's single-batch fallback, so
        # this is what makes maxVersionsPerBatch compose with paced
        # catch-up runs (drain_table_stream loops such starts).
        if (
            self._max_versions > 0
            and self._last_end is None
            and self._pace_ckpt
        ):
            committed = _checkpoint_committed_offset(self._pace_ckpt)
            floor = (
                self._start_v
                if committed is None
                else max(int(committed), self._start_v)
            )
            self._advance_floor(floor)
        if self._max_versions > 0 and self._last_end is not None:
            latest = min(latest, self._last_end + self._max_versions)
            latest = max(latest, self._last_end)
        self._advance_floor(latest)
        return {"version": latest}

    def _load_or_lose(self, v: int) -> dict | None:
        """Manifest ``v``, or None when it was vacuumed and
        ``failOnDataLoss=false`` opted into skipping the gap."""
        try:
            return load_manifest(self._path, v)
        except FileNotFoundError as ex:
            if self._fail_on_data_loss:
                raise RuntimeError(
                    f"manifest for version {v} of {self._path} no longer "
                    "exists (vacuumed past the stream's lag). Keep the "
                    "source table's vacuum keep_versions above the maximum "
                    "stream lag, or set failOnDataLoss=false to skip the "
                    "missing versions (their rows are lost to the stream)."
                ) from ex
            import warnings

            warnings.warn(
                f"prox_table_changes: skipping vacuumed version {v} of "
                f"{self._path} (failOnDataLoss=false) — its rows are lost "
                "to the stream",
                stacklevel=2,
            )
            return None

    def partitions(self, start: dict, end: dict):
        s, e = int(start["version"]), int(end["version"])
        self._advance_floor(e)
        path = self._path
        parts: list[InputPartition] = []
        # a SHALLOW CLONE's history begins at src_version+1, so offsets
        # below its first manifest never existed — distinguish that
        # (snap the start to the clone base and stream the base as the
        # genesis snapshot, Delta's clone-stream behavior) from a
        # genuinely vacuumed gap, which must keep raising data-loss
        clone_base = None
        versions = list_versions(self._path)
        if versions and s < versions[0]:
            first_doc = load_manifest(self._path, versions[0])
            if first_doc.get("cloned_from"):
                s = versions[0] - 1
                clone_base = versions[0]
        prev = (
            {}
            if s == 0 or clone_base is not None
            else self._load_or_lose(s)
        )
        for v in range(s + 1, e + 1):
            doc = self._load_or_lose(v)
            if doc is None:
                # vacuumed gap under failOnDataLoss=false: prev becomes
                # unknown — change detection resumes at the next
                # loadable version against the last manifest we saw
                prev = None
                continue
            self._check_schema(doc, v)
            if self._cdf:
                if doc.get("data_change") is not False:
                    parts.extend(self._cdf_parts(prev, doc, v))
                prev = doc
                continue
            cur_files = doc.get("files") or []
            if prev is None or v == clone_base:
                # no diff is possible (the previous manifest was
                # vacuumed under failOnDataLoss=false), or this IS the
                # clone's genesis manifest: a clone's first version is
                # a SNAPSHOT by construction — its delete signature
                # differs from the empty prev only because it CARRIES
                # the source's pending merge-on-read entries, which
                # the delivery below applies rather than classifying
                # the snapshot as a change commit
                changed = False
            else:
                removed = set(prev.get("files") or []) - set(cur_files)
                changed = (
                    bool(removed) or _delete_sig(doc) != _delete_sig(prev)
                )
            if changed and not self._skip_changes:
                raise RuntimeError(
                    f"version {v} of {self._path} is not an append commit "
                    "(files removed or merge-on-read deletes added); the "
                    "rows already streamed would be rewritten. Set "
                    "skipChangeCommits=true to skip such commits, or "
                    "readChangeFeed=true to stream them as signed rows."
                )
            if not changed:
                born = doc.get("born") or {}
                if v == clone_base:
                    # the clone's carried born values are SRC-relative
                    # (always < v): the base snapshot is this stream's
                    # genesis, deliver every file — with any carried
                    # merge-on-read deletes APPLIED (per-file anti
                    # entries), matching what a batch read of the
                    # clone serves
                    for f in cur_files:
                        parts.append(
                            _FilesPartition(
                                [M.local_file(path, f)],
                                list(self._fields),
                                anti=_entries_for(doc, f, path),
                            )
                        )
                else:
                    fresh = [f for f in cur_files if born.get(f, 0) == v]
                    if fresh:
                        parts.append(
                            _FilesPartition(
                                [M.local_file(path, f) for f in fresh],
                                list(self._fields),
                            )
                        )
            prev = doc
        return parts

    def _check_schema(self, doc: dict, v: int) -> None:
        """Guard version ``v``'s declared schema against the stream's
        pinned contract. Identical → fine. Under
        ``allowSchemaEvolution=true``, ADD-column drift is survivable
        both ways: pinned columns a version lacks (commits predating
        the add, when the stream pinned the WIDENED schema) back-fill
        NULL at read time, and columns a version adds beyond the pin
        are projected away until a restart widens the output (Spark
        cannot change a running query's schema). Rename, drop, and
        type changes still raise — NULL-filling those would silently
        fabricate data."""
        sig = _schema_sig(doc.get("schema"))
        if sig == self._schema_json:
            return
        if not self._allow_evolution:
            raise RuntimeError(
                f"table schema changed at version {v}; restart the "
                "stream to pick up the new schema (or set "
                "allowSchemaEvolution=true to continue through "
                "add-column evolution)"
            )
        have = dict(sig)
        pinned = dict(self._schema_json)
        missing = set(pinned) - set(have)
        renamed = (
            {r["from"] for r in doc.get("renames") or []}
            | {
                r["to"] for r in doc.get("renames") or []
            }
            | self._evolution_guards
        ) & set(pinned)
        dropped = {
            d["col"] for d in doc.get("dropped_cols") or []
        } & set(pinned)
        bad = sorted((renamed | dropped) & missing)
        if bad:
            raise RuntimeError(
                f"column(s) {bad} were renamed or dropped at version {v}; "
                "allowSchemaEvolution covers ADD-column evolution only — "
                "restart the stream"
            )
        retyped = sorted(
            n for n in pinned if n in have and have[n] != pinned[n]
        )
        if retyped:
            raise RuntimeError(
                f"column(s) {retyped} changed type at version {v}; "
                "allowSchemaEvolution covers ADD-column evolution only — "
                "restart the stream"
            )

    def _cdf_parts(
        self, prev: dict | None, doc: dict, v: int
    ) -> list[_ChangePartition]:
        """The signed rows of commit ``v`` as per-file partitions,
        classified by :func:`prox_spark.manifest.commit_changes` (the
        same rule as the batch reader). ``prev`` is None across a
        vacuumed gap (failOnDataLoss=false)."""
        parts: list[_ChangePartition] = []
        for c in M.commit_changes(prev, doc, v):
            man = doc if c.kind == "insert" else prev
            semi = (
                None if c.entry is None
                else (M.local_file(self._path, c.entry["file"]),
                      list(c.entry["keys"]))
            )
            for f in c.files:
                if M.renames_for(man, f):
                    raise RuntimeError(
                        f"file {f} of {self._path} reads through a live "
                        "rename mapping; the streaming change feed does "
                        "not resolve renames — run compact_table (retires "
                        "the mappings) or use the batch reader "
                        "(prox_spark.cdf.read_table_changes)"
                    )
                parts.append(
                    _ChangePartition(
                        [M.local_file(self._path, f)], list(self._fields),
                        c.kind, v, anti=_entries_for(man, f, self._path),
                        semi=semi,
                    )
                )
        return parts

    def _read_file_table(self, p: str, fields: list[str]):
        """One parquet file as an Arrow table with EXACTLY ``fields``
        in order: columns the file physically lacks (born before an
        add-column evolution, or carried from before startingVersion)
        back-fill NULL with the declared type — the same semantics the
        batch manifest reader gives old files; columns the file has
        beyond the pin are simply not selected."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        avail = set(pq.read_schema(p).names)
        want = [c for c in fields if c in avail]
        t = pq.read_table(p, columns=want).select(want)
        missing = [c for c in fields if c not in avail]
        if missing:
            from pyspark.sql.pandas.types import to_arrow_type

            types = {f.name: f.dataType for f in self._schema.fields}
            for c in missing:
                t = t.append_column(
                    c, pa.nulls(t.num_rows, to_arrow_type(types[c]))
                )
            t = t.select(fields)
        return t

    def read(self, partition: InputPartition):
        if isinstance(partition, _ChangePartition):
            yield from self._read_changes(partition)
            return
        for p in partition.paths:
            t = self._read_file_table(p, partition.fields)
            if partition.anti:
                # clone genesis snapshot: apply the carried
                # merge-on-read deletes so the stream delivers exactly
                # what a batch read of the clone serves
                t = _mask_rows(t, partition.anti, None)
            if t.num_rows:
                yield from t.to_batches()

    def _read_changes(self, part: _ChangePartition):
        """Reconstruct one file's signed rows: mask prior merge-on-read
        deletes (anti), select the new entry's deleted keys (semi),
        stamp the feed columns (see :func:`_mask_rows`)."""
        import pyarrow as pa

        for p in part.paths:
            t = self._read_file_table(p, part.fields)
            if part.anti or part.semi:
                t = _mask_rows(t, part.anti, part.semi)
            n = t.num_rows
            if not n:
                continue
            t = t.append_column(
                CHANGE_TYPE_COL, pa.array([part.change_type] * n, pa.string())
            )
            t = t.append_column(
                COMMIT_VERSION_COL,
                pa.array([part.version] * n, pa.int64()),
            )
            yield from t.to_batches()

    def commit(self, end: dict) -> None:
        self._advance_floor(int(end["version"]))


class TableChangesDataSource(DataSource):
    """``spark.readStream.format("prox_table_changes").load(path)``
    after ``spark.dataSource.register(TableChangesDataSource)``.

    Options: ``startingVersion`` (default 0 — stream everything since
    creation; N streams commits AFTER version N), ``skipChangeCommits``
    (default false), ``maxVersionsPerBatch`` (default unlimited),
    ``paceFromCheckpoint`` (the query's own checkpoint dir — makes
    maxVersionsPerBatch bind even on the first trigger of a run, i.e.
    on availableNow's single-batch fallback; see the reader's
    operational caveat),
    ``failOnDataLoss`` (default true — raise when a needed manifest was
    vacuumed; false skips the gap with a warning), ``readChangeFeed``
    (default false — true streams every commit as SIGNED rows with
    ``_change_type``/``_commit_version`` columns, Delta CDF parity:
    deletes and rewrites flow as delete/insert rows instead of raising,
    and ``data_change=false`` maintenance commits are skipped;
    ``skipChangeCommits`` is ignored in this mode),
    ``allowSchemaEvolution`` (default false — true survives ADD-column
    drift in either direction: pinned columns a version lacks
    back-fill NULL, columns beyond the pin are projected away until a
    restart widens the output; rename/drop/retype still raise)."""

    @classmethod
    def name(cls) -> str:
        return "prox_table_changes"

    def schema(self):
        versions = list_versions(self.options["path"])
        if not versions:
            raise ValueError(
                f"{self.options['path']} is not a manifest table"
            )
        doc = load_manifest(self.options["path"], versions[-1])
        st = StructType.fromJson(doc["schema"])
        # declare every column nullable: non-nullability recorded by a
        # literal-typed commit is not a promise this source can keep —
        # add-column evolution back-fills NULL for old commits, and a
        # non-nullable Arrow vector fed a null crashes the JVM reader
        from pyspark.sql.types import StructField

        st = StructType(
            [
                StructField(f.name, f.dataType, True, f.metadata)
                for f in st.fields
            ]
        )
        if str(self.options.get("readchangefeed", "false")).lower() == "true":
            from pyspark.sql.types import LongType, StringType

            st = st.add(CHANGE_TYPE_COL, StringType()).add(
                COMMIT_VERSION_COL, LongType()
            )
        return st

    def streamReader(self, schema: StructType):
        return TableChangesStreamReader(schema, dict(self.options))
