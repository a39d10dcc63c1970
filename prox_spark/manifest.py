"""The manifest-log table format: its one specification and its codec.

Every rule of the on-disk format lives here, free of Spark, so the
driver (``table.py``, Hadoop FS) and the Python Data Source workers
(``table_ds.py``/``table_stream.py``, ``pyarrow.fs``, no JVM) apply
the same rules. The adapters only move bytes: they list a directory,
read or write a JSON document and publish a file; this module decides
what the names, documents and commits mean.

LAYOUT::

    table_path/
      data/snap-<v:08d>-<hex8>/part-*.parquet    immutable data files
      data/del-<v:08d>-<hex8>/part-*.parquet     merge-on-read delete keys
      _manifests/manifest-<v:08d>.json           main's version v
      _manifests/branch.<name>.<v:08d>.json      branch <name>'s version v
      _manifests/tag.<name>.json                 {"name", "version"}
      _manifests/chunks/mc-<hex32>.json          immutable manifest chunks

A version exists while its manifest file exists; the listing of
``_manifests`` is the version list. Branch and tag names match
``[A-Za-z0-9_-]+`` and ``main`` is neither: main's prefix
``manifest-`` never matches a branch file, so a branch is invisible
to every reader that did not ask for it. A published manifest is
never rewritten, only deleted by vacuum.

SNAPSHOT DOC: ``version``, ``schema`` (Spark struct JSON),
``stat_cols`` and the file set, either inline (``files``, ``stats``
{file: {col: [min, max]} or null}, ``born`` {file: birth version} and
``sizes`` {file: bytes}; a table with no files omits the last two) or
CHUNKED (``chunks``: entries {file, n, ranges?} naming chunk documents
that hold the same four maps for at most ``CHUNK_SIZE`` files). A table goes chunked once
a commit would list more than ``CHUNK_THRESHOLD`` files and stays
chunked; a commit carries every chunk whose members it kept by
reference and packs the rest, plus its new files, into fresh chunks
sorted by the leading stat column, so each chunk's ``ranges`` (per
column [min, max] over its members, null when any member lacks a
stat) stay tight for pruning. File entries are relative to the table
path; a FOREIGN entry (absolute path or URI, ``file:`` included) is a
shallow clone's reference into its source table and resolves as-is.

Optional keys: ``deletes`` (merge-on-read entries {file, keys,
targets}), ``renames`` ({from, to, version}: applies to files born
before ``version``), ``dropped_cols`` ({col, version}),
``cluster_curve`` (absent = range), ``index_of``, ``data_change``
(false on a rewrite that moved no visible row) and ``restored_from``.
The STICKY keys (``STICKY_KEYS``) are table metadata that every
commit carries verbatim unless it overrides them: constraints, a
clone's origin, MV lineage, an IVF quantizer and the streaming sink's
applied-batch fence.

ASSEMBLED DOC: readers resolve a chunked snapshot into the inline
shape (``assemble``): ``files`` and ``stats`` always, ``born`` and
``sizes`` only when some file has a record, and each chunk entry
gains ``_members`` (its file list) so a later commit can carry it
without reading it again. Both adapters return exactly this shape.

CAS: a manifest is written to a temporary name, then published under
its final name only if no other writer holds that name. Local paths
publish with ``os.link``, which fails atomically on an existing target
(``link_publish``); a POSIX rename would silently replace it.
Filesystems whose rename refuses an existing target (HDFS) publish by
rename on the driver. A lost race leaves the winner untouched; the
loser rebases on the new head or fails loudly.
"""

from __future__ import annotations

import os
import re
import uuid
from bisect import bisect_left
from typing import NamedTuple

MANIFEST_DIR = "_manifests"
DATA_DIR = "data"
CHUNK_DIR = f"{MANIFEST_DIR}/chunks"

# Past CHUNK_THRESHOLD live files a snapshot lists chunks of at most
# CHUNK_SIZE files instead of every file: per-commit metadata writes
# become O(touched files) and the ~10^5-file single-doc ceiling moves
# to ~10^7 files. Tests shrink both to exercise the layout.
CHUNK_THRESHOLD = 256
CHUNK_SIZE = 256

STICKY_KEYS = ("constraints", "cloned_from", "mv_of", "quantizer",
               "stream_batches")

# footer values safe to JSON-encode and compare with collected values;
# anything else (timestamps, decimals, binary) records no stat, which
# pruning treats as "could hold any key"
_STAT_TYPES = (int, float, str)

_REF_RE = re.compile(r"^[A-Za-z0-9_-]+$")


# --- names ------------------------------------------------------------------


def ref_prefix(ref: str) -> str:
    """Manifest filename prefix of ``ref`` (``main`` or a branch)."""
    if ref == "main":
        return "manifest-"
    if not _REF_RE.match(ref):
        raise ValueError(
            f"invalid branch name {ref!r}: use [A-Za-z0-9_-]+ (and not 'main')"
        )
    return f"branch.{ref}."


def manifest_rel(v: int, ref: str = "main") -> str:
    return f"{MANIFEST_DIR}/{ref_prefix(ref)}{int(v):08d}.json"


def tag_rel(name: str) -> str:
    return f"{MANIFEST_DIR}/tag.{name}.json"


def tmp_rel() -> str:
    """A fresh temporary name in ``_manifests`` for a CAS publish."""
    return f"{MANIFEST_DIR}/.tmp-{uuid.uuid4().hex}.json"


def chunk_rel() -> str:
    return f"{CHUNK_DIR}/mc-{uuid.uuid4().hex}.json"


def parse_versions(names, ref: str = "main") -> dict[int, str]:
    """{version: filename} of ``ref``'s manifests in a ``_manifests``
    listing."""
    pre = ref_prefix(ref)
    out = {}
    for name in names:
        if name.startswith(pre) and name.endswith(".json"):
            body = name[len(pre):-len(".json")]
            if body.isdigit():
                out[int(body)] = name
    return out


def versions_in(names, ref: str = "main") -> list[int]:
    """``ref``'s versions, ascending, from a ``_manifests`` listing."""
    return sorted(parse_versions(names, ref))


def parse_branch(name: str) -> tuple[str, int] | None:
    """(branch, version) of a branch manifest filename."""
    if not (name.startswith("branch.") and name.endswith(".json")):
        return None
    ref, _, v = name[len("branch."):-len(".json")].rpartition(".")
    return (ref, int(v)) if ref and v.isdigit() else None


def is_tag_name(name: str) -> bool:
    return name.startswith("tag.") and name.endswith(".json")


def version_at(times: dict[int, float], ts_ms: float, table_path: str,
               ref: str = "main") -> int:
    """TIMESTAMP AS OF: the newest version whose manifest was published
    (file modification time, epoch ms) at or before ``ts_ms``, given
    ``times`` = {version: publish time} from a listing."""
    if not times:
        raise ValueError(f"{table_path} is not a manifest table")
    eligible = [v for v, t in times.items() if t <= ts_ms]
    if not eligible:
        raise ValueError(
            f"no version of {table_path} (ref {ref!r}) existed at "
            f"{ts_ms}; the oldest readable version is {min(times)} "
            "(earlier ones may have been vacuumed)"
        )
    return max(eligible)


# --- file entries -------------------------------------------------------------


def is_foreign(entry: str) -> bool:
    """True for an absolute path or URI entry (a shallow clone's
    reference into its source), False for a table-relative one."""
    return entry.startswith(("/", "file:")) or "://" in entry


def resolve(table_path: str, entry: str) -> str:
    """The readable path of a manifest file entry."""
    return entry if is_foreign(entry) else f"{table_path}/{entry}"


def local_path(path: str) -> str:
    """An OS path for a local ``file:`` URI (other paths unchanged)."""
    return path[len("file:"):] if path.startswith("file:") else path


def local_file(table_path: str, entry: str) -> str:
    """The OS path of a file entry of a local table (worker reads)."""
    return local_path(resolve(table_path, entry))


def deletes_for(manifest: dict, f: str) -> list[dict]:
    """The merge-on-read delete entries of ``manifest`` targeting ``f``."""
    return [d for d in manifest.get("deletes") or [] if f in d["targets"]]


def renames_for(manifest: dict, f: str) -> list[dict]:
    """The rename entries that apply to ``f``: those committed after
    its birth (files without a birth record count as born at 0)."""
    b = (manifest.get("born") or {}).get(f, 0)
    return [r for r in manifest.get("renames") or [] if b < r["version"]]


def physical_name(name: str, renames: list[dict]) -> str:
    """The name a file physically carries for declared column ``name``:
    walk the applicable renames backwards, so a->b->c recovers a."""
    for r in reversed(renames):
        if name == r["to"]:
            name = r["from"]
    return name


# --- reading ------------------------------------------------------------------


def assemble(doc: dict, load, chunk_filter=None) -> dict:
    """Resolve a chunked snapshot doc into the assembled shape, reading
    chunk documents with ``load(rel) -> dict``. ``chunk_filter(entry)``
    skips chunks it rejects without reading them (a point lookup's
    metadata half). Inline docs pass through."""
    if "chunks" not in doc:
        return doc
    files: list[str] = []
    stats: dict = {}
    born: dict = {}
    sizes: dict = {}
    entries: list[dict] = []
    for entry in doc["chunks"]:
        if chunk_filter is not None and not chunk_filter(entry):
            continue
        chunk = load(entry["file"])
        files.extend(chunk["files"])
        stats.update(chunk.get("stats") or {})
        born.update(chunk.get("born") or {})
        sizes.update(chunk.get("sizes") or {})
        entries.append({**entry, "_members": chunk["files"]})
    out = dict(doc)
    out["chunks"] = entries
    out["files"] = files
    out["stats"] = stats
    if born:
        out["born"] = born
    if sizes:
        out["sizes"] = sizes
    return out


def overlaps(fstats: dict | None, key_ranges: dict[str, tuple]) -> bool:
    """Could a file (or chunk, or row group) with stats ``fstats``
    {col: [min, max]} hold a key inside ``key_ranges`` {col: (lo, hi)}?
    A None bound is open: (lo, None) is [lo, +inf), (None, hi) is
    (-inf, hi]. Disjointness on any column proves no key matches;
    unknown or incomparable stats never prune."""
    if fstats is None:
        return True
    for col, (lo, hi) in key_ranges.items():
        fr = fstats.get(col)
        if fr is None:
            continue
        try:
            if (lo is not None and fr[1] < lo) or (
                hi is not None and fr[0] > hi
            ):
                return False
        except TypeError:
            continue
    return True


def overlaps_sets(fstats: dict | None, key_values: dict[str, list]) -> bool:
    """Could a file (or chunk, or row group) with stats ``fstats``
    {col: [min, max]} hold one of ``key_values`` {col: SORTED values}
    on every listed column? One bisect per column, so scattered keys
    prune per value where a min/max envelope would keep everything in
    between. Unknown stats, missing columns and incomparable types
    never prune. An empty list admits nothing its column has stats
    for, which is exact: no value can match (a merge batch's list is
    empty when its keys there are all NULL, and NULL matches no row
    under an equi-join). Necessary, not sufficient, for a multi-column
    tuple match: never lossy."""
    if fstats is None:
        return True
    for col, vals in key_values.items():
        fr = fstats.get(col)
        if fr is None:
            continue
        try:
            i = bisect_left(vals, fr[0])
            if i >= len(vals) or vals[i] > fr[1]:
                return False
        except TypeError:
            continue
    return True


def footer_stats(path: str, cols: list[str]) -> dict | None:
    """Per-file {col: [min, max]} from a parquet footer (no data IO); a
    column maps to None when any row group lacks a usable stat, since a
    partial range would make pruning unsound. None when the footer is
    unreadable (non-local FS, in-flight write): pruning then treats the
    file as holding any key."""
    import pyarrow.parquet as pq

    try:
        md = pq.ParquetFile(local_path(path)).metadata
    except (OSError, ValueError):
        return None
    out: dict = dict.fromkeys(cols)
    poisoned: set = set()
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        seen: set = set()
        for ci in range(g.num_columns):
            col = g.column(ci)
            name = col.path_in_schema
            if name not in out or name in poisoned:
                continue
            st = col.statistics
            if st is None or not st.has_min_max:
                continue
            lo, hi = st.min, st.max
            if not isinstance(lo, _STAT_TYPES) or not isinstance(hi, _STAT_TYPES):
                continue
            seen.add(name)
            cur = out[name]
            out[name] = [lo, hi] if cur is None else [min(cur[0], lo), max(cur[1], hi)]
        for c in cols:
            if c not in seen and c not in poisoned:
                poisoned.add(c)
                out[c] = None
    return out


def footer_rows(path: str) -> int | None:
    """A parquet file's row count from its footer; None if unreadable."""
    import pyarrow.parquet as pq

    try:
        return pq.ParquetFile(local_path(path)).metadata.num_rows
    except (OSError, ValueError):
        return None


# --- writing ------------------------------------------------------------------


def _chunk_ranges(files: list[str], stats: dict, stat_cols: list[str]):
    """Per-chunk {col: [min, max]} over the members' stats; a column is
    None when any member lacks a stat or the stats are incomparable."""
    if not stat_cols:
        return None
    out: dict = {}
    for c in stat_cols:
        lo = hi = None
        ok = True
        for f in files:
            fst = stats.get(f)
            st = fst.get(c) if fst else None
            if st is None:
                ok = False
                break
            try:
                lo = st[0] if lo is None else min(lo, st[0])
                hi = st[1] if hi is None else max(hi, st[1])
            except TypeError:
                ok = False
                break
        out[c] = [lo, hi] if ok and lo is not None else None
    return out


def _file_maps(files: list[str], stats: dict, born: dict,
               sizes: dict) -> dict:
    """The per-file maps of ``files``: ``stats`` always, ``born`` and
    ``sizes`` when some file has a record."""
    out = {"stats": {f: stats.get(f) for f in files}}
    for key, m in (("born", born), ("sizes", sizes)):
        sub = {f: m[f] for f in files if f in m}
        if sub:
            out[key] = sub
    return out


def _strip_members(entry: dict) -> dict:
    """A chunk entry as it is serialized (without ``_members``)."""
    return {k: v for k, v in entry.items() if k != "_members"}


def _build_layout(cur: dict, keep: list[str], new_files: list[str],
                  stats: dict, born: dict, sizes: dict,
                  stat_cols: list[str], write_json,
                  carry_entries: list | None) -> tuple[dict, list[str]]:
    """The file-set half of the next snapshot doc after ``cur`` (an
    assembled doc) and the chunk files written for it, through
    ``write_json(rel, doc)``. ``carry_entries``: chunk entries a
    chunk-pruned commit proved disjoint and never read; they carry
    verbatim."""
    prev_chunks = cur.get("chunks") or []
    files = [*keep, *new_files]
    if not prev_chunks and not carry_entries and len(files) <= CHUNK_THRESHOLD:
        return {"files": files, **_file_maps(files, stats, born, sizes)}, []
    keep_set = set(keep)
    carried = [_strip_members(e) for e in carry_entries or []]
    covered: set = set()
    for entry in prev_chunks:
        members = entry.get("_members")
        if members is not None and set(members) <= keep_set:
            carried.append(_strip_members(entry))
            covered.update(members)
    loose = [f for f in keep if f not in covered] + list(new_files)
    if stat_cols:
        lead = stat_cols[0]

        def key(f):
            st = stats.get(f)
            r = st.get(lead) if st else None
            return (r is None, r[0] if r else None, f)

        try:
            loose.sort(key=key)
        except TypeError:  # incomparable stat types across files
            loose.sort()
    written = []
    for i in range(0, len(loose), CHUNK_SIZE):
        members = loose[i:i + CHUNK_SIZE]
        rel = chunk_rel()
        write_json(rel, {"files": members,
                         **_file_maps(members, stats, born, sizes)})
        entry = {"file": rel, "n": len(members)}
        ranges = _chunk_ranges(members, stats, stat_cols)
        if ranges is not None:
            entry["ranges"] = ranges
        carried.append(entry)
        written.append(rel)
    return {"chunks": carried}, written


def _carry_targeted(entries: list | None, keep_set: set, known: set) -> list:
    """File-targeted entries (merge-on-read deletes) shrunk to the
    targets a commit keeps: rewritten files drop out (the rewrite
    applied the entry), targets outside the commit's ``known`` file
    list (unread carried chunks) stay."""
    out = []
    for e in entries or []:
        targets = [f for f in e["targets"] if f in keep_set or f not in known]
        if targets:
            out.append({**e, "targets": targets})
    return out


def next_doc(cur: dict, v: int, keep: list[str], new_files: list[str],
             new_stats: dict, new_sizes: dict, *, stat_cols: list[str],
             schema: dict, write_json, carry_entries: list | None = None,
             partial: bool = False, cluster_curve: str = "range",
             index_of: dict | None = None, data_change: bool = True,
             extra_meta: dict | None = None) -> tuple[dict, list[str]]:
    """Version ``v``'s snapshot doc: ``keep`` (files of the assembled
    ``cur`` carried verbatim) plus ``new_files``, born at ``v``, with
    their stats and sizes. Returns the doc and the chunk files written
    for it. ``partial``: ``cur`` lists only the chunks a chunk-pruned
    commit read, so entries that may concern unread files are kept.

    File-scoped records follow the files: deletes keep only kept
    targets, a rename retires once no live file predates it, and a
    dropped-column guard clears when no old file survives or the name
    is back. Sticky keys carry; ``extra_meta`` overrides last."""
    cur_stats = cur.get("stats") or {}
    stats = {f: cur_stats.get(f) for f in keep}
    stats.update(new_stats)
    cur_sizes = cur.get("sizes") or {}
    sizes = {f: cur_sizes[f] for f in keep if f in cur_sizes}
    sizes.update(new_sizes)
    cur_born = cur.get("born") or {}
    born = {f: cur_born.get(f, 0) for f in keep}
    born.update(dict.fromkeys(new_files, v))
    layout, written = _build_layout(
        cur, keep, new_files, stats, born, sizes, stat_cols, write_json,
        carry_entries,
    )
    doc = {"version": v, **layout, "stat_cols": stat_cols, "schema": schema}
    if cluster_curve != "range":
        doc["cluster_curve"] = cluster_curve
    if index_of:
        doc["index_of"] = index_of
    if not data_change:
        doc["data_change"] = False
    deletes = _carry_targeted(
        cur.get("deletes"), set(keep), set(cur.get("files") or [])
    )
    if deletes:
        doc["deletes"] = deletes
    renames = cur.get("renames") or []
    if renames and not partial:
        renames = [
            e for e in renames if any(b < e["version"] for b in born.values())
        ]
    if renames:
        doc["renames"] = renames
    if keep or carry_entries:
        cols = {f["name"] for f in schema["fields"]}
        dropped = [
            e for e in cur.get("dropped_cols") or [] if e["col"] not in cols
        ]
        if dropped:
            doc["dropped_cols"] = dropped
    for k in STICKY_KEYS:
        if cur.get(k):
            doc[k] = cur[k]
    if extra_meta:
        doc.update(extra_meta)
    return doc, written


def link_publish(tmp: str, final: str) -> bool:
    """Publish local file ``tmp`` as ``final`` iff ``final`` does not
    exist, atomically (``os.link``); False on a lost race. ``tmp`` and
    the ``.crc`` twin a Hadoop checksum filesystem writes are always
    consumed."""
    try:
        os.link(tmp, final)
        ok = True
    except FileExistsError:
        ok = False
    d, name = os.path.split(tmp)
    for p in (tmp, os.path.join(d, f".{name}.crc")):
        try:
            os.unlink(p)
        except FileNotFoundError:
            pass
    return ok


# --- change feed --------------------------------------------------------------

# the feed's column contract (Delta CDF names), shared by the batch
# reader and the streaming source
CHANGE_TYPE_COL = "_change_type"
COMMIT_VERSION_COL = "_commit_version"


class Change(NamedTuple):
    """Rows one commit inserted or deleted: the rows of ``files`` as
    visible in the new manifest (inserts) or the previous one
    (deletes), semi-joined with ``entry``'s key file when ``entry`` is
    a new merge-on-read delete."""

    kind: str
    files: list
    entry: dict | None = None


def commit_changes(prev: dict | None, cur: dict, v: int) -> list[Change]:
    """Classify commit ``v`` (assembled doc ``cur``) against the
    previous version ``prev``: files added are inserts, files removed
    are deletes, and each NEW merge-on-read entry deletes its matching
    rows from targets that stayed. ``prev=None`` (the previous
    manifest is gone) approximates inserts by birth version and
    detects no deletes."""
    cur_files = cur.get("files") or []
    if prev is None:
        born = cur.get("born") or {}
        added = [f for f in cur_files if born.get(f, 0) == v]
        return [Change("insert", added)] if added else []
    prev_files = prev.get("files") or []
    prev_set, cur_set = set(prev_files), set(cur_files)
    out = []
    added = [f for f in cur_files if f not in prev_set]
    if added:
        out.append(Change("insert", added))
    removed = [f for f in prev_files if f not in cur_set]
    if removed:
        out.append(Change("delete", removed))
    carried = {d["file"] for d in prev.get("deletes") or []}
    for e in cur.get("deletes") or []:
        if e["file"] in carried:
            continue  # emitted at its own commit
        targets = [f for f in e["targets"] if f in prev_set and f in cur_set]
        if targets:
            out.append(Change("delete", targets, e))
    return out
