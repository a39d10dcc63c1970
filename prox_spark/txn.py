"""Multi-table atomic commits: a TRANSACTION LOG above the per-table
manifest logs (prox_spark/table.py), giving all-or-nothing visibility
across tables — the Nessie/lakehouse-catalog pattern where the atomic
point is ONE pointer swap, not N per-table publishes.

Why a log and not N renames: each table's ``commit_delta`` is atomic
alone, but publishing a corpus AND its secondary value index (or its
files-metadata artifact) with two renames leaves a window — and a
crash — where readers see the new corpus with the stale index. Here
writers still commit table versions normally (those commits are
invisible staging until pinned), then publish one ``txn-<n>.json``
naming the (table → version) pairs via the same tmp-write +
atomic-rename CAS the manifests use. Transactional readers resolve
versions through the log, so they see either every table at its new
version or every table at its old one. A writer that crashes between
its table commits and its txn publish leaves only orphan table
versions — invisible to txn readers, retired by vacuum — which is the
recovery story: roll-forward is "retry the txn publish", roll-back is
"do nothing".

Scale notes: a txn document is O(tables in the workspace) of driver-
side metadata; CAS conflicts rebase like table commits (unmentioned
tables carry forward; a conflicting pin of the SAME table aborts).
Version pins act like tags for retention: ``txn_pinned_versions``
feeds vacuum's keep set so history compaction can't sweep a pinned
version out from under the log.
"""

from __future__ import annotations

import json
import re
import uuid

from pyspark.sql import DataFrame, SparkSession

from prox_spark.table import (
    CommitConflictError,
    _cas_publish,
    _fs,
    _manifest_versions,
    read_table,
)

TXN_DIR = "_txns"
_TXN_RE = re.compile(r"^txn-(\d{8})\.json$")


def _txn_ids(spark: SparkSession, workspace: str) -> list[int]:
    jvm, fs, _ = _fs(spark, workspace)
    d = jvm.org.apache.hadoop.fs.Path(f"{workspace}/{TXN_DIR}")
    if not fs.exists(d):
        return []
    out = []
    for st in fs.listStatus(d):
        m = _TXN_RE.match(st.getPath().getName())
        if m:
            out.append(int(m.group(1)))
    return sorted(out)


def _read_txn(spark: SparkSession, workspace: str, n: int) -> dict:
    jvm, fs, _ = _fs(spark, workspace)
    p = jvm.org.apache.hadoop.fs.Path(f"{workspace}/{TXN_DIR}/txn-{n:08d}.json")
    stream = fs.open(p)
    try:
        doc = jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()
    return json.loads(doc)


def txn_state(
    spark: SparkSession, workspace: str, txn: int | None = None
) -> dict:
    """The (table → version) pins of transaction ``txn`` (default:
    latest). {} when the workspace has no transactions yet."""
    ids = _txn_ids(spark, workspace)
    if not ids:
        return {}
    n = ids[-1] if txn is None else txn
    if n not in ids:
        raise ValueError(f"txn {n} not in {ids} for {workspace}")
    return _read_txn(spark, workspace, n)["tables"]


def txn_commit(
    spark: SparkSession,
    workspace: str,
    updates: dict[str, int],
    *,
    base_txn: int | None = None,
    max_retries: int = 5,
) -> int:
    """Atomically publish ``updates`` ({table name → version}) as the
    workspace's next transaction. Tables not mentioned carry forward
    from the previous transaction — so a txn is a DELTA on the
    workspace state, and the published document is always the full
    pin set (readers resolve one doc, never a chain).

    Each pinned version must already be committed in its table's own
    manifest log (staging happens first; this call is the atomic
    visibility flip). ``base_txn`` pins the state this txn was derived
    from (default: latest at entry): on a lost CAS race the commit
    REBASES — it re-reads the winner's state and retries — unless the
    winner pinned one of the SAME tables, in which case this commit's
    updates were derived from a stale view of that table and it aborts
    with :class:`CommitConflictError` (the table-level
    ``update_key_ranges`` analogue, at table granularity).

    A crash AFTER the staging commits but BEFORE this publish leaves
    the staged table versions invisible to :func:`txn_read` — recovery
    is either retrying the publish or letting vacuum retire the
    orphans. Returns the new txn id."""
    for t, v in updates.items():
        versions = _manifest_versions(spark, t)
        if v not in versions:
            raise ValueError(
                f"version {v} of {t} is not committed (have {versions}); "
                "stage the table commit before publishing the txn"
            )
    ids = _txn_ids(spark, workspace)
    if base_txn is None:
        base_txn = ids[-1] if ids else 0
    base_state = (
        _read_txn(spark, workspace, base_txn)["tables"] if base_txn else {}
    )
    jvm, fs, _ = _fs(spark, workspace)
    fs.mkdirs(jvm.org.apache.hadoop.fs.Path(f"{workspace}/{TXN_DIR}"))
    cur_id, cur_state = base_txn, base_state
    attempts = 0
    while True:
        n = cur_id + 1
        doc = {"txn": n, "tables": {**cur_state, **updates}}
        tmp = jvm.org.apache.hadoop.fs.Path(
            f"{workspace}/{TXN_DIR}/.tmp-{uuid.uuid4().hex}.json"
        )
        out = fs.create(tmp, False)
        out.write(bytearray(json.dumps(doc), "utf-8"))
        out.close()
        final = jvm.org.apache.hadoop.fs.Path(
            f"{workspace}/{TXN_DIR}/txn-{n:08d}.json"
        )
        if _cas_publish(jvm, fs, tmp, final):
            # RE-VALIDATE after publish (the create_tag recipe): a
            # vacuum whose extra_pins were computed before this txn
            # existed can sweep a pinned version between the pre-publish
            # validation and the rename landing. Either every pin's
            # manifest survives, or we undo the txn doc and fail LOUDLY
            # instead of leaving a published txn pinning vacuumed bytes
            # (txn_read of that table would fail permanently).
            stale = {
                t: v
                for t, v in updates.items()
                if v not in _manifest_versions(spark, t)
            }
            if stale:
                fs.delete(final, False)
                raise CommitConflictError(
                    f"version(s) {stale} were vacuumed while txn {n} "
                    f"published to {workspace}; txn rolled back — restage "
                    "the table commits"
                )
            return n
        # lost the CAS (tmp consumed by _cas_publish): rebase and retry
        attempts += 1
        if attempts > max_retries:
            raise CommitConflictError(
                f"txn publish to {workspace} lost the race {attempts} times"
            )
        cur_ids = _txn_ids(spark, workspace)
        cur_id = cur_ids[-1]
        cur_state = _read_txn(spark, workspace, cur_id)["tables"]
        # rebase validation: every txn between base and current must be
        # disjoint from this txn's table set, else our staged versions
        # were derived from a stale view of a table someone else moved
        prev_state = dict(base_state)
        for mid in range(base_txn + 1, cur_id + 1):
            mid_state = _read_txn(spark, workspace, mid)["tables"]
            moved = {
                t for t, v in mid_state.items() if prev_state.get(t) != v
            }
            hot = moved & set(updates)
            if hot:
                raise CommitConflictError(
                    f"concurrent txn {mid} moved table(s) {sorted(hot)} "
                    "this txn also pins; restage from the current state"
                )
            prev_state = mid_state


def txn_publish_staged(
    spark: SparkSession,
    workspace: str,
    stage: str = "default",
    *,
    clean: bool = True,
) -> int:
    """Publish every (table → version) pin the ``prox_table``
    DataSource writers recorded under ``workspace``'s staging area
    for ``stage`` — format() writers run
    ``.option("txn_workspace", ws).option("txn_stage", label)`` and
    their commits drop pin records; this call folds them into ONE
    :func:`txn_commit`, giving the q192 both-or-neither guarantee to
    sets of tables written entirely through
    ``df.write.format("prox_table")``. A table written more than once
    in the stage pins its HIGHEST staged version (the writes
    composed). The staging records are removed after a successful
    publish (``clean``); a crash before this call leaves only the
    records plus orphan table versions, both invisible to txn readers.
    Returns the new txn id; raises when the stage is empty."""
    import os
    import shutil

    from prox_spark.manifest import local_path
    from prox_spark.table_ds import TXN_STAGING_DIR

    sdir = os.path.join(local_path(workspace), TXN_STAGING_DIR, str(stage))
    pins: dict[str, int] = {}
    names = sorted(os.listdir(sdir)) if os.path.isdir(sdir) else []
    for name in names:
        if not (name.startswith("pin-") and name.endswith(".json")):
            continue
        with open(os.path.join(sdir, name)) as fh:
            rec = json.load(fh)
        t, v = rec["table"], int(rec["version"])
        pins[t] = max(v, pins.get(t, 0))
    if not pins:
        raise ValueError(
            f"no staged writer pins under {workspace!r} stage {stage!r}; "
            "write with .option('txn_workspace', ws)"
            ".option('txn_stage', label) first"
        )
    n = txn_commit(spark, workspace, pins)
    if clean:
        shutil.rmtree(sdir, ignore_errors=True)
    return n


def txn_read(
    spark: SparkSession, workspace: str, table_path: str,
    txn: int | None = None,
) -> DataFrame:
    """Read ``table_path`` at the version the workspace's transaction
    log pins (default: latest txn) — the transactionally-consistent
    view. Raises when the table has never been pinned."""
    state = txn_state(spark, workspace, txn)
    if table_path not in state:
        raise ValueError(
            f"{table_path} is not pinned by any txn in {workspace}"
        )
    return read_table(spark, table_path, version=state[table_path])


def txn_pinned_versions(
    spark: SparkSession, workspace: str, table_path: str
) -> set[int]:
    """Every version of ``table_path`` any live transaction pins —
    feed this to ``vacuum(..., extra_pins=...)`` (like tags) so pinned
    history survives retention; :func:`expire_txns` releases old pins."""
    out = set()
    for n in _txn_ids(spark, workspace):
        v = _read_txn(spark, workspace, n)["tables"].get(table_path)
        if v is not None:
            out.add(int(v))
    return out


def expire_txns(
    spark: SparkSession, workspace: str, keep_last: int = 2
) -> list[int]:
    """Drop all but the newest ``keep_last`` transaction documents —
    the workspace's retention policy. Expired txns stop pinning their
    table versions (the next ``vacuum(extra_pins=
    txn_pinned_versions(...))`` cycle can reclaim them), exactly the
    tag/drop_tag lifecycle at workspace granularity. Time travel to an
    expired txn stops resolving; the LIVE state is never touched
    (``keep_last >= 1`` enforced). Returns the expired ids."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1 (the live txn stays)")
    ids = _txn_ids(spark, workspace)
    expired = ids[:-keep_last]
    jvm, fs, _ = _fs(spark, workspace)
    for n in expired:
        fs.delete(
            jvm.org.apache.hadoop.fs.Path(
                f"{workspace}/{TXN_DIR}/txn-{n:08d}.json"
            ),
            False,
        )
    return expired


def vacuum_workspace(
    spark: SparkSession,
    workspace: str,
    table_paths: list[str],
    *,
    keep_txns: int = 2,
    keep_versions: int = 2,
    retention_minutes: float = 15.0,
) -> dict:
    """The workspace maintenance cycle: expire old transactions, then
    vacuum each member table with the SURVIVING txns' pins protected —
    the all-in-one a pipeline schedules after its txn commits. Returns
    {"expired_txns": [...], "vacuumed": {table: [versions]}}."""
    from prox_spark.table import vacuum

    expired = expire_txns(spark, workspace, keep_last=keep_txns)
    out: dict = {"expired_txns": expired, "vacuumed": {}}
    for t in table_paths:
        out["vacuumed"][t] = vacuum(
            spark, t, keep_last=keep_versions,
            retention_minutes=retention_minutes,
            extra_pins=txn_pinned_versions(spark, workspace, t),
        )
    return out
