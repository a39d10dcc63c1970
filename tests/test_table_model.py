"""Model-based check of the file-granular table format: a seeded
sequence of merge operations (SCD-1 upsert, copy-on-write delete,
merge-on-read delete, CDC apply,
compaction, vacuum) runs both against the real manifest table and a
driver-side dict model; after every commit the table must equal the
model exactly, and a version pinned mid-sequence must keep serving its
original rows. This exercises the pruning paths (key-set bisect,
range fallback, <=2-file early-out, clustered vs local-sort writes)
far more densely than the single-shot tests — any lost row, duplicate
key, or mis-pruned file shows up as a model divergence.

Deterministic by construction (md5-seeded choices, no random module):
a failure reproduces bit-identically.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from prox_spark.table import compact_table, read_table, table_versions, vacuum
from prox_spark.upsert import (
    apply_changes,
    delete_keys,
    delete_keys_mor,
    upsert_parquet,
)

KEYS = ["region", "uid"]  # multi-column key: per-column membership pruning
N_OPS = 18


def _rnd(seed: str, lo: int, hi: int) -> int:
    """Deterministic integer in [lo, hi] from an md5 stream."""
    h = int(hashlib.md5(seed.encode()).hexdigest()[:8], 16)
    return lo + h % (hi - lo + 1)


def _key_space(step: int):
    """A drifting window of key tuples so ops mix hits and misses."""
    base = _rnd(f"base:{step}", 0, 400)
    return [
        (f"r{(base + i) % 7}", (base * 13 + i * 29) % 500) for i in range(12)
    ]


def _rows(step: int):
    return [
        (r, u, f"v{step}:{r}:{u}", step) for r, u in _key_space(step)
    ]


def _df(spark, rows):
    return spark.createDataFrame(
        rows, "region STRING, uid BIGINT, payload STRING, step BIGINT"
    )


def _table_state(spark, path):
    rows = read_table(spark, path).collect()
    state = {(r.region, r.uid): (r.payload, r.step) for r in rows}
    assert len(rows) == len(state), "duplicate keys in table"
    return state


def test_random_merge_sequence_matches_model(spark, tmp_path):
    path = str(tmp_path / "t")
    model: dict = {}

    seed_rows = _rows(0)
    upsert_parquet(spark, path, _df(spark, seed_rows), KEYS)
    model.update({(r, u): (p, s) for r, u, p, s in seed_rows})
    assert _table_state(spark, path) == model

    pinned = None
    pinned_state = None
    for step in range(1, N_OPS + 1):
        op = _rnd(f"op:{step}", 0, 11)
        if op <= 4:  # upsert (the common case)
            rows = _rows(step)
            upsert_parquet(spark, path, _df(spark, rows), KEYS)
            model.update({(r, u): (p, s) for r, u, p, s in rows})
        elif op <= 6:  # delete a slice of the key space
            dels = _key_space(step)[:5]
            ddf = spark.createDataFrame(dels, "region STRING, uid BIGINT")
            n = delete_keys(spark, path, ddf, KEYS)
            expected = sum(1 for k in dels if k in model)
            assert n == expected, (step, n, expected)
            for k in dels:
                model.pop(k, None)
        elif op <= 8:  # CDC feed mixing all three ops
            ks = _key_space(step)
            feed = []
            for i, (r, u) in enumerate(ks[:6]):
                if i % 3 == 0:
                    feed.append((r, u, None, None, "delete"))
                else:
                    feed.append((r, u, f"cdc{step}:{r}:{u}", step, "update"))
            fdf = spark.createDataFrame(
                feed,
                "region STRING, uid BIGINT, payload STRING, step BIGINT, change STRING",
            )
            apply_changes(spark, path, fdf, KEYS)
            for r, u, p, s, c in feed:
                if c == "delete":
                    model.pop((r, u), None)
                else:
                    model[(r, u)] = (p, s)
        elif op == 9:  # maintenance
            compact_table(spark, path, n_files=4)
        else:  # merge-on-read delete: masks rows without rewriting data
            dels = _key_space(step)[5:10]
            ddf = spark.createDataFrame(dels, "region STRING, uid BIGINT")
            n = delete_keys_mor(spark, path, ddf, KEYS)
            expected = sum(1 for k in dels if k in model)
            assert n == expected, (step, n, expected)
            for k in dels:
                model.pop(k, None)
        assert _table_state(spark, path) == model, f"diverged at step {step}"
        if step == N_OPS // 2:
            pinned = table_versions(spark, path)[-1]
            pinned_state = dict(model)

    # time travel: the mid-sequence version still serves its rows
    got = {
        (r.region, r.uid): (r.payload, r.step)
        for r in read_table(spark, path, version=pinned).collect()
    }
    assert got == pinned_state

    # vacuum to the last two versions: current state unchanged
    vacuum(spark, path, keep_last=2)
    assert _table_state(spark, path) == model


def test_range_fallback_path_matches_model(spark, tmp_path):
    """Force the >cap key-set path (min/max range pruning) by dropping
    the cap to 3: results must stay identical to small-batch merges."""
    import prox_spark.upsert as U

    path = str(tmp_path / "t")
    base = [(f"r{i % 5}", i, f"v{i}", 0) for i in range(200)]
    upsert_parquet(spark, path, _df(spark, base), KEYS)
    model = {(r, u): (p, s) for r, u, p, s in base}

    old_cap = U._KEY_SET_CAP
    U._KEY_SET_CAP = 3
    try:
        ups = [(f"r{i % 5}", i, f"NEW{i}", 1) for i in range(0, 200, 7)]
        upsert_parquet(spark, path, _df(spark, ups), KEYS)
        model.update({(r, u): (p, s) for r, u, p, s in ups})
        dels = spark.createDataFrame(
            [(f"r{i % 5}", i) for i in range(0, 200, 11)], "region STRING, uid BIGINT"
        )
        n = delete_keys(spark, path, dels, KEYS)
        assert n == len(range(0, 200, 11))
        for i in range(0, 200, 11):
            model.pop((f"r{i % 5}", i), None)
    finally:
        U._KEY_SET_CAP = old_cap
    assert _table_state(spark, path) == model


def test_random_merge_sequence_chunked_layout(spark, tmp_path, monkeypatch):
    """The full op-mix model sequence again, with the chunk thresholds
    shrunk so every commit exercises the chunked (v2) snapshot layout:
    chunk carry/repack on merges, chunk-referencing MoR deletes,
    compaction re-chunking, vacuum of orphan chunk files, and time
    travel across chunked versions — all against the same dict model."""
    monkeypatch.setattr("prox_spark.manifest.CHUNK_THRESHOLD", 3)
    monkeypatch.setattr("prox_spark.manifest.CHUNK_SIZE", 2)
    test_random_merge_sequence_matches_model(spark, tmp_path)
    from prox_spark.table import _read_manifest_file

    path = str(tmp_path / "t")
    doc = _read_manifest_file(spark, path, table_versions(spark, path)[-1])
    assert "chunks" in doc and "files" not in doc, (
        "sequence never reached the chunked layout"
    )


def test_random_merge_sequence_with_renames(spark, tmp_path):
    """The model sequence with RENAME EVOLUTION folded into the op mix:
    the payload column is renamed mid-stream (fresh name each time, so
    mappings chain), and every subsequent merge, CDC apply, MoR
    delete, compaction, and read must resolve mixed-generation files
    through the birth-versioned mappings. The model tracks only the
    logical state — any mis-mapped column shows up as a divergence."""
    from prox_spark.table import rename_column

    path = str(tmp_path / "t")
    model: dict = {}
    col = "payload"

    def df_rows(rows):
        return spark.createDataFrame(
            rows, f"region STRING, uid BIGINT, {col} STRING, step BIGINT"
        )

    def state():
        rows = read_table(spark, path).collect()
        got = {(r.region, r.uid): (r[col], r.step) for r in rows}
        assert len(rows) == len(got), "duplicate keys in table"
        return got

    seed_rows = _rows(0)
    upsert_parquet(spark, path, df_rows(seed_rows), KEYS)
    model.update({(r, u): (p, s) for r, u, p, s in seed_rows})

    for step in range(1, N_OPS + 1):
        # renames pinned at steps 4 and 8 — no compaction draw sits
        # between them (the seeded step-9 draw is the first compact),
        # so the second rename CHAINS onto the first's still-live
        # mapping; everything else stays the seeded random mix
        # (op 10-11 = merge-on-read delete)
        op = 99 if step in (4, 8) else _rnd(f"rop:{step}", 0, 11)
        if op <= 4:
            rows = _rows(step)
            upsert_parquet(spark, path, df_rows(rows), KEYS)
            model.update({(r, u): (p, s) for r, u, p, s in rows})
        elif op <= 6:
            dels = _key_space(step)[:5]
            ddf = spark.createDataFrame(dels, "region STRING, uid BIGINT")
            n = delete_keys(spark, path, ddf, KEYS)
            assert n == sum(1 for k in dels if k in model), step
            for k in dels:
                model.pop(k, None)
        elif op <= 8:
            ks = _key_space(step)
            feed = []
            for i, (r, u) in enumerate(ks[:6]):
                if i % 3 == 0:
                    feed.append((r, u, None, None, "delete"))
                else:
                    feed.append((r, u, f"cdc{step}:{r}:{u}", step, "update"))
            fdf = spark.createDataFrame(
                feed,
                f"region STRING, uid BIGINT, {col} STRING, step BIGINT, "
                "change STRING",
            )
            apply_changes(spark, path, fdf, KEYS)
            for r, u, p, s, c in feed:
                if c == "delete":
                    model.pop((r, u), None)
                else:
                    model[(r, u)] = (p, s)
        elif op == 9:
            compact_table(spark, path, n_files=4)
        elif op == 99:
            new = f"payload_r{step}"
            rename_column(spark, path, col, new)
            col = new  # logical state unchanged; only the name moves
            if step == 8:
                from prox_spark.table import _read_manifest_file

                doc = _read_manifest_file(
                    spark, path, table_versions(spark, path)[-1]
                )
                assert len(doc.get("renames") or []) >= 2, (
                    "second rename did not chain onto a live mapping"
                )
        else:
            dels = _key_space(step)[5:10]
            ddf = spark.createDataFrame(dels, "region STRING, uid BIGINT")
            n = delete_keys_mor(spark, path, ddf, KEYS)
            assert n == sum(1 for k in dels if k in model), step
            for k in dels:
                model.pop(k, None)
        assert state() == model, f"diverged at step {step} (col={col})"
    assert col != "payload", "sequence never exercised a rename"


def test_random_merge_sequence_with_renames_chunked(
    spark, tmp_path, monkeypatch
):
    """Rename evolution + chunked layout + the full op mix together:
    mappings must survive chunk carry/repack and chunk-pruned merge
    scopes (renames carry verbatim under partial views)."""
    monkeypatch.setattr("prox_spark.manifest.CHUNK_THRESHOLD", 3)
    monkeypatch.setattr("prox_spark.manifest.CHUNK_SIZE", 2)
    test_random_merge_sequence_with_renames(spark, tmp_path)


def test_random_merge_sequence_with_refs(spark, tmp_path):
    """The model sequence with the round-6 ref surface folded into the
    op mix at pinned steps: tag checkpoint (3), branch write-audit-
    publish (6), the seeded step-9 compaction upgraded to an OPTIMIZE
    ZORDER (mixed string+numeric stat cols — the hash-bucket curve
    path), an explicit re-cluster back to range (12), and a rollback
    to the step-3 tag (15) that rewinds the model with it. Vacuum at
    the end must keep the tag's bytes while the churned history ages
    out — the CAS/vacuum/refs interactions model-checked, not just
    unit-tested."""
    from prox_spark.table import (
        _read_manifest_file,
        create_branch,
        create_tag,
        fast_forward,
        list_branches,
        read_manifest,
        rollback_table,
        tag_version,
    )
    from prox_spark.table import commit_delta, read_manifest as _rm

    path = str(tmp_path / "t")
    model: dict = {}
    seed_rows = _rows(0)
    upsert_parquet(spark, path, _df(spark, seed_rows), KEYS)
    model.update({(r, u): (p, s) for r, u, p, s in seed_rows})

    tag_state = None
    for step in range(1, N_OPS + 1):
        op = {3: 95, 6: 96, 9: 97, 12: 98, 15: 94}.get(
            step, _rnd(f"op:{step}", 0, 11)
        )
        if op == 95:  # tag checkpoint
            create_tag(spark, path, "cp")
            tag_state = dict(model)
        elif op == 96:  # branch WAP: stage an append, audit, publish
            create_branch(spark, path, "stage")
            staged = [("bz", 9000 + i, f"staged:{i}", step) for i in range(3)]
            prev = _rm(spark, path, ref="stage")
            commit_delta(
                spark, path, _df(spark, staged), list(prev["files"]),
                ref="stage", update_key_ranges={},
            )
            # invisible to main until the publish
            assert _table_state(spark, path) == model
            fast_forward(spark, path, "stage")
            assert list_branches(spark, path) == {}
            model.update({(r, u): (p, s) for r, u, p, s in staged})
        elif op == 97:  # the seeded compact step, as OPTIMIZE ZORDER
            compact_table(
                spark, path, stat_cols=[*KEYS, "step"], n_files=4,
                cluster_curve="zorder",
            )
            assert read_manifest(spark, path)["cluster_curve"] == "zorder"
        elif op == 98:  # maintenance re-cluster back to range on KEYS
            compact_table(
                spark, path, stat_cols=KEYS, n_files=4, cluster_curve="range",
            )
            assert "cluster_curve" not in _read_manifest_file(
                spark, path, read_manifest(spark, path)["version"]
            )
        elif op == 94:  # rollback to the tag: model rewinds with it
            rollback_table(spark, path, tag_version(spark, path, "cp"))
            model = dict(tag_state)
        elif op <= 4:
            rows = _rows(step)
            upsert_parquet(spark, path, _df(spark, rows), KEYS)
            model.update({(r, u): (p, s) for r, u, p, s in rows})
        elif op <= 6:
            dels = _key_space(step)[:5]
            ddf = spark.createDataFrame(dels, "region STRING, uid BIGINT")
            n = delete_keys(spark, path, ddf, KEYS)
            assert n == sum(1 for k in dels if k in model), step
            for k in dels:
                model.pop(k, None)
        elif op <= 8:
            ks = _key_space(step)
            feed = []
            for i, (r, u) in enumerate(ks[:6]):
                if i % 3 == 0:
                    feed.append((r, u, None, None, "delete"))
                else:
                    feed.append((r, u, f"cdc{step}:{r}:{u}", step, "update"))
            fdf = spark.createDataFrame(
                feed,
                "region STRING, uid BIGINT, payload STRING, step BIGINT, "
                "change STRING",
            )
            apply_changes(spark, path, fdf, KEYS)
            for r, u, p, s, c in feed:
                if c == "delete":
                    model.pop((r, u), None)
                else:
                    model[(r, u)] = (p, s)
        elif op == 9:
            compact_table(spark, path, n_files=4)
        else:
            dels = _key_space(step)[5:10]
            ddf = spark.createDataFrame(dels, "region STRING, uid BIGINT")
            n = delete_keys_mor(spark, path, ddf, KEYS)
            assert n == sum(1 for k in dels if k in model), step
            for k in dels:
                model.pop(k, None)
        assert _table_state(spark, path) == model, f"diverged at step {step}"

    # vacuum churned history; the tag must keep serving its exact bytes
    vacuum(spark, path, keep_last=2, retention_minutes=0.0)
    assert _table_state(spark, path) == model
    tv = tag_version(spark, path, "cp")
    got = {
        (r.region, r.uid): (r.payload, r.step)
        for r in read_table(spark, path, version=tv).collect()
    }
    assert got == tag_state


def test_random_merge_sequence_with_refs_chunked(spark, tmp_path, monkeypatch):
    """Refs + chunked layout: branch fast-forward born-remap, tag
    pinning of chunk files, zorder/range re-chunking, and rollback of
    a chunked doc, all against the model."""
    monkeypatch.setattr("prox_spark.manifest.CHUNK_THRESHOLD", 3)
    monkeypatch.setattr("prox_spark.manifest.CHUNK_SIZE", 2)
    test_random_merge_sequence_with_refs(spark, tmp_path)


def _txn_model_sequence(spark, tmp_path):
    """TWO tables + a workspace txn log: seeded per-table merge ops
    STAGE new head versions continuously, while txn ops pinned at
    fixed steps publish, rebase, abort, expire, and vacuum-with-pins.
    After every step the model checks BOTH-OR-NEITHER visibility: head
    reads equal the staged models, transactional reads equal exactly
    the last published pair (staged-but-unpublished commits stay
    invisible — the crash case — and carry-forward keeps an
    unmentioned table at its old pin)."""
    import pytest

    from prox_spark.txn import (
        expire_txns,
        txn_commit,
        txn_read,
        txn_state,
        vacuum_workspace,
    )
    from prox_spark.table import CommitConflictError

    A = str(tmp_path / "a")
    B = str(tmp_path / "b")
    ws = str(tmp_path / "ws")
    models = {A: {}, B: {}}
    published = {}  # table -> snapshot at its last published pin

    def mutate(path, step):
        model = models[path]
        tag = f"{path[-1]}:{step}"
        op = _rnd(f"txnmut:{tag}", 0, 6)
        if op <= 3:
            rows = [
                (r, u, f"{tag}:{r}:{u}", step)
                for r, u in _key_space(step * 7 + (path == B))
            ]
            upsert_parquet(spark, path, _df(spark, rows), KEYS)
            model.update({(r, u): (p, s) for r, u, p, s in rows})
        elif op == 4:
            dels = _key_space(step * 7 + (path == B))[:5]
            ddf = spark.createDataFrame(dels, "region STRING, uid BIGINT")
            delete_keys(spark, path, ddf, KEYS)
            for k in dels:
                model.pop(k, None)
        elif op == 5:
            dels = _key_space(step * 7 + (path == B))[5:9]
            ddf = spark.createDataFrame(dels, "region STRING, uid BIGINT")
            delete_keys_mor(spark, path, ddf, KEYS)
            for k in dels:
                model.pop(k, None)
        else:
            compact_table(spark, path, n_files=4)

    def publish(tables, **kw):
        updates = {t: table_versions(spark, t)[-1] for t in tables}
        txn_commit(spark, ws, updates, **kw)
        for t in tables:
            published[t] = dict(models[t])

    def check(step):
        for t in (A, B):
            assert _table_state(spark, t) == models[t], f"head diverged {step}"
            if t in published:
                got = {
                    (r.region, r.uid): (r.payload, r.step)
                    for r in txn_read(spark, ws, t).collect()
                }
                assert got == published[t], f"txn view diverged at {step} ({t})"

    # seed + initial publish
    for t in (A, B):
        mutate(t, 0)
    publish((A, B))
    check(0)

    stale_base = None
    for step in range(1, 17):
        target = A if _rnd(f"pick:{step}", 0, 1) == 0 else B
        mutate(target, step)
        if step == 3:
            publish((A, B))
        elif step == 5:
            from prox_spark.txn import _txn_ids

            stale_base = _txn_ids(spark, ws)[-1]
        elif step == 6:
            # partial publish: B carries forward at its OLD pin even
            # though its head may have drifted
            publish((A,))
        elif step == 9:
            # disjoint REBASE: base predates the step-6 txn, which
            # moved only A — publishing {B} from the stale base must
            # rebase cleanly on top
            publish((B,), base_txn=stale_base)
        elif step == 11:
            # overlapping ABORT: the step-6 txn moved A, so an {A}
            # publish derived from the stale base must refuse
            with pytest.raises(CommitConflictError, match="moved table"):
                txn_commit(
                    spark, ws, {A: table_versions(spark, A)[-1]},
                    base_txn=stale_base,
                )
        elif step == 12:
            publish((A, B))
        elif step == 14:
            from prox_spark.txn import _txn_ids

            expired = expire_txns(spark, ws, keep_last=2)
            assert expired and set(expired) & set(range(1, 4))
            live = _txn_ids(spark, ws)
            assert len(live) == 2
            with pytest.raises(ValueError, match="not in"):
                txn_state(spark, ws, txn=expired[0])
        elif step == 15:
            # workspace maintenance: surviving txns' pins must protect
            # their versions through an aggressive vacuum
            vacuum_workspace(
                spark, ws, [A, B], keep_txns=2, keep_versions=1,
                retention_minutes=0.0,
            )
        elif step == 16:
            publish((A, B))
        check(step)


def test_txn_random_sequence_matches_model(spark, tmp_path):
    _txn_model_sequence(spark, tmp_path)


def test_txn_random_sequence_chunked(spark, tmp_path, monkeypatch):

    monkeypatch.setattr("prox_spark.manifest.CHUNK_THRESHOLD", 4)
    monkeypatch.setattr("prox_spark.manifest.CHUNK_SIZE", 2)
    _txn_model_sequence(spark, tmp_path)


def _mv_model_sequence(spark, tmp_path):
    """The MV registry under the adversarial op mix: a count+sum+
    min/max-by-region view over a base churned by the seeded merge
    ops (upsert, CoW delete, MoR delete, CDC apply, compaction), with
    RENAME evolution of a non-referenced column mid-stream, refreshes
    and stream-batch folds at pinned steps, a vacuum that destroys the
    covered version (forcing the full-recompute fallback IN the mix),
    and — after every single step — a read_mv_current() that must
    equal the model's from-scratch aggregate (including through the
    vacuumed-window read fallback)."""
    from prox_spark.cdf import read_table_changes
    from prox_spark.mv import (
        COUNT_COL,
        create_mv,
        mv_info,
        mv_stream_batch,
        read_mv_current,
        refresh_mv,
    )
    from prox_spark.table import read_manifest, rename_column

    path = str(tmp_path / "t")
    mv = str(tmp_path / "mv")
    model: dict = {}
    col = "payload"

    def df_rows(rows):
        return spark.createDataFrame(
            rows, f"region STRING, uid BIGINT, {col} STRING, step BIGINT"
        )

    def model_agg():
        agg: dict = {}
        for (r, _u), (_p, s) in model.items():
            n, tot, lo, hi = agg.get(r, (0, 0, None, None))
            agg[r] = (
                n + 1, tot + s,
                s if lo is None else min(lo, s),
                s if hi is None else max(hi, s),
            )
        return agg

    def view_state(df):
        rows = df.select(
            "region", COUNT_COL, "sum_step", "min_step", "max_step"
        ).collect()
        got = {r.region: (r[COUNT_COL], r.sum_step, r.min_step, r.max_step)
               for r in rows}
        assert len(rows) == len(got), "duplicate groups in view"
        return got

    seed_rows = _rows(0)
    upsert_parquet(spark, path, df_rows(seed_rows), KEYS)
    model.update({(r, u): (p, s) for r, u, p, s in seed_rows})
    create_mv(spark, path, mv, ["region"], ["step"],
              mins=["step"], maxs=["step"])
    assert view_state(read_table(spark, mv)) == model_agg()

    forced_full = False
    for step in range(1, N_OPS + 1):
        op = {3: 90, 6: 91, 8: 92, 10: 90, 12: 93, 13: 90, 16: 90}.get(
            step, _rnd(f"mvop:{step}", 0, 11)
        )
        if op == 90:  # persisted refresh
            out = refresh_mv(spark, mv)
            if step == 13:
                assert out["mode"] == "full", (
                    "vacuumed covered version must force the fallback"
                )
                forced_full = True
            assert view_state(read_table(spark, mv)) == model_agg(), step
            assert mv_info(spark, mv)["version"] == read_manifest(
                spark, path
            )["version"]
        elif op == 91:  # continuous maintenance: stream-batch fold
            covered = int(mv_info(spark, mv)["version"])
            head = int(read_manifest(spark, path)["version"])
            if head > covered:
                feed = read_table_changes(spark, path, covered, head)
                mv_stream_batch(feed, step, mv)
                assert view_state(read_table(spark, mv)) == model_agg(), step
                # replaying the same batch is fenced to a no-op
                v = read_manifest(spark, mv)["version"]
                mv_stream_batch(
                    read_table_changes(spark, path, covered, head), step, mv
                )
                assert read_manifest(spark, mv)["version"] == v, step
        elif op == 92:  # rename a column the view does NOT reference
            new = f"payload_r{step}"
            rename_column(spark, path, col, new)
            col = new
        elif op == 93:  # destroy the covered version mid-mix
            compact_table(spark, path, n_files=4)
            vacuum(spark, path, keep_last=1, retention_minutes=0.0)
        elif op <= 4:
            rows = _rows(step)
            upsert_parquet(spark, path, df_rows(rows), KEYS)
            model.update({(r, u): (p, s) for r, u, p, s in rows})
        elif op <= 6:
            dels = _key_space(step)[:5]
            ddf = spark.createDataFrame(dels, "region STRING, uid BIGINT")
            delete_keys(spark, path, ddf, KEYS)
            for k in dels:
                model.pop(k, None)
        elif op <= 8:
            ks = _key_space(step)
            feed = []
            for i, (r, u) in enumerate(ks[:6]):
                if i % 3 == 0:
                    feed.append((r, u, None, None, "delete"))
                else:
                    feed.append((r, u, f"cdc{step}:{r}:{u}", step, "update"))
            fdf = spark.createDataFrame(
                feed,
                f"region STRING, uid BIGINT, {col} STRING, step BIGINT, "
                "change STRING",
            )
            apply_changes(spark, path, fdf, KEYS)
            for r, u, p, s, c in feed:
                if c == "delete":
                    model.pop((r, u), None)
                else:
                    model[(r, u)] = (p, s)
        elif op == 9:
            compact_table(spark, path, n_files=4)
        else:
            dels = _key_space(step)[5:10]
            ddf = spark.createDataFrame(dels, "region STRING, uid BIGINT")
            delete_keys_mor(spark, path, ddf, KEYS)
            for k in dels:
                model.pop(k, None)
        # the READ path is exact after EVERY op, refreshed or not —
        # including through the vacuumed-window fallback at step 12
        assert view_state(read_mv_current(spark, mv)) == model_agg(), (
            f"read path diverged at step {step}"
        )
    assert forced_full, "sequence never exercised the vacuum fallback"
    assert col != "payload", "sequence never exercised a rename"


def test_mv_random_sequence_matches_model(spark, tmp_path):
    _mv_model_sequence(spark, tmp_path)


def test_mv_random_sequence_chunked(spark, tmp_path, monkeypatch):

    monkeypatch.setattr("prox_spark.manifest.CHUNK_THRESHOLD", 3)
    monkeypatch.setattr("prox_spark.manifest.CHUNK_SIZE", 2)
    _mv_model_sequence(spark, tmp_path)


def test_random_merge_sequence_with_constraints(spark, tmp_path):
    """The merge op mix under a live CHECK constraint: violating
    upserts must reject atomically at every point in the sequence
    (model and version unchanged), rewrite ops (copy-on-write delete,
    compaction, CDC) must keep passing — their surviving rows are all
    valid — and the drop → violate → re-add lifecycle must enforce the
    existing-rows validation."""
    import pytest

    from prox_spark.table import (
        ConstraintViolationError,
        add_constraint,
        drop_constraint,
        list_constraints,
        read_manifest,
    )

    path = str(tmp_path / "t")
    model: dict = {}
    seed_rows = _rows(0)
    upsert_parquet(spark, path, _df(spark, seed_rows), KEYS)
    model.update({(r, u): (p, s) for r, u, p, s in seed_rows})
    add_constraint(spark, path, "no_bad", "payload NOT LIKE 'bad%'")

    def bad_rows(step):
        return [
            (r, u, f"bad{step}:{r}:{u}", step) for r, u in _key_space(step)
        ]

    dropped_at = N_OPS // 2
    for step in range(1, N_OPS + 1):
        op = _rnd(f"cop:{step}", 0, 9)
        enforced = step < dropped_at
        if step == dropped_at:
            drop_constraint(spark, path, "no_bad")
        if op <= 3:  # valid upsert
            rows = _rows(step)
            upsert_parquet(spark, path, _df(spark, rows), KEYS)
            model.update({(r, u): (p, s) for r, u, p, s in rows})
        elif op <= 5:  # violating upsert: rejected while enforced
            rows = bad_rows(step)
            if enforced:
                head = read_manifest(spark, path)["version"]
                with pytest.raises(ConstraintViolationError):
                    upsert_parquet(spark, path, _df(spark, rows), KEYS)
                assert read_manifest(spark, path)["version"] == head
            else:
                upsert_parquet(spark, path, _df(spark, rows), KEYS)
                model.update({(r, u): (p, s) for r, u, p, s in rows})
        elif op == 6:  # copy-on-write delete: rewrite of valid rows
            dels = _key_space(step)[:5]
            ddf = spark.createDataFrame(dels, "region STRING, uid BIGINT")
            delete_keys(spark, path, ddf, KEYS)
            for k in dels:
                model.pop(k, None)
        elif op == 7:
            compact_table(spark, path, n_files=4)
        elif op == 8:
            dels = _key_space(step)[5:10]
            ddf = spark.createDataFrame(dels, "region STRING, uid BIGINT")
            delete_keys_mor(spark, path, ddf, KEYS)
            for k in dels:
                model.pop(k, None)
        else:  # valid CDC feed
            ks = _key_space(step)
            feed = []
            for i, (r, u) in enumerate(ks[:6]):
                if i % 3 == 0:
                    feed.append((r, u, None, None, "delete"))
                else:
                    feed.append((r, u, f"cdc{step}:{r}:{u}", step, "update"))
            fdf = spark.createDataFrame(
                feed,
                "region STRING, uid BIGINT, payload STRING, step BIGINT,"
                " change STRING",
            )
            apply_changes(spark, path, fdf, KEYS)
            for r, u, p, s, c in feed:
                if c == "delete":
                    model.pop((r, u), None)
                else:
                    model[(r, u)] = (p, s)
        assert _table_state(spark, path) == model, f"diverged at step {step}"

    # bad rows landed after the drop: re-adding must validate and fail
    bad_keys = [k for k, (p, _) in model.items() if p.startswith("bad")]
    assert bad_keys, "sequence never landed a violating row post-drop"
    with pytest.raises(ConstraintViolationError, match="existing"):
        add_constraint(spark, path, "no_bad", "payload NOT LIKE 'bad%'")
    ddf = spark.createDataFrame(bad_keys, "region STRING, uid BIGINT")
    delete_keys(spark, path, ddf, KEYS)
    for k in bad_keys:
        model.pop(k)
    add_constraint(spark, path, "no_bad", "payload NOT LIKE 'bad%'")
    assert list_constraints(spark, path) == {
        "no_bad": "payload NOT LIKE 'bad%'"
    }
    assert _table_state(spark, path) == model
