"""Derived-artifact registry + one-call maintenance
(prox_spark/artifacts.py): MVs, value indexes, bounded postings, and
conditional IVF recluster maintained together, with per-artifact
error isolation."""

from __future__ import annotations

import atexit
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from prox_spark.artifacts import (
    list_artifacts,
    maintain_artifacts,
    register_artifact,
    register_artifacts,
)
from prox_spark.table import (
    commit_delta,
    commit_snapshot,
    read_manifest,
    read_table,
)
from prox_spark.upsert import delete_keys_mor

TOKENS = "split(lower(text), ' ')"


def _scratch() -> str:
    d = tempfile.mkdtemp(prefix="prox_art_test_")
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


def _docs(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("s"), (F.col("id") % 4).cast("string")).alias("src"),
        (F.col("id") * 3).alias("n"),
        F.concat(
            F.lit("tok g"), F.expr("cast(id div 3 as string)")
        ).alias("text"),
        F.md5(F.col("id").cast("string")).alias("digest"),
    )


def test_one_call_brings_every_artifact_current(spark):
    from prox_spark.mv import create_mv, mv_info
    from prox_spark.postings import maintained_postings
    from prox_spark.table import build_value_index
    from prox_spark.wand import build_bounded_index, bounded_bm25

    s = _scratch()
    base, reg = f"{s}/base", f"{s}/registry"
    mv, vidx = f"{s}/mv", f"{s}/vidx"
    bidx, bstats = f"{s}/bidx", f"{s}/bstats"

    commit_snapshot(spark, base, _docs(spark, 0, 120),
                    stat_cols=["doc_id"], n_files=4)
    create_mv(spark, base, mv, ["src"], ["n"])
    build_value_index(spark, base, "digest", vidx)
    build_bounded_index(
        spark, read_table(spark, base).select("doc_id", "text"),
        bidx, bstats, TOKENS, n_files=4,
    )
    v0 = int(read_manifest(spark, base)["version"])
    register_artifact(spark, reg, "mv", base, mv)
    register_artifact(spark, reg, "value_index", base, vidx)
    register_artifact(
        spark, reg, "bounded_postings", base, bidx,
        {"stats": bstats, "tokens_expr": TOKENS, "covered": v0},
    )
    assert len(list_artifacts(spark, reg)) == 3

    # churn the base: append + merge-on-read delete
    prev = read_manifest(spark, base)
    commit_delta(spark, base, _docs(spark, 120, 150),
                 list(prev["files"]), update_key_ranges={})
    delete_keys_mor(
        spark, base,
        spark.range(0, 150, 10).select(F.col("id").alias("doc_id")),
        ["doc_id"],
    )
    head = int(read_manifest(spark, base)["version"])

    results = maintain_artifacts(spark, reg)
    assert all(r["status"] == "refreshed" for r in results.values()), results

    # MV current
    assert int(mv_info(spark, mv)["version"]) == head
    want = sorted(
        map(
            tuple,
            read_table(spark, base).groupBy("src").agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum("n").alias("sum_n"),
            ).collect(),
        )
    )
    assert sorted(map(tuple, read_table(spark, mv).collect())) == want
    # value index current
    assert int(
        read_manifest(spark, vidx)["index_of"]["version"]
    ) == head
    # bounded postings current: df stats equal a recount of the final
    # corpus, and serving answers come from the maintained index
    final = read_table(spark, base).select("doc_id", "text")
    n_docs = final.count()
    out, _ = bounded_bm25(
        spark, bidx, bstats, [(1, "tok")], 5,
        "cast(tf as bigint)",
    )
    assert out.count() == 5
    got_pairs = maintained_postings(spark, bidx).filter(
        F.col("term") == "tok"
    ).count()
    assert got_pairs == n_docs
    # registry row advanced its covered version
    ent = next(
        e for e in list_artifacts(spark, reg) if e["artifact"] == bidx
    )
    assert ent["params"]["covered"] == head

    # a second call with nothing new: all noop
    again = maintain_artifacts(spark, reg)
    assert all(r["status"] == "noop" for r in again.values()), again


def test_register_artifacts_is_one_registry_commit(spark):
    """Several registrations land in ONE registry commit, re-registering
    by artifact path like the one-entry call; a path named twice in
    one call is refused."""
    s = _scratch()
    base, reg = f"{s}/base", f"{s}/registry"
    commit_snapshot(spark, base, _docs(spark, 0, 10), stat_cols=["doc_id"])
    register_artifact(spark, reg, "mv", base, f"{s}/mv")
    v0 = int(read_manifest(spark, reg)["version"])
    register_artifacts(spark, reg, [
        ("mv", base, f"{s}/mv", {"note": "again"}),
        ("value_index", base, f"{s}/vidx", None),
    ])
    assert int(read_manifest(spark, reg)["version"]) == v0 + 1
    got = {e["artifact"]: (e["kind"], e["params"]) for e in list_artifacts(spark, reg)}
    assert got == {f"{s}/mv": ("mv", {"note": "again"}),
                   f"{s}/vidx": ("value_index", {})}
    with pytest.raises(ValueError, match="twice"):
        register_artifacts(spark, reg, [("mv", base, f"{s}/mv", None),
                                        ("mv", base, f"{s}/mv", None)])
    assert int(read_manifest(spark, reg)["version"]) == v0 + 1


def test_error_isolation_and_loud_raise(spark):
    from prox_spark.mv import create_mv, mv_info
    from prox_spark.table import build_value_index, drop_column

    s = _scratch()
    base, reg = f"{s}/base", f"{s}/registry"
    mv, vidx = f"{s}/mv", f"{s}/vidx"
    commit_snapshot(spark, base, _docs(spark, 0, 60),
                    stat_cols=["doc_id"], n_files=2)
    create_mv(spark, base, mv, ["src"], ["n"])
    build_value_index(spark, base, "digest", vidx)
    register_artifact(spark, reg, "mv", base, mv)
    register_artifact(spark, reg, "value_index", base, vidx)
    # break the MV (drop its recorded sum column), churn the base
    # with an APPEND (new files for the value index) + a MoR delete
    drop_column(spark, base, "n")
    prev = read_manifest(spark, base)
    commit_delta(
        spark, base, _docs(spark, 60, 80).drop("n"),
        list(prev["files"]), update_key_ranges={},
    )
    delete_keys_mor(
        spark, base,
        spark.range(0, 80, 7).select(F.col("id").alias("doc_id")),
        ["doc_id"],
    )
    with pytest.raises(RuntimeError, match="re-create"):
        maintain_artifacts(spark, reg)
    # the sibling value index still refreshed despite the MV failure
    assert int(
        read_manifest(spark, vidx)["index_of"]["version"]
    ) == int(read_manifest(spark, base)["version"])
    results = maintain_artifacts(spark, reg, raise_on_error=False)
    assert results[mv]["status"] == "error"
    assert results[vidx]["status"] == "noop"
    # the broken view never published
    assert int(mv_info(spark, mv)["version"]) == 1


def test_ivf_recluster_fires_only_past_imbalance(spark):
    from prox_spark.ivf import _assign_to_cents
    from prox_spark.queries.similarity import index_quantizer
    from prox_spark.table import table_versions

    s = _scratch()
    reg, idx = f"{s}/registry", f"{s}/ivf"
    # 2 balanced blobs under a 2-centroid quantizer
    rows = []
    for b, anchor in enumerate([(10.0, 0.0), (0.0, 10.0)]):
        for i in range(30):
            v = [anchor[0] + (i % 5) * 0.01, anchor[1] + (i % 3) * 0.01]
            n = float((v[0] ** 2 + v[1] ** 2) ** 0.5)
            rows.append((b * 30 + i, v, n))
    emb = spark.createDataFrame(
        rows, "vec_id long, dd array<double>, nrm double"
    )
    cents = [(0, [10.0, 0.0]), (1, [0.0, 10.0])]
    commit_snapshot(
        spark, idx,
        _assign_to_cents(emb, cents).select("vec_id", "dd", "nrm", "cid"),
        stat_cols=["cid"], n_files=2,
        extra_meta={"quantizer": {"k": 2, "cents": [[c, v] for c, v in cents]}},
    )
    register_artifact(spark, reg, "ivf", idx, idx,
                      {"k": 2, "imbalance": 2.5})
    out = maintain_artifacts(spark, reg)
    assert out[idx]["status"] == "noop", out

    # a skewed delivery crams one cell past the threshold
    from prox_spark.queries.similarity import append_to_index

    skew = spark.createDataFrame(
        [(100 + i, [9.0 + (i % 7) * 0.01, 1.0], 0.0) for i in range(150)],
        "vec_id long, dd array<double>, nrm double",
    ).withColumn(
        "nrm", F.expr("sqrt(aggregate(transform(dd, x -> x*x), "
                      "cast(0.0 as double), (a, x) -> a + x))")
    )
    append_to_index(spark, idx, skew)
    v_before = table_versions(spark, idx)[-1]
    out2 = maintain_artifacts(spark, reg)
    assert out2[idx]["status"] == "reclustered", out2
    assert table_versions(spark, idx)[-1] == v_before + 1
    assert len(index_quantizer(spark, idx)) == 2
    # balance restored below the trigger: the next call is a noop
    out3 = maintain_artifacts(spark, reg)
    assert out3[idx]["status"] == "noop", out3


def test_registry_lifecycle_under_op_mix(spark):
    """maintain_artifacts driven through a churning base: upserts,
    CoW/MoR deletes, compaction, and a RENAME of the value index's
    column mid-stream — the MV resolves the rename and keeps
    refreshing, the index reports the rebuild error loudly (siblings
    unharmed), and re-registering a rebuilt index restores green
    maintenance. The MV is model-checked after every maintenance
    call."""
    import hashlib

    from prox_spark.mv import create_mv
    from prox_spark.table import (
        build_value_index,
        compact_table,
        read_table_point_indexed,
        rename_column,
    )
    from prox_spark.upsert import delete_keys, upsert_parquet

    s = _scratch()
    base, reg = f"{s}/base", f"{s}/registry"
    mv, vidx = f"{s}/mv", f"{s}/vidx"
    model: dict = {}

    def rows(step):
        out = []
        for i in range(12):
            uid = (step * 13 + i * 29) % 300
            out.append((uid, f"g{uid % 5}", step * 10 + i,
                        hashlib.md5(str(uid).encode()).hexdigest()))
        return out

    dcol = "digest"

    def df(rws):
        return spark.createDataFrame(
            rws, f"uid long, grp string, val long, {dcol} string"
        )

    def model_agg():
        agg: dict = {}
        for uid, (g, v) in model.items():
            n, t = agg.get(g, (0, 0))
            agg[g] = (n + 1, t + v)
        return agg

    def check_mv():
        got = {
            r["grp"]: (r["n_rows"], r["sum_val"])
            for r in read_table(spark, mv).collect()
        }
        assert got == model_agg()

    seed = rows(0)
    commit_snapshot(spark, base, df(seed), stat_cols=["uid"], n_files=4)
    model.update({u: (g, v) for u, g, v, _d in seed})
    create_mv(spark, base, mv, ["grp"], ["val"])
    build_value_index(spark, base, "digest", vidx)
    register_artifact(spark, reg, "mv", base, mv)
    register_artifact(spark, reg, "value_index", base, vidx)

    broken = False
    for step in range(1, 13):
        op = {4: "rename", 8: "reregister"}.get(step, step % 3)
        if op == 0:
            rws = rows(step)
            upsert_parquet(spark, base, df(rws), ["uid"])
            model.update({u: (g, v) for u, g, v, _d in rws})
        elif op == 1:
            dels = [u for u, *_ in rows(step)][:5]
            delete_keys(
                spark, base,
                spark.createDataFrame([(u,) for u in dels], "uid long"),
                ["uid"],
            )
            for u in dels:
                model.pop(u, None)
        elif op == 2:
            compact_table(spark, base, n_files=4)
        elif op == "rename":
            rename_column(spark, base, "digest", "content_hash")
            dcol = "content_hash"
            broken = True
        elif op == "reregister":
            vidx2 = f"{s}/vidx2"
            build_value_index(spark, base, "content_hash", vidx2)
            register_artifact(spark, reg, "value_index", base, vidx)
            # replace the broken registration with the rebuilt index
            from prox_spark.upsert import delete_keys as _dk

            _dk(spark, reg,
                spark.createDataFrame([(vidx,)], "artifact string"),
                ["artifact"])
            register_artifact(spark, reg, "value_index", base, vidx2)
            vidx = vidx2
            broken = False
        results = maintain_artifacts(spark, reg, raise_on_error=False)
        assert results[mv]["status"] in ("refreshed", "noop"), (step, results)
        check_mv()
        if broken:
            assert results[vidx]["status"] in ("error", "noop"), (
                step, results,
            )
        else:
            assert results[vidx]["status"] in ("refreshed", "noop"), (
                step, results,
            )
    # the rebuilt index serves: probe a live uid's digest
    uid, (g, v) = next(iter(model.items()))
    import hashlib as _h

    probe = _h.md5(str(uid).encode()).hexdigest()
    got = read_table_point_indexed(
        spark, base, vidx, None, "content_hash", probe
    )
    assert [r["uid"] for r in got.collect()] == [uid]


def test_postings_kind_appends_and_fold_compacts(spark):
    """The append-style signed postings index as a registry kind:
    maintenance folds the change feed and APPENDS; once the raw signed
    debt exceeds fold_factor x the folded size the q205
    fold-compaction fires inside the same call. The index must always
    equal a from-scratch tokenize of the live corpus."""
    from prox_spark.postings import maintained_postings
    from prox_spark.queries.search import _tokens_tf
    from prox_spark.upsert import upsert_parquet

    s = _scratch()
    base, reg, idx = f"{s}/base", f"{s}/reg", f"{s}/pidx"
    commit_snapshot(
        spark, base, _docs(spark, 0, 90).select("doc_id", "text"),
        stat_cols=["doc_id"], n_files=2,
    )
    commit_snapshot(
        spark, idx,
        _tokens_tf(read_table(spark, base)),
        stat_cols=["term"], n_files=4,
    )
    register_artifact(
        spark, reg, "postings", base, idx,
        {"covered": 1, "fold_factor": 1.2},
    )

    def check():
        got = sorted(map(tuple, maintained_postings(spark, idx).collect()))
        want = sorted(
            map(tuple, _tokens_tf(read_table(spark, base)).collect())
        )
        assert got == want

    compacted = False
    for step in range(2, 7):
        upd = _docs(spark, 0, 90).select(
            "doc_id",
            F.concat(F.col("text"), F.lit(f" upd{step}")).alias("text"),
        )
        upsert_parquet(spark, base, upd, ["doc_id"])
        out = maintain_artifacts(spark, reg)
        assert out[idx]["status"] in ("refreshed", "compacted"), out
        compacted = compacted or out[idx].get("compacted", False)
        check()
    assert compacted, "signed debt never crossed the fold threshold"
    # idle call: noop, no compaction churn
    out = maintain_artifacts(spark, reg)
    assert out[idx]["status"] == "noop", out


def test_serve_aggregate_discovers_registered_views(spark):
    from prox_spark.artifacts import serve_aggregate
    from prox_spark.mv import create_mv

    s = _scratch()
    base, reg, mv = f"{s}/base", f"{s}/reg", f"{s}/mv"
    commit_snapshot(spark, base, _docs(spark, 0, 100),
                    stat_cols=["doc_id"], n_files=4)
    create_mv(spark, base, mv, ["src"], ["n"])
    register_artifact(spark, reg, "mv", base, mv)
    delete_keys_mor(
        spark, base,
        spark.range(0, 100, 6).select(F.col("id").alias("doc_id")),
        ["doc_id"],
    )
    out, hit = serve_aggregate(spark, reg, base, ["src"], ["n"])
    assert hit == mv
    want = sorted(
        map(
            tuple,
            read_table(spark, base).groupBy("src").agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum("n").alias("sum_n"),
            ).collect(),
        )
    )
    assert sorted(map(tuple, out.collect())) == want
    # an unregistered base falls back (no candidates)
    other = f"{s}/other"
    commit_snapshot(spark, other, _docs(spark, 0, 20),
                    stat_cols=["doc_id"], n_files=1)
    fb, miss = serve_aggregate(spark, reg, other, ["src"], ["n"])
    assert miss is None and fb.columns == ["src", "n_rows", "sum_n"]


def test_vacuum_with_registry_preserves_incremental_refresh(spark):
    """An aggressive base vacuum guided by the registry keeps the
    whole suffix from the oldest covered version, so the next refresh
    stays INCREMENTAL; the same vacuum without the registry destroys
    the feed window and forces the full-recompute fallback."""
    from prox_spark.artifacts import vacuum_with_registry
    from prox_spark.mv import create_mv, refresh_mv
    from prox_spark.table import vacuum
    from prox_spark.upsert import upsert_parquet

    def stage(root):
        base, mv, reg = f"{root}/base", f"{root}/mv", f"{root}/reg"
        commit_snapshot(spark, base, _docs(spark, 0, 60),
                        stat_cols=["doc_id"], n_files=2)
        create_mv(spark, base, mv, ["src"], ["n"])
        register_artifact(spark, reg, "mv", base, mv)
        for step in (1, 2, 3):
            upsert_parquet(
                spark, base,
                _docs(spark, 0, 60)
                .filter(F.col("doc_id") % 4 == step)
                .withColumn("n", F.col("n") + F.lit(step)),
                ["doc_id"],
            )
        return base, mv, reg

    s = _scratch()
    base, mv, reg = stage(f"{s}/a")
    vacuum_with_registry(spark, base, reg, keep_last=1,
                         retention_minutes=0.0)
    out = refresh_mv(spark, mv)
    assert out["refreshed"] and out["mode"] == "incremental", out
    want = sorted(
        map(
            tuple,
            read_table(spark, base).groupBy("src").agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum("n").alias("sum_n"),
            ).collect(),
        )
    )
    assert sorted(map(tuple, read_table(spark, mv).collect())) == want

    # control: the registry-blind vacuum forces the full fallback
    base2, mv2, _reg2 = stage(f"{s}/b")
    vacuum(spark, base2, keep_last=1, retention_minutes=0.0)
    out2 = refresh_mv(spark, mv2)
    assert out2["mode"] == "full", out2


def test_maintain_cli_entrypoint(spark, capsys):
    """`python -m prox_spark maintain --registry DIR` — in-process via
    main() (same session); prints one status row per artifact, exit 0
    when nothing failed."""
    from prox_spark.__main__ import main
    from prox_spark.mv import create_mv
    from prox_spark.upsert import delete_keys_mor as _del

    s = _scratch()
    base, mv, reg = f"{s}/base", f"{s}/mv", f"{s}/reg"
    commit_snapshot(spark, base, _docs(spark, 0, 50),
                    stat_cols=["doc_id"], n_files=2)
    create_mv(spark, base, mv, ["src"], ["n"])
    register_artifact(spark, reg, "mv", base, mv)
    _del(spark, base,
         spark.range(0, 50, 6).select(F.col("id").alias("doc_id")),
         ["doc_id"])
    rc = main(["maintain", "--registry", reg])
    out = capsys.readouterr().out
    assert rc == 0
    assert "refreshed" in out and mv in out

def test_crashed_registry_upsert_cannot_double_fold_bounded(spark):
    """ADVICE r9: coverage advances IN the stats commit. Simulate a
    crash between the artifact's data commit and the registry upsert
    by rolling the registry row's 'covered' param back to its old
    value — the next maintain call must be a NOOP (the manifest
    lineage wins) and the corpus row must not double-fold."""
    from prox_spark.wand import CORPUS_ROW, build_bounded_index

    s = _scratch()
    base, reg = f"{s}/base", f"{s}/reg"
    bidx, bstats = f"{s}/bidx", f"{s}/bstats"
    commit_snapshot(spark, base, _docs(spark, 0, 60),
                    stat_cols=["doc_id"], n_files=2)
    build_bounded_index(
        spark, read_table(spark, base).select("doc_id", "text"),
        bidx, bstats, TOKENS, n_files=4,
    )
    register_artifact(
        spark, reg, "bounded_postings", base, bidx,
        {"stats": bstats, "tokens_expr": TOKENS, "covered": 1},
    )
    prev = read_manifest(spark, base)
    commit_delta(spark, base, _docs(spark, 60, 80),
                 list(prev["files"]), update_key_ranges={})
    out = maintain_artifacts(spark, reg)
    assert out[bidx]["status"] == "refreshed"

    def corpus_row():
        r = (
            read_table(spark, bstats)
            .filter(F.col("term") == CORPUS_ROW).first()
        )
        return (int(r["df"]), int(r["max_impact"]))

    want = corpus_row()
    assert want[0] == 80  # n_docs counts the appended docs once
    # 'crash' replay: registry row claims the OLD coverage
    register_artifact(
        spark, reg, "bounded_postings", base, bidx,
        {"stats": bstats, "tokens_expr": TOKENS, "covered": 1},
    )
    out2 = maintain_artifacts(spark, reg)
    assert out2[bidx]["status"] == "noop", out2
    assert corpus_row() == want  # not double-folded


def test_crashed_registry_upsert_cannot_double_append_postings(spark):
    """Same crash window for the append-postings kind: the signed
    delta and the bumped coverage publish in one manifest rename, so a
    replay with a stale registry row re-appends NOTHING."""
    from prox_spark.postings import maintained_postings
    from prox_spark.queries.search import _tokens_tf

    s = _scratch()
    base, reg, idx = f"{s}/base", f"{s}/reg", f"{s}/pidx"
    commit_snapshot(
        spark, base, _docs(spark, 0, 50).select("doc_id", "text"),
        stat_cols=["doc_id"], n_files=2,
    )
    commit_snapshot(
        spark, idx, _tokens_tf(read_table(spark, base)),
        stat_cols=["term"], n_files=2,
    )
    register_artifact(
        spark, reg, "postings", base, idx,
        {"covered": 1, "fold_factor": 100.0},
    )
    prev = read_manifest(spark, base)
    commit_delta(
        spark, base, _docs(spark, 50, 70).select("doc_id", "text"),
        list(prev["files"]), update_key_ranges={},
    )
    out = maintain_artifacts(spark, reg)
    assert out[idx]["status"] == "refreshed"
    raw_n = read_table(spark, idx).count()
    want = sorted(map(tuple, maintained_postings(spark, idx).collect()))
    # 'crash' replay with the stale registry row
    register_artifact(
        spark, reg, "postings", base, idx,
        {"covered": 1, "fold_factor": 100.0},
    )
    out2 = maintain_artifacts(spark, reg)
    assert out2[idx]["status"] == "noop", out2
    assert read_table(spark, idx).count() == raw_n  # no re-append
    got = sorted(map(tuple, maintained_postings(spark, idx).collect()))
    assert got == want


def test_postings_refresh_keeps_an_append_racing_its_commit(
    spark, monkeypatch
):
    """A commit that lands on the append-postings index between the
    refresh's manifest read and its commit survives: the refresh
    commits against the manifest it read, so the racing file rebases
    in instead of being treated as one the refresh rewrote."""
    from pyspark.sql.types import StructType

    import prox_spark.artifacts as A
    from prox_spark.queries.search import _tokens_tf

    s = _scratch()
    base, reg, idx = f"{s}/base", f"{s}/reg", f"{s}/pidx"
    commit_snapshot(
        spark, base, _docs(spark, 0, 50).select("doc_id", "text"),
        stat_cols=["doc_id"], n_files=2,
    )
    commit_snapshot(
        spark, idx, _tokens_tf(read_table(spark, base)),
        stat_cols=["term"], n_files=2,
    )
    register_artifact(
        spark, reg, "postings", base, idx,
        {"covered": 1, "fold_factor": 100.0},
    )
    prev = read_manifest(spark, base)
    commit_delta(
        spark, base, _docs(spark, 50, 70).select("doc_id", "text"),
        list(prev["files"]), update_key_ranges={},
    )
    raced = [("zz_raced", 9000 + i, 1) for i in range(5)]
    real = A.read_manifest
    reads = {"n": 0}

    def racing_read(spark_, path, *a, **k):
        m = real(spark_, path, *a, **k)
        if path == idx:
            reads["n"] += 1
            if reads["n"] == 2:  # the refresh's base read, not coverage
                cur = real(spark_, idx)
                commit_delta(
                    spark_, idx,
                    spark_.createDataFrame(
                        raced, StructType.fromJson(cur["schema"])
                    ),
                    list(cur["files"]), base_version=int(cur["version"]),
                    update_key_ranges={},
                )
        return m

    monkeypatch.setattr(A, "read_manifest", racing_read)
    out = maintain_artifacts(spark, reg)
    monkeypatch.setattr(A, "read_manifest", real)
    assert out[idx]["status"] == "refreshed", out
    assert reads["n"] >= 2
    got = {
        tuple(r) for r in read_table(spark, idx)
        .filter(F.col("term") == "zz_raced").collect()
    }
    assert got == set(raced), "racing append dropped by the refresh commit"


def test_maintenance_races_live_base_writers(spark):
    """Registry maintenance racing live base commits (upserts,
    appends, MoR deletes, compaction) across EVERY registered kind —
    mv, value_index, postings, grouped kmv, quantile_sketch on the
    docs base, nd_pairs on an embeddings base churned by the same
    writer: every maintenance tick either lands a correct refresh or
    reports the failure LOUDLY in its per-artifact result — and after
    the churn settles, one sequential maintain call converges every
    artifact to its base's head with contents equal to a direct
    recompute / fresh-build twin (a double-folded change-feed window
    anywhere in the race would break the equality)."""
    import threading

    from prox_spark.artifacts import (
        build_cms_sketch,
        build_kmv_sketch,
        build_quantile_sketch,
    )
    from prox_spark.mv import create_mv, mv_info
    from prox_spark.postings import maintained_postings
    from prox_spark.queries.search import _tokens_tf
    from prox_spark.queries.similarity import build_nd_pair_index
    from prox_spark.table import build_value_index, compact_small_files
    from prox_spark.upsert import delete_keys_mor, upsert_parquet

    s = _scratch()
    base, reg = f"{s}/base", f"{s}/reg"
    mv, vidx, pidx = f"{s}/mv", f"{s}/vidx", f"{s}/pidx"
    kmv, qsk, cms = f"{s}/kmv", f"{s}/qsk", f"{s}/cms"
    emb_base, ndp, ndb = f"{s}/emb", f"{s}/ndp", f"{s}/ndb"
    commit_snapshot(spark, base, _docs(spark, 0, 200),
                    stat_cols=["doc_id"], n_files=4)
    create_mv(spark, base, mv, ["src"], ["n"])
    build_value_index(spark, base, "digest", vidx)
    commit_snapshot(spark, pidx, _tokens_tf(read_table(spark, base)),
                    stat_cols=["term"], n_files=2)
    build_kmv_sketch(spark, base, "digest", kmv, keys=["src"])
    build_quantile_sketch(spark, base, "doc_id", "n", qsk, keys=["src"])
    build_cms_sketch(spark, base, "src", cms, cand_k=8)
    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select("vec_id", "embedding")
    commit_snapshot(spark, emb_base, emb.filter(F.col("vec_id") % 2 == 0),
                    stat_cols=["vec_id"], n_files=2)
    build_nd_pair_index(spark, emb_base, ndp, ndb)
    register_artifact(spark, reg, "mv", base, mv)
    register_artifact(spark, reg, "value_index", base, vidx)
    register_artifact(spark, reg, "postings", base, pidx,
                      {"text_col": "text", "covered": 1})
    register_artifact(spark, reg, "kmv", base, kmv,
                      {"col": "digest", "keys": ["src"]})
    register_artifact(spark, reg, "quantile_sketch", base, qsk,
                      {"key": "doc_id", "val": "n", "keys": ["src"]})
    register_artifact(spark, reg, "cms", base, cms,
                      {"col": "src", "cand_k": 8})
    register_artifact(spark, reg, "nd_pairs", emb_base, ndp,
                      {"buckets": ndb})
    arts = {mv, vidx, pidx, kmv, qsk, cms, ndp}

    barrier = threading.Barrier(2)
    maint_results: list[dict] = []
    writer_errors: list[str] = []

    def churn():
        barrier.wait()
        try:
            for step in range(4):
                upsert_parquet(
                    spark, base,
                    _docs(spark, 0, 200)
                    .filter(F.col("doc_id") % 5 == step % 5)
                    .withColumn("n", F.col("n") + F.lit(step)),
                    ["doc_id"],
                )
                if step == 1:
                    delete_keys_mor(
                        spark, base,
                        spark.range(0, 200, 13).select(
                            F.col("id").alias("doc_id")),
                        ["doc_id"],
                    )
                    upsert_parquet(
                        spark, emb_base,
                        emb.filter(F.col("vec_id") % 2 == 1),
                        ["vec_id"],
                    )
                if step == 2:
                    compact_small_files(spark, base)
                if step == 3:
                    delete_keys_mor(
                        spark, emb_base,
                        emb.filter(F.col("vec_id") % 9 == 4)
                        .select("vec_id"),
                        ["vec_id"],
                    )
        except Exception as ex:  # noqa: BLE001
            writer_errors.append(f"{type(ex).__name__}: {ex}")

    def maintain_loop():
        barrier.wait()
        for _ in range(4):
            maint_results.append(
                maintain_artifacts(spark, reg, raise_on_error=False)
            )

    ts = [threading.Thread(target=churn),
          threading.Thread(target=maintain_loop)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not writer_errors, writer_errors
    # mid-race failures are allowed but must be LOUD result rows —
    # every tick produced a status for every artifact of every kind
    for res in maint_results:
        assert set(res) == arts
        for r in res.values():
            assert r["status"] in ("refreshed", "noop", "error"), r

    # the settle pass converges every artifact to its base's head...
    final = maintain_artifacts(spark, reg)
    assert all(r["status"] in ("refreshed", "noop")
               for r in final.values()), final
    head = int(read_manifest(spark, base)["version"])
    emb_head = int(read_manifest(spark, emb_base)["version"])
    assert int(mv_info(spark, mv)["version"]) == head
    assert int(read_manifest(spark, vidx)["index_of"]["version"]) == head
    for art, want_head in ((pidx, head), (kmv, head), (qsk, head),
                           (cms, head), (ndp, emb_head)):
        assert int(
            read_manifest(spark, art)["index_of"]["version"]
        ) == want_head, art
    # ...and contents equal a direct recompute / fresh-build twin
    # (deterministic sketches: identical frames, not just close ones)
    want = sorted(
        map(
            tuple,
            read_table(spark, base).groupBy("src").agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum("n").alias("sum_n"),
            ).collect(),
        )
    )
    assert sorted(map(tuple, read_table(spark, mv).collect())) == want
    kmv2, qsk2, ndp2, ndb2 = (
        f"{s}/kmv2", f"{s}/qsk2", f"{s}/ndp2", f"{s}/ndb2"
    )
    build_kmv_sketch(spark, base, "digest", kmv2, keys=["src"])
    assert sorted(map(tuple, read_table(spark, kmv).collect())) == sorted(
        map(tuple, read_table(spark, kmv2).collect())
    )
    build_quantile_sketch(spark, base, "doc_id", "n", qsk2, keys=["src"])
    assert sorted(map(tuple, read_table(spark, qsk).collect())) == sorted(
        map(tuple, read_table(spark, qsk2).collect())
    )
    cms2 = f"{s}/cms2"
    build_cms_sketch(spark, base, "src", cms2, cand_k=8)
    assert sorted(
        map(tuple, read_table(spark, cms).collect())
    ) == sorted(map(tuple, read_table(spark, cms2).collect()))
    final_docs = read_table(spark, base).select("doc_id", "text")
    want_postings = sorted(
        map(
            tuple,
            final_docs.select(
                F.explode(F.expr(TOKENS)).alias("term"), "doc_id"
            )
            .groupBy("term", "doc_id")
            .agg(F.count(F.lit(1)).cast("long").alias("tf"))
            .collect(),
        )
    )
    got_postings = sorted(
        map(tuple, maintained_postings(spark, pidx).collect())
    )
    assert got_postings == want_postings
    build_nd_pair_index(spark, emb_base, ndp2, ndb2)
    want_pairs = sorted(
        (r["id1"], r["id2"], round(r["cosine"], 6))
        for r in read_table(spark, ndp2).collect()
    )
    got_pairs = sorted(
        (r["id1"], r["id2"], round(r["cosine"], 6))
        for r in read_table(spark, ndp).collect()
    )
    assert got_pairs == want_pairs

def test_avg_routes_through_covering_view(spark):
    """An AVG request serves from a count+sum view bit-identically to
    the direct aggregate (same sum/count division, same rounding)."""
    from prox_spark.artifacts import serve_aggregate
    from prox_spark.mv import create_mv

    s = _scratch()
    base, reg, mv = f"{s}/base", f"{s}/reg", f"{s}/mv"
    commit_snapshot(spark, base, _docs(spark, 0, 100),
                    stat_cols=["doc_id"], n_files=2)
    create_mv(spark, base, mv, ["src"], ["n"])
    register_artifact(spark, reg, "mv", base, mv)
    # move the base so the served read exercises the change-feed fold
    delete_keys_mor(
        spark, base,
        spark.range(0, 100, 7).select(F.col("id").alias("doc_id")),
        ["doc_id"],
    )
    out, hit = serve_aggregate(spark, reg, base, ["src"], [], avgs=["n"])
    assert hit == mv
    assert out.columns == ["src", "n_rows", "avg_n"]
    want = sorted(
        map(
            tuple,
            read_table(spark, base).groupBy("src").agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
            ).join(
                read_table(spark, base).groupBy("src").agg(
                    F.round(
                        F.sum("n") / F.count(F.lit(1)), 6
                    ).alias("avg_n"),
                ),
                "src",
            ).collect(),
        )
    )
    assert sorted(map(tuple, out.collect())) == want


def test_kmv_sketch_serves_folds_and_recomputes(spark):
    """The KMV artifact: a stale sketch folds insert windows at read
    time; maintenance folds insert windows and recomputes on delete
    echoes; a delete window with a stale sketch falls back to exact."""
    from prox_spark.artifacts import (
        build_kmv_sketch,
        serve_distinct,
    )
    from prox_spark.upsert import delete_keys

    s = _scratch()
    base, reg, kmv = f"{s}/base", f"{s}/reg", f"{s}/kmv"
    commit_snapshot(
        spark, base, _docs(spark, 0, 200).select("doc_id", "text"),
        stat_cols=["doc_id"], n_files=2,
    )
    build_kmv_sketch(spark, base, "text", kmv)
    register_artifact(spark, reg, "kmv", base, kmv, {"col": "text"})

    def fresh_estimate():
        ref = f"{s}/ref_{read_manifest(spark, base)['version']}"
        build_kmv_sketch(spark, base, "text", ref)
        rows = sorted(
            float(r["u"]) for r in read_table(spark, ref).collect()
        )
        from prox_spark.artifacts import KMV_K, _kmv_estimate

        return _kmv_estimate(rows, KMV_K)

    # served == fresh-build estimate at the covered head
    est0, hit0 = serve_distinct(spark, reg, base, "text")
    assert hit0 == kmv and est0 == fresh_estimate()
    # stale sketch + insert-only window: read-time fold, same answer
    prev = read_manifest(spark, base)
    commit_delta(
        spark, base, _docs(spark, 200, 300).select("doc_id", "text"),
        list(prev["files"]), update_key_ranges={},
    )
    est1, hit1 = serve_distinct(spark, reg, base, "text")
    assert hit1 == kmv and est1 == fresh_estimate()
    # maintenance folds it (insert-only window -> fold mode)
    r1 = maintain_artifacts(spark, reg)
    assert r1[kmv]["status"] == "refreshed" and r1[kmv]["mode"] == "fold"
    # delete window: stale sketch cannot answer -> exact fallback...
    delete_keys(
        spark, base,
        spark.range(0, 300, 3).select(F.col("id").alias("doc_id")),
        ["doc_id"],
    )
    est2, hit2 = serve_distinct(spark, reg, base, "text")
    exact = read_table(spark, base).select("text").distinct().count()
    assert hit2 is None and est2 == float(exact)
    # ...and maintenance recomputes, after which the sketch serves again
    r2 = maintain_artifacts(spark, reg)
    assert r2[kmv]["mode"] == "recompute"
    est3, hit3 = serve_distinct(spark, reg, base, "text")
    assert hit3 == kmv and est3 == fresh_estimate()
    # sanity: the estimate lands in a sane band of the true count
    assert 0.4 * exact <= est3 <= 2.5 * exact


def test_quantile_sketch_serves_folds_and_recomputes(spark):
    """The quantile-sketch artifact (bottom-k-by-hash row sample):
    a stale sample folds insert windows at read time; maintenance
    folds insert windows and recomputes on delete echoes; a delete
    window with a stale sample falls back to the exact percentile;
    and every served estimate equals a fresh-build twin's (the sample
    is deterministic, so 'equal', not 'close')."""
    from prox_spark.artifacts import (
        build_quantile_sketch,
        serve_aggregate,
        serve_quantile_by,
    )
    from prox_spark.upsert import delete_keys

    s = _scratch()
    base, reg, qsk = f"{s}/base", f"{s}/reg", f"{s}/qsk"
    commit_snapshot(
        spark, base, _docs(spark, 0, 200).select("doc_id", "src", "n"),
        stat_cols=["doc_id"], n_files=2,
    )
    build_quantile_sketch(spark, base, "doc_id", "n", qsk,
                          k=16, keys=["src"])
    register_artifact(
        spark, reg, "quantile_sketch", base, qsk,
        {"key": "doc_id", "val": "n", "keys": ["src"], "k": 16},
    )

    def fresh_estimate():
        ref = f"{s}/qref_{read_manifest(spark, base)['version']}"
        build_quantile_sketch(spark, base, "doc_id", "n", ref,
                              k=16, keys=["src"])
        return sorted(
            (r["src"], round(float(r["q"]), 6))
            for r in read_table(spark, ref)
            .groupBy("src")
            .agg(F.expr("percentile(v, 0.5)").alias("q"))
            .collect()
        )

    def served():
        out, hit = serve_aggregate(
            spark, reg, base, ["src"], [], quantile=("n", 0.5)
        )
        return sorted(
            (r["src"], round(float(r["est_q"]), 6)) for r in out.collect()
        ), hit

    got0, hit0 = served()
    assert hit0 == qsk and got0 == fresh_estimate()
    # stale sample + insert-only window: read-time fold, same answer
    prev = read_manifest(spark, base)
    commit_delta(
        spark, base, _docs(spark, 200, 300).select("doc_id", "src", "n"),
        list(prev["files"]), update_key_ranges={},
    )
    got1, hit1 = served()
    assert hit1 == qsk and got1 == fresh_estimate()
    # maintenance folds it (insert-only window -> fold mode)
    r1 = maintain_artifacts(spark, reg)
    assert r1[qsk]["status"] == "refreshed" and r1[qsk]["mode"] == "fold"
    # delete window: stale sample cannot retract -> exact fallback...
    delete_keys(
        spark, base,
        spark.range(0, 300, 3).select(F.col("id").alias("doc_id")),
        ["doc_id"],
    )
    out2, hit2 = serve_quantile_by(spark, reg, base, "n", 0.5, ["src"])
    exact = sorted(
        (r["src"], round(float(r["est_q"]), 6))
        for r in read_table(spark, base)
        .groupBy("src")
        .agg(
            F.round(
                F.expr("percentile(cast(n as double), 0.5)"), 6
            ).alias("est_q")
        )
        .collect()
    )
    assert hit2 is None
    assert sorted(
        (r["src"], round(float(r["est_q"]), 6)) for r in out2.collect()
    ) == exact
    # ...and maintenance recomputes, after which the sample serves again
    r2 = maintain_artifacts(spark, reg)
    assert r2[qsk]["mode"] == "recompute"
    got3, hit3 = served()
    assert hit3 == qsk and got3 == fresh_estimate()
    # the GLOBAL (ungrouped) shape serves through the same route
    gq = f"{s}/gqsk"
    build_quantile_sketch(spark, base, "doc_id", "n", gq, k=16)
    register_artifact(spark, reg, "quantile_sketch", base, gq,
                      {"key": "doc_id", "val": "n", "k": 16})
    out4, hit4 = serve_aggregate(
        spark, reg, base, [], [], quantile=("n", 0.9)
    )
    assert hit4 == gq and out4.columns == ["est_q"]
    assert out4.count() == 1
    # MULTI-quantile: one sample pass serves every requested q, long
    # form (keys..., q, est_q), each row equal to its scalar twin
    out5, hit5 = serve_aggregate(
        spark, reg, base, ["src"], [],
        quantile=("n", [0.25, 0.5, 0.75]),
    )
    assert hit5 == qsk and out5.columns == ["src", "q", "est_q"]
    rows5 = {(r["src"], r["q"]): r["est_q"] for r in out5.collect()}
    assert len(rows5) == 4 * 3  # 4 sources x 3 quantiles
    for qq in (0.25, 0.5, 0.75):
        single, _ = serve_quantile_by(spark, reg, base, "n", qq, ["src"])
        for r in single.collect():
            assert rows5[(r["src"], qq)] == r["est_q"]
    # multi-q exact fallback keeps the same long-form schema
    out6, hit6 = serve_quantile_by(
        spark, reg, base, "doc_id", [0.1, 0.9], ["src"]
    )
    assert hit6 is None and out6.columns == ["src", "q", "est_q"]
    assert out6.count() == 8


def test_nd_pairs_maintenance_handles_updates(spark):
    """An UPDATED vector's old pairs retire and its new pairs compute
    against the standing buckets — the maintained index equals a
    from-scratch rebuild of the final corpus after append + update +
    delete windows."""
    from prox_spark.neardup import maintain_nd_pairs
    from prox_spark.queries.similarity import build_nd_pair_index
    from prox_spark.upsert import delete_keys_mor, upsert_parquet

    s = _scratch()
    base = f"{s}/emb"
    pairs, buckets = f"{s}/pairs", f"{s}/buckets"

    def vecs(lo, hi, bump=0):
        # clusters of 4 near-identical vectors; `bump` rotates a
        # vector into a different neighborhood
        return spark.range(lo, hi).select(
            F.col("id").alias("vec_id"),
            F.expr(
                "transform(sequence(0, 15), i -> "
                "cast(if(i = cast((id + {b}) div 4 as int) % 16, 10.0, "
                "(id % 4) * 0.01) as float))".format(b=bump)
            ).alias("embedding"),
        )

    commit_snapshot(spark, base, vecs(0, 40),
                    stat_cols=["vec_id"], n_files=2)
    build_nd_pair_index(spark, base, pairs, buckets)
    # append + update (move two vectors to other clusters) + delete
    prev = read_manifest(spark, base)
    commit_delta(spark, base, vecs(40, 56), list(prev["files"]),
                 update_key_ranges={})
    upsert_parquet(
        spark, base,
        vecs(0, 56, bump=8).filter(F.col("vec_id").isin(5, 21)),
        ["vec_id"],
    )
    delete_keys_mor(
        spark, base,
        spark.range(0, 56, 11).select(F.col("id").alias("vec_id")),
        ["vec_id"],
    )
    out = maintain_nd_pairs(spark, base, pairs, buckets)
    assert out["status"] == "refreshed"
    # replay: noop
    again = maintain_nd_pairs(spark, base, pairs, buckets)
    assert again["status"] == "noop"
    # equality with a from-scratch rebuild of the final corpus
    ref_p, ref_b = f"{s}/ref_pairs", f"{s}/ref_buckets"
    build_nd_pair_index(spark, base, ref_p, ref_b)
    got = sorted(map(tuple, read_table(spark, pairs).collect()))
    want = sorted(map(tuple, read_table(spark, ref_p).collect()))
    assert got == want and len(want) > 0
    got_b = sorted(map(tuple, read_table(spark, buckets).collect()))
    want_b = sorted(map(tuple, read_table(spark, ref_b).collect()))
    assert got_b == want_b

def test_nd_pairs_random_op_sequence_matches_rebuild(spark):
    """Model test: a deterministic pseudo-random op mix on the base
    (appends, vector-moving upserts, CoW + MoR deletes, compaction)
    with maintenance every couple of ops — windows spanning MULTIPLE
    commits — must keep the maintained pair index equal to a
    from-scratch rebuild of the current corpus at every checkpoint."""
    import hashlib

    from prox_spark.neardup import maintain_nd_pairs
    from prox_spark.queries.similarity import build_nd_pair_index
    from prox_spark.table import compact_table
    from prox_spark.upsert import delete_keys, delete_keys_mor, upsert_parquet

    def rnd(seed, lo, hi):
        h = int(hashlib.md5(seed.encode()).hexdigest()[:8], 16)
        return lo + h % (hi - lo + 1)

    def vec(vid, gen):
        # one-hot-ish: (vid, gen) picks the hot axis, so an upsert
        # MOVES the vector to another neighborhood
        hot = rnd(f"hot:{vid}:{gen}", 0, 15)
        v = [(vid % 4) * 0.01] * 16
        v[hot] = 10.0 + (vid % 7) * 0.02
        return v

    def frame(items):
        return spark.createDataFrame(
            [(vid, vec(vid, gen)) for vid, gen in items],
            "vec_id long, embedding array<double>",
        )

    s = _scratch()
    base = f"{s}/emb"
    pairs, buckets = f"{s}/pairs", f"{s}/buckets"
    model: dict[int, int] = {vid: 0 for vid in range(40)}
    commit_snapshot(spark, base, frame(sorted(model.items())),
                    stat_cols=["vec_id"], n_files=2)
    build_nd_pair_index(spark, base, pairs, buckets)
    next_id = 40

    def live_ids(step, k):
        ids = sorted(model)
        return [ids[rnd(f"pick:{step}:{i}", 0, len(ids) - 1)]
                for i in range(k)]

    for step in range(1, 11):
        op = rnd(f"op:{step}", 0, 9)
        if op <= 2:  # append
            fresh = [(next_id + i, 0) for i in range(6)]
            next_id += 6
            prev = read_manifest(spark, base)
            commit_delta(spark, base, frame(fresh),
                         list(prev["files"]), update_key_ranges={})
            model.update(dict(fresh))
        elif op <= 5:  # upsert: move some vectors
            targets = sorted(set(live_ids(step, 4)))
            for t in targets:
                model[t] += 1
            upsert_parquet(
                spark, base, frame([(t, model[t]) for t in targets]),
                ["vec_id"],
            )
        elif op == 6:  # copy-on-write delete
            targets = sorted(set(live_ids(step, 3)))
            delete_keys(
                spark, base,
                spark.createDataFrame([(t,) for t in targets],
                                      "vec_id long"),
                ["vec_id"],
            )
            for t in targets:
                model.pop(t, None)
        elif op == 7:  # merge-on-read delete
            targets = sorted(set(live_ids(step, 3)))
            delete_keys_mor(
                spark, base,
                spark.createDataFrame([(t,) for t in targets],
                                      "vec_id long"),
                ["vec_id"],
            )
            for t in targets:
                model.pop(t, None)
        else:  # base maintenance: compaction is CDC-silent
            compact_table(spark, base, n_files=2)
        if step % 2 == 0 or step == 10:
            maintain_nd_pairs(spark, base, pairs, buckets)
            ref_p, ref_b = f"{s}/ref{step}_p", f"{s}/ref{step}_b"
            build_nd_pair_index(spark, base, ref_p, ref_b)
            got = sorted(map(tuple, read_table(spark, pairs).collect()))
            want = sorted(map(tuple, read_table(spark, ref_p).collect()))
            assert got == want, f"pairs diverged at step {step}"
            got_b = sorted(
                map(tuple, read_table(spark, buckets).collect())
            )
            want_b = sorted(
                map(tuple, read_table(spark, ref_b).collect())
            )
            assert got_b == want_b, f"buckets diverged at step {step}"

def test_grouped_kmv_serves_per_group(spark):
    """serve_distinct_by: grouped sketches answer per-group distinct
    requests — stale insert-only windows fold at read time, delete
    windows fall back to exact, and maintained estimates equal a
    fresh-build's."""
    from prox_spark.artifacts import (
        build_kmv_sketch,
        serve_distinct_by,
    )
    from prox_spark.upsert import delete_keys

    s = _scratch()
    base, reg, kmv = f"{s}/base", f"{s}/reg", f"{s}/gkmv"
    commit_snapshot(
        spark, base,
        _docs(spark, 0, 150).select("doc_id", "src", "text"),
        stat_cols=["doc_id"], n_files=2,
    )
    build_kmv_sketch(spark, base, "text", kmv, keys=["src"])
    register_artifact(
        spark, reg, "kmv", base, kmv, {"col": "text", "keys": ["src"]}
    )

    def served():
        out, hit = serve_distinct_by(spark, reg, base, "text", ["src"])
        return sorted(map(tuple, out.collect())), hit

    def fresh():
        ref = f"{s}/ref_{read_manifest(spark, base)['version']}"
        build_kmv_sketch(spark, base, "text", ref, keys=["src"])
        out, _ = serve_distinct_by(
            spark, f"{s}/reg2_{ref.split('_')[-1]}", base, "text", ["src"]
        )
        # no registry for the ref: recompute the estimate directly
        from prox_spark.artifacts import KMV_K, _kmv_estimate

        rows = read_table(spark, ref).collect()
        by_src: dict = {}
        for r in rows:
            by_src.setdefault(r["src"], []).append(float(r["u"]))
        return sorted(
            (src, _kmv_estimate(us, KMV_K)) for src, us in by_src.items()
        )

    got, hit = served()
    assert hit == kmv and got == fresh()
    # stale sketch + insert-only window: read-time fold
    prev = read_manifest(spark, base)
    commit_delta(
        spark, base, _docs(spark, 150, 220).select("doc_id", "src", "text"),
        list(prev["files"]), update_key_ranges={},
    )
    got2, hit2 = served()
    assert hit2 == kmv and got2 == fresh()
    # maintenance folds; a later delete window forces exact fallback
    r1 = maintain_artifacts(spark, reg)
    assert r1[kmv]["mode"] == "fold"
    delete_keys(
        spark, base,
        spark.range(0, 220, 4).select(F.col("id").alias("doc_id")),
        ["doc_id"],
    )
    got3, hit3 = served()
    assert hit3 is None
    want = sorted(
        map(
            tuple,
            read_table(spark, base).groupBy("src").agg(
                F.countDistinct("text").cast("double")
                .alias("est_distinct")
            ).collect(),
        )
    )
    assert got3 == want
    # recompute restores sketch serving
    r2 = maintain_artifacts(spark, reg)
    assert r2[kmv]["mode"] == "recompute"
    got4, hit4 = served()
    assert hit4 == kmv and got4 == fresh()


def test_qsk_topk_duplicate_key_tiebreak_deterministic(spark):
    """An insert-only fold can re-append a row key with a NEW value;
    the stored sample row and the feed row then share u (u hashes the
    key only). The sample must keep ONE deterministically-chosen v
    (max), not an arbitrary partition-order survivor."""
    from prox_spark.artifacts import _qsk_topk

    dup = spark.createDataFrame(
        [("a", 0.25, 10.0), ("a", 0.25, 3.0), ("a", 0.75, 5.0),
         ("b", 0.5, 7.0), ("b", 0.5, 9.0)],
        "g string, u double, v double",
    )
    for _ in range(3):  # stable across replans/partitionings
        got = sorted(
            map(tuple, _qsk_topk(dup.repartition(5), ["g"], 4).collect())
        )
        assert got == [("a", 0.25, 10.0), ("a", 0.75, 5.0),
                       ("b", 0.5, 9.0)]
    # global (no keys) path too
    got = sorted(map(tuple, _qsk_topk(dup.select("u", "v"), [], 4).collect()))
    assert got == [(0.25, 10.0), (0.5, 9.0), (0.75, 5.0)]


def test_cms_sketch_serves_folds_recomputes_and_bounds_eviction(spark):
    """The CMS heavy-hitter artifact: a stale sketch folds insert
    windows at read time; maintenance folds inserts and recomputes on
    delete echoes; a delete window with a stale sketch falls back to
    exact; estimates never under-count; and with a candidate capacity
    SMALLER than the vocabulary, every served top-k estimate still
    dominates the evicted items' true counts (the CMS+heap
    guarantee)."""
    from prox_spark.artifacts import (
        build_cms_sketch,
        serve_aggregate,
        serve_topk,
    )
    from prox_spark.upsert import delete_keys

    s = _scratch()
    base, reg, cms = f"{s}/base", f"{s}/reg", f"{s}/cms"
    # src values skewed: s0 twice as frequent as s1 etc. via id%4
    commit_snapshot(
        spark, base, _docs(spark, 0, 200).select("doc_id", "src"),
        stat_cols=["doc_id"], n_files=2,
    )
    build_cms_sketch(spark, base, "src", cms, cand_k=8)
    register_artifact(
        spark, reg, "cms", base, cms, {"col": "src", "cand_k": 8}
    )

    def truth():
        return {
            r["tok"]: r["cnt"]
            for r in read_table(spark, base)
            .groupBy(F.col("src").alias("tok"))
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
            .collect()
        }

    def check_served(got, hit, want_hit):
        assert hit == want_hit
        t = truth()
        for r in got:
            assert r["est_cnt"] >= t.get(r["tok"], 0), r

    got0, hit0 = serve_topk(spark, reg, base, "src", 3)
    check_served(got0.collect(), hit0, cms)
    # stale sketch + insert window: read-time fold, still dominating
    prev = read_manifest(spark, base)
    commit_delta(
        spark, base, _docs(spark, 200, 260).select("doc_id", "src"),
        list(prev["files"]), update_key_ranges={},
    )
    got1, hit1 = serve_topk(spark, reg, base, "src", 3)
    check_served(got1.collect(), hit1, cms)
    r1 = maintain_artifacts(spark, reg)
    assert r1[cms]["status"] == "refreshed" and r1[cms]["mode"] == "fold"
    # the serve_aggregate verb routes to the same artifact
    got_v, hit_v = serve_aggregate(
        spark, reg, base, [], [], topk=("src", 3)
    )
    assert hit_v == cms
    assert [r["tok"] for r in got_v.collect()] == [
        r["tok"] for r in got1.collect()
    ]
    # delete window: stale sketch cannot answer -> exact fallback
    delete_keys(
        spark, base,
        spark.range(0, 260, 2).select(F.col("id").alias("doc_id")),
        ["doc_id"],
    )
    got2, hit2 = serve_topk(spark, reg, base, "src", 3)
    t = truth()
    want = sorted(t.items(), key=lambda kv: (-kv[1], kv[0]))[:3]
    assert hit2 is None
    assert [(r["tok"], r["est_cnt"]) for r in got2.collect()] == want
    # maintenance recomputes; sketch serves again and dominates truth
    r2 = maintain_artifacts(spark, reg)
    assert r2[cms]["mode"] == "recompute"
    got3, hit3 = serve_topk(spark, reg, base, "src", 3)
    check_served(got3.collect(), hit3, cms)
    # eviction bound: capacity 2 < vocabulary 4 — the served top-2
    # estimates must each dominate every evicted item's true count
    cms2 = f"{s}/cms2"
    build_cms_sketch(spark, base, "src", cms2, cand_k=2)
    register_artifact(
        spark, reg, "cms", base, cms2, {"col": "src", "cand_k": 2}
    )
    # two artifacts now match (col=src); drop the first registration
    from prox_spark.upsert import delete_keys as _dk

    _dk(spark, reg, spark.createDataFrame([(cms,)], "artifact string"),
        ["artifact"])
    got4, hit4 = serve_topk(spark, reg, base, "src", 2)
    rows4 = got4.collect()
    assert hit4 == cms2 and len(rows4) == 2
    served_toks = {r["tok"] for r in rows4}
    floor = min(r["est_cnt"] for r in rows4)
    for tok, cnt in truth().items():
        if tok not in served_toks:
            assert cnt <= floor, (tok, cnt, floor)


def test_vacuum_with_registry_preserves_cms_fold(spark):
    """The cms kind's covered version pins the vacuum suffix like the
    other sketch kinds: after an aggressive registry-guided vacuum,
    the next maintenance still FOLDS (the feed window survived) and
    the folded sketch equals a fresh build at the head."""
    from prox_spark.artifacts import build_cms_sketch, vacuum_with_registry
    from prox_spark.upsert import upsert_parquet

    s = _scratch()
    base, cms, reg = f"{s}/base", f"{s}/cms", f"{s}/reg"
    commit_snapshot(spark, base, _docs(spark, 0, 60),
                    stat_cols=["doc_id"], n_files=2)
    build_cms_sketch(spark, base, "src", cms, cand_k=8)
    register_artifact(spark, reg, "cms", base, cms,
                      {"col": "src", "cand_k": 8})
    for lo in (60, 90, 120):  # pure appends: fold-eligible windows
        prev = read_manifest(spark, base)
        commit_delta(
            spark, base, _docs(spark, lo, lo + 30).select(
                "doc_id", "src", "n", "text", "digest"
            ),
            list(prev["files"]), update_key_ranges={},
        )
    vacuum_with_registry(spark, base, reg, keep_last=1,
                         retention_minutes=0.0)
    r = maintain_artifacts(spark, reg)
    assert r[cms]["status"] == "refreshed" and r[cms]["mode"] == "fold", r
    cms2 = f"{s}/cms2"
    build_cms_sketch(spark, base, "src", cms2, cand_k=8)
    assert sorted(
        map(tuple, read_table(spark, cms).collect())
    ) == sorted(map(tuple, read_table(spark, cms2).collect()))
