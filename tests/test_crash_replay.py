"""Crash-injection model tests for multi-commit artifact maintenance:
a maintenance run killed at ANY commit boundary — immediately before
or immediately after any single manifest publish — must leave state a
simple re-run converges from, to EXACTLY the no-crash result. This is
the executable form of the round-9 ADVICE contract: coverage advances
atomically with the one non-idempotent step, and every earlier step is
an idempotent keyed delete/upsert.

Injection point: ``prox_spark.table._write_manifest`` — the single
choke point every commit's atomic rename goes through (resolved via
module globals at call time, so patching the module attribute covers
commit_delta and everything built on it)."""

from __future__ import annotations

import atexit
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

import prox_spark.table as table_mod
from prox_spark.table import commit_delta, commit_snapshot, read_manifest, read_table


def _scratch() -> str:
    d = tempfile.mkdtemp(prefix="prox_crash_test_")
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


class _InjectedCrash(RuntimeError):
    pass


class _CrashingWriter:
    """Counts manifest publishes; crashes on the k-th — either BEFORE
    the rename (commit never happened) or AFTER it (commit landed, the
    caller died before its next step)."""

    def __init__(self, real, fail_at: int | None, when: str):
        self.real = real
        self.fail_at = fail_at
        self.when = when
        self.calls = 0

    def __call__(self, *a, **k):
        self.calls += 1
        if self.fail_at is not None and self.calls == self.fail_at:
            if self.when == "before":
                raise _InjectedCrash(f"before publish #{self.calls}")
            out = self.real(*a, **k)
            raise _InjectedCrash(f"after publish #{self.calls}")
        return self.real(*a, **k)


def _snapshot(paths: list[str], dest: str) -> None:
    for i, p in enumerate(paths):
        shutil.copytree(p, f"{dest}/t{i}")


def _restore(paths: list[str], dest: str) -> None:
    for i, p in enumerate(paths):
        shutil.rmtree(p, ignore_errors=True)
        shutil.copytree(f"{dest}/t{i}", p)


def _run_with_crashes(monkeypatch, artifacts, pristine, maintain, state):
    """The shared scenario driver: measure the no-crash run's commit
    count and final state, then for every boundary x {before, after}
    restore pristine artifacts, crash there, re-run cleanly, and
    assert the converged state is identical."""
    real = table_mod._write_manifest
    counter = _CrashingWriter(real, None, "before")
    monkeypatch.setattr(table_mod, "_write_manifest", counter)
    maintain()
    monkeypatch.setattr(table_mod, "_write_manifest", real)
    n_commits = counter.calls
    assert n_commits >= 2, "scenario must be multi-commit to be worth testing"
    expected = state()

    for fail_at in range(1, n_commits + 1):
        for when in ("before", "after"):
            _restore(artifacts, pristine)
            crasher = _CrashingWriter(real, fail_at, when)
            monkeypatch.setattr(table_mod, "_write_manifest", crasher)
            with pytest.raises(_InjectedCrash):
                maintain()
            monkeypatch.setattr(table_mod, "_write_manifest", real)
            maintain()  # the recovery re-run
            got = state()
            assert got == expected, (
                f"crash {when} publish #{fail_at}/{n_commits}: replay "
                "diverged from the no-crash result"
            )


def test_nd_pairs_maintenance_survives_any_crash(spark, monkeypatch):
    """The 5-commit nd_pairs maintenance (bucket delete, two pair
    deletes, bucket upsert, coverage-carrying pair upsert): killed at
    any boundary, a re-run converges bit-identically."""
    from prox_spark.neardup import maintain_nd_pairs
    from prox_spark.queries.similarity import build_nd_pair_index
    from prox_spark.upsert import delete_keys_mor

    s = _scratch()
    base = f"{s}/emb"
    pairs, buckets = f"{s}/pairs", f"{s}/buckets"

    def vecs(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("vec_id"),
            F.expr(
                "transform(sequence(0, 15), i -> "
                "cast(if(i = cast(id div 4 as int) % 16, 10.0, "
                "(id % 4) * 0.01) as float))"
            ).alias("embedding"),
        )

    commit_snapshot(spark, base, vecs(0, 32), stat_cols=["vec_id"],
                    n_files=2)
    build_nd_pair_index(spark, base, pairs, buckets)
    prist = f"{s}/prist"
    _snapshot([pairs, buckets], prist)
    # the churn the maintenance must fold: append + MoR delete
    prev = read_manifest(spark, base)
    commit_delta(spark, base, vecs(32, 44), list(prev["files"]),
                 update_key_ranges={})
    delete_keys_mor(
        spark, base,
        spark.range(0, 44, 9).select(F.col("id").alias("vec_id")),
        ["vec_id"],
    )

    def maintain():
        maintain_nd_pairs(spark, base, pairs, buckets)

    def state():
        return (
            sorted(map(tuple, read_table(spark, pairs).collect())),
            sorted(map(tuple, read_table(spark, buckets).collect())),
            read_manifest(spark, pairs)["index_of"],
        )

    _run_with_crashes(monkeypatch, [pairs, buckets], prist, maintain, state)


def test_bounded_index_maintenance_survives_any_crash(spark, monkeypatch):
    """The 2-commit bounded-BM25 maintenance (pairs merge, then the
    stats commit carrying the additive corpus fold + coverage): killed
    at either boundary, a re-run converges — the corpus row is never
    double-folded because coverage rides the same rename as the fold."""
    from prox_spark.wand import bounded_bm25, maintain_bounded_index

    TOKENS = "split(lower(text), ' ')"
    s = _scratch()
    idx, stats = f"{s}/idx", f"{s}/stats"

    def corpus(n):
        return spark.range(n).select(
            F.col("id").alias("doc_id"),
            F.concat(
                F.expr("repeat('tok ', cast(1 + id % 3 as int))"),
                F.lit("w"), F.expr("cast(id div 2 as string)"),
            ).alias("text"),
        )

    from prox_spark.wand import build_bounded_index

    build_bounded_index(
        spark, corpus(40), idx, stats, TOKENS, n_files=4,
        covers={"base": f"{s}/c", "version": 1},
    )
    prist = f"{s}/prist"
    _snapshot([idx, stats], prist)
    feed = corpus(60).filter(F.col("doc_id") >= 40).select(
        "doc_id", "text",
        F.lit("insert").alias("_change_type"),
        F.lit(2).cast("long").alias("_commit_version"),
    ).unionByName(
        corpus(40).filter(F.col("doc_id") % 7 == 0).select(
            "doc_id", "text",
            F.lit("delete").alias("_change_type"),
            F.lit(3).cast("long").alias("_commit_version"),
        )
    )

    def maintain():
        # the streaming sink's fence decides from the stats lineage —
        # replaying through maintain_bounded_index directly models the
        # foreachBatch recovery re-run
        from prox_spark.wand import bounded_index_stream_batch

        bounded_index_stream_batch(
            feed, 0, f"{s}/c", idx, stats, TOKENS
        )

    def state():
        out, _ = bounded_bm25(
            spark, idx, stats, [(1, "tok"), (2, "w3")], 5,
            "cast(tf as bigint)",
        )
        return (
            sorted(map(tuple, out.collect())),
            sorted(map(tuple, read_table(spark, stats).collect())),
            read_manifest(spark, stats)["index_of"],
        )

    _run_with_crashes(monkeypatch, [idx, stats], prist, maintain, state)

def test_recluster_survives_any_crash(spark, monkeypatch):
    """The WAP recluster (branch fork, branch commit, one-CAS
    publish): killed at any boundary, main either serves the OLD index
    or the fully-published NEW one (never a torn state), a dangling
    staging branch never wedges the retry, and the re-run converges to
    the no-crash rows + quantizer."""
    from prox_spark.ivf import _assign_to_cents, kmeans_fit, recluster_index

    s = _scratch()
    idx = f"{s}/ivf"
    rows = []
    anchors = [
        [10.0, 0.0, 0.0, 0.0], [0.0, 10.0, 0.0, 0.0],
        [0.0, 0.0, 10.0, 0.0], [0.0, 0.0, 0.0, 10.0],
    ]
    vid = 0
    for b, anchor in enumerate(anchors):
        for i in range(20):
            v = list(anchor)
            v[i % 4] += (i % 7) * 0.02
            n = float(sum(x * x for x in v)) ** 0.5
            rows.append((vid, v, n))
            vid += 1
    corpus = spark.createDataFrame(
        rows, "vec_id long, dd array<double>, nrm double"
    )
    cents0 = kmeans_fit(
        corpus.select(
            "vec_id", F.expr("transform(dd, x -> x / nrm)").alias("dd")
        ),
        k=2, max_iters=1,  # a deliberately bad initial quantizer
    )
    commit_snapshot(
        spark, idx,
        _assign_to_cents(corpus, cents0).select("vec_id", "dd", "nrm", "cid"),
        stat_cols=["cid"], n_files=2,
        extra_meta={"quantizer": {
            "k": 2, "cents": [[c, v] for c, v in cents0],
        }},
    )
    prist = f"{s}/prist"
    _snapshot([idx], prist)
    n_rows = len(rows)

    def maintain():
        recluster_index(spark, idx, k=4, max_iters=2, branch="rc")

    def state():
        return (
            sorted(map(tuple, read_table(spark, idx)
                       .select("vec_id", "cid").collect())),
            read_manifest(spark, idx)["quantizer"]["cents"],
        )

    real = table_mod._write_manifest
    counter = _CrashingWriter(real, None, "before")
    monkeypatch.setattr(table_mod, "_write_manifest", counter)
    maintain()
    monkeypatch.setattr(table_mod, "_write_manifest", real)
    n_commits = counter.calls
    assert n_commits >= 3
    expected = state()

    for fail_at in range(1, n_commits + 1):
        for when in ("before", "after"):
            _restore([idx], prist)
            crasher = _CrashingWriter(real, fail_at, when)
            monkeypatch.setattr(table_mod, "_write_manifest", crasher)
            with pytest.raises(_InjectedCrash):
                maintain()
            monkeypatch.setattr(table_mod, "_write_manifest", real)
            # main is never torn: full row count, and a coherent
            # (data, quantizer) pair — old or new, never a mix
            assert read_table(spark, idx).count() == n_rows
            maintain()  # retry — a dangling 'rc' branch must not wedge
            assert state() == expected, (
                f"crash {when} publish #{fail_at}/{n_commits}"
            )
