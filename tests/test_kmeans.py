"""kmeans_fit: distributed Lloyd's iterations must match a NumPy
reference run from the same deterministic init."""

from __future__ import annotations

import numpy as np

SF_DIR = "/root/testdata/sf0.001"
K, ITERS = 4, 3


def _numpy_kmeans(X: np.ndarray, k: int, iters: int) -> np.ndarray:
    cents = X[:k].copy()
    for _ in range(iters):
        d2 = ((X[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        # lowest-cid tie-break == argmin's first-match semantics
        assign = d2.argmin(axis=1)
        for c in range(k):
            pts = X[assign == c]
            if len(pts):
                cents[c] = pts.mean(axis=0)
    return cents


def test_kmeans_matches_numpy_reference(spark):
    from prox_spark.ivf import kmeans_fit
    from prox_spark.queries.similarity import _emb_n

    emb = _emb_n(spark, SF_DIR)
    got = kmeans_fit(emb, k=K, max_iters=ITERS)
    assert [cid for cid, _ in got] == list(range(K))

    X = np.array(
        [r["dd"] for r in emb.select("vec_id", "dd").orderBy("vec_id").collect()]
    )
    want = _numpy_kmeans(X, K, ITERS)
    got_arr = np.array([vec for _, vec in got])
    # distributed mean sums in nondeterministic order -> allclose, not equal
    assert np.allclose(got_arr, want, rtol=1e-9, atol=1e-12)


def test_kmeans_reduces_sse(spark):
    from prox_spark.ivf import kmeans_fit
    from prox_spark.queries.similarity import _emb_n

    emb = _emb_n(spark, SF_DIR)
    X = np.array([r["dd"] for r in emb.select("dd").collect()])

    def sse(cents):
        C = np.array([vec for _, vec in cents])
        d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        return d2.min(axis=1).sum()

    c0 = kmeans_fit(emb, k=K, max_iters=0)
    c1 = kmeans_fit(emb, k=K, max_iters=1)
    c3 = kmeans_fit(emb, k=K, max_iters=3)
    assert sse(c1) <= sse(c0)
    assert sse(c3) <= sse(c1) + 1e-9


def test_ivf_index_partition_prunes(spark, tmp_path):
    import contextlib
    import io

    from prox_spark.ivf import kmeans_fit
    from prox_spark.queries.similarity import (
        _emb_n,
        build_ivf_index,
        probe_ivf_index,
    )

    emb = _emb_n(spark, SF_DIR)
    cents = kmeans_fit(emb, k=K, max_iters=1)
    path = str(tmp_path / "ivf")
    build_ivf_index(emb, cents, path)

    import os

    dirs = sorted(d for d in os.listdir(path) if d.startswith("cid="))
    assert len(dirs) == K  # every cluster materialized

    probed = probe_ivf_index(spark, path, [0, 2])
    got_cids = {r.cid for r in probed.select("cid").distinct().collect()}
    assert got_cids == {0, 2}
    # the filter must prune at planning time, not post-scan
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        probed.explain("formatted")
    plan = buf.getvalue()
    line = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "cid" in line
    # total rows across all clusters == corpus
    assert spark.read.parquet(path).count() == emb.count()


# --- quantizer re-clustering (recluster_index) -------------------------------


def _blob_corpus(spark, blobs, per_blob=30, dim=4, spread=0.02):
    """Deterministic well-separated blobs: blob b sits at anchor[b],
    members jitter by (i%7)*spread along a fixed axis."""
    rows = []
    vid = 0
    for b, anchor in enumerate(blobs):
        for i in range(per_blob):
            v = list(anchor)
            v[i % dim] += (i % 7) * spread
            n = float(np.sqrt(sum(x * x for x in v)))
            rows.append((vid, b, v, n))
            vid += 1
    return spark.createDataFrame(
        rows, "vec_id long, blob int, dd array<double>, nrm double"
    )


def _exact_topk(df, qrow, k):
    got = sorted(
        (
            (sum(a * b for a, b in zip(qrow["dd"], r["dd"])) / (qrow["nrm"] * r["nrm"]), r["vec_id"])
            for r in df
            if r["vec_id"] != qrow["vec_id"]
        ),
        key=lambda t: (-t[0], t[1]),
    )
    return [v for _, v in got[:k]]


def test_recluster_rebalances_shifted_corpus(spark, tmp_path):
    """A distribution-shifted append crams new blobs into old cells;
    recluster retrains on the index's own vectors, rebuilds on a WAP
    branch (main never moves until the one-CAS publish), stores the
    new quantizer in the same manifest, and restores per-cell balance
    with full recall@5 at nprobe=1."""
    from pyspark.sql import functions as F

    from prox_spark.ivf import _assign_to_cents, kmeans_fit, recluster_index
    from prox_spark.queries.similarity import append_to_index, index_quantizer
    from prox_spark.table import (
        commit_snapshot,
        read_manifest,
        read_table,
        table_versions,
    )

    path = str(tmp_path / "ivf")
    base_blobs = [
        (10.0, 0.0, 0.0, 0.0),
        (0.0, 10.0, 0.0, 0.0),
        (0.0, 0.0, 10.0, 0.0),
        (0.0, 0.0, 0.0, 10.0),
    ]
    shifted_blobs = [
        (7.0, 7.0, 0.0, 0.0),
        (0.0, 7.0, 7.0, 0.0),
        (0.0, 0.0, 7.0, 7.0),
        (7.0, 0.0, 0.0, 7.0),
    ]
    base = _blob_corpus(spark, base_blobs)
    cents0 = kmeans_fit(base.select("vec_id", "dd", "nrm"), k=4, max_iters=3)
    assigned0 = _assign_to_cents(
        base.select("vec_id", "dd", "nrm"), cents0
    ).select("vec_id", "dd", "nrm", "cid")
    commit_snapshot(
        spark, path, assigned0, stat_cols=["cid"], n_files=4,
        extra_meta={"quantizer": {"k": 4, "cents": [[c, v] for c, v in cents0]}},
    )
    # shifted delivery: new blobs, vec_ids continue after the base
    shift = _blob_corpus(spark, shifted_blobs).withColumn(
        "vec_id", F.col("vec_id") + F.lit(120)
    )
    append_to_index(spark, path, shift.select("vec_id", "dd", "nrm"))
    # the stored quantizer survived the append (carry-forward)
    assert len(index_quantizer(spark, path)) == 4
    sizes0 = {
        r["cid"]: r["n"]
        for r in read_table(spark, path).groupBy("cid").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    assert max(sizes0.values()) >= 60, sizes0  # shifted blobs crammed

    out = recluster_index(spark, path, k=8, max_iters=4, branch="rc")
    assert out["isolated"], "main moved during the rebuild"
    assert table_versions(spark, path)[-1] == out["version"]
    got_q = index_quantizer(spark, path)
    assert got_q == out["cents"] and len(got_q) == 8
    # balance restored: 8 cells, none crams two blobs
    sizes1 = {
        r["cid"]: r["n"]
        for r in read_table(spark, path).groupBy("cid").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    assert max(sizes1.values()) <= 30 and len(sizes1) == 8, sizes1
    # nothing lost or duplicated
    assert read_table(spark, path).count() == 240
    assert read_table(spark, path).select("vec_id").distinct().count() == 240

    # recall@5 at nprobe=1 over shifted-region queries: 1.0
    idx = read_table(spark, path).collect()
    allrows = {r["vec_id"]: r for r in idx}
    by_cid: dict = {}
    for r in idx:
        by_cid.setdefault(r["cid"], []).append(r)
    hits = tot = 0
    for qid in (125, 160, 190, 220):
        q = allrows[qid]
        want = set(_exact_topk(idx, q, 5))
        cand = [r for r in by_cid[q["cid"]]]
        got = set(_exact_topk(cand, q, 5))
        hits += len(want & got)
        tot += 5
    assert hits / tot >= 0.95, (hits, tot)


def test_recluster_folds_mor_deletes_and_txn_pins(spark, tmp_path):
    """Pending merge-on-read deletes fold into the rebuild (never
    resurrect), and the publish can pin (corpus, index) in a
    workspace txn."""
    from pyspark.sql import functions as F

    from prox_spark.ivf import _assign_to_cents, kmeans_fit, recluster_index
    from prox_spark.table import commit_snapshot, read_manifest, read_table
    from prox_spark.txn import txn_read, txn_state
    from prox_spark.upsert import delete_keys_mor

    path = str(tmp_path / "ivf")
    corpus = str(tmp_path / "corpus")
    ws = str(tmp_path / "ws")
    base = _blob_corpus(
        spark, [(10.0, 0.0, 0.0, 0.0), (0.0, 10.0, 0.0, 0.0)], per_blob=40
    )
    commit_snapshot(
        spark, corpus, base.select("vec_id", "dd"), stat_cols=["vec_id"],
    )
    cents = kmeans_fit(base.select("vec_id", "dd", "nrm"), k=2, max_iters=2)
    commit_snapshot(
        spark, path,
        _assign_to_cents(base.select("vec_id", "dd", "nrm"), cents)
        .select("vec_id", "dd", "nrm", "cid"),
        stat_cols=["cid"], n_files=2,
        extra_meta={"quantizer": {"k": 2, "cents": [[c, v] for c, v in cents]}},
    )
    delete_keys_mor(
        spark, path,
        spark.range(0, 80, 5).select(F.col("id").alias("vec_id")),
        ["vec_id"],
    )
    assert read_manifest(spark, path).get("deletes"), "MoR entry staged"

    cv = int(read_manifest(spark, corpus)["version"])
    out = recluster_index(
        spark, path, k=4, max_iters=2, txn_ws=ws,
        txn_extra={corpus: cv},
    )
    assert read_table(spark, path).count() == 64  # 80 - 16 deleted
    assert not read_manifest(spark, path).get("deletes"), (
        "rebuild must fold the delete debt"
    )
    st = txn_state(spark, ws)
    assert st[path] == out["version"] and st[corpus] == cv
    assert txn_read(spark, ws, path).count() == 64
