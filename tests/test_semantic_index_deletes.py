from __future__ import annotations

import atexit
import shutil
import tempfile

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_semantic_index_stream_folds_deletes(spark):
    """A corpus DELETE arriving on the change-feed stream must append
    tombstones, not be mis-indexed as a vector: the live index equals
    the frozen-quantizer assignment of exactly the surviving
    corpus."""
    from prox_spark.ivf import _tag_centroids
    from prox_spark.queries.similarity import _cent_arr, _semdedup_k
    from prox_spark.queries.streaming_q import (
        _stream_partitions,
        read_semantic_index,
        semantic_index_batch,
    )
    from prox_spark.table import (
        commit_delta,
        commit_snapshot,
        read_manifest,
        read_table,
    )
    from prox_spark.table_stream import TableChangesDataSource
    from prox_spark.upsert import delete_keys_mor

    spark.dataSource.register(TableChangesDataSource)
    scratch = tempfile.mkdtemp(prefix="prox_semdel_test_")
    atexit.register(shutil.rmtree, scratch, ignore_errors=True)
    t, idx, ws, ckpt = (
        f"{scratch}/corpus", f"{scratch}/idx", f"{scratch}/ws",
        f"{scratch}/ckpt",
    )
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    cent = _cent_arr(spark, SF, _semdedup_k(emb.count()))

    def run() -> None:
        with _stream_partitions(spark):
            q = (
                spark.readStream.format("prox_table_changes")
                .option("path", t)
                .option("readChangeFeed", "true")
                .load()
                .writeStream.foreachBatch(
                    lambda bdf, bid: semantic_index_batch(
                        bdf, bid, idx, t, ws, cent
                    )
                )
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            try:
                q.awaitTermination(120)
            finally:
                q.stop()

    commit_snapshot(
        spark, t, emb.filter(F.col("vec_id") % 10 <= 5),
        stat_cols=["vec_id"], n_files=4,
    )
    run()
    delete_keys_mor(
        spark, t,
        emb.filter(F.col("vec_id") % 20 == 0).select("vec_id"),
        ["vec_id"],
    )
    prev = read_manifest(spark, t)
    commit_delta(
        spark, t, emb.filter((F.col("vec_id") % 10).isin(6, 7)),
        list(prev["files"]), update_key_ranges={},
    )
    run()

    live = read_semantic_index(spark, idx)
    survivors = read_table(spark, t)
    want_ids = {r["vec_id"] for r in survivors.select("vec_id").collect()}
    got_ids = {r["vec_id"] for r in live.select("vec_id").collect()}
    assert got_ids == want_ids
    assert any(v % 20 == 0 for v in {r["vec_id"] for r in emb.filter(
        F.col("vec_id") % 10 <= 5).select("vec_id").collect()}), \
        "workload never deleted anything"
    # cids equal the frozen assignment of the surviving vectors
    vecs = survivors.select(
        "vec_id", F.expr("cast(embedding as array<double>)").alias("dd")
    ).withColumn(
        "nrm",
        F.expr(
            "sqrt(aggregate(zip_with(dd, dd, (x, y) -> x * y), "
            "cast(0.0 as double), (acc, x) -> acc + x))"
        ),
    )
    want = {
        (r["vec_id"], r["cid"])
        for r in _tag_centroids(vecs, cent)
        .select("vec_id", F.expr("sims[0].cid").cast("long").alias("cid"))
        .collect()
    }
    got = {(r["vec_id"], r["cid"]) for r in live.select("vec_id", "cid").collect()}
    assert got == want

    # UPSERT that CHANGES a vector's embedding (delete+insert with a
    # new dd in one commit): the live row must carry the NEW
    # embedding/cid — the max-version survivor rule; a
    # nondeterministic survivor could keep the stale row (inserts=2 >
    # deletes=1 keeps the id live either way, so only the payload
    # distinguishes right from wrong)
    from prox_spark.upsert import upsert_parquet

    by_cid: dict[int, int] = {}
    for vid, cid in sorted(
        (r["vec_id"], r["cid"])
        for r in live.select("vec_id", "cid").collect()
    ):
        by_cid.setdefault(cid, vid)
    assert len(by_cid) >= 2, "need two clusters for the swap"
    (c1, a), (c2, b) = sorted(by_cid.items())[:2]
    upd = (
        emb.filter(F.col("vec_id") == b)
        .select(F.lit(a).cast("long").alias("vec_id"), "embedding")
    )
    upsert_parquet(spark, t, upd, ["vec_id"])
    run()
    live2 = read_semantic_index(spark, idx)
    rows = live2.filter(F.col("vec_id") == a).collect()
    assert len(rows) == 1
    assert rows[0]["cid"] == c2, (
        f"survivor kept the stale assignment: got cid {rows[0]['cid']}, "
        f"want {c2} (the upserted embedding's cluster)"
    )
    assert {r["vec_id"] for r in live2.select("vec_id").collect()} == want_ids
