"""IVF coarse quantizer: k-means training, map-side centroid
assignment, and the atomic re-clustering of a cid-clustered index
(q45/q161/q162/q198/q215 and the registry's ``ivf`` artifact).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from prox_spark.local_frames import values_df
from prox_spark.neardup import DOT_SPARK, EMB_DIM

IVF_K = 8        # centroids (deterministic: the first K vectors by vec_id)


def _tag_centroids(df: DataFrame, cent_arr: DataFrame) -> DataFrame:
    """Rank the K centroid sims map-side for every row of ``df``
    (columns dd, nrm): one broadcast crossJoin + a transform +
    array_sort over K elements per row — no row explosion, no window,
    no shuffle. array_sort on (negsim, cid) structs gives sim DESC,
    cid ASC, the same deterministic order the DuckDB oracle's window
    uses. ``sims[0].cid`` is the assignment."""
    csim = DOT_SPARK.format(a="dd", b="c.cdd") + " / (nrm * c.cnrm)"
    return df.crossJoin(F.broadcast(cent_arr)).withColumn(
        "sims",
        F.expr(
            f"array_sort(transform(cents, c -> named_struct('negsim', -({csim}), 'cid', c.cid)))"
        ),
    )


# --- k-means training (iterative; serves the IVF coarse quantizer) ----------


def nearest_l2(
    emb: DataFrame, cents: list[tuple[int, list[float]]]
) -> DataFrame:
    """``emb`` (column dd) plus ``cid``, its nearest centroid by squared
    L2 with lowest-cid tie-break: the centroids ride in as one
    broadcast array row and the argmin is an in-row fold — map-side,
    no shuffle (k-means' assignment step and the IVF list layout)."""
    cent_arr = values_df(
        emb.sparkSession, [(sorted(cents),)],
        "cents array<struct<cid:int, cdd:array<double>>>",
    )
    # squared L2 distance fold; argmin via array_sort on (dist, cid)
    d2 = "aggregate(zip_with(dd, c.cdd, (x, y) -> (x - y) * (x - y)), cast(0.0 as double), (acc, x) -> acc + x)"
    return emb.crossJoin(F.broadcast(cent_arr)).withColumn(
        "cid",
        F.expr(
            f"array_sort(transform(cents, c -> named_struct('d2', {d2}, 'cid', c.cid)))[0].cid"
        ),
    )


def kmeans_fit(
    emb: DataFrame,
    k: int = IVF_K,
    max_iters: int = 5,
    dim: int = EMB_DIM,
) -> list[tuple[int, list[float]]]:
    """Lloyd's k-means over the embedding corpus — the offline training
    job q45's IVF serving plan assumes (its docstring: "training is an
    offline job"). Iterative algorithms don't fit one SQL expression,
    so this is the driver-coordinated loop done the scale-correct way:

    - per iteration, ONLY the k centroids (k x dim doubles) cross the
      driver boundary — the corpus never does (no collect of data);
    - assignment is the same map-side pattern as q45: centroids ride in
      as one broadcast array row, argmin computed with an in-row fold;
    - centroid update is one explode + (cid, pos) partial+final avg —
      the canonical distributed mean of vectors (never a per-cluster
      collect_list, which would materialize whole clusters in memory).

    Deterministic: init = first k vectors by vec_id, squared-L2
    assignment with lowest-cid tie-break. Returns [(cid, centroid)].
    Verified in tests/test_kmeans.py against a NumPy reference.
    """
    cents: list[tuple[int, list[float]]] = [
        (int(r["vec_id"]), [float(x) for x in r["dd"]])
        for r in emb.filter(F.col("vec_id") < k).select("vec_id", "dd").collect()
    ]
    for _ in range(max_iters):
        assign = nearest_l2(emb, cents).select("cid", "dd")
        new_rows = (
            assign.select("cid", F.posexplode("dd").alias("pos", "x"))
            .groupBy("cid", "pos")
            .agg(F.avg("x").alias("m"))
            .groupBy("cid")
            .agg(F.expr("transform(array_sort(collect_list(struct(pos, m))), p -> p.m)").alias("cdd"))
            .collect()
        )
        new = {int(r["cid"]): [float(x) for x in r["cdd"]] for r in new_rows}
        # an emptied cluster keeps its previous centroid (standard
        # Lloyd's fallback; keeps k stable)
        cents = [(cid, new.get(cid, old)) for cid, old in cents]
    return sorted(cents)


# --- quantizer re-clustering: rebuild the IVF index on a WAP branch ---------


def cosine_cent_row(
    spark: SparkSession, cents: list[tuple[int, list[float]]]
) -> DataFrame:
    """The quantizer as the :func:`_tag_centroids` input: ONE row
    holding the cid-sorted (cid, cdd, cnrm) structs, norms computed
    driver-side once."""
    return values_df(
        spark,
        [(sorted(
            (c, v, float(sum(x * x for x in v) ** 0.5)) for c, v in cents
        ),)],
        "cents array<struct<cid:int, cdd:array<double>, cnrm:double>>",
    )


def _assign_to_cents(
    df: DataFrame, cents: list[tuple[int, list[float]]]
) -> DataFrame:
    """Map-side nearest-centroid assignment by COSINE (highest sim,
    lowest-cid tie-break) — one broadcast row, the q45/_tag_centroids
    order. Cosine, not L2: the serving metric is cosine, and an L2
    quantizer over unnormalized vectors partitions by NORM, not
    direction — cells then correlate poorly with cosine neighborhoods
    and probe recall collapses (measured: 0.80 → 0.52 on the
    embeddings corpus)."""
    return _tag_centroids(df, cosine_cent_row(df.sparkSession, cents)).select(
        *df.columns, F.expr("sims[0].cid").alias("cid")
    )


def recluster_index(
    spark: SparkSession,
    index_path: str,
    k: int = IVF_K,
    max_iters: int = 5,
    sample_mod: int = 1,
    branch: str = "recluster",
    txn_ws: str | None = None,
    txn_extra: dict | None = None,
) -> dict:
    """RE-CLUSTER the coarse quantizer and rebuild the cid-clustered
    index — the maintenance a frozen-quantizer index (q161/q198)
    eventually needs: as the corpus drifts, frozen cells go
    unbalanced and probe recall decays. The rebuild is invisible to
    serving until one atomic publish:

    1. retrain centroids with Lloyd's on a deterministic sample of the
       index's CURRENT vectors (``vec_id % sample_mod == 0``; per
       iteration only k×dim doubles cross the driver boundary);
    2. re-assign the whole index map-side and commit the rebuilt
       cid-clustered table to a WAP BRANCH (q178's machinery) with the
       new centroids in the SAME manifest (``quantizer`` metadata) —
       main keeps serving the old index untouched;
    3. audit the branch (row count must equal main's head — pending
       merge-on-read deletes fold into the rebuild, never resurrect);
    4. ``fast_forward`` publishes rebuilt data + new quantizer in one
       CAS; with ``txn_ws``, a workspace txn additionally pins the
       published index version against ``txn_extra`` tables (the q198
       corpus/index pairing).

    Returns {"version", "isolated", "cents"}; ``isolated`` pins that
    main's version never moved between the branch fork and the
    publish — serving was never interrupted or degraded."""
    from prox_spark.table import (
        commit_delta,
        create_branch,
        drop_branch,
        fast_forward,
        read_manifest,
        read_table,
    )

    cur = read_table(spark, index_path).select("vec_id", "dd", "nrm")
    v0 = int(read_manifest(spark, index_path)["version"])
    sample = (
        cur if sample_mod <= 1
        else cur.filter(F.col("vec_id") % sample_mod == 0)
    )
    # SPHERICAL k-means: train on unit vectors, where Lloyd's L2 is
    # monotone-equivalent to cosine — the serving metric. Training on
    # raw vectors would cluster by norm, not direction (see
    # _assign_to_cents).
    sample = sample.select(
        "vec_id",
        F.expr("transform(dd, x -> x / nrm)").alias("dd"),
    )
    # kmeans_fit seeds from vec_id < k of its input; re-key the sample
    # so the seeds are STRIDED across the id-ordered sample (k evenly
    # spaced ranks) instead of the k head rows — head rows are often
    # co-located (one ingest batch, one blob) and Lloyd's cannot
    # recover from k co-located seeds
    n = sample.count()
    stride = max(1, n // k)
    wr = W.orderBy("vec_id")
    ranked = sample.withColumn("_r", F.row_number().over(wr) - 1)
    seedable = ranked.withColumn(
        "vec_id",
        F.when(
            (F.col("_r") % stride == 0) & (F.col("_r") / stride < k),
            (F.col("_r") / stride).cast("long"),
        ).otherwise((F.col("_r") + k).cast("long")),
    ).drop("_r")
    cents = kmeans_fit(seedable, k=k, max_iters=max_iters)

    rebuilt = _assign_to_cents(cur, cents).select(
        "vec_id", "dd", "nrm", "cid"
    )
    from prox_spark.table import list_branches

    if branch in list_branches(spark, index_path):
        # a dangling staging branch from a CRASHED rebuild: abandoned
        # by definition (only this function ever publishes it, and a
        # published one is dropped by fast_forward) — retire it so the
        # retry can fork fresh instead of wedging on 'already exists'
        drop_branch(spark, index_path, branch)
    create_branch(spark, index_path, branch)
    try:
        prev = read_manifest(spark, index_path, ref=branch)
        # a REBUILD: carry no prior file (the second argument is the
        # carried-files list) — every row lands re-clustered
        commit_delta(
            spark, index_path, rebuilt, [],
            stat_cols=["cid"], n_files=k, ref=branch,
            base_version=int(prev["version"]),
            extra_meta={"quantizer": {
                "k": int(k), "cents": [[c, v] for c, v in cents],
            }},
        )
        n_branch = read_table(spark, index_path, ref=branch).count()
        n_main = read_table(spark, index_path).count()
        if n_branch != n_main:
            raise ValueError(
                f"recluster audit failed: branch holds {n_branch} rows, "
                f"main {n_main} — refusing to publish"
            )
        isolated = int(read_manifest(spark, index_path)["version"]) == v0
    except Exception:
        drop_branch(spark, index_path, branch)
        raise
    new_v = fast_forward(spark, index_path, branch)
    if txn_ws is not None:
        from prox_spark.txn import txn_commit

        txn_commit(
            spark, txn_ws,
            {index_path: int(new_v), **(txn_extra or {})},
        )
    return {"version": int(new_v), "isolated": bool(isolated),
            "cents": cents}
