"""The bucket-collision pair operator (``neardup.bucket_pairs``) on
hand-built bucket rows, and the maintained pair index's cache hygiene:
building and folding the index must leave no pinned frame behind."""

from __future__ import annotations

import atexit
import shutil
import tempfile

from pyspark.sql import functions as F

from prox_spark.local_frames import values_df
from prox_spark.neardup import bucket_pairs

BUCKETS = "vec_id long, t int, bkt long"


def _pairs(df) -> list[tuple[int, int]]:
    return sorted((r["id1"], r["id2"]) for r in df.collect())


def test_hot_bucket_gives_every_ordered_pair_once(spark):
    rows = [(i, 0, 7) for i in (4, 1, 3, 2)] + [(9, 0, 8)]
    got = _pairs(bucket_pairs(values_df(spark, rows, BUCKETS), "vec_id", ("t", "bkt")))
    assert got == [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]


def test_multi_table_collision_appears_once_and_never_self(spark):
    # (1, 2) collide in all three tables; 5 sits twice in one bucket
    # (a duplicated bucket row) and alone otherwise
    rows = [
        (1, 0, 3), (2, 0, 3),
        (1, 1, 6), (2, 1, 6),
        (2, 2, 1), (1, 2, 1),
        (5, 0, 9), (5, 0, 9),
        (5, 1, 2),
    ]
    got = _pairs(bucket_pairs(values_df(spark, rows, BUCKETS), "vec_id", ("t", "bkt")))
    assert got == [(1, 2)]


def test_standing_form_pairs_new_ids_only(spark):
    new = values_df(spark, [(1, 0, 5), (2, 0, 5), (2, 1, 7)], BUCKETS)
    standing = values_df(
        spark,
        [
            (1, 0, 5),   # id 1 is also standing: never paired with itself
            (3, 0, 5),
            (0, 1, 7),
            (3, 2, 1), (4, 2, 1),  # standing-vs-standing: not the fold's work
            (8, 0, 6),             # collides with nothing
        ],
        BUCKETS,
    )
    got = _pairs(bucket_pairs(new, "vec_id", ("t", "bkt"), standing=standing))
    # new-vs-new (1, 2); new-vs-standing (1, 3), (2, 3), (0, 2) — the
    # last ordered least/greatest although the new id is the larger
    assert got == [(0, 2), (1, 2), (1, 3), (2, 3)]


def test_nd_pair_index_build_and_maintain_leave_no_cache_entry(spark):
    from prox_spark.neardup import maintain_nd_pairs
    from prox_spark.queries.similarity import build_nd_pair_index
    from prox_spark.table import commit_delta, commit_snapshot, read_manifest

    s = tempfile.mkdtemp(prefix="prox_nd_test_")
    atexit.register(shutil.rmtree, s, ignore_errors=True)
    base, pairs, buckets = f"{s}/emb", f"{s}/pairs", f"{s}/buckets"

    def vecs(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("vec_id"),
            F.expr(
                "transform(sequence(0, 15), i -> "
                "cast(if(i = cast(id div 4 as int) % 16, 10.0, "
                "(id % 4) * 0.01) as float))"
            ).alias("embedding"),
        )

    jsc = spark.sparkContext._jsc
    commit_snapshot(spark, base, vecs(0, 24), stat_cols=["vec_id"], n_files=2)
    before = jsc.getPersistentRDDs().size()
    build_nd_pair_index(spark, base, pairs, buckets)
    prev = read_manifest(spark, base)
    commit_delta(spark, base, vecs(24, 36), list(prev["files"]),
                 update_key_ranges={})
    out = maintain_nd_pairs(spark, base, pairs, buckets)
    assert out["status"] == "refreshed" and out["new_pairs"] > 0
    assert jsc.getPersistentRDDs().size() == before
