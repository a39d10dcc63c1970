"""Connected-components fixpoint (min_label_clusters): correctness on
shapes that exercise multi-round propagation, and the bounded-lineage
guarantee the 100 TB path depends on (localCheckpoint every
CC_CHECKPOINT_EVERY rounds — without it a 15-round run carries a
~30-join logical plan whose analysis cost grows per round)."""

from __future__ import annotations

from pyspark.sql import functions as F

from prox_spark.graph import CC_CHECKPOINT_EVERY, min_label_clusters


def _chain_pairs(spark, n):
    # path graph 0-1-2-...-n: diameter n, needs ~n rounds — the
    # worst case for label propagation
    return spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "doc1 long, doc2 long"
    )


def test_chain_converges_to_single_component(spark):
    # driver_max_edges=0 forces the DISTRIBUTED fixpoint (the default
    # would route these tiny graphs to the union-find fast path)
    labels = min_label_clusters(_chain_pairs(spark, 12), driver_max_edges=0)
    rows = {r.doc_id: r.label for r in labels.collect()}
    assert len(rows) == 13
    assert set(rows.values()) == {0}


def test_disjoint_components_keep_min_labels(spark):
    pairs = spark.createDataFrame(
        [(1, 5), (5, 3), (10, 11), (20, 21), (21, 22)], "doc1 long, doc2 long"
    )
    expect = {1: 1, 5: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}
    # both paths must produce identical labels
    for driver_max in (0, 10**6):
        labels = min_label_clusters(pairs, driver_max_edges=driver_max)
        assert {r.doc_id: r.label for r in labels.collect()} == expect, driver_max


def test_driver_fast_path_matches_distributed_on_chain(spark):
    chain = _chain_pairs(spark, 12)
    fast = min_label_clusters(chain)  # default threshold -> union-find
    slow = min_label_clusters(chain, driver_max_edges=0)
    assert sorted(fast.collect()) == sorted(slow.collect())


def test_lineage_is_truncated_across_rounds(spark):
    # Multi-round convergence crosses checkpoint boundaries. Each round
    # references the label frame three times (neighbor-min join, update
    # join, pointer-jump self-join), so the un-truncated plan TREE
    # grows 3x per round: J(k) = 3*J(k-1) + 3 = (3^(k+1) - 3) / 2.
    # With checkpoints every CC_CHECKPOINT_EVERY rounds the final frame
    # may carry at most CC_CHECKPOINT_EVERY un-truncated rounds.
    labels = min_label_clusters(_chain_pairs(spark, 12), driver_max_edges=0)
    plan = labels._jdf.queryExecution().analyzed().toString()
    n_joins = plan.count("Join ")
    bound = (3 ** (CC_CHECKPOINT_EVERY + 1) - 3) // 2
    assert n_joins <= bound, f"plan carries {n_joins} joins (bound {bound}):\n{plan}"
    # and the truncated frame still computes correctly after the fact
    assert labels.agg(F.max("label")).collect()[0][0] == 0
