from __future__ import annotations

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_bm25_index_prunes_files(spark):
    """A term probe against the term-clustered postings table must be
    served from a strict subset of the table's files (manifest min/max
    pruning — the index access path q200's flag pins)."""
    from prox_spark.queries.search import _bm25_index
    from prox_spark.table import point_lookup_files, read_manifest

    postings, _, _ = _bm25_index(spark, SF)
    total = len(read_manifest(spark, postings)["files"])
    assert total > 1
    for term in ("dup", "hash", "window"):
        touched = point_lookup_files(spark, postings, {"term": term})
        assert 0 < len(touched) < total


def test_bm25_probe_matches_full_scan(spark):
    """Postings served through the pruned probe equal the unpruned
    table filtered the slow way — a mis-pruned file would drop rows."""
    from prox_spark.queries.search import _bm25_index
    from prox_spark.table import read_table, read_table_point

    postings, _, _ = _bm25_index(spark, SF)
    probe = read_table_point(spark, postings, {"term": "merge"})
    full = read_table(spark, postings).filter(F.col("term") == "merge")
    assert sorted(map(tuple, probe.collect())) == sorted(
        map(tuple, full.collect())
    )


def test_incremental_postings_equal_from_scratch(spark):
    """The feed-maintained postings index must equal a from-scratch
    tokenize of the CDC table's head — inserts added, deleted docs'
    postings fully retracted, an update's term move (old retracted,
    'moved' added) netted exactly."""
    from prox_spark.postings import maintained_postings
    from prox_spark.queries.search import _inc_postings, _tokens_tf
    from prox_spark.queries.table_q import _card_cdc_table
    from prox_spark.table import read_table, table_versions

    idx, delta_bounded, zero_rewrite = _inc_postings(spark, SF)
    assert delta_bounded and zero_rewrite
    # exactly two versions: the v1 build and the one maintenance commit
    assert table_versions(spark, idx) == [1, 2]
    t, _ = _card_cdc_table(spark, SF)
    scratch = _tokens_tf(read_table(spark, t).select("doc_id", "text"))
    got = sorted(map(tuple, maintained_postings(spark, idx).collect()))
    want = sorted(map(tuple, scratch.collect()))
    assert got == want


def test_bm25_scores_rank_rare_term_docs_first(spark):
    """Docs hitting the rare query term ('dup', df≈5% of the corpus)
    must outrank common-term-only docs for the query that includes it:
    the rational IDF keeps BM25's rarity ordering."""
    from prox_spark.queries.search import q200_bm25_search

    out = q200_bm25_search(spark, SF).filter(F.col("query_id") == 1)
    rows = out.orderBy("rnk").collect()
    assert rows, "query 1 returned no hits"
    # top hit for ['dup', 'hash'] must have matched both terms
    assert rows[0]["n_terms_hit"] == 2
    assert all(r["files_pruned"] for r in rows)
    assert all(r["score_micro"] > 0 for r in rows)


def test_hybrid_rerank_excludes_anchor_and_bounds_cosine(spark):
    """The rerank must drop each query's anchor doc (its cosine would
    be a degenerate 1.0) and produce cosines in [-1, 1]."""
    from prox_spark.queries.search import (
        HYBRID_TOP_K,
        q200_bm25_search,
        q203_hybrid_retrieval,
    )

    out = q203_hybrid_retrieval(spark, SF).collect()
    assert out
    anchors = {
        r["query_id"]: r["doc_id"]
        for r in q200_bm25_search(spark, SF).collect()
        if r["rnk"] == 1
    }
    for r in out:
        assert r["doc_id"] != anchors[r["query_id"]]
        assert -1.0 <= r["cosine"] <= 1.0
        assert 1 <= r["rr"] <= HYBRID_TOP_K


def test_postings_batch_sink_is_idempotent_and_skips_empty(spark):
    """Re-delivering an applied batch id must be a no-op (marker
    fence), and an empty restart batch must publish no index commit."""
    import atexit
    import shutil
    import tempfile

    from prox_spark.postings import _BATCH_MARKER, maintained_postings
    from prox_spark.queries.search import postings_index_batch
    from prox_spark.table import read_table, table_versions

    scratch = tempfile.mkdtemp(prefix="prox_sink_test_")
    atexit.register(shutil.rmtree, scratch, ignore_errors=True)
    idx = f"{scratch}/idx"
    batch = spark.createDataFrame(
        [(1, "a b b", "insert"), (2, "a", "insert")],
        "doc_id long, text string, _change_type string",
    )
    postings_index_batch(batch, 0, idx)
    want = sorted(map(tuple, maintained_postings(spark, idx).collect()))
    assert (("a", 1, 1) in want) and (("b", 1, 2) in want)
    # replayed batch id: fenced by the marker, no new version
    postings_index_batch(batch, 0, idx)
    assert table_versions(spark, idx) == [1]
    # empty catch-up batch: skipped entirely
    postings_index_batch(batch.limit(0), 1, idx)
    assert table_versions(spark, idx) == [1]
    # a delete batch retracts exactly its rows
    dels = spark.createDataFrame(
        [(1, "a b b", "delete")],
        "doc_id long, text string, _change_type string",
    )
    postings_index_batch(dels, 2, idx)
    got = sorted(
        map(
            tuple,
            maintained_postings(spark, idx)
            .filter(F.col("term") != _BATCH_MARKER)
            .collect(),
        )
    )
    assert got == [("a", 2, 1)]


def test_fold_compaction_preserves_index_and_replay_fence(spark):
    """compact_postings materializes the signed fold (fewer raw rows,
    re-clustered files) without changing the logical postings, and
    carries the applied-batch markers so a replayed old batch is
    still a no-op AFTER compaction."""
    from prox_spark.postings import (
        _BATCH_MARKER,
        compact_postings,
        maintained_postings,
    )
    from prox_spark.queries.search import postings_index_batch
    from prox_spark.table import read_table, table_versions

    import atexit
    import shutil
    import tempfile

    scratch = tempfile.mkdtemp(prefix="prox_fold_test_")
    atexit.register(shutil.rmtree, scratch, ignore_errors=True)
    idx = f"{scratch}/idx"
    ins = spark.createDataFrame(
        [(1, "a b b c", "insert"), (2, "a c", "insert")],
        "doc_id long, text string, _change_type string",
    )
    postings_index_batch(ins, 0, idx)
    dels = spark.createDataFrame(
        [(1, "a b b c", "delete")],
        "doc_id long, text string, _change_type string",
    )
    postings_index_batch(dels, 1, idx)
    want = sorted(map(tuple, maintained_postings(spark, idx).collect()))
    raw_before = read_table(spark, idx).count()
    compact_postings(spark, idx, n_files=2)
    assert sorted(
        map(tuple, maintained_postings(spark, idx).collect())
    ) == want
    assert read_table(spark, idx).count() < raw_before
    # doc 1's fully-retracted postings are physically gone
    assert (
        read_table(spark, idx)
        .filter((F.col("doc_id") == 1) & (F.col("term") != _BATCH_MARKER))
        .count()
        == 0
    )
    # replaying an already-applied batch is STILL fenced post-compaction
    head = table_versions(spark, idx)[-1]
    postings_index_batch(dels, 1, idx)
    assert table_versions(spark, idx)[-1] == head


def test_cluster_split_colocates_near_duplicates(spark):
    """Every near-dup pair must land in one split under cluster-level
    hashing (cross_split_pairs == 0), while per-doc hashing is allowed
    to leak — the column exists to measure it."""
    from prox_spark.queries.text import q206_leakage_free_split

    rows = q206_leakage_free_split(spark, SF).collect()
    assert rows
    assert all(r["cross_split_pairs"] == 0 for r in rows)
    assert sum(r["n_docs"] for r in rows) == 500


def test_postings_feed_resolves_text_rename(spark, tmp_path):
    """A feed window spanning (and following) a rename of the
    tokenized column: postings_feed restores the registration-time
    name (coalescing both generations), so maintenance equals a
    from-scratch index of the final corpus; a DROPPED column raises
    the rebuild error instead of silently dropping tokens."""
    import pytest
    from pyspark.sql import functions as F

    from prox_spark.mv import MvSchemaError
    from prox_spark.postings import _signed_postings, postings_feed
    from prox_spark.queries.search import _tokens_tf
    from prox_spark.table import (
        commit_delta,
        commit_snapshot,
        drop_column,
        read_manifest,
        read_table,
        rename_column,
    )

    t = str(tmp_path / "corpus")

    def docs(lo, hi, col="text"):
        return spark.range(lo, hi).select(
            F.col("id").alias("doc_id"),
            F.concat(
                F.lit("tok g"), F.expr("cast(id div 3 as string)")
            ).alias(col),
        )

    commit_snapshot(spark, t, docs(0, 40), stat_cols=["doc_id"], n_files=2)
    # pre-rename churn in the window
    prev = read_manifest(spark, t)
    commit_delta(spark, t, docs(40, 55),
                 list(prev["files"]), update_key_ranges={})
    rename_column(spark, t, "text", "body")
    # post-rename churn in the same window
    prev = read_manifest(spark, t)
    commit_delta(spark, t, docs(55, 70, col="body"),
                 list(prev["files"]), update_key_ranges={})

    feed = postings_feed(spark, t, 1, text_col="text", since=1)
    got = sorted(
        map(tuple, _signed_postings(feed).collect())
    )
    want = sorted(
        map(
            tuple,
            _tokens_tf(
                read_table(spark, t)
                .filter(F.col("doc_id") >= 40)
                .select("doc_id", F.col("body").alias("text"))
            ).collect(),
        )
    )
    assert got == want, "spanning-rename feed must coalesce generations"

    from prox_spark.table import compact_table

    compact_table(spark, t)  # retires the live mapping so drop is legal
    drop_column(spark, t, "body")
    with pytest.raises(MvSchemaError, match="rebuild"):
        postings_feed(spark, t, 1, text_col="text", since=1)
