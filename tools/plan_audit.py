"""Physical-plan audit across the whole query surface: counts the
operators that matter at 100 TB (shuffles, join strategies, Python
stages, cartesian products) per query, so scale regressions show up as
a diff in numbers rather than an anecdote.

Usage: python tools/plan_audit.py [sf_dir] [--markdown]

Streaming queries (q44, q69) execute a real stream when built, so they
are audited on their BATCH twin semantics and skipped here.
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SKIP = {
    # building these RUNS a real stream (the query fn drains to a sink
    # before returning a frame) — their batch twins are audited instead
    "q44_stateful_user_totals",
    "q69_streaming_hourly_stats",
    "q77_stream_static_enrich",
    "q78_stream_stream_join",
    "q100_streaming_dedup",
    "q101_streaming_sessions",
    "q109_streaming_dedup_store",
    "q136_streaming_neardup_store",
    "q189_streaming_cms",  # runs a real stream while building; the
    # sketch-probe join is q174's audited plan shape
    "q141_python_stream_source",
    "q86_scd2_user_state",  # builds via sequential merges (real writes), audited by test
    "q127_pagerank",  # iterative build materializes per-round checkpoints
    "q150_weighted_pagerank",
    "q152_cdc_apply",  # executes real table commits while building
    "q153_streaming_cdc_apply",  # runs a real stream while building
    "q159_mor_delete",  # executes real table commits while building
    "q191_table_stream_view",  # runs two real stream passes while
    # building; the view fold is q190's audited join shape
    "q194_streaming_lsh_index",  # runs two real stream passes while
    # building; the candidate/verify back half is q36's audited shape
    "q192_multi_table_txn",  # stages real table+txn commits while
    # building; the read side is an ordinary pruned groupBy
    "q196_change_feed",  # stages real commits and COLLECTS the
    # sources-sized card while building (feed pinned around it); the
    # feed's per-version read is _read_files' audited shape
    "q197_stream_changefeed_view",  # runs two real stream passes while
    # building; the signed fold is q191's audited join shape
    "q198_streaming_semantic_index",  # runs two real stream passes +
    # txn publishes while building; the card back half is q170's
    # audited within-cluster join shape
    "q199_incremental_data_card",  # stages real commits while
    # building; the IVM merge is q118/q184's audited full-outer shape
    "q160_triangle_count",  # executes counting jobs; closing-join twin below
    "q161_ivf_index_maintenance",  # commits the index table while building;
    # the serving probe join is q45's audited plan shape
    "q162_ivf_mor_delete",  # commits + MoR-deletes the index table while
    # building; serving probe is q45's audited shape
    "q163_bpe_train",  # per-round argmax collects while building;
    # round-body twin below
    "q166_rename_evolution",  # commits + renames a work table while
    # building; the mapping read path is audited via q167's plan
    "q201_incremental_text_index",  # stages real index commits while
    # building; the maintained read is an ordinary fold groupBy
    "q202_shallow_clone",  # stages clone + vacuum lifecycle while
    # building; the read side is _read_files' audited shape
    "q204_check_constraints",  # stages a rejected + accepted commit
    # while building; the read side is an ordinary pruned groupBy
    "q205_streaming_text_index",  # runs four real stream passes while
    # building; the maintained read is q201's audited fold shape
    "q207_materialized_view",  # stages real commits + a refresh while
    # building; the read side is an ordinary pruned scan
    "q208_join_materialized_view",  # same staging shape as q207
    "q210_streaming_mv",  # runs three real stream passes while
    # building; the fold is q207's audited merge shape
    "q211_mv_serve_from_view",  # stages real commits + a refresh and
    # collects inputFiles for its pins while building; the serve plan
    # is the stored-view scan + the cdf _read_files audited shape
    "q212_minmax_materialized_view",  # stages commits + keeper deletes
    # + one refresh while building; the read side is an ordinary
    # pruned scan
    "q214_maintained_bounded_bm25",  # stages the CDC corpus + index
    # merge commits while building; serving is q213's audited probe
    "q215_ivf_recluster",  # stages index + k-means + branch rebuild +
    # recall measurements while building; the serving probe join is
    # q45's audited plan shape
    "q216_artifact_registry",  # stages a registry + two artifacts and
    # runs the one-call maintenance (real commits) while building; the
    # read side is an ordinary pruned scan
    "q217_frozen_training_set",  # stages txn freeze + churn + vacuum
    # while building; the read is two pinned _read_files scans + a BHJ
    "q218_llm_pipeline_capstone",  # runs the whole pipeline job (LSH
    # front = q36's audited shape, CC labels = q72's twin, commits +
    # txn + vacuum) while building; the read is q217's audited
    # pinned-scan + BHJ shape
    "q219_streaming_bounded_bm25",  # runs four real stream passes +
    # compaction while building; serving is q213's audited probe shape
    "q220_registry_served_stats",  # stages commits + registry
    # maintenance while building; the avg serve is q211's audited
    # stored-view scan, the sketch is a k-row collect
    "q221_maintained_neardup_pairs",  # stages index commits + registry
    # maintenance while building (candidate join = q42's audited
    # bucket-equi-join build shape, plan-asserted in test_plans); the
    # read side is an ordinary pruned pair-table scan
    "q206_leakage_free_split",  # executes its single counter job and
    # returns a localized VALUES relation; the real plan is audited
    # via the #counters twin below (q206_audit_plan, lazy)
    "q223_datasource_table_read",  # stages evolution/delete/rename
    # commits while building; the read is the prox_table DS scan
    # (task-per-file, plan-asserted in test_table_ds) + a groupBy
    "q224_registry_served_quantiles",  # stages registry lifecycle
    # commits while building; the serve is a ≤k-rows-per-group sample
    # scan + percentile agg
    "q225_datasource_table_write",  # stages writer commits while
    # building; the read side is _read_files' audited shape
    "q226_datasource_stream_sink",  # runs real stream passes while
    # building; the read side is _read_files' audited shape
    "q230_datasource_stream_source",  # runs three real stream passes
    # while building (the connector loop); the serving read is the
    # prox_table DS scan + groupBy — q223's audited shape
    "q231_datasource_change_feed",  # stages the q196 lifecycle +
    # cross-engine audit while building and returns a localized
    # frame; the feed scan is the stream change reader's audited
    # per-file partition shape
}


def _twin_q72(spark, sf_dir):
    from prox_spark.queries.text import cc_round_audit_frame

    return cc_round_audit_frame(spark, sf_dir)


def _twin_q127(spark, sf_dir):
    from prox_spark.graph import pagerank_round_audit_frame
    from prox_spark.queries.graph_q import _interaction_edges

    return pagerank_round_audit_frame(_interaction_edges(spark, sf_dir), symmetric=True)


def _twin_q150(spark, sf_dir):
    from prox_spark.graph import pagerank_round_audit_frame
    from prox_spark.queries.graph_q import _weighted_edges

    return pagerank_round_audit_frame(_weighted_edges(spark, sf_dir), "w", symmetric=True)


# declared single-round twins for the iterative builders: the loop BODY's
# plan is audited lazily (built via the same shared round function the
# real fixpoint executes), so a shuffle-count regression in the loop is
# caught mechanically even though the full query can't be dry-planned
def _twin_q160(spark, sf_dir):
    from prox_spark.graph import triangle_audit_frame
    from prox_spark.queries.graph_q import _part_co_edges

    return triangle_audit_frame(_part_co_edges(spark, sf_dir))


def _twin_q163(spark, sf_dir):
    from prox_spark.queries.text import bpe_round_audit_frame

    return bpe_round_audit_frame(spark, sf_dir)


def _twin_q206(spark, sf_dir):
    from prox_spark.queries.text import q206_audit_plan

    return q206_audit_plan(spark, sf_dir)


def _twin_q227(spark, sf_dir):
    from prox_spark.queries.table_q import q227_serve_plan

    return q227_serve_plan(spark, sf_dir)


def _twin_q229(spark, sf_dir):
    from prox_spark.queries.table_q import q229_serve_plan

    return q229_serve_plan(spark, sf_dir)


AUDIT_TWINS = {
    "q206_leakage_free_split#counters": _twin_q206,
    "q72_dup_clusters#round": _twin_q72,
    "q127_pagerank#round": _twin_q127,
    "q150_weighted_pagerank#round": _twin_q150,
    "q160_triangle_count#closing": _twin_q160,
    "q163_bpe_train#round": _twin_q163,
    # lazy registry serve plans (the gate queries return localized
    # frames; the probe-join shape is audited through these)
    "q227_registry_served_topk#serve": _twin_q227,
    "q229_grouped_topk_serving#serve": _twin_q229,
}

# node names as they appear at the head of a tree line (join nodes are
# followed by "Inner BuildRight" etc., so match on the bare name)
MARKERS = {
    "exchanges": "Exchange",
    "bhj": "BroadcastHashJoin",
    "smj": "SortMergeJoin",
    "shj": "ShuffledHashJoin",
    "bnlj": "BroadcastNestedLoopJoin",
    "cartesian": "CartesianProduct",
    "window": "Window",
    "arrow_py": "ArrowEvalPython",
    "map_py": "MapInPandas",
    "topk": "TakeOrderedAndProject",
}


def _tree_counts(plan: str) -> dict[str, int]:
    """Count operator nodes in the tree section only (each node also
    reappears in the details section, which would double-count)."""
    counts = dict.fromkeys(MARKERS, 0)
    for line in plan.splitlines():
        if not line.strip():
            break  # end of tree section
        head = line.replace("+-", " ").replace(":-", " ").replace(":", " ").split()
        if not head:
            continue
        for key, node in MARKERS.items():
            if head[0] == node:
                counts[key] += 1
    return counts


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 and not sys.argv[1].startswith("-") else "/root/testdata/sf0.001"
    markdown = "--markdown" in sys.argv

    import __spark_entry__ as e
    from prox_spark.session import get_spark

    spark = get_spark("plan-audit")
    rows = []
    audited = {**{n: f for n, f in e.queries().items() if n not in SKIP},
               **AUDIT_TWINS}
    for name, fn in audited.items():
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            fn(spark, sf_dir).explain("formatted")
        plan = buf.getvalue()
        rows.append((name, _tree_counts(plan)))
        spark.catalog.clearCache()

    cols = list(MARKERS)
    if markdown:
        print("| query | " + " | ".join(cols) + " |")
        print("|" + "---|" * (len(cols) + 1))
        for name, c in rows:
            print(f"| {name} | " + " | ".join(str(c[k]) for k in cols) + " |")
    else:
        print(f"{'query':45s} " + " ".join(f"{k:>9s}" for k in cols))
        for name, c in rows:
            print(f"{name:45s} " + " ".join(f"{c[k]:9d}" for k in cols))
    bad = [name for name, c in rows if c["cartesian"]]
    print()
    print("cartesian products:", bad or "none")


if __name__ == "__main__":
    main()
