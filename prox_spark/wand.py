"""Block-max bounded BM25 serving — the WAND/BMW family (Broder et
al. CIKM'03; Ding & Suel SIGIR'11 block-max indexes) transposed to a
batch engine: instead of per-posting iterators with skip pointers,
the index's FILES are the blocks, the manifest's per-file footer
stats are the block-max metadata, and the query runs as two bounded
probe passes. The reference has no search surface; the parity target
is the classic top-k serving optimization every IR engine ships.

Index layout (built by :func:`build_bounded_index`):

- postings table (manifest format): one row per (term, doc_id) with
  ``tf``, the doc length ``dl`` INLINE (no sidecar join at serve
  time), and a build-frozen ``impact`` = ceil(tfc(tf, dl, avgdl0) *
  1e6) — the idf-free BM25 term core in micro-units. Rows are
  range-clustered on (term, impact), so a term spanning several files
  is split into IMPACT-ORDERED BLOCKS, and the manifest records each
  file's term range and impact max with zero IO — the block-max
  table.
- stats table (manifest format, key = term): exact ``df`` and
  ``max_impact`` per term, plus two reserved rows — the CURRENT
  corpus (n_docs, tot) and the build-frozen (n_docs0, tot0) that
  defines avgdl0.

Serving (:func:`bounded_bm25`) is EXACT — same scores, same top-k,
bit-identical to the full-probe scorer — with strictly fewer file
opens on skewed workloads:

1. per query term, locate its files from the manifest (driver-side,
   no IO) and open only the highest-impact block each; score those
   postings exactly (df from the stats table — the true df, not a
   partial count); the k-th best PARTIAL score per query is a sound
   floor θ (partial ≤ true pointwise, so the k-th order statistic
   can only underestimate).
2. a remaining block f of term t is opened only if
   ``ub(t, f) + Σ_{t'≠t in q} ub_global(t') ≥ θ`` — otherwise EVERY
   doc with a row in f is provably below θ: it cannot enter the
   top-k, and since it is out, not reading its row leaves all final
   top-k scores exact. ``ub(t, f) = floor(idf_t · impact_max(f) ·
   corr) + 1`` where corr = max(1, avgdl_now/avgdl0) corrects the
   frozen normalizer soundly (tfc grows at most linearly in avgdl).

Maintenance (:func:`maintain_bounded_index`) applies a change feed
by MERGING the touched docs' pairs (one apply_changes commit) and
recomputing (df, max_impact) exactly for the affected terms from the
post-merge index, scoped by key-set file pruning — so bounds never
go stale-unsound, at the classic write-amplification cost of
merge-maintained impact-ordered indexes (an append-only variant
cannot skip blocks soundly: a skipped delta row could carry part of
an opened posting's net tf).
"""

from __future__ import annotations

import math
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from prox_spark.local_frames import values_df
from prox_spark.table import (
    _read_files,
    read_manifest,
    read_table,
    split_files_by_key_ranges,
    split_files_by_key_sets,
)

# reserved stats rows — \x00 can never be a token (tokenizers split
# lowercase words; the q205 marker precedent)
CORPUS_ROW = "\x00corpus"  # df = current n_docs, max_impact = current tot
FROZEN_ROW = "\x00avgdl0"  # df = n_docs0,       max_impact = tot0

# idf-free BM25 term core (k1 = 1.2, b = 0.75), frozen normalizer
_TFC0 = (
    "(tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (dl / (_tot0 / _ndocs0))))"
)


def _postings_with_dl(docs: DataFrame, tokens_expr: str) -> DataFrame:
    """(term, doc_id, tf, dl) rows — one map-side explode, one shuffle
    on (doc_id, term); dl rides along (constant per doc)."""
    toks = docs.withColumn("tokens", F.expr(tokens_expr)).select(
        "doc_id", F.size("tokens").cast("long").alias("dl"), "tokens"
    )
    return (
        toks.select("doc_id", "dl", F.explode("tokens").alias("term"))
        .groupBy("term", "doc_id", "dl")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )


def _with_impact(postings: DataFrame, n_docs0: int, tot0: int) -> DataFrame:
    """Attach the build-frozen impact (ceil keeps it an upper bound of
    the true term core at avgdl0)."""
    tfc0 = _TFC0.replace("_tot0", str(int(tot0))).replace(
        "_ndocs0", str(int(n_docs0))
    )
    return postings.withColumn(
        "impact",
        F.ceil(F.expr(tfc0) * F.lit(1_000_000.0)).cast("long"),
    )


def _term_stats(postings: DataFrame) -> DataFrame:
    return postings.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df"),
        F.max("impact").cast("long").alias("max_impact"),
    )


def build_bounded_index(
    spark: SparkSession,
    docs: DataFrame,
    idx_path: str,
    stats_path: str,
    tokens_expr: str,
    n_files: int = 32,
    covers: dict | None = None,
) -> None:
    """Build the block-max postings table + exact term stats from a
    (doc_id, text-ish) frame. ``tokens_expr`` is the SQL tokenizer
    over the frame's text column (injected so the engine stays
    workload-neutral). ``covers`` (e.g. ``{"base": path, "version":
    v}``) records which base-table version the build captured, as the
    stats manifest's ``index_of`` lineage — required for the
    streaming maintenance sink (:func:`bounded_index_stream_batch`),
    whose replay fence is exactly this record."""
    from prox_spark.table import commit_snapshot

    base = _postings_with_dl(docs, tokens_expr).persist()
    try:
        corpus = base.select("doc_id", "dl").distinct().agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("dl").cast("long").alias("tot"),
        ).first()
        n_docs, tot = int(corpus["n"]), int(corpus["tot"])
        postings = _with_impact(base, n_docs, tot)
        commit_snapshot(
            spark, idx_path, postings,
            stat_cols=["term", "impact"], n_files=n_files,
        )
        stats = _term_stats(postings).unionByName(
            spark.createDataFrame(
                [(CORPUS_ROW, n_docs, tot), (FROZEN_ROW, n_docs, tot)],
                "term string, df long, max_impact long",
            )
        )
        commit_snapshot(
            spark, stats_path, stats, stat_cols=["term"], n_files=2,
            extra_meta={"index_of": covers} if covers else None,
        )
    finally:
        base.unpersist()


def _load_stats(
    spark: SparkSession, stats_path: str, terms: list[str]
) -> tuple[dict, int, int, float]:
    rows = (
        read_table(spark, stats_path)
        .filter(F.col("term").isin([*terms, CORPUS_ROW, FROZEN_ROW]))
        .collect()
    )
    by_term = {r["term"]: (int(r["df"]), int(r["max_impact"])) for r in rows}
    missing = [r for r in (CORPUS_ROW, FROZEN_ROW) if r not in by_term]
    if missing:
        names = ", ".join(repr(m) for m in missing)
        raise ValueError(
            f"stats table {stats_path} is missing its reserved row(s) "
            f"{names} (corpus totals / frozen avgdl0) — it was not built "
            "by build_bounded_index or has been truncated; rebuild the "
            "bounded index"
        )
    n_docs, tot = by_term.pop(CORPUS_ROW)
    n0, t0 = by_term.pop(FROZEN_ROW)
    # maintenance can legitimately delete the whole corpus: n_docs == 0
    # is an EMPTY index, not a divide-by-zero — the caller short-circuits
    corr = (
        max(1.0, (tot / n_docs) / (t0 / n0))
        if (n_docs and n0 and t0) else 1.0
    )
    return by_term, n_docs, tot, corr


def bounded_bm25(
    spark: SparkSession,
    idx_path: str,
    stats_path: str,
    queries: list[tuple[int, str]],
    top_k: int,
    term_micro_expr: str,
) -> tuple[DataFrame, dict]:
    """EXACT BM25 top-k with block-max file skipping. Returns
    ``(result, counters)``: result has the full-probe scorer's exact
    columns (query_id, rnk, doc_id, n_terms_hit, score_micro);
    counters report ``files_full`` (what per-term full probes would
    open) vs ``files_opened``. ``term_micro_expr`` is the scoring
    expression over columns (tf, df, dl, n_docs, tot) — injected so
    the caller controls the (engine-deterministic) arithmetic."""
    m = read_manifest(spark, idx_path)
    fstats = m.get("stats") or {}
    terms = sorted({t for _, t in queries})
    qterms = {}
    for qid, t in queries:
        qterms.setdefault(qid, []).append(t)
    by_term, n_docs, tot, corr = _load_stats(spark, stats_path, terms)
    if n_docs == 0:
        # maintenance deleted the whole corpus: the exact top-k over an
        # empty index is empty — short-circuit before any idf division
        empty = spark.createDataFrame(
            [],
            "query_id long, rnk long, doc_id long, n_terms_hit long, "
            "score_micro long",
        )
        return empty, {"files_full": 0, "files_opened": 0}

    def imp_max(f) -> int | None:
        r = (fstats.get(f) or {}).get("impact")
        return None if r is None else int(r[1])

    idf = {}
    ub_g = {}
    for t in terms:
        df_t, mi = by_term.get(t, (0, 0))
        idf[t] = (n_docs - df_t + 0.5) / (df_t + 0.5) if df_t else 0.0
        ub_g[t] = int(math.floor(idf[t] * mi * corr)) + 1

    # file sets from the ONE manifest already in hand (a per-term
    # point_lookup_files would re-read the manifest per term — 11
    # driver FS round-trips per query batch for nothing)
    term_files = {
        t: split_files_by_key_ranges(m, {"term": (t, t)})[0] for t in terms
    }
    files_full = sum(len(v) for v in term_files.values())

    def probe(opened: dict[str, list[str]]) -> DataFrame:
        # ONE scan of the union of opened files, filtered to the query
        # terms — not a per-term scan union (11 tiny-file scans per
        # pass). A term's posting surfacing from a file opened for
        # ANOTHER term only adds exact rows: computed scores move
        # closer to true, and the skip proof needs computed ≤ true.
        files = sorted({f for fs in opened.values() for f in fs})
        if not files:  # no query term exists in the index
            return read_table(spark, idx_path).limit(0)
        return _read_files(spark, idx_path, m, files).filter(
            F.col("term").isin(list(terms))
        )

    def score(probed: DataFrame) -> DataFrame:
        # VALUES relation: the Python-RDD createDataFrame paid a
        # Python-worker scan per pass (this runs twice per serving
        # call — r12, the values_df rationale)
        qdf = values_df(
            spark,
            [(q, t, by_term.get(t, (0, 0))[0]) for q, t in queries],
            "query_id long, term string, df long",
        )
        scored = (
            probed.join(F.broadcast(qdf), "term")
            .withColumn("n_docs", F.lit(int(n_docs)))
            .withColumn("tot", F.lit(int(tot)))
            .withColumn("term_micro", F.expr(term_micro_expr))
        )
        return scored.groupBy("query_id", "doc_id").agg(
            F.count(F.lit(1)).cast("long").alias("n_terms_hit"),
            F.sum("term_micro").cast("long").alias("score_micro"),
        )

    # pass 1: the highest-impact block per term (a file without
    # recorded impact stats counts as unbounded and is always opened)
    pass1 = {
        t: sorted(
            fs, key=lambda f: -(2**62 if imp_max(f) is None else imp_max(f))
        )[:1]
        for t, fs in term_files.items()
    }
    partial = score(probe(pass1))
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_micro").desc(), "doc_id"
    )
    kth = {
        int(r["query_id"]): int(r["score_micro"])
        for r in partial.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == top_k)
        .collect()
    }

    # pass 2: open a remaining block only if some query still needs it
    opened = {t: list(pass1[t]) for t in terms}
    for t in terms:
        rest = [f for f in term_files[t] if f not in pass1[t]]
        for f in rest:
            mi = imp_max(f)
            needed = False
            for qid, qts in qterms.items():
                if t not in qts:
                    continue
                theta = kth.get(qid)
                if theta is None or mi is None:
                    needed = True  # no floor yet / no stats: must open
                    break
                bound = int(math.floor(idf[t] * mi * corr)) + 1 + sum(
                    ub_g[t2] for t2 in qts if t2 != t
                )
                if bound >= theta:
                    needed = True
                    break
            if needed:
                opened[t].append(f)

    agg = score(probe(opened))
    out = (
        agg.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= top_k)
        .select("query_id", "rnk", "doc_id", "n_terms_hit", "score_micro")
    )
    counters = {
        "files_full": files_full,
        "files_opened": sum(len(v) for v in opened.values()),
    }
    return out, counters


def maintain_bounded_index(
    spark: SparkSession,
    idx_path: str,
    stats_path: str,
    feed: DataFrame,
    tokens_expr: str,
    covers: dict | None = None,
) -> dict:
    """Fold a corpus change feed (``_change_type``/``_commit_version``
    rows) into the bounded index: the touched docs' (term, doc) pairs
    are MERGED (one apply_changes commit — replaced, inserted, or
    retracted), and (df, max_impact) are recomputed EXACTLY for the
    affected terms from the post-merge index, scoped by key-set file
    pruning — work ∝ the touched terms' postings. The corpus row
    updates additively (exact); the frozen avgdl0 row never moves, so
    previously-written impacts stay valid and serving corrects for
    drift with the avgdl ratio. Returns maintenance counters.

    ``covers`` (e.g. ``{"base": path, "version": head}``) is published
    as the STATS table's ``index_of`` record in the SAME commit as the
    corpus-row fold — the additive fold is the one non-idempotent step
    of maintenance, so coverage advancing atomically with it means a
    crashed/replayed run either sees the bumped coverage (no-op) or a
    corpus row the fold never touched (clean re-apply), never a
    double-counted window. The pairs merge is an idempotent keyed
    upsert either way. Exactly mv.py's _merge_delta contract."""
    from prox_spark.upsert import apply_changes

    # final visible text per touched doc: the newest change wins;
    # at equal version an update's insert beats its delete echo
    wd = Window.partitionBy("doc_id").orderBy(
        F.col("_commit_version").desc(), F.col("_change_type").desc()
    )
    last = (
        feed.withColumn("_r", F.row_number().over(wd))
        .filter(F.col("_r") == 1)
        .drop("_r", "_commit_version")
    ).persist()
    try:
        alive = last.filter(F.col("_change_type") == "insert").drop(
            "_change_type"
        )
        touched_docs = last.select("doc_id")
        stats0 = _load_frozen(spark, stats_path)
        new_pairs = _with_impact(
            _postings_with_dl(alive, tokens_expr), *stats0
        ).persist()
        try:
            # old pairs of the touched docs (the terms they leave)
            old_pairs = _pairs_of_docs(spark, idx_path, touched_docs)
            dels = old_pairs.join(
                new_pairs.select("term", "doc_id"),
                ["term", "doc_id"],
                "left_anti",
            ).select("term", "doc_id")
            changes = new_pairs.select(
                "term", "doc_id", "dl", "tf", "impact",
                F.lit("update").alias("change"),
            ).unionByName(
                dels.select(
                    "term", "doc_id",
                    F.lit(None).cast("long").alias("dl"),
                    F.lit(None).cast("long").alias("tf"),
                    F.lit(None).cast("long").alias("impact"),
                    F.lit("delete").alias("change"),
                )
            )
            apply_changes(spark, idx_path, changes, ["term", "doc_id"])

            # affected terms come from the RAW FEED, not the pre-merge
            # index: delete rows carry the old text, insert rows the
            # new, so the set covers every term entering or leaving —
            # and, unlike an index-derived set, it is REPLAY-STABLE: a
            # run crashed after the pairs merge re-derives the same
            # terms (the index-derived set would miss fully-retracted
            # terms whose postings the crashed run already removed,
            # leaving their stale stats rows behind). A superset term
            # (e.g. from a row superseded within the window) just gets
            # an exact recompute — harmless.
            affected = feed.select(
                F.explode(F.expr(tokens_expr)).alias("term")
            ).distinct()
            n_touched = _refresh_term_stats(
                spark, idx_path, stats_path, affected, feed, tokens_expr,
                covers=covers,
            )
            return {
                "touched_docs": touched_docs.count(),
                "affected_terms": n_touched,
            }
        finally:
            new_pairs.unpersist()
    finally:
        last.unpersist()


def bounded_index_stream_batch(
    batch_df: DataFrame,
    batch_id: int,
    base_path: str,
    idx_path: str,
    stats_path: str,
    tokens_expr: str,
) -> None:
    """CONTINUOUS bounded-index maintenance: foreachBatch sink for a
    readChangeFeed stream over the corpus table — each micro-batch
    folds through :func:`maintain_bounded_index`, so the WAND index
    stays current under live ingest. Idempotence comes from LINEAGE,
    not marker rows (the mv.py mv_stream_batch pattern): the stats
    manifest's ``index_of`` records the covered base version, the fold
    first drops rows at or below it (a replayed or overlapping batch
    contributes only its uncovered slice), and the bumped coverage
    publishes in the SAME commit as the corpus-row fold — the one
    non-idempotent maintenance step — so a crash replays as either a
    no-op or a clean re-apply, never a double count. Requires an index
    built with ``build_bounded_index(..., covers=...)``; a stats table
    without lineage for this base fails loudly (folding the corpus's
    initial snapshot into an index built FROM it would double-count
    every term)."""
    sp = batch_df.sparkSession
    meta = read_manifest(sp, stats_path).get("index_of") or {}
    if meta.get("base") != base_path or "version" not in meta:
        raise ValueError(
            f"stats table {stats_path} records no index_of lineage for "
            f"{base_path}; build the index with build_bounded_index("
            "..., covers={'base': base, 'version': v}) before streaming"
        )
    covered = int(meta["version"])
    fresh = batch_df.filter(F.col("_commit_version") > covered)
    end = fresh.agg(F.max("_commit_version")).first()[0]
    if end is None:
        return  # nothing beyond the covered version: replay no-op
    maintain_bounded_index(
        sp, idx_path, stats_path, fresh, tokens_expr,
        covers={"base": base_path, "version": int(end)},
    )


def compact_bounded_index(
    spark: SparkSession, idx_path: str, n_files: int | None = None
) -> int:
    """Re-cluster the whole postings table on (term, impact) in one
    ordinary commit. Merge maintenance rewrites only the TOUCHED
    files, each re-clustered locally — over many maintenance rounds
    the per-term impact blocks fragment and overlap across files, so
    the block-max skip rule sees wide impact ranges and opens more
    than it should. Compaction restores globally range-disjoint
    blocks (and folds small files). Stats stay exact throughout —
    maintenance already recomputes them — so this is purely a layout
    rewrite; serving answers are unchanged by construction. Returns
    the new version."""
    from prox_spark.table import commit_delta

    prev = read_manifest(spark, idx_path)
    nf = n_files if n_files is not None else max(8, len(prev["files"]))
    return commit_delta(
        spark, idx_path, read_table(spark, idx_path), [],
        stat_cols=["term", "impact"], n_files=nf,
        base_version=int(prev["version"]),
    )


def _load_frozen(spark: SparkSession, stats_path: str) -> tuple[int, int]:
    r = (
        read_table(spark, stats_path)
        .filter(F.col("term") == FROZEN_ROW)
        .first()
    )
    return int(r["df"]), int(r["max_impact"])


def _pairs_of_docs(
    spark: SparkSession, idx_path: str, docs: DataFrame
) -> DataFrame:
    """The index's live (term, doc_id) pairs for the given docs —
    a broadcast semi-join over the full term range (a doc's terms can
    live anywhere; this is the positional-index write-amplification
    the module docstring owns)."""
    return read_table(spark, idx_path).join(
        F.broadcast(docs.distinct()), "doc_id", "left_semi"
    ).select("term", "doc_id")


def _refresh_term_stats(
    spark: SparkSession,
    idx_path: str,
    stats_path: str,
    affected: DataFrame,
    feed: DataFrame,
    tokens_expr: str,
    covers: dict | None = None,
) -> int:
    """Recompute exact (df, max_impact) for the affected terms from
    the POST-merge index and merge them — plus the additive corpus-row
    update (and the bumped ``covers`` lineage) — into the stats table
    in one apply_changes commit.

    The affected-term list lands driver-side only when it is CAPPED
    (upsert._collect_capped — ~50k scalars): the common CDC batch gets
    exact key-SET file pruning and driver-computed vanished terms. A
    vocabulary-sized batch (a bulk reload's feed) keeps the term frame
    DISTRIBUTED: the scan scopes by the terms' min/max RANGE instead
    (one tiny agg), restricted by a broadcast semi-join, and vanished
    terms come from an anti-join — no unbounded driver list, the
    upsert.py fallback shape."""
    from prox_spark.upsert import _collect_capped, apply_changes

    m = read_manifest(spark, idx_path)
    affected = affected.persist()
    gone_rows: list | None
    try:
        rows = _collect_capped(affected.select("term"))
        if rows is not None:
            terms = sorted(r["term"] for r in rows)
            n_terms = len(terms)
            files, _ = split_files_by_key_sets(m, {"term": terms})
            scoped = _read_files(spark, idx_path, m, files).filter(
                F.col("term").isin(terms)
            )
        else:
            rng = affected.agg(
                F.min("term").alias("lo"), F.max("term").alias("hi")
            ).first()
            n_terms = affected.count()
            files, _ = split_files_by_key_ranges(
                m, {"term": (rng["lo"], rng["hi"])}
            )
            scoped = _read_files(spark, idx_path, m, files).join(
                F.broadcast(affected), "term", "left_semi"
            )
            terms = None
        fresh = _term_stats(scoped).persist()
        try:
            if terms is not None:
                have = {r["term"] for r in fresh.select("term").collect()}
                gone_rows = [(t, None, None, "delete") for t in terms
                             if t not in have]
                gone_df = spark.createDataFrame(
                    gone_rows,
                    "term string, df long, max_impact long, change string",
                )
            else:
                gone_df = affected.join(
                    fresh.select("term"), "term", "left_anti"
                ).select(
                    "term",
                    F.lit(None).cast("long").alias("df"),
                    F.lit(None).cast("long").alias("max_impact"),
                    F.lit("delete").alias("change"),
                )
            sgn = F.when(
                F.col("_change_type") == "insert", F.lit(1)
            ).otherwise(F.lit(-1))
            drow = feed.select(
                sgn.alias("s"),
                F.size(F.expr(tokens_expr)).cast("long").alias("dl"),
            ).agg(
                F.sum("s").cast("long").alias("dn"),
                F.sum(F.col("s") * F.col("dl")).cast("long").alias("dtot"),
            ).first()
            cur = (
                read_table(spark, stats_path)
                .filter(F.col("term") == CORPUS_ROW)
                .first()
            )
            corpus = spark.createDataFrame(
                [(
                    CORPUS_ROW,
                    int(cur["df"]) + int(drow["dn"] or 0),
                    int(cur["max_impact"]) + int(drow["dtot"] or 0),
                )],
                "term string, df long, max_impact long",
            )
            changes = (
                fresh.unionByName(corpus)
                .withColumn("change", F.lit("update"))
                .unionByName(gone_df)
            )
            apply_changes(
                spark, stats_path, changes, ["term"],
                extra_meta={"index_of": covers} if covers else None,
            )
            return int(n_terms)
        finally:
            fresh.unpersist()
    finally:
        affected.unpersist()
