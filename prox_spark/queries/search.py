"""Full-text retrieval over the `documents` table — the keyword half
of a training-data curation stack (the embedding half is
queries/similarity.py). The reference has no search surface (its only
text artifact is the external sentiment table,
reference transformations_script.py:130-135); this extends the
LLM-pipeline trajectory: corpus-scale keyword filtering should hit an
INDEX, never re-scan 100 TB of text per query.

Two operators:

- q200: BM25 top-k search served from a PERSISTED term-clustered
  postings table (built through the manifest table format, so file
  pruning on `term` is the real access path — a probe opens only the
  files whose footer range admits the term).
- q201: INCREMENTAL maintenance of that postings index from the
  table's change feed (prox_spark/cdf.py): term frequencies are
  signed-additive, so insert/update/delete commits fold into the
  index with work ∝ delta, never a corpus re-tokenize.

Scoring determinism (see queries/__init__ docstring): BM25's log-IDF
is replaced by its RATIONAL pre-log core (n_docs - df + 0.5)/(df +
0.5) — monotone-equivalent per term, and it keeps every float op an
identical IEEE double op in both engines (logs differ in the last ulp
across libm builds, q75 precedent). Per-term scores are rounded to
micro-units and summed as BIGINTs, so the cross-term sum is exact in
any order.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F

from prox_spark.io import read_parquet
from prox_spark.local_frames import values_df
from prox_spark.neardup import DOT_DUCK, DOT_SPARK, TOKENS_DUCK, TOKENS_SPARK
from prox_spark.postings import (
    _BATCH_MARKER,
    _signed_postings,
    maintained_postings,
)
from .text import _docs

# fixed query workload: (query_id, term) — mixed rare ("dup") and
# common terms so the scoring discriminates
BM25_QUERIES: list[tuple[int, str]] = [
    (1, "dup"),
    (1, "hash"),
    (2, "merge"),
    (2, "sort"),
    (2, "window"),
    (3, "vector"),
    (3, "query"),
]
BM25_TOP_K = 10

# identical arithmetic STRING in Spark SQL and DuckDB SQL: every op is
# the same IEEE double op on the same inputs, so the rounded
# micro-unit per-term score is bit-identical cross-engine.
#   idf  = (n_docs - df + 0.5) / (df + 0.5)          (rational pre-log core)
#   tfc  = (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl/avgdl))
#          with k1 = 1.2, b = 0.75, avgdl = tot / n_docs
_TERM_MICRO = (
    "cast(round(((n_docs - df + 0.5) / (df + 0.5))"
    " * ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (dl / (tot / n_docs)))))"
    " * 1000000.0, 0) as bigint)"
)

_BM25_CACHE: dict[str, tuple] = {}


def _tokens_tf(docs: DataFrame) -> DataFrame:
    """(term, doc_id, tf) postings rows from a documents frame —
    map-side explode, one shuffle on (doc_id, term)."""
    return (
        docs.withColumn("tokens", F.expr(TOKENS_SPARK))
        .select("doc_id", F.explode("tokens").alias("term"))
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )


def _doc_lengths(docs: DataFrame) -> DataFrame:
    """(doc_id, dl) — token counts, the BM25 length normalizer."""
    return docs.withColumn("tokens", F.expr(TOKENS_SPARK)).select(
        "doc_id", F.size("tokens").cast("long").alias("dl")
    )


def _bm25_index(spark: SparkSession, sf_dir: str) -> tuple:
    """Stage the search index once per (process, sf_dir): a postings
    table committed through the manifest format RANGE-CLUSTERED ON
    `term` (footer stats + blooms → a term probe prunes to the one or
    two files whose range admits it), plus the doc-length and
    corpus-stats sidecars every BM25 evaluation needs. At 100 TB the
    postings table is the only big artifact and it is only ever probed
    per-term, never scanned."""
    from prox_spark.table import commit_snapshot

    from ._staging import staged

    def build(scratch: str) -> tuple:
        docs = _docs(spark, sf_dir)
        postings = f"{scratch}/postings"
        commit_snapshot(
            spark, postings, _tokens_tf(docs), stat_cols=["term"], n_files=8
        )
        dl_path = f"{scratch}/doc_lengths"
        _doc_lengths(docs).coalesce(1).write.parquet(dl_path)
        stats_path = f"{scratch}/corpus_stats"
        (
            read_parquet(spark, dl_path)
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum("dl").cast("long").alias("tot"),
            )
            .coalesce(1)
            .write.parquet(stats_path)
        )
        return postings, dl_path, stats_path

    return staged(_BM25_CACHE, sf_dir, "prox_bm25_", build)


def _bm25_score(
    spark: SparkSession,
    probed: DataFrame,
    q_terms: DataFrame,
    dl: DataFrame,
    stats: DataFrame,
    top_k: int = BM25_TOP_K,
) -> DataFrame:
    """Shared BM25 evaluation over probed postings: per-term rational
    scores in exact micro-units, BIGINT-summed per (query, doc), then
    a per-query top-k window. All joins broadcast (query terms, doc
    lengths at probe width, a one-row stats frame)."""
    dfreq = probed.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    scored = (
        probed.join(F.broadcast(q_terms), "term")
        .join(F.broadcast(dfreq), "term")
        .join(F.broadcast(dl), "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn("term_micro", F.expr(_TERM_MICRO))
    )
    agg = scored.groupBy("query_id", "doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_terms_hit"),
        F.sum("term_micro").cast("long").alias("score_micro"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_micro").desc(), "doc_id"
    )
    return (
        agg.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= top_k)
        .select("query_id", "rnk", "doc_id", "n_terms_hit", "score_micro")
    )


def q200_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 for three keyword queries served from the postings
    INDEX: each distinct query term is a `read_table_point` probe —
    manifest min/max pruning keeps the scan to the files whose term
    range admits the probe, so query cost is ∝ the query terms'
    postings, independent of corpus size. The oracle recomputes the
    same scores from the raw documents table with no index at all, so
    a stale posting, a mis-pruned file, or a df drift all break the
    hash. The pinned ``files_pruned`` flag (oracle TRUE) asserts the
    index actually skipped files: every probe must have opened fewer
    files than the table holds."""
    from prox_spark.table import (
        _read_files,
        read_manifest,
        split_files_by_key_ranges,
    )

    postings, dl_path, stats_path = _bm25_index(spark, sf_dir)
    terms = sorted({t for _, t in BM25_QUERIES})
    # ONE manifest read serves every term's prune AND scan (r12: the
    # per-term point_lookup_files + read_table_point pair re-read the
    # manifest twice per term — 13 driver FS round-trips per call;
    # per-term pruning itself is pure in-memory stats math)
    m = read_manifest(spark, postings)
    n_total = len(m["files"])
    per_term = {
        t: split_files_by_key_ranges(m, {"term": (t, t)})[0] for t in terms
    }
    files_pruned = all(len(fs) < n_total for fs in per_term.values())
    probed = reduce(
        lambda a, b: a.unionByName(b),
        [
            _read_files(spark, postings, m, fs).filter(
                F.col("term") == F.lit(t)
            )
            for t, fs in per_term.items()
        ],
    )
    q_terms = values_df(spark, BM25_QUERIES, "query_id long, term string")
    out = _bm25_score(
        spark,
        probed,
        q_terms,
        read_parquet(spark, dl_path),
        read_parquet(spark, stats_path),
    )
    return out.withColumn("files_pruned", F.lit(files_pruned)).orderBy(
        "query_id", "rnk"
    )


def _duck_qterms() -> str:
    vals = ", ".join(f"({q}, '{t}')" for q, t in BM25_QUERIES)
    return f"(VALUES {vals}) AS v(query_id, term)"


ORACLE_Q200 = f"""
WITH t AS (
  SELECT doc_id, {TOKENS_DUCK} AS tokens FROM documents
), dl_t AS (
  SELECT doc_id, CAST(len(tokens) AS BIGINT) AS dl FROM t
), tf_t AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest(tokens) AS term FROM t)
  GROUP BY doc_id, term
), stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS tot
  FROM dl_t
), qt AS (
  SELECT CAST(query_id AS BIGINT) AS query_id, term FROM {_duck_qterms()}
), dfreq AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df
  FROM tf_t
  WHERE term IN (SELECT term FROM qt)
  GROUP BY term
), scored AS (
  SELECT qt.query_id, tf_t.doc_id,
         {_TERM_MICRO} AS term_micro
  FROM qt
  JOIN tf_t USING (term)
  JOIN dfreq USING (term)
  JOIN dl_t ON tf_t.doc_id = dl_t.doc_id
  CROSS JOIN stats
), agg AS (
  SELECT query_id, doc_id,
         CAST(count(*) AS BIGINT) AS n_terms_hit,
         CAST(sum(term_micro) AS BIGINT) AS score_micro
  FROM scored GROUP BY query_id, doc_id
), ranked AS (
  SELECT *,
         row_number() OVER (
           PARTITION BY query_id ORDER BY score_micro DESC, doc_id
         ) AS rnk
  FROM agg
)
SELECT query_id, CAST(rnk AS BIGINT) AS rnk, doc_id, n_terms_hit,
       score_micro, TRUE AS files_pruned
FROM ranked
WHERE rnk <= {BM25_TOP_K}
ORDER BY query_id, rnk
"""


# --- q201: incremental postings-index maintenance from the change feed -----

_INC_IDX_CACHE: dict[str, tuple] = {}


def _inc_postings(spark: SparkSession, sf_dir: str) -> tuple:
    """Stage (once per process) a postings index built at the CDC
    table's v1 and then MAINTAINED to head purely from the change
    feed: term frequencies are signed-additive, so the feed's
    insert/delete rows explode to (term, doc_id, ±occurrences) and the
    net delta APPENDS to the index (merge-on-read fold at query time —
    the q194 pattern, the index is never re-tokenized or rewritten).
    Returns (index_path, delta_bounded, zero_rewrite): the maintenance
    commit must be smaller than the base index (work ∝ delta) and must
    carry every base file untouched."""
    from prox_spark.cdf import read_table_changes
    from prox_spark.table import (
        commit_delta,
        commit_snapshot,
        read_manifest,
        read_table,
    )

    from ._staging import staged
    from .table_q import _card_cdc_table

    t, head = _card_cdc_table(spark, sf_dir)

    def build(scratch: str) -> tuple:
        idx = f"{scratch}/postings"
        v1_docs = read_table(spark, t, version=1).select("doc_id", "text")
        commit_snapshot(
            spark, idx, _tokens_tf(v1_docs), stat_cols=["term"], n_files=4
        )
        m1 = read_manifest(spark, idx)
        n_base = read_table(spark, idx).count()
        delta = _signed_postings(read_table_changes(spark, t, 1, head))
        n_delta = delta.count()
        commit_delta(
            spark, idx, delta, list(m1["files"]), update_key_ranges={}
        )
        m2 = read_manifest(spark, idx)
        zero_rewrite = set(m1["files"]) <= set(m2["files"])
        return idx, bool(n_delta < n_base), bool(zero_rewrite)

    return staged(_INC_IDX_CACHE, sf_dir, "prox_incidx_", build)


def q201_incremental_text_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The postings index maintained INCREMENTALLY through an insert +
    merge-on-read delete + update commit sequence must equal a
    from-scratch index of the final corpus: the oracle re-derives the
    final doc set formulaically and tokenizes it with no index at all,
    so a feed row the maintenance missed (a deleted doc's postings
    surviving, an update's old terms not retracted, a 'moved' term not
    added) breaks the hash. Pinned flags: ``delta_bounded`` (the
    maintenance commit is strictly smaller than the base index — work
    ∝ delta) and ``zero_rewrite`` (every base file carried verbatim —
    maintenance never rewrites the index)."""
    idx, delta_bounded, zero_rewrite = _inc_postings(spark, sf_dir)
    return (
        maintained_postings(spark, idx)
        .groupBy("term")
        .agg(
            F.count(F.lit(1)).cast("long").alias("df"),
            F.sum("tf").cast("long").alias("tf_total"),
        )
        .withColumn("delta_bounded", F.lit(delta_bounded))
        .withColumn("zero_rewrite", F.lit(zero_rewrite))
        .orderBy("term")
    )


def _oracle_q201() -> str:
    from .table_q import N_CARD_DOCS

    return f"""
WITH final AS (
  SELECT i AS doc_id,
         CASE WHEN i % 6 = 0 AND i < 60 AND i % 10 <> 4
              THEN 'card g' || CAST(i // 3 AS VARCHAR) || ' MOVED'
              ELSE 'card g' || CAST(i // 3 AS VARCHAR) END AS text
  FROM range({N_CARD_DOCS}) t(i)
  WHERE i % 10 <> 4
), toks AS (
  SELECT doc_id, {TOKENS_DUCK} AS tokens FROM final
), tf_t AS (
  SELECT doc_id, term, count(*) AS tf
  FROM (SELECT doc_id, unnest(tokens) AS term FROM toks)
  GROUP BY doc_id, term
)
SELECT term, CAST(count(*) AS BIGINT) AS df,
       CAST(sum(tf) AS BIGINT) AS tf_total,
       TRUE AS delta_bounded, TRUE AS zero_rewrite
FROM tf_t
GROUP BY term
ORDER BY term
"""


# --- q205: STREAM-maintained postings index through deletes ----------------

N_SIDX_DOCS = 180
_SIDX_CACHE: dict[str, tuple] = {}


def postings_index_batch(batch_df: DataFrame, batch_id: int,
                         index_path: str) -> None:
    """Transactional postings sink for foreachBatch over a
    readChangeFeed stream: fold the micro-batch's signed rows into a
    postings delta (work ∝ batch) and APPEND it to the index table,
    carrying every prior file by reference. An applied-batch marker
    row (term = \\x00batch, doc_id = batch_id) makes re-delivery a
    no-op, so checkpoint replay can't double-count a term."""
    from prox_spark.table import (
        commit_delta,
        commit_snapshot,
        is_manifest_table,
        read_manifest,
        read_table,
    )

    sp = batch_df.sparkSession
    if batch_df.isEmpty():
        # a restart fires one empty catch-up batch (fresh batch_id, no
        # rows): appending a marker for it would make idle restarts
        # grow the index — skip, there is nothing whose re-delivery
        # needs fencing
        return
    if is_manifest_table(sp, index_path):
        applied = {
            int(r["doc_id"])
            for r in read_table(sp, index_path)
            .filter(F.col("term") == _BATCH_MARKER)
            .select("doc_id")
            .collect()
        }
        if int(batch_id) in applied:
            return
    # VALUES, not createDataFrame: no Python-RDD scan per micro-batch
    marker = values_df(
        sp,
        [(_BATCH_MARKER, int(batch_id), -1)],
        "term string, doc_id long, tf long",
    )
    data = _signed_postings(batch_df).unionByName(marker)
    if is_manifest_table(sp, index_path):
        prev = read_manifest(sp, index_path)
        commit_delta(
            sp, index_path, data, list(prev["files"]),
            base_manifest=prev, base_version=prev.get("version"),
            update_key_ranges={},
        )
    else:
        commit_snapshot(sp, index_path, data, stat_cols=["term"])


def _stream_postings(spark: SparkSession, sf_dir: str) -> tuple:
    """Staged once per process: a formulaic corpus driven through
    snapshot → append → merge-on-read DELETE → upsert, consumed by
    three checkpoint-sharing readChangeFeed stream runs (the first
    trigger after each restart is deliberately unpaced, so run two
    folds the append+delete commits in one catch-up batch), each
    batch folding its signed postings into the index. A fourth run
    with nothing new must publish NO index commit at all. Returns
    (index, incremental, replay_idempotent)."""
    from prox_spark.table import (
        commit_delta,
        commit_snapshot,
        read_manifest,
        read_table,
    )
    from prox_spark.table_stream import TableChangesDataSource
    from prox_spark.upsert import delete_keys_mor, upsert_parquet

    from ._staging import staged
    from .streaming_q import _stream_partitions

    def build(scratch: str) -> tuple:
        spark.dataSource.register(TableChangesDataSource)
        t = f"{scratch}/corpus"
        idx = f"{scratch}/postings_idx"
        ckpt = f"{scratch}/ckpt"
        allr = spark.range(N_SIDX_DOCS).select(
            F.col("id").alias("doc_id"),
            F.concat(
                F.lit("idx t"), F.expr("cast(id div 2 as string)")
            ).alias("text"),
        )

        def run() -> None:
            with _stream_partitions(spark):
                q = (
                    spark.readStream.format("prox_table_changes")
                    .option("path", t)
                    .option("readChangeFeed", "true")
                    .load()
                    .writeStream.foreachBatch(
                        lambda bdf, bid: postings_index_batch(bdf, bid, idx)
                    )
                    .option("checkpointLocation", ckpt)
                    .trigger(availableNow=True)
                    .start()
                )
                try:
                    # availableNow self-terminates when drained; under
                    # heavy host load a silent timeout would truncate
                    # the index mid-batch — fail loudly instead
                    if not q.awaitTermination(600):
                        raise RuntimeError(
                            "postings stream did not drain within 600s"
                        )
                finally:
                    q.stop()

        commit_snapshot(
            spark, t, allr.filter(F.col("doc_id") % 4 != 3),
            stat_cols=["doc_id"], n_files=4,
        )
        run()
        prev = read_manifest(spark, t)
        commit_delta(
            spark, t, allr.filter(F.col("doc_id") % 4 == 3),
            list(prev["files"]), update_key_ranges={},
        )
        delete_keys_mor(
            spark, t,
            allr.filter(F.col("doc_id") % 5 == 0).select("doc_id"),
            ["doc_id"],
        )
        run()
        upd = allr.filter(
            (F.col("doc_id") % 9 == 0) & (F.col("doc_id") % 5 != 0)
        ).withColumn("text", F.concat(F.col("text"), F.lit(" UPD")))
        upsert_parquet(spark, t, upd, ["doc_id"])
        run()
        n_markers = (
            read_table(spark, idx)
            .filter(F.col("term") == _BATCH_MARKER)
            .count()
        )
        v_before = read_manifest(spark, idx)["version"]
        run()  # nothing new: replay must not publish ANY index commit
        v_after = read_manifest(spark, idx)["version"]
        return idx, bool(n_markers >= 3), bool(v_after == v_before)

    return staged(_SIDX_CACHE, sf_dir, "prox_sidx_", build)


def q205_streaming_text_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The postings index maintained by a STANDING STREAM through a
    workload that DELETES — the q194/q198 streaming-index pattern
    composed with the signed change feed: every corpus commit
    (snapshot, append, merge-on-read delete, upsert) arrives as one
    paced micro-batch whose signed postings fold into the index, and
    the gate compares per-term stats from the stream-built index
    against a from-scratch tokenize of the final corpus. A deleted
    doc's surviving postings, an update's unretracted old terms, a
    double-applied replayed batch, or a missed paced version all
    break the hash. Pinned flags: ``incremental`` (≥3 distinct
    micro-batches built the index — one per stream run) and
    ``replay_idempotent`` (a fourth checkpoint-sharing run with
    nothing new published no index commit)."""
    idx, incremental, replay_idempotent = _stream_postings(spark, sf_dir)
    return (
        maintained_postings(spark, idx)
        .filter(F.col("term") != _BATCH_MARKER)
        .groupBy("term")
        .agg(
            F.count(F.lit(1)).cast("long").alias("df"),
            F.sum("tf").cast("long").alias("tf_total"),
        )
        .withColumn("incremental", F.lit(incremental))
        .withColumn("replay_idempotent", F.lit(replay_idempotent))
        .orderBy("term")
    )


ORACLE_Q205 = f"""
WITH final AS (
  SELECT i AS doc_id,
         CASE WHEN i % 9 = 0
              THEN 'idx t' || CAST(i // 2 AS VARCHAR) || ' UPD'
              ELSE 'idx t' || CAST(i // 2 AS VARCHAR) END AS text
  FROM range({N_SIDX_DOCS}) t(i)
  WHERE i % 5 <> 0
), toks AS (
  SELECT doc_id, {TOKENS_DUCK} AS tokens FROM final
), tf_t AS (
  SELECT doc_id, term, count(*) AS tf
  FROM (SELECT doc_id, unnest(tokens) AS term FROM toks)
  GROUP BY doc_id, term
)
SELECT term, CAST(count(*) AS BIGINT) AS df,
       CAST(sum(tf) AS BIGINT) AS tf_total,
       TRUE AS incremental, TRUE AS replay_idempotent
FROM tf_t
GROUP BY term
ORDER BY term
"""


# --- q203: hybrid retrieval (BM25 recall -> embedding rerank) --------------

HYBRID_CANDIDATES = 25
HYBRID_TOP_K = 10


def q203_hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID retrieval, the RAG-pipeline shape: the BM25 postings
    index supplies a cheap keyword candidate set (top-25 per query,
    index-probed — never a corpus scan), then the candidates are
    RERANKED by embedding cosine to the top BM25 hit's vector (rank-1
    pseudo-relevance feedback, Rocchio's single-anchor special case —
    one anchor vector per query keeps every float op an identical
    IEEE sequence in both engines; summing multiple feedback vectors
    would reintroduce order-dependent double addition). The oracle
    recomputes both stages from the raw tables. Scale shape: the
    candidate set (queries × 25 rows) BROADCASTS into one scan of the
    vector table — at 100 TB that join is served by id point-lookups
    into the vector table, never a re-scan per query; cosine is the
    q40 fold on precomputed norms."""
    from .similarity import _emb_n

    postings, dl_path, stats_path = _bm25_index(spark, sf_dir)
    terms = sorted({t for _, t in BM25_QUERIES})
    # ONE manifest read serves every term's prune AND scan — the q200
    # r12 fix, applied here too (the per-term read_table_point pair
    # re-read the manifest per term: ~10 driver FS round-trips per
    # call for in-memory stats math; r13, guide §1.2/§6)
    from prox_spark.table import _read_files, read_manifest, split_files_by_key_ranges

    m = read_manifest(spark, postings)
    per_term = {
        t: split_files_by_key_ranges(m, {"term": (t, t)})[0] for t in terms
    }
    probed = reduce(
        lambda a, b: a.unionByName(b),
        [
            _read_files(spark, postings, m, fs).filter(
                F.col("term") == F.lit(t)
            )
            for t, fs in per_term.items()
        ],
    )
    q_terms = values_df(spark, BM25_QUERIES, "query_id long, term string")
    cand = _bm25_score(
        spark,
        probed,
        q_terms,
        read_parquet(spark, dl_path),
        read_parquet(spark, stats_path),
        top_k=HYBRID_CANDIDATES,
    )
    emb = _emb_n(spark, sf_dir).select(
        F.col("vec_id").alias("doc_id"), "dd", "nrm"
    )
    cand_e = emb.join(F.broadcast(cand), "doc_id")
    anchors = cand_e.filter(F.col("rnk") == 1).select(
        "query_id",
        F.col("doc_id").alias("anchor_id"),
        F.col("dd").alias("av"),
        F.col("nrm").alias("an"),
    )
    rer = (
        cand_e.join(F.broadcast(anchors), "query_id")
        .filter(F.col("doc_id") != F.col("anchor_id"))
        .withColumn(
            "cosine",
            F.expr(f"{DOT_SPARK.format(a='av', b='dd')} / (an * nrm)"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), "doc_id"
    )
    return (
        rer.withColumn("rr", F.row_number().over(w).cast("long"))
        .filter(F.col("rr") <= HYBRID_TOP_K)
        .select("query_id", "rr", "doc_id", "score_micro", "cosine")
        .orderBy("query_id", "rr")
    )


def _oracle_q203() -> str:
    dot_nrm = DOT_DUCK.format(
        a="embedding::DOUBLE[]", b="embedding::DOUBLE[]"
    )
    return f"""
WITH t AS (
  SELECT doc_id, {TOKENS_DUCK} AS tokens FROM documents
), dl_t AS (
  SELECT doc_id, CAST(len(tokens) AS BIGINT) AS dl FROM t
), tf_t AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest(tokens) AS term FROM t)
  GROUP BY doc_id, term
), stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS tot
  FROM dl_t
), qt AS (
  SELECT CAST(query_id AS BIGINT) AS query_id, term FROM {_duck_qterms()}
), dfreq AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df
  FROM tf_t WHERE term IN (SELECT term FROM qt) GROUP BY term
), scored AS (
  SELECT qt.query_id, tf_t.doc_id, {_TERM_MICRO} AS term_micro
  FROM qt JOIN tf_t USING (term) JOIN dfreq USING (term)
  JOIN dl_t ON tf_t.doc_id = dl_t.doc_id CROSS JOIN stats
), agg AS (
  SELECT query_id, doc_id, CAST(sum(term_micro) AS BIGINT) AS score_micro
  FROM scored GROUP BY query_id, doc_id
), cand AS (
  SELECT query_id, doc_id, score_micro,
         row_number() OVER (
           PARTITION BY query_id ORDER BY score_micro DESC, doc_id
         ) AS rnk
  FROM agg
  QUALIFY rnk <= {HYBRID_CANDIDATES}
), e AS (
  SELECT vec_id AS doc_id, embedding::DOUBLE[] AS dd,
         sqrt({dot_nrm}) AS nrm
  FROM embeddings
), anchors AS (
  SELECT c.query_id, c.doc_id AS anchor_id, e.dd AS av, e.nrm AS an
  FROM cand c JOIN e USING (doc_id) WHERE c.rnk = 1
), rer AS (
  SELECT c.query_id, c.doc_id, c.score_micro,
         {DOT_DUCK.format(a='a.av', b='e.dd')} / (a.an * e.nrm) AS cosine
  FROM cand c
  JOIN e USING (doc_id)
  JOIN anchors a ON c.query_id = a.query_id
  WHERE c.doc_id <> a.anchor_id
), ranked AS (
  SELECT query_id, doc_id, score_micro, cosine,
         CAST(row_number() OVER (
           PARTITION BY query_id ORDER BY cosine DESC, doc_id
         ) AS BIGINT) AS rr
  FROM rer
)
SELECT query_id, rr, doc_id, score_micro, cosine
FROM ranked WHERE rr <= {HYBRID_TOP_K}
ORDER BY query_id, rr
"""


# --- q213: block-max bounded BM25 (WAND/BMW transposed to files) -----------

# the q200 multi-term workload (the no-skip shape: a rare partner like
# "dup" keeps the common term's blocks essential — any rare-doc's
# exact score needs its common tf wherever it lives) PLUS single-term
# queries on the highest-df terms, where low-impact blocks provably
# cannot reach the top-k floor and are skipped.
BOUNDED_QUERIES: list[tuple[int, str]] = [
    *BM25_QUERIES,
    (4, "batch"),
    (5, "scan"),
    (6, "data"),
    (7, "join"),
]
_BOUNDED_CACHE: dict[str, tuple] = {}
# ~200 postings per block: common terms (df ≈ 0.8·n_docs) span
# several impact-ordered blocks at every sf, so the block-max floor
# has blocks to skip — at 100 TB a term spans thousands of files and
# this is the natural layout, not an artificial split.
_BLOCK_ROWS = 200


def _bounded_idx(spark: SparkSession, sf_dir: str) -> tuple:
    from prox_spark.wand import build_bounded_index

    from ._staging import staged

    def build(scratch: str) -> tuple:
        docs = _docs(spark, sf_dir)
        idx, stats = f"{scratch}/bmw_idx", f"{scratch}/bmw_stats"
        n_rows = int(_tokens_tf(docs).count())
        n_files = max(64, min(256, n_rows // _BLOCK_ROWS))
        build_bounded_index(
            spark, docs, idx, stats, TOKENS_SPARK, n_files=n_files
        )
        return idx, stats

    return staged(_BOUNDED_CACHE, sf_dir, "prox_bmw_", build)


def q213_bounded_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLOCK-MAX BOUNDED BM25 — WAND/BMW (Broder et al.; Ding & Suel)
    transposed to a batch engine (prox_spark/wand.py): postings are
    impact-ordered within term-clustered files, the manifest's
    per-file footer stats ARE the block-max table, and serving runs
    two passes — top block per term seeds an exact top-k floor, then
    a remaining block opens only if its bound (file impact max × idf
    + partner-term upper bounds) can reach the floor. EXACT: a
    skipped block provably contains no top-k doc, so every served
    score is bit-identical to the full-probe scorer — the oracle
    recomputes everything from the raw documents with no index. The
    pinned ``files_skipped`` flag (oracle TRUE) asserts the bound
    actually fired: strictly fewer files opened than the per-term
    full probes would."""
    from prox_spark.wand import bounded_bm25

    idx, stats = _bounded_idx(spark, sf_dir)
    out, counters = bounded_bm25(
        spark, idx, stats, BOUNDED_QUERIES, BM25_TOP_K, _TERM_MICRO
    )
    files_skipped = bool(
        0 < counters["files_opened"] < counters["files_full"]
    )
    return out.withColumn("files_skipped", F.lit(files_skipped)).orderBy(
        "query_id", "rnk"
    )


def _oracle_bm25(queries: list[tuple[int, str]], pin: str) -> str:
    vals = ", ".join(f"({q}, '{t}')" for q, t in queries)
    return f"""
WITH t AS (
  SELECT doc_id, {TOKENS_DUCK} AS tokens FROM documents
), dl_t AS (
  SELECT doc_id, CAST(len(tokens) AS BIGINT) AS dl FROM t
), tf_t AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest(tokens) AS term FROM t)
  GROUP BY doc_id, term
), stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS tot
  FROM dl_t
), qt AS (
  SELECT CAST(query_id AS BIGINT) AS query_id, term
  FROM (VALUES {vals}) AS v(query_id, term)
), dfreq AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df
  FROM tf_t
  WHERE term IN (SELECT term FROM qt)
  GROUP BY term
), scored AS (
  SELECT qt.query_id, tf_t.doc_id,
         {_TERM_MICRO} AS term_micro
  FROM qt
  JOIN tf_t USING (term)
  JOIN dfreq USING (term)
  JOIN dl_t ON tf_t.doc_id = dl_t.doc_id
  CROSS JOIN stats
), agg AS (
  SELECT query_id, doc_id,
         CAST(count(*) AS BIGINT) AS n_terms_hit,
         CAST(sum(term_micro) AS BIGINT) AS score_micro
  FROM scored GROUP BY query_id, doc_id
), ranked AS (
  SELECT *,
         row_number() OVER (
           PARTITION BY query_id ORDER BY score_micro DESC, doc_id
         ) AS rnk
  FROM agg
)
SELECT query_id, CAST(rnk AS BIGINT) AS rnk, doc_id, n_terms_hit,
       score_micro, TRUE AS {pin}
FROM ranked
WHERE rnk <= {BM25_TOP_K}
ORDER BY query_id, rnk
"""


ORACLE_Q213 = _oracle_bm25(BOUNDED_QUERIES, "files_skipped")


# --- q214: bound maintenance through the incremental (CDC) path ------------

BOUNDED_CDC_QUERIES: list[tuple[int, str]] = [
    (1, "card"),
    (2, "moved"),
    (2, "card"),
]
_BOUNDED_CDC_CACHE: dict[str, tuple] = {}


def _maintained_bounded(spark: SparkSession, sf_dir: str) -> tuple:
    """Staged once per process: the bounded index built at the CDC
    corpus's v1 and MAINTAINED to head from the change feed alone
    (merge of the touched docs' pairs + exact stats refresh for the
    affected terms). Returns (idx, stats, delta_bounded)."""
    from prox_spark.cdf import read_table_changes
    from prox_spark.table import read_table
    from prox_spark.wand import build_bounded_index, maintain_bounded_index

    from ._staging import staged
    from .table_q import _card_cdc_table

    t, head = _card_cdc_table(spark, sf_dir)

    def build(scratch: str) -> tuple:
        idx, stats = f"{scratch}/bmw_idx", f"{scratch}/bmw_stats"
        v1 = read_table(spark, t, version=1).select("doc_id", "text")
        build_bounded_index(
            spark, v1, idx, stats, TOKENS_SPARK, n_files=8
        )
        feed = read_table_changes(spark, t, 1, head).select(
            "doc_id", "text", "_change_type", "_commit_version"
        )
        info = maintain_bounded_index(spark, idx, stats, feed, TOKENS_SPARK)
        n_final = read_table(spark, t).count()
        delta_bounded = bool(0 < info["touched_docs"] < n_final)
        return idx, stats, delta_bounded

    return staged(_BOUNDED_CDC_CACHE, sf_dir, "prox_bmwcdc_", build)


def q214_maintained_bounded_bm25(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """BOUND MAINTENANCE through the q201 incremental path: the
    block-max index built at the CDC corpus's v1 is maintained to
    head purely from the change feed — touched docs' (term, doc)
    pairs merge in one commit, (df, max_impact) recompute exactly for
    the affected terms (key-set-pruned scan), the corpus row folds
    additively, and the frozen avgdl0 keeps every already-written
    impact a valid bound (serving corrects drift with the avgdl
    ratio). The oracle recomputes BM25 from the formulaic FINAL
    corpus with no index: a stale df, an unretracted deleted doc, or
    an undercorrected bound that skipped a real top-k doc all break
    the hash. Pins: ``delta_bounded`` (maintenance touched fewer docs
    than the corpus holds — work ∝ delta)."""
    from prox_spark.wand import bounded_bm25

    idx, stats, delta_bounded = _maintained_bounded(spark, sf_dir)
    out, _ = bounded_bm25(
        spark, idx, stats, BOUNDED_CDC_QUERIES, BM25_TOP_K, _TERM_MICRO
    )
    return out.withColumn("delta_bounded", F.lit(delta_bounded)).orderBy(
        "query_id", "rnk"
    )


def _oracle_q214() -> str:
    from .table_q import N_CARD_DOCS

    vals = ", ".join(f"({q}, '{t}')" for q, t in BOUNDED_CDC_QUERIES)
    return f"""
WITH final AS (
  SELECT i AS doc_id,
         CASE WHEN i % 6 = 0 AND i < 60 AND i % 10 <> 4
              THEN 'card g' || CAST(i // 3 AS VARCHAR) || ' MOVED'
              ELSE 'card g' || CAST(i // 3 AS VARCHAR) END AS text
  FROM range({N_CARD_DOCS}) t(i)
  WHERE i % 10 <> 4
), t AS (
  SELECT doc_id, {TOKENS_DUCK} AS tokens FROM final
), dl_t AS (
  SELECT doc_id, CAST(len(tokens) AS BIGINT) AS dl FROM t
), tf_t AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest(tokens) AS term FROM t)
  GROUP BY doc_id, term
), stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS tot
  FROM dl_t
), qt AS (
  SELECT CAST(query_id AS BIGINT) AS query_id, term
  FROM (VALUES {vals}) AS v(query_id, term)
), dfreq AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df
  FROM tf_t
  WHERE term IN (SELECT term FROM qt)
  GROUP BY term
), scored AS (
  SELECT qt.query_id, tf_t.doc_id,
         {_TERM_MICRO} AS term_micro
  FROM qt
  JOIN tf_t USING (term)
  JOIN dfreq USING (term)
  JOIN dl_t ON tf_t.doc_id = dl_t.doc_id
  CROSS JOIN stats
), agg AS (
  SELECT query_id, doc_id,
         CAST(count(*) AS BIGINT) AS n_terms_hit,
         CAST(sum(term_micro) AS BIGINT) AS score_micro
  FROM scored GROUP BY query_id, doc_id
), ranked AS (
  SELECT *,
         row_number() OVER (
           PARTITION BY query_id ORDER BY score_micro DESC, doc_id
         ) AS rnk
  FROM agg
)
SELECT query_id, CAST(rnk AS BIGINT) AS rnk, doc_id, n_terms_hit,
       score_micro, TRUE AS delta_bounded
FROM ranked
WHERE rnk <= {BM25_TOP_K}
ORDER BY query_id, rnk
"""


# --- q219: STREAM-maintained bounded BM25 ----------------------------------

N_SBMW_DOCS = 240
# single-term queries only: a rare partner's upper bound would keep
# every block of its high-df co-term essential (the q213 no-skip
# shape, gated there) — here the pins are about MAINTENANCE, and the
# single-term shapes let files_skipped assert the merged-then-
# compacted layout still supports the floor
BOUNDED_STREAM_QUERIES: list[tuple[int, str]] = [
    (1, "idx"),
    (2, "upd"),
    (3, "t3"),
    (4, "pad"),
]
_SBMW_CACHE: dict[str, tuple] = {}


def _sbmw_corpus(spark: SparkSession) -> DataFrame:
    """Formulaic stream-workload corpus with a tf SPREAD on the
    high-df term ('idx' repeats 1 + i%5 times) at CONSTANT document
    length (pad tokens fill to 7) — dl growing with tf would flatten
    the BM25 term core's impact separation (tf saturates against the
    length normalizer) below the avgdl-drift correction, leaving the
    block-max floor nothing to skip."""
    return spark.range(N_SBMW_DOCS).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.expr("repeat('idx ', cast(1 + id % 5 as int))"),
            F.expr("repeat('pad ', cast(5 - id % 5 as int))"),
            F.lit("t"), F.expr("cast(id div 2 as string)"),
        ).alias("text"),
    )


def _stream_bounded(spark: SparkSession, sf_dir: str) -> tuple:
    """Staged once per process: the block-max index built at the
    corpus's v1 WITH lineage (covers=v1) and maintained by three
    checkpoint-sharing readChangeFeed stream runs, commits landing
    while the stream is down — append + merge-on-read delete fold in
    ONE catch-up batch, the upsert in another. A fourth idle run must
    publish NO commit to either the index or the stats table (the
    lineage fence, not marker rows, is the replay guard). Returns
    (idx, stats, incremental, replay_idempotent, covered_current)."""
    from prox_spark.table import (
        commit_delta,
        commit_snapshot,
        read_manifest,
    )
    from prox_spark.table_stream import TableChangesDataSource
    from prox_spark.upsert import delete_keys_mor, upsert_parquet
    from prox_spark.wand import (
        bounded_index_stream_batch,
        build_bounded_index,
    )

    from ._staging import staged
    from .streaming_q import _stream_partitions

    def build(scratch: str) -> tuple:
        spark.dataSource.register(TableChangesDataSource)
        t = f"{scratch}/corpus"
        idx, stats = f"{scratch}/bmw_idx", f"{scratch}/bmw_stats"
        ckpt = f"{scratch}/ckpt"
        allr = _sbmw_corpus(spark)
        n_batches = 0

        def run() -> None:
            nonlocal n_batches
            before = int(read_manifest(spark, stats)["version"])
            with _stream_partitions(spark):
                q = (
                    spark.readStream.format("prox_table_changes")
                    .option("path", t)
                    .option("readChangeFeed", "true")
                    .load()
                    .writeStream.foreachBatch(
                        lambda bdf, bid: bounded_index_stream_batch(
                            bdf, bid, t, idx, stats, TOKENS_SPARK
                        )
                    )
                    .option("checkpointLocation", ckpt)
                    .trigger(availableNow=True)
                    .start()
                )
                try:
                    if not q.awaitTermination(600):
                        raise RuntimeError(
                            "bounded-index stream did not drain within 600s"
                        )
                finally:
                    q.stop()
            if int(read_manifest(spark, stats)["version"]) > before:
                n_batches += 1

        commit_snapshot(
            spark, t, allr.filter(F.col("doc_id") % 4 != 3),
            stat_cols=["doc_id"], n_files=4,
        )
        # build AT v1 with lineage: the stream's first batch re-delivers
        # the v1 snapshot rows and the fence must drop them
        build_bounded_index(
            spark, allr.filter(F.col("doc_id") % 4 != 3),
            idx, stats, TOKENS_SPARK, n_files=8,
            covers={"base": t, "version": 1},
        )
        run()  # v1 only: fence makes this a pure no-op run
        prev = read_manifest(spark, t)
        commit_delta(
            spark, t, allr.filter(F.col("doc_id") % 4 == 3),
            list(prev["files"]), update_key_ranges={},
        )
        delete_keys_mor(
            spark, t,
            allr.filter(F.col("doc_id") % 5 == 0).select("doc_id"),
            ["doc_id"],
        )
        run()  # append + delete in one catch-up batch
        upd = allr.filter(
            (F.col("doc_id") % 9 == 0) & (F.col("doc_id") % 5 != 0)
        ).withColumn("text", F.concat(F.col("text"), F.lit(" upd")))
        upsert_parquet(spark, t, upd, ["doc_id"])
        run()
        # merge maintenance fragments the per-term impact blocks (each
        # rewrite re-clusters locally); compaction restores globally
        # range-disjoint blocks so the skip rule has blocks to skip —
        # the production cadence compact_bounded_index exists for
        from prox_spark.wand import compact_bounded_index

        compact_bounded_index(spark, idx, n_files=16)
        vi = int(read_manifest(spark, idx)["version"])
        vs = int(read_manifest(spark, stats)["version"])
        run()  # nothing new: NO commit to index or stats
        replay_idempotent = bool(
            int(read_manifest(spark, idx)["version"]) == vi
            and int(read_manifest(spark, stats)["version"]) == vs
        )
        covered_current = bool(
            int(read_manifest(spark, stats)["index_of"]["version"])
            == int(read_manifest(spark, t)["version"])
        )
        return idx, stats, bool(n_batches >= 2), replay_idempotent, covered_current

    return staged(_SBMW_CACHE, sf_dir, "prox_sbmw_", build)


def q219_streaming_bounded_bm25(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STREAM-maintained block-max BM25 — q214's bound maintenance
    wired into a standing readChangeFeed stream (q205's pattern, but
    the replay guard is LINEAGE, not marker rows: coverage publishes
    atomically with the corpus-row fold, see
    prox_spark/wand.py bounded_index_stream_batch). Three
    checkpoint-sharing runs fold snapshot-fenced v1, an
    append + merge-on-read delete catch-up batch, and an upsert; a
    fourth idle run must publish nothing. The oracle recomputes BM25
    from the formulaic FINAL corpus with no index — a double-folded
    replay (wrong n_docs/idf), an unretracted deleted doc, or a stale
    df all break the hash. Pins: ``incremental`` (≥2 distinct folding
    runs), ``replay_idempotent``, ``covered_current`` (stats lineage
    reached the corpus head), ``files_skipped`` (the block-max bound
    still fires on the merge-maintained layout)."""
    from prox_spark.wand import bounded_bm25

    idx, stats, incremental, replay_idempotent, covered_current = (
        _stream_bounded(spark, sf_dir)
    )
    out, counters = bounded_bm25(
        spark, idx, stats, BOUNDED_STREAM_QUERIES, BM25_TOP_K, _TERM_MICRO
    )
    files_skipped = bool(
        0 < counters["files_opened"] < counters["files_full"]
    )
    return (
        out.withColumn("incremental", F.lit(incremental))
        .withColumn("replay_idempotent", F.lit(replay_idempotent))
        .withColumn("covered_current", F.lit(covered_current))
        .withColumn("files_skipped", F.lit(files_skipped))
        .orderBy("query_id", "rnk")
    )


def _oracle_q219() -> str:
    vals = ", ".join(f"({q}, '{t}')" for q, t in BOUNDED_STREAM_QUERIES)
    return f"""
WITH final AS (
  SELECT i AS doc_id,
         repeat('idx ', CAST(1 + i % 5 AS INT)) ||
         repeat('pad ', CAST(5 - i % 5 AS INT)) || 't' ||
         CAST(i // 2 AS VARCHAR) ||
         CASE WHEN i % 9 = 0 THEN ' upd' ELSE '' END AS text
  FROM range({N_SBMW_DOCS}) t(i)
  WHERE i % 5 <> 0
), t AS (
  SELECT doc_id, {TOKENS_DUCK} AS tokens FROM final
), dl_t AS (
  SELECT doc_id, CAST(len(tokens) AS BIGINT) AS dl FROM t
), tf_t AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest(tokens) AS term FROM t)
  GROUP BY doc_id, term
), stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS tot
  FROM dl_t
), qt AS (
  SELECT CAST(query_id AS BIGINT) AS query_id, term
  FROM (VALUES {vals}) AS v(query_id, term)
), dfreq AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df
  FROM tf_t
  WHERE term IN (SELECT term FROM qt)
  GROUP BY term
), scored AS (
  SELECT qt.query_id, tf_t.doc_id,
         {_TERM_MICRO} AS term_micro
  FROM qt
  JOIN tf_t USING (term)
  JOIN dfreq USING (term)
  JOIN dl_t ON tf_t.doc_id = dl_t.doc_id
  CROSS JOIN stats
), agg AS (
  SELECT query_id, doc_id,
         CAST(count(*) AS BIGINT) AS n_terms_hit,
         CAST(sum(term_micro) AS BIGINT) AS score_micro
  FROM scored GROUP BY query_id, doc_id
), ranked AS (
  SELECT *,
         row_number() OVER (
           PARTITION BY query_id ORDER BY score_micro DESC, doc_id
         ) AS rnk
  FROM agg
)
SELECT query_id, CAST(rnk AS BIGINT) AS rnk, doc_id, n_terms_hit,
       score_micro, TRUE AS incremental, TRUE AS replay_idempotent,
       TRUE AS covered_current, TRUE AS files_skipped
FROM ranked
WHERE rnk <= {BM25_TOP_K}
ORDER BY query_id, rnk
"""


QUERIES = {
    "q200_bm25_search": q200_bm25_search,
    "q201_incremental_text_index": q201_incremental_text_index,
    "q203_hybrid_retrieval": q203_hybrid_retrieval,
    "q205_streaming_text_index": q205_streaming_text_index,
    "q213_bounded_bm25": q213_bounded_bm25,
    "q214_maintained_bounded_bm25": q214_maintained_bounded_bm25,
    "q219_streaming_bounded_bm25": q219_streaming_bounded_bm25,
}

ORACLES = {
    "q200_bm25_search": ORACLE_Q200,
    "q201_incremental_text_index": _oracle_q201(),
    "q203_hybrid_retrieval": _oracle_q203(),
    "q205_streaming_text_index": ORACLE_Q205,
    "q213_bounded_bm25": ORACLE_Q213,
    "q214_maintained_bounded_bm25": _oracle_q214(),
    "q219_streaming_bounded_bm25": _oracle_q219(),
}
