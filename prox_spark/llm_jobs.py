"""One-call LLM training-data pipeline — the capstone job that
composes the engine's curation operators into a single retrying DAG,
the way ``jobs.run_medallion`` composes the reference's Step Functions
run (reference stepfunctions.tf:8-226). Where the medallion job is the
reference's OWN workload transposed, this one is the workload a
100 TB training-data pipeline actually runs, built from the same
first-class pieces the query surface gates individually:

    ingest -> signals -> clusters -> card (card also reads corpus)
       |                     \\
       \\-> corpus ------------> splits -> freeze -> mv ---\\
                                                 \\-> vidx -> register

Branches run concurrently (the runner starts a stage as soon as its
dependencies have succeeded): ``corpus`` beside ``signals`` and
``clusters``, ``card`` beside ``splits``/``freeze``, ``mv`` beside
``vidx``. ``card`` also waits for ``corpus`` (it counts the kept docs
there), which keeps it off the critical path all the same.

- **signals**: exact-dup keepers (md5 digest groups) + MinHash-LSH
  near-dup pairs (band buckets, never all-pairs) — the pair list is
  COMMITTED as a manifest table (`<out>/pairs`): it feeds two
  downstream stages and is the curation audit trail.
- **clusters**: connected components over the pair list, once, as
  ``(doc_id, label)`` — the label of each near-dup member is its
  cluster's minimum doc_id. Both ``card`` and ``splits`` read it.
- **card**: the per-source decision table (docs / exact dups /
  near-dup members / kept) committed as `<out>/card`. ``n_kept`` is
  counted from the committed corpus and ``n_exact_dup`` is
  ``n_docs − n_kept``, so the digest aggregation runs once per
  curation, in ``corpus``.
- **corpus**: the cleaned corpus (exact keepers — the minimum doc_id
  of each md5 digest group) committed as `<out>/corpus` —
  file-granular manifest table, doc_id-clustered.
- **splits**: leakage-free train/val/test assignment — each kept doc
  hashes by its DUP-CLUSTER REPRESENTATIVE (connected components over
  the pair list; singletons represent themselves), so near-duplicate
  docs co-locate in one split by construction. Committed as
  `<out>/splits`; the stage also measures ``cross_split_pairs``
  (structurally zero) and fails loudly on any other value.
- **freeze**: ONE workspace transaction pins (corpus version, splits
  version) — the reproducibility contract: a training run's exact
  input bytes stay re-servable byte-identical through later appends,
  deletes, compaction, and vacuum (prox_spark/txn.py pin-aware
  retention).
- **mv** / **vidx**: the corpus's derived artifacts, built side by
  side from the frozen corpus — a per-source materialized view
  (`<out>/mv_source_chars`) and a doc_id value index
  (`<out>/vidx_doc_id`).
- **register**: both artifacts go into the artifact registry in one
  commit and ``maintain_artifacts`` brings them current — later churn
  is one `python -m prox_spark maintain --registry` away.

Every stage runs under the O1-O4 pipeline semantics: retry with
exponential backoff, downstream skip on failure, failure callbacks.

Scale shape: each stage is the same plan its gate query ships alone —
digest agg (map-side partial), banded LSH (shuffle on band_sig, no
all-pairs), component labels over the pair list only (never the
corpus), md5 split gates (no rand()), file-granular commits. The
composition adds no new shuffle; intermediate artifacts land as
manifest tables instead of being recomputed per consumer.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from prox_spark.graph import min_label_clusters
from prox_spark.hashing import hex4_spark
from prox_spark.neardup import (
    JACCARD_THRESHOLD,
    bucket_pairs,
    jaccard,
    lsh_band_rows,
    shingle_arrays,
    shingle_overlaps,
)
from prox_spark.pipeline import Pipeline, StageResult

# split-gate thresholds, shared with the q65/q206/q218 gate queries
TRAIN_LT, VAL_LT = 80, 90  # md5 bucket < 80 train, < 90 val, else test


def _split_of() -> "F.Column":
    """train/val/test from the ``__m`` md5 column (q65's gate): its
    first 4 hex digits mod 100 — no rand(), so assignment is a pure
    projection, reproducible anywhere."""
    b = F.expr(hex4_spark("__m")).cast("long") % 100
    return (
        F.when(b < TRAIN_LT, F.lit("train"))
        .when(b < VAL_LT, F.lit("val"))
        .otherwise(F.lit("test"))
    )


def run_llm_pipeline(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    on_failure=None,
    n_files: int = 8,
) -> dict[str, StageResult]:
    """Run the curation pipeline over ``docs`` — a frame with at least
    (doc_id, source, text); ``n_chars`` is derived when absent — and
    commit every artifact under ``out_dir``:

        pairs/   near-dup pair list        (manifest table)
        card/    per-source curation card  (manifest table)
        corpus/  cleaned corpus            (manifest table)
        splits/  split assignment          (manifest table)
        ws/      workspace txn log pinning (corpus, splits)
        registry/ derived-artifact registry (MV + value index)
        mv_source_chars/  per-source materialized view
        vidx_doc_id/      doc_id value index

    Returns the per-stage results in stage order. The `freeze` stage's
    output is the txn id; `register`'s is the maintain_artifacts
    report."""
    from prox_spark.table import commit_snapshot, read_manifest, read_table

    pairs_t = os.path.join(out_dir, "pairs")
    card_t = os.path.join(out_dir, "card")
    corpus_t = os.path.join(out_dir, "corpus")
    splits_t = os.path.join(out_dir, "splits")
    ws = os.path.join(out_dir, "ws")
    registry = os.path.join(out_dir, "registry")
    mv_t = os.path.join(out_dir, "mv_source_chars")
    vidx_t = os.path.join(out_dir, "vidx_doc_id")

    def ingest(ctx) -> DataFrame:
        missing = [c for c in ("doc_id", "source", "text")
                   if c not in docs.columns]
        if missing:
            raise ValueError(f"docs frame lacks column(s) {missing}")
        d = docs
        if "n_chars" not in d.columns:
            d = d.withColumn("n_chars", F.length("text").cast("long"))
        return d.select("doc_id", "source", "text", "n_chars")

    def signals(ctx) -> str:
        d = ctx["ingest"]
        arr = shingle_arrays(d).cache()
        try:
            bands = lsh_band_rows(arr).cache()
            try:
                pairs = (
                    shingle_overlaps(
                        bucket_pairs(bands, "doc_id", ("band", "band_sig")), arr
                    )
                    .withColumn("jaccard", jaccard("n_inter", "n1", "n2"))
                    .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
                    .select("doc1", "doc2", "jaccard")
                )
                commit_snapshot(spark, pairs_t, pairs,
                                stat_cols=["doc1"], n_files=2)
            finally:
                bands.unpersist()
        finally:
            arr.unpersist()
        return pairs_t

    def clusters(ctx) -> DataFrame:
        return min_label_clusters(
            read_table(spark, ctx["signals"]).select("doc1", "doc2")
        )

    def card(ctx) -> str:
        # a NULL-text doc has no digest, so corpus never keeps it and
        # the card leaves it out as well. The label attach is
        # UN-hinted: cluster membership is small by nature in a
        # curated corpus, but a heavily duplicated crawl makes it
        # O(N) — AQE broadcasts only when it genuinely fits
        kept = (
            read_table(spark, ctx["corpus"])
            .groupBy(F.col("source").alias("_src"))
            .agg(F.count(F.lit(1)).alias("n_kept"))
        )
        # null-safe: a NULL source is a group like any other; a source
        # whose every doc duplicates another source's keeper has none
        n_kept = F.coalesce("n_kept", F.lit(0)).cast("long")
        out = (
            ctx["ingest"].filter(F.col("text").isNotNull())
            .join(ctx["clusters"], "doc_id", "left")
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.count("label").alias("n_near_dup"))
            .join(kept, F.col("source").eqNullSafe(F.col("_src")), "left")
            .select("source", "n_docs",
                    (F.col("n_docs") - n_kept).alias("n_exact_dup"),
                    "n_near_dup", n_kept.alias("n_kept"))
        )
        commit_snapshot(spark, card_t, out, stat_cols=["source"], n_files=1)
        return card_t

    def corpus(ctx) -> str:
        d = ctx["ingest"].withColumn("digest", F.md5("text"))
        owners = d.groupBy("digest").agg(F.min("doc_id").alias("keeper"))
        kept = (
            d.join(owners, "digest")
            .filter(F.col("doc_id") == F.col("keeper"))
            .select("doc_id", "source", "text", "n_chars")
        )
        commit_snapshot(spark, corpus_t, kept,
                        stat_cols=["doc_id"], n_files=n_files)
        return corpus_t

    def splits(ctx) -> dict:
        labels = ctx["clusters"]
        kept = read_table(spark, ctx["corpus"]).select("doc_id")
        assigned = (
            kept.join(labels, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce("label", F.col("doc_id")).alias("rep"),
            )
            .withColumn("__m", F.md5(F.col("rep").cast("string")))
            .withColumn("split", _split_of())
            .select("doc_id", "rep", "split")
        )
        commit_snapshot(spark, splits_t, assigned,
                        stat_cols=["doc_id"], n_files=2)
        # leakage audit over the KEPT docs: two kept near-dups share a
        # cluster, hence a rep, hence a split — any other answer is an
        # assignment bug and must stop the freeze. The PAIR-sized side
        # broadcasts into the O(N) assignment scans, never the reverse
        # (an assignment broadcast is a driver OOM at crawl scale)
        a = read_table(spark, splits_t)
        p = read_table(spark, ctx["signals"]).select("doc1", "doc2")
        half = (
            a.select(F.col("doc_id").alias("doc1"),
                     F.col("split").alias("s1"))
            .join(F.broadcast(p), "doc1")
            .select("doc2", "s1")
        )
        cross = (
            a.select(F.col("doc_id").alias("doc2"),
                     F.col("split").alias("s2"))
            .join(F.broadcast(half), "doc2")
            .filter(F.col("s1") != F.col("s2"))
            .count()
        )
        if cross:
            raise RuntimeError(
                f"{cross} near-dup pair(s) straddle splits — "
                "cluster-representative hashing is broken"
            )
        return {"path": splits_t, "cross_split_pairs": int(cross)}

    def freeze(ctx) -> dict:
        from prox_spark.txn import txn_commit

        cv = int(read_manifest(spark, corpus_t)["version"])
        sv = int(read_manifest(spark, splits_t)["version"])
        txn = txn_commit(spark, ws, {corpus_t: cv, splits_t: sv})
        return {"workspace": ws, "txn": txn,
                "corpus_version": cv, "splits_version": sv}

    def mv(ctx) -> str:
        from prox_spark.mv import create_mv

        create_mv(spark, corpus_t, mv_t, ["source"], ["n_chars"])
        return mv_t

    def vidx(ctx) -> str:
        from prox_spark.table import build_value_index

        build_value_index(spark, corpus_t, "doc_id", vidx_t)
        return vidx_t

    def register(ctx) -> dict:
        from prox_spark.artifacts import maintain_artifacts, register_artifacts

        register_artifacts(spark, registry, [
            ("mv", corpus_t, ctx["mv"], None),
            ("value_index", corpus_t, ctx["vidx"], None),
        ])
        report = maintain_artifacts(spark, registry)
        return {"registry": registry, "report": report}

    pipe = Pipeline(on_failure=on_failure)
    (
        pipe.add_stage("ingest", ingest)
        .add_stage("signals", signals, depends_on=["ingest"])
        .add_stage("clusters", clusters, depends_on=["signals"])
        .add_stage("corpus", corpus, depends_on=["ingest"])
        .add_stage("card", card, depends_on=["ingest", "clusters", "corpus"])
        .add_stage("splits", splits, depends_on=["signals", "clusters", "corpus"])
        .add_stage("freeze", freeze, depends_on=["corpus", "splits"])
        .add_stage("mv", mv, depends_on=["freeze"])
        .add_stage("vidx", vidx, depends_on=["freeze"])
        .add_stage("register", register, depends_on=["mv", "vidx"])
    )
    return pipe.run()
