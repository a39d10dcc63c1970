"""End-to-end medallion job over the staged fixture bronze."""

from __future__ import annotations

import os


def test_run_medallion_end_to_end(spark, tmp_path):
    from prox_spark.fixture_store import stage_fixtures
    from prox_spark.jobs import run_medallion

    bronze = os.path.dirname(next(iter(stage_fixtures().values())))
    out = str(tmp_path / "out")
    results = run_medallion(spark, bronze, out)
    assert all(r.status == "succeeded" for r in results.values()), {
        n: (r.status, r.error) for n, r in results.items()
    }
    # gold written, partitioned where declared
    fact = spark.read.parquet(os.path.join(out, "gold", "fact_booking"))
    assert fact.count() == 80
    assert {"year", "month"} <= set(fact.columns)
    assert any(d.startswith("year=") for d in os.listdir(os.path.join(out, "gold", "fact_booking")))
    # all 8 KPIs written and readable
    kpi_dir = os.path.join(out, "kpis")
    assert len(os.listdir(kpi_dir)) == 8
    top5 = spark.read.parquet(os.path.join(kpi_dir, "top5_providers_by_bookings"))
    assert top5.count() == 5


def test_cli_medallion_fixtures(spark, tmp_path, capsys):
    from prox_spark.__main__ import main

    rc = main(["medallion", "--fixtures", "--out", str(tmp_path / "cli_out")])
    assert rc == 0
    printed = capsys.readouterr().out
    assert "write_kpis" in printed and "failed" not in printed

def _pipe_docs(spark):
    """Synthetic corpus with exact dups, near-dups, and singletons."""
    from pyspark.sql import functions as F

    base = spark.range(60).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("s"), (F.col("id") % 3).cast("string")).alias("source"),
        F.concat(
            F.lit("alpha beta gamma delta epsilon zeta eta theta doc "),
            F.expr("cast(id div 4 as string)"),  # groups of 4 near-dups
            F.when(F.col("id") % 4 == 0, F.lit("")).otherwise(
                F.concat(F.lit(" tail"), (F.col("id") % 2).cast("string"))
            ),
        ).alias("text"),
    )
    # exact dups: ids 100..104 copy ids 0..4's text verbatim
    dups = spark.range(5).select(
        (F.col("id") + 100).alias("doc_id"),
        F.lit("s_copy").alias("source"),
        F.concat(
            F.lit("alpha beta gamma delta epsilon zeta eta theta doc "),
            F.expr("cast(id div 4 as string)"),
            F.when(F.col("id") % 4 == 0, F.lit("")).otherwise(
                F.concat(F.lit(" tail"), (F.col("id") % 2).cast("string"))
            ),
        ).alias("text"),
    )
    return base.unionByName(dups)


def test_run_llm_pipeline_end_to_end(spark, tmp_path):
    from pyspark.sql import functions as F

    from prox_spark.llm_jobs import run_llm_pipeline
    from prox_spark.table import read_table
    from prox_spark.txn import txn_read

    out = str(tmp_path / "llm")
    docs = _pipe_docs(spark)
    results = run_llm_pipeline(spark, docs, out)
    assert all(r.status == "succeeded" for r in results.values()), {
        n: (r.status, r.error) for n, r in results.items()
    }
    corpus = results["corpus"].output
    splits = results["splits"].output["path"]
    assert results["splits"].output["cross_split_pairs"] == 0

    # exact dedup: every md5(text) appears once, keeper = min doc_id
    kept = read_table(spark, corpus)
    want_kept = (
        docs.groupBy(F.md5("text").alias("d"))
        .agg(F.min("doc_id").alias("doc_id"))
        .count()
    )
    assert kept.count() == want_kept
    assert kept.select(F.md5("text")).distinct().count() == want_kept

    # near-dups co-locate: every doc in one LSH cluster got ONE split
    pairs = read_table(spark, results["signals"].output)
    a = read_table(spark, splits)
    straddle = (
        pairs.join(a.select(F.col("doc_id").alias("doc1"),
                            F.col("split").alias("s1")), "doc1")
        .join(a.select(F.col("doc_id").alias("doc2"),
                       F.col("split").alias("s2")), "doc2")
        .filter(F.col("s1") != F.col("s2"))
        .count()
    )
    assert straddle == 0

    # the card accounts for every doc and the dup arms
    card = read_table(spark, results["card"].output)
    totals = card.agg(
        F.sum("n_docs").alias("nd"), F.sum("n_exact_dup").alias("ne"),
        F.sum("n_kept").alias("nk"),
    ).first()
    assert totals["nd"] == docs.count()
    assert totals["ne"] == docs.count() - want_kept
    assert totals["nk"] == want_kept

    # frozen pair stays byte-identical through churn + retention
    ws = results["freeze"].output["workspace"]
    frozen_before = sorted(
        map(tuple, txn_read(spark, ws, corpus).join(
            txn_read(spark, ws, splits), "doc_id").collect())
    )
    from prox_spark.artifacts import (
        maintain_artifacts,
        vacuum_with_registry,
    )
    from prox_spark.table import commit_delta, read_manifest
    from prox_spark.txn import txn_pinned_versions

    late = kept.limit(5).select(
        (F.col("doc_id") + 500).alias("doc_id"), "source",
        F.concat("text", F.lit(" late")).alias("text"),
        (F.col("n_chars") + 5).alias("n_chars"),
    )
    prev = read_manifest(spark, corpus)
    commit_delta(spark, corpus, late, list(prev["files"]),
                 update_key_ranges={})
    registry = results["register"].output["registry"]
    report = maintain_artifacts(spark, registry)
    assert all(r["status"] != "error" for r in report.values()), report
    vacuum_with_registry(
        spark, corpus, registry, keep_last=1, retention_minutes=0.0,
        extra_pins=txn_pinned_versions(spark, ws, corpus),
    )
    frozen_after = sorted(
        map(tuple, txn_read(spark, ws, corpus).join(
            txn_read(spark, ws, splits), "doc_id").collect())
    )
    assert frozen_after == frozen_before
    # the registered MV tracks the churned head, not the frozen pin
    from prox_spark.mv import read_mv_current

    mv = f"{out}/mv_source_chars"
    got = sorted(map(tuple, read_mv_current(spark, mv).collect()))
    want = sorted(
        map(
            tuple,
            read_table(spark, corpus).groupBy("source").agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum("n_chars").alias("sum_n_chars"),
            ).collect(),
        )
    )
    assert got == want


def test_llm_pipeline_stage_failure_skips_downstream(spark, tmp_path):
    """O4 semantics: a failing stage cascades to skips, never a
    half-frozen txn."""
    import os

    from pyspark.sql import functions as F

    from prox_spark.llm_jobs import run_llm_pipeline

    bad = spark.range(5).select(
        F.col("id").alias("doc_id"),
        F.lit("s").alias("source"),
        # no 'text' column -> ingest raises
    )
    out = str(tmp_path / "bad")
    results = run_llm_pipeline(spark, bad, out)
    assert results["ingest"].status == "failed"
    for stage in ("clusters", "freeze", "mv", "vidx", "register"):
        assert results[stage].status == "skipped", stage
    for d in ("ws", "registry", "mv_source_chars"):
        assert not os.path.exists(os.path.join(out, d)), d


def test_cli_llm_pipeline(spark, tmp_path, capsys):
    from prox_spark.__main__ import main

    docs_path = str(tmp_path / "docs.parquet")
    _pipe_docs(spark).write.parquet(docs_path)
    rc = main([
        "llm-pipeline", "--docs", docs_path,
        "--out", str(tmp_path / "cli_llm"),
    ])
    assert rc == 0
    printed = capsys.readouterr().out
    assert "register" in printed and "failed" not in printed

def test_cli_vacuum_composed_pins(spark, tmp_path, capsys):
    """`python -m prox_spark vacuum` composes registry + workspace
    pins with keep_last and age-based retention."""
    from pyspark.sql import functions as F

    from prox_spark.__main__ import main
    from prox_spark.artifacts import register_artifact
    from prox_spark.mv import create_mv, refresh_mv
    from prox_spark.table import commit_snapshot, read_manifest, table_versions
    from prox_spark.txn import txn_commit
    from prox_spark.upsert import upsert_parquet

    base = str(tmp_path / "base")
    mv, reg, ws = str(tmp_path / "mv"), str(tmp_path / "reg"), str(tmp_path / "ws")
    df = spark.range(20).select(
        F.col("id"), (F.col("id") % 3).cast("string").alias("g"),
        (F.col("id") * 2).alias("n"),
    )
    commit_snapshot(spark, base, df, stat_cols=["id"])
    create_mv(spark, base, mv, ["g"], ["n"])
    register_artifact(spark, reg, "mv", base, mv)
    txn_commit(spark, ws, {base: 1})  # freeze v1
    for i in range(3):
        upsert_parquet(
            spark, base,
            df.filter(F.col("id") == i).withColumn("n", F.col("n") + 1),
            ["id"],
        )
    refresh_mv(spark, mv)  # covered -> 4
    rc = main([
        "vacuum", "--table", base, "--keep-last", "1",
        "--retention-minutes", "0", "--registry", reg,
        "--workspace", ws,
    ])
    assert rc == 0
    out = capsys.readouterr().out
    assert "vacuumed" in out
    # v1 survives (txn pin) and v4 (covered + keep_last); v2/v3 are in
    # the registry's covered-suffix only if <= covered... covered=4 so
    # the suffix is {4}; v2/v3 drop
    assert table_versions(spark, base) == [1, 4]
    assert int(read_manifest(spark, base)["version"]) == 4

def test_llm_pipeline_rerun_keeps_both_frozen_sets(spark, tmp_path):
    """Re-running the pipeline over a grown corpus freezes a NEW
    (corpus, splits) txn while the FIRST run's frozen bytes stay
    servable — two training runs, each reproducible independently."""
    from pyspark.sql import functions as F

    from prox_spark.llm_jobs import run_llm_pipeline
    from prox_spark.txn import txn_read

    out = str(tmp_path / "llm")
    docs1 = _pipe_docs(spark)
    r1 = run_llm_pipeline(spark, docs1, out)
    assert all(r.status == "succeeded" for r in r1.values())
    ws = r1["freeze"].output["workspace"]
    corpus = r1["corpus"].output
    splits = r1["splits"].output["path"]
    txn1 = r1["freeze"].output["txn"]
    frozen1 = sorted(
        map(tuple, txn_read(spark, ws, corpus, txn=txn1).join(
            txn_read(spark, ws, splits, txn=txn1), "doc_id").collect())
    )
    # the corpus grows; a second run freezes the new state
    docs2 = docs1.unionByName(
        spark.range(200, 230).select(
            F.col("id").alias("doc_id"),
            F.lit("s_new").alias("source"),
            F.concat(F.lit("omega psi chi phi upsilon tau doc "),
                     F.col("id").cast("string")).alias("text"),
        )
    )
    r2 = run_llm_pipeline(spark, docs2, out)
    assert all(r.status == "succeeded" for r in r2.values()), {
        n: (r.status, r.error) for n, r in r2.items()
    }
    txn2 = r2["freeze"].output["txn"]
    assert txn2 > txn1
    # run 2's frozen set covers the grown corpus...
    frozen2 = sorted(
        map(tuple, txn_read(spark, ws, corpus, txn=txn2).join(
            txn_read(spark, ws, splits, txn=txn2), "doc_id").collect())
    )
    assert len(frozen2) > len(frozen1)
    # ...and run 1's exact bytes are still served, unchanged
    again1 = sorted(
        map(tuple, txn_read(spark, ws, corpus, txn=txn1).join(
            txn_read(spark, ws, splits, txn=txn1), "doc_id").collect())
    )
    assert again1 == frozen1
