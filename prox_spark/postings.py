"""The signed, additive postings index maintained from a table's
change feed (q201/q205 and the registry's ``postings`` artifact): an
insert adds +1 per token occurrence and a delete −1, so maintenance
appends delta rows with work ∝ the window, readers fold them, and
fold-compaction rewrites the net. Applied-batch marker rows fence
stream replay and survive compaction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from prox_spark.neardup import TOKENS_SPARK

# marker rows record applied batch ids inside the index itself; \x00
# can never be a token (the tokenizer splits lowercase words)
_BATCH_MARKER = "\x00batch"


def _signed_postings(feed: DataFrame) -> DataFrame:
    """Signed postings delta from change-feed rows: insert rows
    contribute +1 per token occurrence, delete rows −1; an update's
    delete+insert pair nets its own term moves. One map-side explode,
    one shuffle on (term, doc_id)."""
    sgn = F.when(F.col("_change_type") == "insert", F.lit(1)).otherwise(
        F.lit(-1)
    )
    return (
        feed.select(
            "doc_id",
            sgn.alias("s"),
            F.explode(F.expr(TOKENS_SPARK)).alias("term"),
        )
        .groupBy("term", "doc_id")
        .agg(F.sum("s").cast("long").alias("tf"))
        .filter(F.col("tf") != 0)
    )


def postings_feed(
    spark: SparkSession,
    table_path: str,
    start_version: int,
    end_version: int | None = None,
    text_col: str = "text",
    since: int = 0,
) -> DataFrame:
    """The corpus change feed prepared for postings maintenance, with
    the tokenized column RESOLVED through the base's rename history
    (the mv.py machinery): a feed window after — or spanning — a
    ``text`` rename delivers frames under the new (or both) name
    generations, and a naive ``_signed_postings`` over it would
    silently drop the renamed rows' tokens (explode over a
    NULL-backfilled column). ``since`` is the version the index
    recorded the column name at (its build version) — rename events
    after it resolve; a column that no longer resolves raises
    ``MvSchemaError`` loudly (rebuild the index)."""
    from prox_spark.cdf import read_table_changes
    from prox_spark.mv import (
        MvSchemaError,
        _rename_events,
        _resolve_cols,
        _restore_names,
    )
    from prox_spark.table import read_manifest

    head = (
        int(read_manifest(spark, table_path)["version"])
        if end_version is None
        else int(end_version)
    )
    events = _rename_events(spark, table_path, int(since), head)
    mapping = _resolve_cols([text_col], events)
    schema = {
        f["name"]
        for f in read_manifest(spark, table_path, head)["schema"]["fields"]
    }
    if mapping[text_col] not in schema:
        raise MvSchemaError(
            f"postings index tokenizes column {text_col!r}, which no "
            f"longer resolves in {table_path}'s schema (dropped, or "
            "renamed beyond the reconstructable history) — rebuild the "
            "index on the current column"
        )
    return _restore_names(
        read_table_changes(spark, table_path, start_version, head), mapping
    )


def maintained_postings(spark: SparkSession, idx: str) -> DataFrame:
    """The index's CURRENT logical postings: base rows plus signed
    delta rows folded at read time (sum per (term, doc_id), zero and
    negative nets drop out) — merge-on-read for an additive index."""
    from prox_spark.table import read_table

    return (
        read_table(spark, idx)
        .groupBy("term", "doc_id")
        .agg(F.sum("tf").cast("long").alias("tf"))
        .filter(F.col("tf") > 0)
    )


def read_table_markers(spark: SparkSession, idx: str) -> DataFrame:
    """The index's applied-batch marker rows (replay fence)."""
    from prox_spark.table import read_table

    return read_table(spark, idx).filter(F.col("term") == _BATCH_MARKER)


def compact_postings(spark: SparkSession, idx: str,
                     n_files: int = 8) -> int:
    """FOLD-compaction for the additive postings index: rewrite the
    raw signed rows as their materialized fold (sum per (term,
    doc_id), zero/negative nets dropped) in one term-clustered commit.
    Without it a long maintenance history accrues one signed delta
    row per touched posting forever — the additive-index analogue of
    merge-on-read delete debt. Applied-batch MARKER rows are carried
    verbatim: they fence checkpoint replay, and folding them away
    would let a replayed old batch re-apply after compaction. Term
    stats (file pruning for q200-style probes) are refreshed by the
    clustered rewrite. Returns the new version."""
    from prox_spark.table import commit_delta, read_manifest

    folded = maintained_postings(spark, idx)
    markers = read_table_markers(spark, idx)
    prev = read_manifest(spark, idx)
    return commit_delta(
        spark, idx, folded.unionByName(markers), [],
        stat_cols=["term"], n_files=n_files,
        base_version=prev.get("version"),
    )
