"""Text analysis & deduplication over the `documents` table —
LLM-training-data-pipeline operators (north star in BASELINE.json;
the reference's only text processing is the externally-produced
feedback_sentiment table, reference transformations_script.py:130-135).

All operators are pure `pyspark.sql.functions` compositions (JVM-side,
whole-stage codegen) — no Python UDFs — and each has an exact DuckDB
oracle. Hashing uses md5 (identical lowercase hex in both engines),
so even MinHash-LSH and SimHash are bit-reproducible cross-engine.

Scale notes (100 TB / billions of docs):
- exact dedup: single hash shuffle on a 32-char digest, not the full
  text (group on md5, not the document body).
- MinHash-LSH: shingle explosion is map-side; signatures are one
  shuffle keyed by (doc, seed); candidate generation shuffles on
  (band, band_signature) so only colliding buckets meet — the
  classic sub-quadratic near-dup join. Band width trades recall vs
  candidate volume.
- n-gram Jaccard self-join is the quadratic-ish verifier — at scale
  run it only on LSH candidates (q36 does exactly that).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F

from prox_spark.graph import _cc_round, min_label_clusters
from prox_spark.hashing import (
    CMS_D,
    CMS_W,
    _HEXV_DUCK,
    _cms_bucket_duck,
    _cms_bucket_spark,
    _u48_expr,
    cms_grid,
    hex4_duck,
    hex4_spark,
    kmv_u_frame,
)
from prox_spark.io import read_parquet
from prox_spark.llm_jobs import TRAIN_LT, VAL_LT
from prox_spark.local_frames import empty_df, values_df
from prox_spark.neardup import (
    DOT_DUCK,
    JACCARD_THRESHOLD,
    LSH_BAND_ROWS,
    MINHASH_K,
    SHINGLES_DUCK,
    SHINGLES_SPARK,
    TOKENS_DUCK,
    TOKENS_SPARK,
    bucket_pairs,
    jaccard,
    lsh_band_rows,
    shingle_arrays,
    shingle_overlaps,
)

# --- shared shingle CTE (DuckDB oracles; fragments in prox_spark.neardup) ---

DUCK_SHINGLE_CTE = f"""
WITH toks AS (
  SELECT doc_id, {TOKENS_DUCK} AS tokens FROM documents
), shingled AS (
  SELECT doc_id, {SHINGLES_DUCK} AS shingles FROM toks
), shingles AS (
  SELECT DISTINCT doc_id, unnest(shingles) AS shingle FROM shingled
), sizes AS (
  SELECT doc_id, count(*) AS n_shingles FROM shingles GROUP BY doc_id
)
"""


def _spread(df: DataFrame) -> DataFrame:
    """Raise partition count to cluster parallelism when the source scan
    gives fewer (a small parquet file arrives as ONE partition, which
    would serialize all per-document compute onto a single core). At
    real scale inputs already have >= parallelism partitions and this is
    a no-op — the shuffle only fires for pathological file layouts."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def _spread_py(df: DataFrame, cap: int = 8) -> DataFrame:
    """Partition spread for Arrow/Python UDF stages, capped at ``cap``
    concurrent workers per JVM. Production executors run 4-8 cores, so
    <=8 Python workers per JVM is the real-cluster shape; in local[32]
    a 32-worker fork storm inside one huge JVM is also measurably
    pathological on virtualized kernels (page-fault/fork syscalls cost
    3-10x bare metal — observed 10x wall-time regressions). Override
    via SPARK_GRAFT_PY_PARTITIONS."""
    import os

    target = min(
        int(os.environ.get("SPARK_GRAFT_PY_PARTITIONS", cap)),
        df.sparkSession.sparkContext.defaultParallelism,
    )
    return df.repartition(target)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _spread(read_parquet(spark, f"{sf_dir}/documents.parquet"))


def _doc_shingle_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shingles array<string> DISTINCT, n_shingles) — one row per
    document, computed entirely map-side (no shuffle). q35/q36 derive
    everything from this narrow frame; keeping shingles as an array
    instead of exploded rows is what makes minhash signatures a pure
    projection and the verify step an ``array_intersect`` instead of an
    explode → join → re-aggregate chain."""
    return shingle_arrays(_docs(spark, sf_dir))


# --- q30: exact deduplication (hash-groupBy on digest) ---------------------

def q30_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return (
        docs.withColumn("digest", F.md5(F.col("text")))
        .groupBy("digest")
        .agg(F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("n_copies"))
        .select("doc_id", "n_copies")
        .orderBy("doc_id")
    )


ORACLE_Q30 = """
SELECT min(doc_id) AS doc_id, count(*) AS n_copies
FROM documents
GROUP BY md5(text)
ORDER BY doc_id
"""


# --- q31: per-document text statistics -------------------------------------

def q31_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).withColumn("tokens", F.expr(TOKENS_SPARK))
    return docs.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars_calc"),
        F.size("tokens").cast("long").alias("n_tokens"),
        F.expr("aggregate(transform(tokens, t -> length(t)), 0, (a, x) -> a + x)")
        .cast("long")
        .alias("sum_token_len"),
    ).withColumn(
        "avg_token_len",
        F.round(F.col("sum_token_len") / F.col("n_tokens"), 6),
    ).orderBy("doc_id")


ORACLE_Q31 = f"""
SELECT doc_id,
       CAST(length(text) AS BIGINT)            AS n_chars_calc,
       CAST(len(tokens) AS BIGINT)             AS n_tokens,
       CAST(list_sum(list_transform(tokens, t -> length(t))) AS BIGINT) AS sum_token_len,
       round(CAST(list_sum(list_transform(tokens, t -> length(t))) AS BIGINT)
             / CAST(len(tokens) AS BIGINT), 6) AS avg_token_len
FROM (SELECT doc_id, text, {TOKENS_DUCK} AS tokens FROM documents)
ORDER BY doc_id
"""


# --- q32: BPE-ish regex token counting -------------------------------------

TOKEN_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]"


def q32_regex_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.lower("text"), F.lit(TOKEN_RE), F.lit(0)))
        .cast("long")
        .alias("n_bpe_tokens"),
    ).orderBy("doc_id")


ORACLE_Q32 = f"""
SELECT doc_id,
       CAST(len(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS BIGINT) AS n_bpe_tokens
FROM documents
ORDER BY doc_id
"""


# --- q33: quality scoring (length + stopword-ratio heuristic) --------------

STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "for", "on", "with")
_STOP_SPARK = ", ".join(f"'{w}'" for w in STOPWORDS)


def q33_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).withColumn("tokens", F.expr(TOKENS_SPARK))
    n_stop = F.expr(
        f"size(filter(tokens, t -> array_contains(array({_STOP_SPARK}), t)))"
    ).cast("long")
    n_tokens = F.size("tokens").cast("long")
    stop_ratio = F.round(n_stop / n_tokens, 6)
    len_score = F.round(F.least(n_tokens, F.lit(50)) / 50.0, 6)
    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        n_stop.alias("n_stopwords"),
        stop_ratio.alias("stop_ratio"),
        len_score.alias("len_score"),
        F.round(0.5 * len_score + 0.5 * (1.0 - stop_ratio), 6).alias("quality_score"),
    ).orderBy("doc_id")


ORACLE_Q33 = f"""
SELECT doc_id, n_tokens, n_stopwords,
       round(n_stopwords / n_tokens, 6)                              AS stop_ratio,
       round(least(n_tokens, 50) / 50.0, 6)                          AS len_score,
       round(0.5 * round(least(n_tokens, 50) / 50.0, 6)
             + 0.5 * (1.0 - round(n_stopwords / n_tokens, 6)), 6)    AS quality_score
FROM (
  SELECT doc_id,
         CAST(len(tokens) AS BIGINT) AS n_tokens,
         CAST(len(list_filter(tokens, t -> list_contains([{_STOP_SPARK}], t))) AS BIGINT) AS n_stopwords
  FROM (SELECT doc_id, {TOKENS_DUCK} AS tokens FROM documents)
)
ORDER BY doc_id
"""


# --- q34: content fingerprint ----------------------------------------------

def q34_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id", F.md5(F.lower(F.trim(F.col("text")))).alias("fingerprint")
    ).orderBy("doc_id")


ORACLE_Q34 = """
SELECT doc_id, md5(lower(trim(text))) AS fingerprint
FROM documents
ORDER BY doc_id
"""


# --- q35: n-gram Jaccard near-dup pairs (exact, quadratic verifier) --------


def q35_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index pair generation: docs meet only on shared shingles
    (never an all-pairs cross join), then one pair-count shuffle and two
    broadcast size joins. At 100 TB the exploded (shingle, doc) postings
    would be bucketed by shingle hash; the plan shape is unchanged."""
    # cache, NOT an eager checkpoint barrier: r13 A/B'd the barrier
    # (q75 pattern) and it LOST here — 1.76->1.87 s (q147 1.05->1.23,
    # q36 1.34->1.51): the shingle extraction is cheap enough that the
    # branches racing the cold cache cost less than the barrier's
    # extra job + store/read round-trip. Kept as the measured winner.
    arr = _doc_shingle_arrays(spark, sf_dir).cache()
    sh = arr.select("doc_id", F.explode("shingles").alias("shingle"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc1"), F.col("b.doc_id").alias("doc2"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = arr.select(F.col("doc_id").alias("doc1"), F.col("n_shingles").alias("n1"))
    sb = arr.select(F.col("doc_id").alias("doc2"), F.col("n_shingles").alias("n2"))
    # size-table joins carry NO broadcast hint: the per-doc size table is
    # O(N) (12 bytes/doc but billions of docs = GBs on the driver), so we
    # let AQE pick broadcast at small scale and shuffle join at 100 TB
    return (
        inter.join(sa, "doc1")
        .join(sb, "doc2")
        .withColumn("jaccard", jaccard("n_inter", "n1", "n2"))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc1", "doc2", "jaccard")
        .orderBy("doc1", "doc2")
    )


ORACLE_Q35 = f"""
{DUCK_SHINGLE_CTE},
inter AS (
  SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS n_inter
  FROM shingles a JOIN shingles b
    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc1, doc2,
       round(n_inter / (sa.n_shingles + sb.n_shingles - n_inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON doc1 = sa.doc_id
JOIN sizes sb ON doc2 = sb.doc_id
WHERE round(n_inter / (sa.n_shingles + sb.n_shingles - n_inter), 6) >= {JACCARD_THRESHOLD}
ORDER BY doc1, doc2
"""


# --- q36: MinHash + LSH near-dup detection (sub-quadratic scale path) ------


def _minhash_candidate_overlaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared LSH front half for q36/q147: the banded-MinHash
    candidate pairs (one bucket-collision join on (band, band_sig),
    :func:`prox_spark.neardup.bucket_pairs`) with their exact shingle
    overlap (n_inter, n1, n2) — the similarity METRIC (Jaccard vs
    containment) is the caller's one-line decision."""
    # cache, NOT an eager checkpoint barrier (r13 A/B: the barrier
    # lost ~10% here — see q35's note; the extraction is too cheap to
    # amortize the barrier's extra job at this scale)
    arr = _doc_shingle_arrays(spark, sf_dir).cache()
    # materialize the signature/band table: it is tiny (n_docs * n_bands
    # short rows) and caching prevents the optimizer from inlining the
    # md5 minhash fold into every downstream consumer (which would
    # re-evaluate it once per band per use — measured 10-50x slowdowns)
    bands = lsh_band_rows(arr).cache()
    return shingle_overlaps(bucket_pairs(bands, "doc_id", ("band", "band_sig")), arr)


def q36_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures as a pure projection (no shuffle): per doc,
    ``sig[s] = array_min(transform(shingles, x -> md5(s || '|' || x)))``.
    Bands are slices of the signature array; candidate pairs come from
    one small self equi-join on (band, band_sig); exact-Jaccard
    verification is ``size(array_intersect(...))`` over the two shingle
    arrays joined back by doc_id — no exploded postings, no
    re-aggregation.

    Scale path: the wide shuffles are keyed on band_sig (short strings,
    uniformly distributed md5s — no skew) and on the candidate ids;
    verify joins are proportional to the candidate count, which the
    band width tunes."""
    ov = _minhash_candidate_overlaps(spark, sf_dir)
    return (
        ov.withColumn("jaccard", jaccard("n_inter", "n1", "n2"))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc1", "doc2", "jaccard")
        .orderBy("doc1", "doc2")
    )


CONTAINMENT_THRESHOLD = 0.8


def q147_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC containment over the banded candidates: C =
    n_inter / min(|A|, |B|) flags small-inside-big relationships
    (quotes, excerpts, boilerplate wrappers) that symmetric Jaccard
    under-scores — the pair (abstract, full paper) has low Jaccard but
    containment ~1. Candidates still come from the Jaccard-tuned
    bands, so this is the containment VERIFY over near-dup candidates;
    catching heavily size-skewed pairs end-to-end is the n-gram
    decontamination path (q67/q76), whose candidate generation is
    containment-shaped by construction."""
    ov = _minhash_candidate_overlaps(spark, sf_dir)
    return (
        ov.withColumn(
            "containment",
            F.round(F.col("n_inter") / F.least("n1", "n2"), 6),
        )
        .filter(F.col("containment") >= CONTAINMENT_THRESHOLD)
        .select("doc1", "doc2", "containment")
        .orderBy("doc1", "doc2")
    )


ORACLE_Q36 = f"""
{DUCK_SHINGLE_CTE},
sig AS (
  SELECT doc_id, seed, min(md5(seed::VARCHAR || '|' || shingle)) AS minh
  FROM shingles CROSS JOIN range({MINHASH_K}) t(seed)
  GROUP BY doc_id, seed
), bands AS (
  SELECT doc_id, seed // {LSH_BAND_ROWS} AS band,
         string_agg(minh, ',' ORDER BY seed) AS band_sig
  FROM sig GROUP BY 1, 2
), candidates AS (
  SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
), inter AS (
  SELECT doc1, doc2, count(*) AS n_inter
  FROM candidates
  JOIN shingles s1 ON doc1 = s1.doc_id
  JOIN shingles s2 ON doc2 = s2.doc_id AND s1.shingle = s2.shingle
  GROUP BY doc1, doc2
)
SELECT doc1, doc2,
       round(n_inter / (sa.n_shingles + sb.n_shingles - n_inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON doc1 = sa.doc_id
JOIN sizes sb ON doc2 = sb.doc_id
WHERE round(n_inter / (sa.n_shingles + sb.n_shingles - n_inter), 6) >= {JACCARD_THRESHOLD}
ORDER BY doc1, doc2
"""


ORACLE_Q147 = f"""
{DUCK_SHINGLE_CTE},
sig AS (
  SELECT doc_id, seed, min(md5(seed::VARCHAR || '|' || shingle)) AS minh
  FROM shingles CROSS JOIN range({MINHASH_K}) t(seed)
  GROUP BY doc_id, seed
), bands AS (
  SELECT doc_id, seed // {LSH_BAND_ROWS} AS band,
         string_agg(minh, ',' ORDER BY seed) AS band_sig
  FROM sig GROUP BY 1, 2
), candidates AS (
  SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
), inter AS (
  SELECT doc1, doc2, count(*) AS n_inter
  FROM candidates
  JOIN shingles s1 ON doc1 = s1.doc_id
  JOIN shingles s2 ON doc2 = s2.doc_id AND s1.shingle = s2.shingle
  GROUP BY doc1, doc2
)
SELECT doc1, doc2,
       round(n_inter / least(sa.n_shingles, sb.n_shingles), 6) AS containment
FROM inter
JOIN sizes sa ON doc1 = sa.doc_id
JOIN sizes sb ON doc2 = sb.doc_id
WHERE round(n_inter / least(sa.n_shingles, sb.n_shingles), 6) >= {CONTAINMENT_THRESHOLD}
ORDER BY doc1, doc2
"""


# --- q37: language identification (stopword-profile scoring) ---------------

LANG_PROFILES = {
    "de": ("der", "die", "und", "das", "ist"),
    "en": ("the", "a", "is", "of", "and"),
    "es": ("el", "la", "de", "y", "que"),
    "fr": ("le", "la", "et", "les", "des"),
    "zh": ("的", "是", "不", "了", "在"),
}


def q37_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).withColumn("tokens", F.expr(TOKENS_SPARK))
    score_cols = {}
    for lang, words in LANG_PROFILES.items():
        arr = ", ".join(f"'{w}'" for w in words)
        score_cols[lang] = F.expr(
            f"size(filter(tokens, t -> array_contains(array({arr}), t)))"
        ).cast("long")
    scored = docs.select(
        "doc_id", *[score_cols[lang].alias(f"s_{lang}") for lang in LANG_PROFILES]
    )
    # argmax with deterministic first-wins tie-break in profile order
    pred = None
    langs = list(LANG_PROFILES)
    for lang in langs:
        cond = None
        for other in langs:
            if other == lang:
                continue
            c = F.col(f"s_{lang}") >= F.col(f"s_{other}")
            cond = c if cond is None else (cond & c)
        pred = F.when(cond, lang) if pred is None else pred.when(cond, lang)
    return scored.withColumn("pred_lang", pred.otherwise(langs[0])).orderBy("doc_id")


def _langid_oracle() -> str:
    langs = list(LANG_PROFILES)
    score_sql = ",\n         ".join(
        "CAST(len(list_filter(tokens, t -> list_contains(["
        + ", ".join(f"'{w}'" for w in LANG_PROFILES[lang])
        + f"], t))) AS BIGINT) AS s_{lang}"
        for lang in langs
    )
    cases = []
    for lang in langs:
        conds = " AND ".join(
            f"s_{lang} >= s_{other}" for other in langs if other != lang
        )
        cases.append(f"WHEN {conds} THEN '{lang}'")
    case_sql = "CASE " + " ".join(cases) + f" ELSE '{langs[0]}' END"
    return f"""
SELECT doc_id, {', '.join(f's_{lang}' for lang in langs)},
       {case_sql} AS pred_lang
FROM (
  SELECT doc_id,
         {score_sql}
  FROM (SELECT doc_id, {TOKENS_DUCK} AS tokens FROM documents)
)
ORDER BY doc_id
"""


ORACLE_Q37 = _langid_oracle()


# --- q38: SimHash (16-bit, md5-derived token hashes) -----------------------

SIMHASH_BITS = 16


def simhash_of(docs: DataFrame, extra_cols: tuple[str, ...] = ()) -> DataFrame:
    """(doc_id, simhash, *extra_cols) for ANY frame carrying
    (doc_id, text) — computed FULLY map-side: per document, hash the
    distinct tokens with one transform, then fold each of the 16 bit
    counters over that in-row array — no shuffle (see q38). Streaming
    micro-batches reuse this directly (q136)."""
    hxm = hex4_spark()
    docs = docs.withColumn("tokens", F.expr(TOKENS_SPARK))
    docs = docs.withColumn(
        "hs",
        # inner transform binds lambda var `m` (the token md5) that the
        # hex4_spark() fragment references
        F.expr(
            f"transform(transform(array_distinct(tokens), tok -> md5(tok)), "
            f"m -> cast({hxm} as bigint))"
        ),
    )
    bit_terms = " + ".join(
        f"(case when aggregate(hs, 0, (acc, h) -> acc + if((h div {1 << j}) % 2 = 1, 1, -1)) > 0 "
        f"then {1 << j} else 0 end)"
        for j in range(SIMHASH_BITS)
    )
    return docs.select(
        "doc_id", F.expr(f"cast({bit_terms} as bigint)").alias("simhash"), *extra_cols
    )


def _simhash_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_of(_docs(spark, sf_dir))


def q38_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash per document (see :func:`_simhash_frame`). Round 1
    exploded tokens into (doc, token) rows and re-assembled bits with a
    groupBy(doc_id) — a full-corpus shuffle of every distinct token;
    this version shuffles nothing (the trailing orderBy exists only for
    the deterministic gate). Same md5-derived 16-bit token hashes,
    bit-identical output."""
    return _simhash_frame(spark, sf_dir).orderBy("doc_id")


def _simhash_oracle() -> str:
    hx = hex4_duck()
    bit_sums = ",\n         ".join(
        f"sum(CASE WHEN (h // {1 << j}) % 2 = 1 THEN 1 ELSE -1 END) AS b{j}"
        for j in range(SIMHASH_BITS)
    )
    simhash = " + ".join(
        f"CASE WHEN b{j} > 0 THEN {1 << j} ELSE 0 END" for j in range(SIMHASH_BITS)
    )
    return f"""
SELECT doc_id, CAST({simhash} AS BIGINT) AS simhash
FROM (
  SELECT doc_id,
         {bit_sums}
  FROM (
    SELECT doc_id, md5(tok) AS m,
           CAST({hx} AS BIGINT) AS h
    FROM (
      SELECT doc_id, unnest(list_distinct(tokens)) AS tok
      FROM (SELECT doc_id, {TOKENS_DUCK} AS tokens FROM documents)
    ) raw
  ) hashed
  GROUP BY doc_id
)
"""


ORACLE_Q38 = _simhash_oracle() + "ORDER BY doc_id"


# --- q39: sentiment scoring (vectorized pandas_udf) ------------------------

POS_WORDS = ("fast", "big", "merge", "join")
NEG_WORDS = ("slow", "small", "filter", "scan")


def q39_sentiment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentiment scoring via an Arrow-batched scalar pandas_udf.

    The engine's stand-in for the reference's externally-produced
    ``feedback_sentiment`` table (reference transformations_script.py:130-135;
    sql/table_creation_2:232-237) — the one capability PROX consumes but
    never computes. Counting happens in Python (the lexicon lookup is the
    "model"), but only *integer counts* cross the Arrow boundary; the
    score arithmetic/rounding stays JVM-side so it is bit-identical to the
    DuckDB oracle. At 100 TB this is the correct split: the UDF is a
    map-only pass (no shuffle), Arrow-batched, and emits 24 bytes/doc.
    """
    from prox_spark.queries._udfs import sentiment_counts_udf

    docs = _spread_py(read_parquet(spark, f"{sf_dir}/documents.parquet"))
    counts = sentiment_counts_udf(POS_WORDS, NEG_WORDS)
    c = docs.select("doc_id", counts(F.col("text")).alias("c"))
    score = F.round((F.col("c.n_pos") - F.col("c.n_neg")) / F.col("c.n_tokens"), 6)
    return (
        c.select(
            "doc_id",
            F.col("c.n_pos").alias("n_pos"),
            F.col("c.n_neg").alias("n_neg"),
            score.alias("sentiment_score"),
        )
        .withColumn(
            "sentiment_label",
            F.when(F.col("sentiment_score") > 0, "POSITIVE")
            .when(F.col("sentiment_score") < 0, "NEGATIVE")
            .otherwise("NEUTRAL"),
        )
        .withColumn("is_suspicious", F.abs("sentiment_score") >= 0.2)
        .orderBy("doc_id")
    )


_POS_SQL = ", ".join(f"'{w}'" for w in POS_WORDS)
_NEG_SQL = ", ".join(f"'{w}'" for w in NEG_WORDS)

ORACLE_Q39 = f"""
SELECT doc_id, n_pos, n_neg,
       round((n_pos - n_neg) / n_tokens, 6) AS sentiment_score,
       CASE WHEN round((n_pos - n_neg) / n_tokens, 6) > 0 THEN 'POSITIVE'
            WHEN round((n_pos - n_neg) / n_tokens, 6) < 0 THEN 'NEGATIVE'
            ELSE 'NEUTRAL' END AS sentiment_label,
       abs(round((n_pos - n_neg) / n_tokens, 6)) >= 0.2 AS is_suspicious
FROM (
  SELECT doc_id,
         CAST(len(tokens) AS BIGINT) AS n_tokens,
         CAST(len(list_filter(tokens, t -> list_contains([{_POS_SQL}], t))) AS BIGINT) AS n_pos,
         CAST(len(list_filter(tokens, t -> list_contains([{_NEG_SQL}], t))) AS BIGINT) AS n_neg
  FROM (SELECT doc_id, {TOKENS_DUCK} AS tokens FROM documents)
)
ORDER BY doc_id
"""


# --- q72: duplicate-cluster resolution (connected components) --------------


def cc_round_audit_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUDIT TWIN for q72's fixpoint loop body, built LAZILY (no
    cache/count/collect — the real ``min_label_clusters`` executes
    while building, which a plan audit must not): the q36 LSH pair
    front end, symmetrized edges, and one :func:`_cc_round`."""
    pairs = q36_minhash_lsh(spark, sf_dir).select("doc1", "doc2")
    edges = pairs.union(
        pairs.select(F.col("doc2").alias("doc1"), F.col("doc1").alias("doc2"))
    ).repartition("doc1")
    labels = (
        edges.select(F.col("doc1").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id"))
    )
    return _cc_round(edges, labels).drop("old")


def q72_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resolve near-duplicate PAIRS (q36's MinHash-LSH output) into
    duplicate CLUSTERS: each document gets the minimum doc_id of its
    connected component — the step a dedup pipeline actually needs
    (keep one representative per cluster, not per pair). Fixpoint in
    :func:`min_label_clusters`; the DuckDB oracle is the same fixpoint
    via WITH RECURSIVE min-reachability."""
    pairs = q36_minhash_lsh(spark, sf_dir).select("doc1", "doc2")
    labels = min_label_clusters(pairs)
    return labels.select("doc_id", F.col("label").alias("cluster_id")).orderBy("doc_id")


_CC_LABELS_CTE = f"""
WITH RECURSIVE
{DUCK_SHINGLE_CTE.strip().removeprefix("WITH ")},
sig AS (
  SELECT doc_id, seed, min(md5(seed::VARCHAR || '|' || shingle)) AS minh
  FROM shingles CROSS JOIN range({MINHASH_K}) t(seed)
  GROUP BY doc_id, seed
), bands AS (
  SELECT doc_id, seed // {LSH_BAND_ROWS} AS band,
         string_agg(minh, ',' ORDER BY seed) AS band_sig
  FROM sig GROUP BY 1, 2
), candidates AS (
  SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
), inter AS (
  SELECT doc1, doc2, count(*) AS n_inter
  FROM candidates
  JOIN shingles s1 ON doc1 = s1.doc_id
  JOIN shingles s2 ON doc2 = s2.doc_id AND s1.shingle = s2.shingle
  GROUP BY doc1, doc2
), pairs AS (
  SELECT doc1, doc2
  FROM inter
  JOIN sizes sa ON doc1 = sa.doc_id
  JOIN sizes sb ON doc2 = sb.doc_id
  WHERE round(n_inter / (sa.n_shingles + sb.n_shingles - n_inter), 6) >= {JACCARD_THRESHOLD}
), edges AS (
  SELECT doc1 AS src, doc2 AS dst FROM pairs
  UNION
  SELECT doc2, doc1 FROM pairs
), reach(root, node) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT r.root, e.dst FROM reach r JOIN edges e ON r.node = e.src
), cc_labels AS (
  SELECT root AS doc_id, min(node) AS cluster_id
  FROM reach
  GROUP BY root
)"""

ORACLE_Q72 = f"""{_CC_LABELS_CTE}
SELECT doc_id, cluster_id
FROM cc_labels
ORDER BY doc_id
"""


# --- q65: deterministic train/val/test split (hash bucketing) --------------

def q65_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic eval-split assignment: bucket = first 4 hex chars
    of md5(doc_id) mod 100 — the standard reproducible alternative to
    rand()-based sampling (stable across engines, runs, partitionings;
    adding documents never reassigns existing ones). Pure projection:
    at 100 TB this is map-only, no shuffle at all."""
    hx = hex4_spark()
    docs = _docs(spark, sf_dir)
    return (
        docs.withColumn("m", F.md5(F.col("doc_id").cast("string")))
        .withColumn("bucket", F.expr(hx).cast("long") % 100)
        .select(
            "doc_id",
            "bucket",
            F.when(F.col("bucket") < TRAIN_LT, "train")
            .when(F.col("bucket") < VAL_LT, "val")
            .otherwise("test")
            .alias("split"),
        )
        .orderBy("doc_id")
    )


def _hash_split_oracle() -> str:
    hx = hex4_duck()
    return f"""
SELECT doc_id, bucket,
       CASE WHEN bucket < {TRAIN_LT} THEN 'train'
            WHEN bucket < {VAL_LT} THEN 'val'
            ELSE 'test' END AS split
FROM (
  SELECT doc_id, CAST({hx} AS BIGINT) % 100 AS bucket
  FROM (SELECT doc_id, md5(doc_id::VARCHAR) AS m FROM documents)
)
ORDER BY doc_id
"""


ORACLE_Q65 = _hash_split_oracle()


# --- q66: weighted source mixture (deterministic downsampling) -------------

# per-source keep probability: even-numbered sources 90%, odd 40% —
# the "dataset mixing" knob of a training pipeline
MIX_EVEN_PCT, MIX_ODD_PCT = 90, 40


def q66_source_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted per-source downsampling with a deterministic hash gate
    (md5('mix|' || doc_id) bucket < per-source keep %) — how a 100 TB
    corpus is re-weighted across sources without rand() (reproducible,
    partitioning-independent) and without a shuffle (the gate is a
    map-side filter; only the per-source audit count aggregates)."""
    hx = hex4_spark()
    docs = _docs(spark, sf_dir)
    keep_pct = F.when(
        F.substring("source", 4, 10).cast("long") % 2 == 0, MIX_EVEN_PCT
    ).otherwise(MIX_ODD_PCT)
    return (
        docs.withColumn("m", F.md5(F.concat(F.lit("mix|"), F.col("doc_id").cast("string"))))
        .withColumn("bucket", F.expr(hx).cast("long") % 100)
        .filter(F.col("bucket") < keep_pct)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_kept"))
        .orderBy("source")
    )


def _source_mixture_oracle() -> str:
    hx = hex4_duck()
    return f"""
SELECT source, count(*) AS n_kept
FROM (
  SELECT source, CAST({hx} AS BIGINT) % 100 AS bucket
  FROM (SELECT doc_id, source, md5('mix|' || doc_id::VARCHAR) AS m FROM documents)
)
WHERE bucket < CASE WHEN CAST(substring(source, 4) AS BIGINT) % 2 = 0
                    THEN {MIX_EVEN_PCT} ELSE {MIX_ODD_PCT} END
GROUP BY source
ORDER BY source
"""


ORACLE_Q66 = _source_mixture_oracle()


# --- q67: decontamination scan (benchmark-phrase substring match) ----------

CONTAM_PHRASES = ("merge sort", "broadcast join", "shuffle partition")


def q67_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination scan: flag documents containing any of a
    (small, broadcast) phrase list via substring match — the eval-set
    decontamination pass of a training pipeline. The phrase table
    broadcasts (it is genuinely tiny — eval phrases, not a corpus), so
    the scan is one map-side pass over documents; output is the narrow
    (doc, phrase) hit list."""
    phrases = values_df(spark, [(p,) for p in CONTAM_PHRASES], "phrase string")
    docs = _docs(spark, sf_dir)
    return (
        docs.crossJoin(F.broadcast(phrases))
        .filter(F.expr("contains(lower(text), phrase)"))
        .select("doc_id", "phrase")
        .orderBy("doc_id", "phrase")
    )


_PHRASE_VALUES = ", ".join(f"('{p}')" for p in CONTAM_PHRASES)

ORACLE_Q67 = f"""
SELECT doc_id, phrase
FROM documents, (VALUES {_PHRASE_VALUES}) phrases(phrase)
WHERE contains(lower(text), phrase)
ORDER BY doc_id, phrase
"""


# --- q75: TF-IDF top terms per document ------------------------------------

TFIDF_TOP_K = 3


def q75_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by TF-IDF. The IDF uses
    the LINEAR rarity ratio n_docs/df instead of log(n_docs/df):
    ranking is invariant under the monotone log, and dropping the
    transcendental keeps every float op (two int/int divisions and one
    multiply, identical IEEE ops in both engines) bit-reproducible —
    logs differ in the last ulp across libm implementations, which
    would break the hash gate.

    Scale shape: term-frequency is one groupBy on (doc, term); document
    frequency is a second groupBy on term REUSING the tf frame (no
    second corpus scan); n_docs joins in as a broadcast one-row frame;
    the final per-doc top-k is a window over the (doc, term) frame —
    all shuffles are on short keys, never full text."""
    from pyspark.sql import Window as W

    docs = (
        _docs(spark, sf_dir)
        .withColumn("tokens", F.expr(TOKENS_SPARK))
        .select("doc_id", F.size("tokens").cast("long").alias("n_tokens"), "tokens")
    )
    tf = (
        docs.select("doc_id", "n_tokens", F.explode("tokens").alias("term"))
        .groupBy("doc_id", "n_tokens", "term")
        .agg(F.count(F.lit(1)).alias("n_occ"))
        # EAGER localCheckpoint, not the r12 persist: two subtrees
        # (document-frequency agg + the scored attach) consume tf
        # inside ONE action, and a lazy pin let both branches race the
        # cold cache — the tokenize + explode + (doc, term) agg ran
        # twice anyway (profiled; the r12 pin's in-suite number was
        # correspondingly flat-to-negative). The eager barrier blocks
        # until tf is materialized once, then both consumers read the
        # stored partitions (A/B 5-rep medians: pin 1.89 s, unpinned
        # 1.99 s, barrier 1.78 s; a window-over-term fusion measured
        # 1.87 s and adds a hot-key skew hazard AQE can't split —
        # r13, guide §5)
        .localCheckpoint(eager=True)
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(
                (F.col("n_occ") / F.col("n_tokens")) * (F.col("n_docs") / F.col("df")),
                6,
            ),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "term")
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= TFIDF_TOP_K)
        .select("doc_id", "rnk", "term", "n_occ", "df", "tfidf")
        .orderBy("doc_id", "rnk")
    )


ORACLE_Q75 = f"""
WITH t AS (
  SELECT doc_id, CAST(len(tokens) AS BIGINT) AS n_tokens, tokens
  FROM (SELECT doc_id, {TOKENS_DUCK} AS tokens FROM documents)
), tf AS (
  SELECT doc_id, n_tokens, term, count(*) AS n_occ
  FROM (SELECT doc_id, n_tokens, unnest(tokens) AS term FROM t)
  GROUP BY doc_id, n_tokens, term
), dfreq AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
), nd AS (
  SELECT count(*) AS n_docs FROM documents
), scored AS (
  SELECT doc_id, term, n_occ, df,
         round((n_occ / n_tokens) * (n_docs / df), 6) AS tfidf
  FROM tf JOIN dfreq USING (term) CROSS JOIN nd
), ranked AS (
  SELECT doc_id, term, n_occ, df, tfidf,
         row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rnk
  FROM scored
)
SELECT doc_id, rnk, term, n_occ, df, tfidf
FROM ranked
WHERE rnk <= {TFIDF_TOP_K}
ORDER BY doc_id, rnk
"""


# --- q76: n-gram-overlap decontamination (eval-set shingle join) -----------

# pseudo-benchmark eval documents: fixed word sequences over the corpus
# vocabulary, shingled with the SAME 3-gram tokenizer as the corpus
EVAL_DOCS = (
    ("eval0", "the fast join scan table window merge batch part value hash key line sort order data"),
    ("eval1", "big data stream group filter small vector column query customer slow agg spark row value the"),
)


def q76_ngram_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval decontamination the way large corpora actually do it:
    token-level n-gram OVERLAP between each training document and the
    eval set (q67's substring scan catches only verbatim phrases; this
    catches shared 3-gram spans regardless of surrounding text). Both
    sides run the identical shingle pipeline; contamination is an
    equi-join on the shingle — at 100 TB the eval side is a few
    thousand benchmark docs, so its distinct-shingle table genuinely
    broadcasts and the corpus pass stays map-side (no corpus shuffle
    at all). Output: per contaminated doc, how many distinct eval
    shingles it shares and how many eval docs it touches."""
    ev = values_df(spark, list(EVAL_DOCS), "eval_id string, text string")
    ev_shingles = (
        ev.withColumn("tokens", F.expr(TOKENS_SPARK))
        .withColumn("shingles", F.array_distinct(F.expr(SHINGLES_SPARK)))
        .select("eval_id", F.explode("shingles").alias("shingle"))
    )
    doc_shingles = _doc_shingle_arrays(spark, sf_dir).select(
        "doc_id", F.explode("shingles").alias("shingle")
    )
    return (
        doc_shingles.join(F.broadcast(ev_shingles), "shingle")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("shingle").alias("n_hit_shingles"),
            F.countDistinct("eval_id").alias("n_eval_docs"),
        )
        .orderBy("doc_id")
    )


_EVAL_VALUES = ", ".join(f"('{i}', '{t}')" for i, t in EVAL_DOCS)

ORACLE_Q76 = f"""
{DUCK_SHINGLE_CTE},
ev(eval_id, etext) AS (VALUES {_EVAL_VALUES}),
etoks AS (
  SELECT eval_id, string_split_regex(lower(trim(etext)), '\\s+') AS tokens FROM ev
), eshingled AS (
  SELECT eval_id, {SHINGLES_DUCK} AS shingles FROM etoks
), eshingles AS (
  SELECT DISTINCT eval_id, unnest(shingles) AS shingle FROM eshingled
)
SELECT doc_id,
       count(DISTINCT s.shingle) AS n_hit_shingles,
       count(DISTINCT e.eval_id) AS n_eval_docs
FROM shingles s JOIN eshingles e USING (shingle)
GROUP BY doc_id
ORDER BY doc_id
"""


# --- q82: training-chunk split via Python UDTF -----------------------------

def q82_chunk_split_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence chunking for training — each document's token stream
    split into fixed 10-token chunks through a Python UDTF in a LATERAL
    join (the §2.11 table-function surface: one row in, N rows out,
    schema declared by the UDTF). The UDTF stage is a map-only fan-out
    (no shuffle; chunking never sees other documents), so at 100 TB it
    scales like any projection; the Python cost is bounded by
    _spread_py's worker cap."""
    from prox_spark.queries._udfs import make_chunk_udtf

    spark.udtf.register("prox_chunk_doc", make_chunk_udtf())
    _spread_py(read_parquet(spark, f"{sf_dir}/documents.parquet")).createOrReplaceTempView(
        "q82_docs"
    )
    return spark.sql(
        """
        SELECT d.doc_id, c.chunk_idx, c.chunk_text, c.n_chunk_tokens
        FROM q82_docs d, LATERAL prox_chunk_doc(d.text) c
        ORDER BY d.doc_id, c.chunk_idx
        """
    )


from prox_spark.queries._udfs import CHUNK_TOKENS as _CHUNK  # noqa: E402

ORACLE_Q82 = f"""
WITH t AS (
  SELECT doc_id, {TOKENS_DUCK} AS tokens FROM documents
), c AS (
  SELECT doc_id,
         list_transform(
           range((len(tokens) + {_CHUNK} - 1) // {_CHUNK}),
           i -> struct_pack(
             chunk_idx := CAST(i AS BIGINT),
             chunk_text := array_to_string(list_slice(tokens, i * {_CHUNK} + 1, (i + 1) * {_CHUNK}), ' '),
             n_chunk_tokens := CAST(len(list_slice(tokens, i * {_CHUNK} + 1, (i + 1) * {_CHUNK})) AS BIGINT)
           )
         ) AS chunks
  FROM t
)
SELECT doc_id, u.chunk_idx AS chunk_idx, u.chunk_text AS chunk_text,
       u.n_chunk_tokens AS n_chunk_tokens
FROM (SELECT doc_id, unnest(chunks) AS u FROM c)
ORDER BY doc_id, chunk_idx
"""


# --- q83: per-source token totals via grouped-agg pandas UDF (UDAF) --------

def q83_source_token_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus size accounting with the grouped-aggregate
    pandas UDF surface (a custom UDAF): token counts are computed
    JVM-side (cheap, codegen), and the AGGREGATION itself runs in
    Python over Arrow — the pattern for custom reducers Spark lacks
    (here an integer sum, so the oracle is exact). Partial aggregation
    doesn't apply to pandas UDAFs, so the shuffle carries one long per
    doc — narrow enough that the missing combiner doesn't matter."""
    from prox_spark.queries._udfs import make_pandas_sum_long

    docs = _spread_py(_docs(spark, sf_dir)).withColumn("tokens", F.expr(TOKENS_SPARK))
    per_doc = docs.select(
        "source", F.size("tokens").cast("long").alias("n_tokens")
    )
    return (
        per_doc.groupBy("source")
        .agg(make_pandas_sum_long()("n_tokens").alias("total_tokens"))
        .orderBy("source")
    )


ORACLE_Q83 = f"""
SELECT source, CAST(sum(len(tokens)) AS BIGINT) AS total_tokens
FROM (SELECT source, {TOKENS_DUCK} AS tokens FROM documents)
GROUP BY source
ORDER BY source
"""


# --- q87: fuzzy near-dup verification via edit distance --------------------

FUZZY_PREFIX_CHARS = 40


def q87_fuzzy_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance verification over the MinHash-LSH candidate pairs:
    levenshtein on the documents' 40-char prefixes — the fuzzy-match
    family (typo-level duplicates that token-level Jaccard can miss,
    e.g. OCR noise). Runs ONLY on LSH candidates, never all pairs, so
    the quadratic distance stays bounded by the bucket collisions; the
    payload attach is the same un-hinted doc_id equi-join as q36
    (AQE broadcasts at small scale, shuffles at 100 TB)."""
    pairs = q36_minhash_lsh(spark, sf_dir).select("doc1", "doc2")
    docs = _docs(spark, sf_dir).select(
        "doc_id", F.substring("text", 1, FUZZY_PREFIX_CHARS).alias("prefix")
    )
    p1 = docs.select(F.col("doc_id").alias("doc1"), F.col("prefix").alias("pfx1"))
    p2 = docs.select(F.col("doc_id").alias("doc2"), F.col("prefix").alias("pfx2"))
    return (
        pairs.join(p1, "doc1")
        .join(p2, "doc2")
        .select(
            "doc1",
            "doc2",
            F.levenshtein("pfx1", "pfx2").cast("long").alias("edit_distance"),
        )
        .withColumn("is_fuzzy_dup", F.col("edit_distance") <= FUZZY_PREFIX_CHARS // 4)
        .orderBy("doc1", "doc2")
    )


ORACLE_Q87 = f"""
{DUCK_SHINGLE_CTE},
sig AS (
  SELECT doc_id, seed, min(md5(seed::VARCHAR || '|' || shingle)) AS minh
  FROM shingles CROSS JOIN range({MINHASH_K}) t(seed)
  GROUP BY doc_id, seed
), bands AS (
  SELECT doc_id, seed // {LSH_BAND_ROWS} AS band,
         string_agg(minh, ',' ORDER BY seed) AS band_sig
  FROM sig GROUP BY 1, 2
), candidates AS (
  SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
), inter AS (
  SELECT doc1, doc2, count(*) AS n_inter
  FROM candidates
  JOIN shingles s1 ON doc1 = s1.doc_id
  JOIN shingles s2 ON doc2 = s2.doc_id AND s1.shingle = s2.shingle
  GROUP BY doc1, doc2
), pairs AS (
  SELECT doc1, doc2
  FROM inter
  JOIN sizes sa ON doc1 = sa.doc_id
  JOIN sizes sb ON doc2 = sb.doc_id
  WHERE round(n_inter / (sa.n_shingles + sb.n_shingles - n_inter), 6) >= {JACCARD_THRESHOLD}
)
SELECT doc1, doc2,
       CAST(levenshtein(d1.pfx, d2.pfx) AS BIGINT) AS edit_distance,
       levenshtein(d1.pfx, d2.pfx) <= {FUZZY_PREFIX_CHARS // 4} AS is_fuzzy_dup
FROM pairs
JOIN (SELECT doc_id, substring(text, 1, {FUZZY_PREFIX_CHARS}) AS pfx FROM documents) d1 ON doc1 = d1.doc_id
JOIN (SELECT doc_id, substring(text, 1, {FUZZY_PREFIX_CHARS}) AS pfx FROM documents) d2 ON doc2 = d2.doc_id
ORDER BY doc1, doc2
"""


# --- q80: PII redaction (regex scrub) --------------------------------------

EMAIL_RE = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z][a-z]+"


def q80_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing — the redaction pass every training corpus runs
    before the tokenizer. The synthetic corpus carries no PII, so the
    query first plants a deterministic email on every 10th document
    (both engines plant the identical string), then redacts with one
    regexp_replace and reports the per-doc redaction count plus the
    fingerprint of the cleaned text — proving the scrub actually
    removed what it counted. The regex sticks to character-class +
    repetition constructs that mean the same thing in Java regex
    (Spark) and RE2 (DuckDB). Map-only: at 100 TB this pass costs one
    scan, no shuffle (the trailing sort is the gate's determinism)."""
    docs = _docs(spark, sf_dir).withColumn(
        "text2",
        F.when(
            F.col("doc_id") % 10 == 0,
            F.concat(F.col("text"), F.lit(" contact user"), F.col("doc_id"), F.lit("@example.com")),
        ).otherwise(F.col("text")),
    )
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("text2"), F.lit(EMAIL_RE), F.lit(0)))
        .cast("long")
        .alias("n_emails"),
        F.md5(F.regexp_replace(F.col("text2"), EMAIL_RE, "<EMAIL>")).alias("clean_fingerprint"),
    ).orderBy("doc_id")


ORACLE_Q80 = f"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text2, '{EMAIL_RE}')) AS BIGINT) AS n_emails,
       md5(regexp_replace(text2, '{EMAIL_RE}', '<EMAIL>', 'g'))     AS clean_fingerprint
FROM (
  SELECT doc_id,
         CASE WHEN doc_id % 10 = 0
              THEN text || ' contact user' || doc_id::VARCHAR || '@example.com'
              ELSE text END AS text2
  FROM documents
)
ORDER BY doc_id
"""


# --- q81: repetition / boilerplate statistics (Gopher-style filters) -------

def q81_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition signals used by quality filters
    (Gopher/C4-style): distinct-token fraction, the share of the most
    frequent token, and the duplicate-shingle ratio. Token/shingle
    distinctness is computed in-row (array_distinct — map-side); only
    the top-token share aggregates, and it shuffles (doc_id, token)
    counts — short keys, never text. Documents dominated by one token
    or by repeated 3-gram spans are the ones these ratios flag."""
    docs = (
        _docs(spark, sf_dir)
        .withColumn("tokens", F.expr(TOKENS_SPARK))
        .withColumn("shingles", F.expr(SHINGLES_SPARK))
        .select(
            "doc_id",
            "tokens",
            F.size("tokens").cast("long").alias("n_tokens"),
            F.size(F.array_distinct("tokens")).cast("long").alias("n_distinct_tokens"),
            F.size("shingles").cast("long").alias("n_shingles"),
            F.size(F.array_distinct("shingles")).cast("long").alias("n_distinct_shingles"),
        )
    )
    top = (
        docs.select("doc_id", F.explode("tokens").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_token_count"))
    )
    return (
        docs.drop("tokens")
        .join(top, "doc_id")
        .select(
            "doc_id",
            "n_tokens",
            "n_distinct_tokens",
            F.round(F.col("n_distinct_tokens") / F.col("n_tokens"), 6).alias("distinct_ratio"),
            F.round(F.col("top_token_count") / F.col("n_tokens"), 6).alias("top_token_share"),
            F.round(
                (F.col("n_shingles") - F.col("n_distinct_shingles")) / F.col("n_shingles"), 6
            ).alias("dup_shingle_ratio"),
        )
        .orderBy("doc_id")
    )


ORACLE_Q81 = f"""
WITH t AS (
  SELECT doc_id, tokens, {SHINGLES_DUCK} AS shingles
  FROM (SELECT doc_id, {TOKENS_DUCK} AS tokens FROM documents)
), base AS (
  SELECT doc_id,
         CAST(len(tokens) AS BIGINT)                 AS n_tokens,
         CAST(len(list_distinct(tokens)) AS BIGINT)  AS n_distinct_tokens,
         CAST(len(shingles) AS BIGINT)               AS n_shingles,
         CAST(len(list_distinct(shingles)) AS BIGINT) AS n_distinct_shingles
  FROM t
), top AS (
  SELECT doc_id, max(c) AS top_token_count
  FROM (
    SELECT doc_id, tok, count(*) AS c
    FROM (SELECT doc_id, unnest(tokens) AS tok FROM t)
    GROUP BY doc_id, tok
  )
  GROUP BY doc_id
)
SELECT doc_id, n_tokens, n_distinct_tokens,
       round(n_distinct_tokens / n_tokens, 6)                    AS distinct_ratio,
       round(top_token_count / n_tokens, 6)                      AS top_token_share,
       round((n_shingles - n_distinct_shingles) / n_shingles, 6) AS dup_shingle_ratio
FROM base JOIN top USING (doc_id)
ORDER BY doc_id
"""


# --- q93: byte-level corpus stats via mapInArrow ---------------------------

def q93_arrow_byte_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The last Python execution surface (§2.11): ``mapInArrow`` —
    zero-copy Arrow RecordBatches in and out, no pandas
    materialization at all. The kernel computes byte-exact corpus
    stats (UTF-8 bytes, codepoints, ASCII-uppercase count, non-ASCII
    byte overhead) with vectorized ``pyarrow.compute`` calls, the
    shape a byte-level tokenizer-prep pass takes when pandas object
    boxing would dominate.

    Scale: map-only — one Python stage, no shuffle before it; the
    text column never crosses as Python objects, only Arrow buffers.
    All outputs are exact integers, so the hash gate is airtight."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def kernel(batches):
        for batch in batches:
            doc_id = batch.column("doc_id")
            text = batch.column("text")
            i64 = lambda arr: pc.cast(arr, pa.int64())  # noqa: E731
            n_bytes = i64(pc.binary_length(text))
            n_cp = i64(pc.utf8_length(text))
            yield pa.RecordBatch.from_arrays(
                [
                    doc_id,
                    n_bytes,
                    n_cp,
                    i64(pc.count_substring_regex(text, "[A-Z]")),
                    pc.subtract(n_bytes, n_cp),
                ],
                ["doc_id", "n_bytes", "n_codepoints", "n_upper", "n_nonascii"],
            )

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    out_schema = (
        "doc_id long, n_bytes long, n_codepoints long, n_upper long, n_nonascii long"
    )
    return docs.mapInArrow(kernel, out_schema).orderBy("doc_id")


ORACLE_Q93 = """
SELECT doc_id,
       strlen(text)                                        AS n_bytes,
       length(text)                                        AS n_codepoints,
       length(regexp_replace(text, '[^A-Z]', '', 'g'))     AS n_upper,
       strlen(text) - length(text)                         AS n_nonascii
FROM documents
ORDER BY doc_id
"""


# --- q99: quality-filter funnel (per-source retention through stages) ------

# the three gates a C4/Gopher-style cleaning pass applies, expressed
# identically in Spark SQL and DuckDB so the funnel is hash-gateable
FUNNEL_LEN_MIN = 200                  # n_chars floor
FUNNEL_LANGS = ("en", "fr")           # language allowlist
FUNNEL_TOK_MIN = 30                   # whitespace-token floor


def q99_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source retention funnel through a cleaning pipeline: how
    many documents survive the length gate, then +language gate, then
    +token-count gate — the acceptance report every corpus-cleaning
    run emits. One map-side pass (all gates are row-local conditional
    aggregations over the source key); no filter is materialized, so
    the corpus is scanned exactly once regardless of stage count."""
    docs = _docs(spark, sf_dir)
    langs = ", ".join(f"'{l}'" for l in FUNNEL_LANGS)
    p_len = F.col("n_chars") >= FUNNEL_LEN_MIN
    p_lang = F.expr(f"lang IN ({langs})")
    p_tok = F.size(F.expr(TOKENS_SPARK)) >= FUNNEL_TOK_MIN
    cnt = lambda p: F.sum(F.when(p, 1).otherwise(0))  # noqa: E731
    return (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            cnt(p_len).alias("n_pass_len"),
            cnt(p_len & p_lang).alias("n_pass_lang"),
            cnt(p_len & p_lang & p_tok).alias("n_pass_all"),
        )
        .withColumn(
            "retention", F.round(F.col("n_pass_all") / F.col("n_docs"), 6)
        )
        .orderBy("source")
    )


ORACLE_Q99 = f"""
SELECT source,
       count(*) AS n_docs,
       count(*) FILTER (WHERE n_chars >= {FUNNEL_LEN_MIN}) AS n_pass_len,
       count(*) FILTER (WHERE n_chars >= {FUNNEL_LEN_MIN}
                          AND lang IN ('en', 'fr')) AS n_pass_lang,
       count(*) FILTER (WHERE n_chars >= {FUNNEL_LEN_MIN}
                          AND lang IN ('en', 'fr')
                          AND len({TOKENS_DUCK}) >= {FUNNEL_TOK_MIN}) AS n_pass_all,
       round(count(*) FILTER (WHERE n_chars >= {FUNNEL_LEN_MIN}
                                AND lang IN ('en', 'fr')
                                AND len({TOKENS_DUCK}) >= {FUNNEL_TOK_MIN})
             / count(*), 6) AS retention
FROM documents
GROUP BY source
ORDER BY source
"""


# --- q105: SimHash near-dup pairs (hamming band blocking) -------------------

SIMHASH_BAND_BITS = 8
SIMHASH_N_BANDS = SIMHASH_BITS // SIMHASH_BAND_BITS  # 2 bands of 8 bits
SIMHASH_HAM_MAX = 1


def q105_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-duplicate detection: block by 8-bit bands of the
    16-bit fingerprint (a pair collides if ANY band agrees), verify
    candidates with an exact hamming distance (``bit_count(a ^ b)``)
    ≤ 1, and report per-document neighbor stats. By pigeonhole the
    blocking is EXACT at the verify radius (1 differing bit dirties at
    most 1 of the 2 bands), so recall is 1.0 by construction — no
    all-pairs scan — while the wide 8-bit band keys collide ~16x less
    than the earlier 4-bit ones (band width trades candidate volume
    against the exactness radius: b bands of w bits are exact to
    radius b-1).

    Output is one bounded row per document (neighbor count + smallest
    neighbor id) rather than raw pairs: the demo fingerprint is 16
    bits for oracle-parity economy, which on a small shared-vocabulary
    corpus makes raw pair output quadratic; production would use
    64-bit fingerprints with the identical plan.

    Scale shape: fingerprints are map-side (no shuffle,
    :func:`_simhash_frame`); the band table is 4 narrow rows per doc;
    candidates come from one equi-join on (band, val); the verify is
    an integer XOR on the joined row — the canonical
    blocking-not-crossing dedup plan (same family as q36's MinHash
    bands, here over bit-bands of one integer).
    """
    # the fingerprint frame is referenced three times below (group
    # stats, second-min, final expand); it is 16 bytes/doc, so pin it
    # rather than re-run the shingle/bit-fold pass per reference. The
    # count() materializes the cache BEFORE the main job — the three
    # subtrees sit in one action, which would otherwise race the cold
    # cache and each run the fold pass anyway
    s = _simhash_frame(spark, sf_dir).cache()
    s.count()
    # collapse identical fingerprints BEFORE pair generation: hamming-0
    # mass (exact and near-exact duplicates — the reason a dedup
    # pipeline exists) makes doc-level banding quadratic in group
    # size, while hash-level banding pairs each distinct fingerprint
    # once and re-expands by group COUNTS. Here 5000 docs hold 1438
    # distinct hashes (~12x fewer candidate rows); on a real corpus
    # the exact-dup mass is the dominant quadratic term this removes.
    # m2 (second-smallest doc per hash — the min-neighbor for the doc
    # that IS the group minimum) via rank-then-aggregate in the SAME
    # shuffle: row_number sorts within the fingerprint partition and
    # the groupBy reuses that hash partitioning, so one exchange
    # serves both. A sorted collect_list would hold the whole group in
    # the agg buffer — unbounded for a pathologically replicated
    # document (exactly the case near-dup detection exists for) —
    # whereas WindowExec spills oversized groups to disk.
    w2 = Window.partitionBy("simhash").orderBy("doc_id")
    g = (
        s.withColumn("rn", F.row_number().over(w2))
        .groupBy("simhash")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min("doc_id").alias("m1"),
            F.min(F.when(F.col("rn") == 2, F.col("doc_id"))).alias("m2"),
        )
        # EAGER barrier (r13): three lazy consumers (band table,
        # neighbor attach, final expand) raced the r12 pin's cold
        # cache inside one action; the frame is distinct-hash sized —
        # the checkpoint job is tiny and the window + group agg runs
        # exactly once
        .localCheckpoint(eager=True)
    )
    band = F.explode(
        F.expr(
            f"transform(sequence(0, {SIMHASH_N_BANDS - 1}), b -> named_struct("
            f"'band', b, 'val', (simhash div shiftleft(1L, b * {SIMHASH_BAND_BITS})) % {1 << SIMHASH_BAND_BITS}))"
        )
    ).alias("bv")
    hbands = g.select("simhash", band).select(
        "simhash", F.col("bv.band").alias("band"), F.col("bv.val").alias("val")
    )
    a = hbands.select(F.col("simhash").alias("h1"), "band", "val")
    b = hbands.select(F.col("simhash").alias("h2"), "band", "val")
    hpairs = (
        a.join(b, ["band", "val"])
        .filter(F.col("h1") != F.col("h2"))
        .filter(F.expr(f"bit_count(h1 ^ h2) <= {SIMHASH_HAM_MAX}"))
        .select("h1", "h2")
        .distinct()
    )
    nbr = (
        hpairs.join(
            g.select(
                F.col("simhash").alias("h2"),
                F.col("cnt").alias("cnt2"),
                F.col("m1").alias("hmin2"),
            ),
            "h2",
        )
        .groupBy("h1")
        .agg(F.sum("cnt2").alias("nbr_cnt"), F.min("hmin2").alias("nbr_min"))
    )
    same_min = F.when(
        F.col("cnt") > 1,
        F.when(F.col("doc_id") == F.col("m1"), F.col("m2")).otherwise(F.col("m1")),
    )
    return (
        s.join(g, "simhash")
        .join(nbr, s.simhash == nbr.h1, "left")
        .select(
            "doc_id",
            ((F.col("cnt") - 1) + F.coalesce(F.col("nbr_cnt"), F.lit(0)))
            .cast("long")
            .alias("n_neighbors"),
            F.least(same_min, F.col("nbr_min")).alias("min_neighbor"),
        )
        .filter(F.col("n_neighbors") > 0)
        .orderBy("doc_id")
    )


ORACLE_Q105 = f"""
WITH s AS ({_simhash_oracle()}),
bands AS (
  SELECT doc_id, simhash, b.b AS band,
         (simhash // (1 << (b.b * {SIMHASH_BAND_BITS}))) % {1 << SIMHASH_BAND_BITS} AS val
  FROM s CROSS JOIN (SELECT unnest(range(0, {SIMHASH_N_BANDS})) AS b) b
)
SELECT a.doc_id AS doc_id,
       count(DISTINCT b.doc_id) AS n_neighbors,
       min(b.doc_id) AS min_neighbor
FROM bands a JOIN bands b ON a.band = b.band AND a.val = b.val
WHERE a.doc_id <> b.doc_id
  AND bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_HAM_MAX}
GROUP BY a.doc_id
ORDER BY doc_id
"""


# --- q115: segment-level boilerplate dedup (CCNet-style line dedup) --------

SEG_LEN = 3       # tokens per segment (the "line" unit; testdata has no \n)
SEG_DUP_DOCS = 2  # a segment seen in >= this many DISTINCT docs is boilerplate


def q115_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document dedup, the CCNet/RefinedWeb 'line-level' pass:
    hash every segment, count how many DISTINCT documents each hash
    appears in, and strip segments above the duplication threshold
    (headers/footers/boilerplate survive exact- and near-dup doc
    filters because the *documents* differ — only segment-level
    frequency catches them). The testdata corpus has no newlines, so
    the segment unit is a fixed 3-token span; on real corpora the
    splitter is `split(text, '\\n')` and everything downstream is
    identical. Complements q30 (whole-doc exact) and q36/q105
    (whole-doc near): this is the third dedup granularity a training
    pipeline runs.

    Scale shape: segmenting is map-side (in-row transform + one
    posexplode); the frequency agg and the mark-join both key on the
    16-byte md5 of the segment, never the segment text, so the
    shuffle is O(segments x 16B). The boilerplate set (freq >= T) is
    a tiny fraction of distinct segments (1413/7460 here, and far
    sparser on real data) — AQE broadcasts it into the mark-join
    un-hinted. Per-doc re-aggregation restores document grain with
    kept-token counts and an md5 fingerprint of the surviving text
    (order-preserving: segments re-join in position order)."""
    docs = _docs(spark, sf_dir).withColumn("tokens", F.expr(TOKENS_SPARK))
    segs = docs.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, cast(ceil(size(tokens) / {SEG_LEN}.0) as int) - 1), "
                f"i -> array_join(slice(tokens, i * {SEG_LEN} + 1, {SEG_LEN}), ' '))"
            )
        ).alias("pos", "seg"),
    ).withColumn("h", F.md5("seg"))
    # ">= SEG_DUP_DOCS distinct docs" == min != max over doc_id —
    # valid exactly for a threshold of 2 (ADVICE r12: fail loudly at
    # the definition site if the constant ever moves)
    if SEG_DUP_DOCS != 2:
        raise ValueError("min!=max rewrite requires SEG_DUP_DOCS == 2")
    # ... computed as WHOLE-PARTITION window aggregates over the
    # segment digest instead of the r12 {groupBy + left-join-back}
    # pair: ONE shuffle of the segment frame replaces two (agg
    # partials + join probe), and the frame becomes SINGLE-consumer —
    # the r12 pin paid a cache write and raced its own cold cache when
    # one action materialized both branches (the q199 lesson). Digest
    # keys are uniform md5s; group size is the segment's duplication
    # factor — no hot-key hazard at scale (r13, guide §2.3/§2.4).
    # kept == "segment NOT in the common vocabulary" == d0 == d1,
    # identical to the old ch-IS-NULL left-join verdict
    wh = Window.partitionBy("h")
    marked = (
        segs.withColumn("d0", F.min("doc_id").over(wh))
        .withColumn("d1", F.max("doc_id").over(wh))
        .withColumn("kept", F.col("d0") == F.col("d1"))
    )
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_segs"),
            F.sum(F.when(~F.col("kept"), 1).otherwise(0)).cast("long").alias("n_dropped"),
            F.sum(F.when(F.col("kept"), F.size(F.split(F.col("seg"), " "))).otherwise(0))
            .cast("long")
            .alias("kept_tokens"),
            F.md5(
                F.array_join(
                    F.expr(
                        "transform(array_sort(collect_list(CASE WHEN kept THEN "
                        "named_struct('pos', pos, 'seg', seg) END)), s -> s.seg)"
                    ),
                    " ",
                )
            ).alias("kept_fp"),
        )
        .orderBy("doc_id")
    )


ORACLE_Q115 = f"""
WITH toks AS (SELECT doc_id, {TOKENS_DUCK} AS tokens FROM documents),
segs AS (
  SELECT doc_id, CAST(i AS INTEGER) AS pos,
         array_to_string(list_slice(tokens, i * {SEG_LEN} + 1, i * {SEG_LEN} + {SEG_LEN}), ' ') AS seg
  FROM toks, unnest(range(0, CAST(ceil(len(tokens) / {SEG_LEN}.0) AS BIGINT))) AS t(i)
),
common AS (
  SELECT md5(seg) AS ch FROM segs
  GROUP BY md5(seg) HAVING count(DISTINCT doc_id) >= {SEG_DUP_DOCS}
),
marked AS (
  SELECT s.doc_id, s.pos, s.seg, (c.ch IS NULL) AS kept
  FROM segs s LEFT JOIN common c ON md5(s.seg) = c.ch
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_segs,
       CAST(count(*) FILTER (WHERE NOT kept) AS BIGINT) AS n_dropped,
       CAST(coalesce(sum(len(string_split(seg, ' '))) FILTER (WHERE kept), 0) AS BIGINT) AS kept_tokens,
       md5(coalesce(string_agg(seg, ' ' ORDER BY pos) FILTER (WHERE kept), '')) AS kept_fp
FROM marked
GROUP BY doc_id
ORDER BY doc_id
"""


# --- q116: training-sequence packing (concatenate-and-cut) -----------------

PACK_BUDGET = 256  # tokens per training sequence (context length)


def q116_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing — the last hop of a training-data pipeline:
    concatenate each source's token stream in a deterministic order
    (doc_id) and cut it into fixed-budget training sequences, the
    GPT-style packing that wastes no context. A document whose span
    crosses a cut contributes its head to one sequence and its tail
    to the next (``n_carryover`` counts those continuations per
    sequence). Output is the packing manifest: per (source, seq_id)
    the doc count, token count, and fill ratio a shard-writer needs
    to emit the actual training shards.

    Scale shape: one window per source computes the running token
    prefix (the only shuffle, keyed on source — at 100 TB the unit
    would be (source, shard) to bound partition width); the doc→
    sequence expansion is a map-side ``sequence()`` explode whose
    fan-out is ~n_tok/BUDGET per doc (≈1); the final agg keys on
    (source, seq_id). No driver loop, no collect: the classic greedy
    bin-packing loop is re-expressed as pure prefix-sum arithmetic,
    which is what makes it distributable at all. Integer-division
    bucketing (`div`) keeps both engines in exact int64 math."""
    b = PACK_BUDGET
    docs = _docs(spark, sf_dir).withColumn(
        "n_tok", F.size(F.expr(TOKENS_SPARK)).cast("long")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    spans = (
        docs.select("source", "doc_id", "n_tok")
        .withColumn("cum_end", F.sum("n_tok").over(w))
        .withColumn("cum_start", F.col("cum_end") - F.col("n_tok"))
    )
    ex = spans.select(
        "source",
        "cum_start",
        "cum_end",
        F.explode(F.expr(f"sequence(cum_start div {b}, (cum_end - 1) div {b})")).alias(
            "seq_id"
        ),
    )
    toks_in_seq = F.least(F.col("cum_end"), (F.col("seq_id") + 1) * b) - F.greatest(
        F.col("cum_start"), F.col("seq_id") * b
    )
    return (
        ex.groupBy("source", "seq_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(toks_in_seq).cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("cum_start") < F.col("seq_id") * b, 1).otherwise(0))
            .cast("long")
            .alias("n_carryover"),
        )
        .withColumn("fill_pct", F.round(F.col("n_tokens") * 100.0 / b, 2))
        .orderBy("source", "seq_id")
    )


ORACLE_Q116 = f"""
WITH toks AS (
  SELECT doc_id, source, CAST(len({TOKENS_DUCK}) AS BIGINT) AS n_tok FROM documents
),
spans AS (
  SELECT source, doc_id, n_tok,
         CAST(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_end
  FROM toks
),
spans2 AS (SELECT *, cum_end - n_tok AS cum_start FROM spans),
ex AS (
  SELECT source, cum_start, cum_end, CAST(s AS BIGINT) AS seq_id
  FROM spans2, unnest(generate_series(cum_start // {PACK_BUDGET},
                                      (cum_end - 1) // {PACK_BUDGET})) AS t(s)
)
SELECT source, seq_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(least(cum_end, (seq_id + 1) * {PACK_BUDGET})
              - greatest(cum_start, seq_id * {PACK_BUDGET})) AS BIGINT) AS n_tokens,
       CAST(count(*) FILTER (WHERE cum_start < seq_id * {PACK_BUDGET}) AS BIGINT) AS n_carryover,
       round(CAST(sum(least(cum_end, (seq_id + 1) * {PACK_BUDGET})
              - greatest(cum_start, seq_id * {PACK_BUDGET})) AS BIGINT) * 100.0 / {PACK_BUDGET}, 2) AS fill_pct
FROM ex
GROUP BY source, seq_id
ORDER BY source, seq_id
"""


# --- q120: BPE merge-pair candidates (tokenizer-training step) --------------

BPE_TOP_PAIRS = 20


def q120_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-training primitive: corpus-wide adjacent-token-pair
    frequencies — each round of BPE training merges the most frequent
    pair, and this query is exactly that round's candidate scan (run
    over words instead of bytes here; the plan is identical). Reports
    the top candidates with occurrence and document-frequency counts.

    Scale shape: pairing is the q36 zip_with-of-shifted-slices trick
    (two slices + one binary zip per row, all map-side); the count
    agg partial-aggregates map-side so the shuffle carries one row
    per distinct pair per task, and the top-k is
    TakeOrderedAndProject — no full sort. An actual BPE trainer
    loops this with a re-tokenize between rounds; each round is this
    same one-shuffle plan."""
    docs = _docs(spark, sf_dir).withColumn("tokens", F.expr(TOKENS_SPARK))
    pairs = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                "zip_with(slice(tokens, 1, size(tokens) - 1), "
                "slice(tokens, 2, size(tokens) - 1), (a, b) -> concat(a, ' ', b))"
            )
        ).alias("pair"),
    )
    return (
        pairs.groupBy("pair")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
        )
        .orderBy(F.desc("n_occurrences"), "pair")
        .limit(BPE_TOP_PAIRS)
    )


ORACLE_Q120 = f"""
WITH toks AS (SELECT doc_id, {TOKENS_DUCK} AS tokens FROM documents),
pairs AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(tokens)), i -> tokens[i] || ' ' || tokens[i + 1])) AS pair
  FROM toks
)
SELECT pair,
       CAST(count(*) AS BIGINT) AS n_occurrences,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM pairs
GROUP BY pair
ORDER BY n_occurrences DESC, pair
LIMIT {BPE_TOP_PAIRS}
"""


# --- q124: near-dup removal pipeline (capstone) -----------------------------

def q124_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-duplicate REMOVAL — the composition a corpus
    actually ships through: MinHash-LSH candidate pairs (q36) →
    connected components (q72) → drop every document that is not its
    cluster's representative (minimum doc_id) → per-source removal
    manifest (docs in, docs removed, survivors, removal rate). This is
    the number a data card reports ("X% near-duplicates removed"),
    and the capstone proving the operators compose.

    Scale shape: inherits q36's banded candidate generation and q72's
    logarithmic label propagation; the removal step is one left join
    of the (tiny) non-representative id list onto the corpus — AQE
    broadcasts it — and the manifest is a partial-aggregated groupBy
    on source."""
    docs = _docs(spark, sf_dir).select("doc_id", "source")
    pairs = q36_minhash_lsh(spark, sf_dir).select("doc1", "doc2")
    removed = (
        min_label_clusters(pairs)
        .filter(F.col("label") != F.col("doc_id"))
        .select("doc_id")
        .withColumn("rm", F.lit(True))
    )
    return (
        docs.join(removed, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.when(F.col("rm"), 1).otherwise(0)).cast("long").alias("n_removed"),
        )
        .withColumn("n_kept", (F.col("n_docs") - F.col("n_removed")).cast("long"))
        .withColumn(
            "pct_removed",
            F.round(F.lit(100.0) * F.col("n_removed") / F.col("n_docs"), 2),
        )
        .orderBy("source")
    )


ORACLE_Q124 = f"""{_CC_LABELS_CTE}
SELECT d.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(*) FILTER (WHERE l.cluster_id IS NOT NULL
                               AND l.cluster_id <> l.doc_id) AS BIGINT) AS n_removed,
       CAST(count(*) - count(*) FILTER (WHERE l.cluster_id IS NOT NULL
                               AND l.cluster_id <> l.doc_id) AS BIGINT) AS n_kept,
       round(100.0 * count(*) FILTER (WHERE l.cluster_id IS NOT NULL
                               AND l.cluster_id <> l.doc_id) / count(*), 2) AS pct_removed
FROM documents d LEFT JOIN cc_labels l ON d.doc_id = l.doc_id
GROUP BY d.source
ORDER BY d.source
"""


# --- q122: per-source quality-quantile pruning ------------------------------

QUALITY_KEEP_FRAC = 0.5  # keep the top half of each source by quality


def q122_quality_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality pruning, the curation step after scoring (q33): within
    each source keep only the top fraction of documents by quality
    score — per-source quantile cuts, not a global threshold, so one
    low-quality source can't crowd out another's documents. Reports
    the per-source pruning manifest (doc counts, kept-set score
    floor/mean) a pipeline logs before writing the surviving shard.

    Scale shape: scoring is map-side (q33's in-row token folds); the
    quantile needs one window per source (percent_rank over the score
    with a doc_id tie-break — deterministic on both engines); the
    summary is a partial-aggregated groupBy on source. At 100 TB the
    window's per-source sort is the cost — the same shuffle a global
    sort-by-quality would need, but partitioned by source so it
    parallelizes across sources."""
    docs = _docs(spark, sf_dir).withColumn("tokens", F.expr(TOKENS_SPARK))
    n_stop = F.expr(
        f"size(filter(tokens, t -> array_contains(array({_STOP_SPARK}), t)))"
    ).cast("long")
    n_tokens = F.size("tokens").cast("long")
    stop_ratio = F.round(n_stop / n_tokens, 6)
    len_score = F.round(F.least(n_tokens, F.lit(50)) / 50.0, 6)
    q = F.round(0.5 * len_score + 0.5 * (1.0 - stop_ratio), 6)
    w = Window.partitionBy("source").orderBy(F.desc("q"), "doc_id")
    flagged = (
        docs.select("source", "doc_id", q.alias("q"))
        .withColumn("pr", F.percent_rank().over(w))
        .withColumn("kept", F.col("pr") <= QUALITY_KEEP_FRAC)
    )
    kept_q = F.when(F.col("kept"), F.col("q"))
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.col("kept").cast("int")).cast("long").alias("n_kept"),
            F.min(kept_q).alias("min_kept_score"),
            F.round(
                F.round(F.sum(kept_q), 6) / F.sum(F.col("kept").cast("int")), 6
            ).alias("avg_kept_score"),
        )
        .orderBy("source")
    )


ORACLE_Q122 = f"""
WITH scored AS (
  SELECT source, doc_id,
         round(0.5 * round(least(n_tokens, 50) / 50.0, 6)
               + 0.5 * (1.0 - round(n_stopwords / n_tokens, 6)), 6) AS q
  FROM (
    SELECT source, doc_id,
           CAST(len(tokens) AS BIGINT) AS n_tokens,
           CAST(len(list_filter(tokens, t -> list_contains([{_STOP_SPARK}], t))) AS BIGINT) AS n_stopwords
    FROM (SELECT source, doc_id, {TOKENS_DUCK} AS tokens FROM documents)
  )
),
flagged AS (
  SELECT source, doc_id, q,
         percent_rank() OVER (PARTITION BY source ORDER BY q DESC, doc_id) <= {QUALITY_KEEP_FRAC} AS kept
  FROM scored
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(*) FILTER (WHERE kept) AS BIGINT) AS n_kept,
       min(q) FILTER (WHERE kept) AS min_kept_score,
       round(round(sum(q) FILTER (WHERE kept), 6)
             / count(*) FILTER (WHERE kept), 6) AS avg_kept_score
FROM flagged
GROUP BY source
ORDER BY source
"""


# --- q133: token-balanced shard assignment (training export) ----------------

SHARD_TOKENS = 2_000


def q133_shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign every document to a token-balanced training shard — the
    export step that turns a curated corpus into fixed-size tokenizer
    work units — via a TWO-LEVEL distributed prefix sum: a global
    running token total would need one global window (single-partition
    at scale), so instead (1) each source computes its own running sum
    under a per-source window (parallel across sources), (2) the tiny
    per-source totals frame — one row per source — computes source
    start offsets with a single-partition window that is trivially
    cheap at ANY corpus size, (3) offsets broadcast back and the
    global position is offset + local cumsum, all map-side. Shard id =
    floor(global start offset / SHARD_TOKENS). Output is per-shard
    stats; the DuckDB oracle uses the straightforward single-machine
    global window, proving the two-level decomposition exact."""
    docs = _docs(spark, sf_dir).select(
        "doc_id",
        "source",
        F.size(F.regexp_extract_all(F.lower("text"), F.lit(TOKEN_RE), F.lit(0)))
        .cast("long")
        .alias("tok"),
    )
    w_in = Window.partitionBy("source").orderBy("doc_id")
    with_cum = docs.withColumn("cum_in", F.sum("tok").over(w_in))
    totals = docs.groupBy("source").agg(F.sum("tok").alias("stot"))
    w_src = Window.orderBy("source").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.withColumn("off", F.coalesce(F.sum("stot").over(w_src), F.lit(0)))
    return (
        with_cum.join(F.broadcast(offsets.select("source", "off")), "source")
        .withColumn("start", F.col("off") + F.col("cum_in") - F.col("tok"))
        .withColumn("shard_id", F.expr(f"start div {SHARD_TOKENS}"))
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("tok").alias("shard_tokens"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("shard_id")
    )


ORACLE_Q133 = f"""
WITH toks AS (
  SELECT doc_id, source,
         CAST(len(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS BIGINT) AS tok
  FROM documents
), pos AS (
  SELECT doc_id, tok,
         sum(tok) OVER (ORDER BY source, doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS start
  FROM toks
)
SELECT CAST(coalesce(start, 0) AS BIGINT) // {SHARD_TOKENS} AS shard_id,
       count(*) AS n_docs,
       CAST(sum(tok) AS BIGINT) AS shard_tokens,
       min(doc_id) AS min_doc,
       max(doc_id) AS max_doc
FROM pos
GROUP BY 1
ORDER BY 1
"""


# --- q142: polymorphic UDTF (plan-time schema from arguments) ---------------

def q142_polymorphic_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.11 completion: a POLYMORPHIC Python UDTF whose ``analyze``
    computes the output schema from its constant argument at plan time
    (n=3 -> pos, tok0, tok1, tok2), evaluated Arrow-batched in a
    LATERAL join. Trigram totals/uniques per source gate both the
    analyze-derived schema (wrong width = wrong columns = schema
    mismatch) and the sliding-window evaluation."""
    from prox_spark.queries._udfs import make_ngram_udtf

    spark.udtf.register("prox_ngram", make_ngram_udtf())
    _spread_py(read_parquet(spark, f"{sf_dir}/documents.parquet")).createOrReplaceTempView(
        "q142_docs"
    )
    return spark.sql(
        """
        SELECT d.source,
               count(*) AS n_grams,
               count(DISTINCT concat_ws(' ', g.tok0, g.tok1, g.tok2)) AS n_unique
        FROM q142_docs d, LATERAL prox_ngram(d.text, 3) g
        GROUP BY d.source
        ORDER BY d.source
        """
    )


ORACLE_Q142 = f"""
WITH t AS (
  SELECT source, {TOKENS_DUCK} AS toks FROM documents
), g AS (
  SELECT source,
         unnest(list_transform(range(len(toks) - 2),
                               p -> toks[p + 1] || ' ' || toks[p + 2] || ' ' || toks[p + 3])) AS gram
  FROM t
  WHERE len(toks) >= 3
)
SELECT source,
       count(*) AS n_grams,
       count(DISTINCT gram) AS n_unique
FROM g
GROUP BY source
ORDER BY source
"""


# --- q145: temperature-scaled source mixture (alpha = 0.5) ------------------

def q145_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature sampling across sources — the multilingual-LM
    re-weighting p(s) ∝ count^alpha with alpha=0.5, so small sources
    are up-weighted relative to their share — computed ENTIRELY in
    integers so the hash gate holds: weights are isqrt(count) (BIGINT;
    floor of a correctly-rounded IEEE sqrt of a sub-2^52 integer is
    engine-identical), per-source quotas are integer proportional
    shares of a total//2 budget, and the keep decision is
    ``bucket32 < (quota * 2^32) div count`` against the md5-derived
    32-bit bucket — no float ever crosses an engine boundary. Same
    no-rand(), map-side-gate design as q65/q66; the only aggregates
    are the tiny per-source stats."""
    hx8 = "conv(substring(m, 1, 8), 16, 10)"
    docs = _docs(spark, sf_dir)
    stats = (
        docs.groupBy("source")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("w", F.expr("cast(floor(sqrt(cnt)) as bigint)"))
    )
    tot = stats.agg(
        F.sum("cnt").alias("total"), F.sum("w").alias("tot_w")
    ).collect()[0]
    budget = int(tot["total"]) // 2
    quotas = stats.withColumn(
        "quota", F.expr(f"({budget} * w) div {int(tot['tot_w'])}")
    ).withColumn("thr", F.expr("(quota * 4294967296L) div cnt"))
    return (
        docs.withColumn(
            "m", F.md5(F.concat(F.lit("temp|"), F.col("doc_id").cast("string")))
        )
        .withColumn("b32", F.expr(hx8).cast("long"))
        .join(F.broadcast(quotas.select("source", "cnt", "quota", "thr")), "source")
        .filter(F.col("b32") < F.col("thr"))
        .groupBy("source")
        .agg(
            F.max("cnt").alias("n_docs"),
            F.max("quota").alias("quota"),
            F.count(F.lit(1)).alias("n_kept"),
        )
        .orderBy("source")
    )


ORACLE_Q145 = """
WITH stats AS (
  SELECT source, count(*) AS cnt,
         CAST(floor(sqrt(count(*))) AS BIGINT) AS w
  FROM documents GROUP BY source
), tot AS (
  SELECT CAST(sum(cnt) AS BIGINT) // 2 AS budget,
         CAST(sum(w) AS BIGINT) AS tot_w
  FROM stats
), quotas AS (
  SELECT source, cnt, (t.budget * w) // t.tot_w AS quota,
         (((t.budget * w) // t.tot_w) * 4294967296) // cnt AS thr
  FROM stats, tot t
)
SELECT d.source,
       max(q.cnt) AS n_docs,
       max(q.quota) AS quota,
       count(*) AS n_kept
FROM (
  SELECT doc_id, source,
         CAST(('0x' || substring(md5('temp|' || doc_id::VARCHAR), 1, 8))::UBIGINT AS BIGINT) AS b32
  FROM documents
) d
JOIN quotas q ON d.source = q.source
WHERE d.b32 < q.thr
GROUP BY d.source
ORDER BY d.source
"""


# --- q146: winsorized per-source stats (outlier-robust aggregates) ----------

def q146_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlier-robust corpus statistics: per source, clamp document
    lengths into the [p10, p90] DISCRETE percentile band and aggregate
    the winsorized values — the robust mean a data card reports when a
    handful of giant or empty documents would swamp a plain average.
    DISCRETE percentiles (an actual element, not an interpolation)
    keep every intermediate an exact integer, so sums are exact and
    only the final mean divides (identical BIGINTs in both engines —
    the determinism rule). Scale shape: one percentile agg (tiny
    result, broadcast back) + one map-side clamp + one partial agg."""
    docs = _docs(spark, sf_dir).select("doc_id", "source", "n_chars")
    # percentile_disc returns DOUBLE even over integer input — the
    # value is an exact element, so the bigint cast is lossless
    bounds = docs.groupBy("source").agg(
        F.expr("percentile_disc(0.1) WITHIN GROUP (ORDER BY n_chars)")
        .cast("long")
        .alias("lo"),
        F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY n_chars)")
        .cast("long")
        .alias("hi"),
    )
    return (
        docs.join(F.broadcast(bounds), "source")
        .withColumn("wz", F.greatest("lo", F.least("hi", F.col("n_chars"))))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.max("lo").alias("p10"),
            F.max("hi").alias("p90"),
            F.sum("wz").alias("winsorized_sum"),
        )
        .withColumn(
            "winsorized_mean",
            F.round(F.col("winsorized_sum") / F.col("n_docs"), 6),
        )
        .orderBy("source")
    )


ORACLE_Q146 = """
WITH b AS (
  SELECT source,
         quantile_disc(n_chars, 0.1) AS lo,
         quantile_disc(n_chars, 0.9) AS hi
  FROM documents GROUP BY source
)
SELECT d.source,
       count(*) AS n_docs,
       max(b.lo) AS p10,
       max(b.hi) AS p90,
       CAST(sum(greatest(b.lo, least(b.hi, d.n_chars))) AS BIGINT) AS winsorized_sum,
       round(CAST(sum(greatest(b.lo, least(b.hi, d.n_chars))) AS BIGINT)
             / count(*), 6) AS winsorized_mean
FROM documents d JOIN b ON d.source = b.source
GROUP BY d.source
ORDER BY d.source
"""


# --- q148: source-concentration audit (HHI, exact rational form) ------------

def q148_source_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman concentration of sources within each
    language — the data-governance audit number ("is this slice
    dominated by one source?") a corpus release reports alongside the
    mixture table. HHI = Σ (n_i/N)² is computed in its exact rational
    form — Σ n_i² and N² are exact BIGINTs, ONE division at the end —
    so there is no float-sum ordering hazard (same reasoning as the
    Gini/entropy family; entropy's log is transcendental and
    engine-varying, HHI is division-only, which is why it is the
    gated representative). Two partial-agg passes, both keyed small."""
    docs = _docs(spark, sf_dir).select("lang", "source")
    per = docs.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("n"))
    return (
        per.groupBy("lang")
        .agg(
            F.sum("n").alias("n_docs"),
            F.count(F.lit(1)).alias("n_sources"),
            F.sum(F.col("n") * F.col("n")).alias("ssq"),
        )
        .withColumn(
            "hhi",
            F.round(F.col("ssq") / (F.col("n_docs") * F.col("n_docs")), 6),
        )
        .select("lang", "n_docs", "n_sources", "hhi")
        .orderBy("lang")
    )


ORACLE_Q148 = """
WITH per AS (
  SELECT lang, source, count(*) AS n FROM documents GROUP BY lang, source
)
SELECT lang,
       CAST(sum(n) AS BIGINT) AS n_docs,
       count(*) AS n_sources,
       round(CAST(sum(n * n) AS BIGINT) / (CAST(sum(n) AS BIGINT) * CAST(sum(n) AS BIGINT)), 6) AS hhi
FROM per
GROUP BY lang
ORDER BY lang
"""


# --- q149: log-scale length histogram (exact power-of-two bins) -------------

def q149_log_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-length distribution on a LOG scale — the histogram a
    data card actually shows, since lengths span orders of magnitude
    and q103's fixed-width bins collapse the head. The log-2 bucket is
    computed exactly as ``length(bin(n_chars))`` (bit length =
    floor(log2)+1 — integer, engine-identical; a floating log2 is
    transcendental and banned by the determinism rules). Map-side
    binning + a partial agg over ~60 possible buckets: constant-size
    shuffle at any corpus size, same scale shape as q103."""
    docs = _docs(spark, sf_dir).select("n_chars")
    return (
        docs.withColumn("bucket", F.length(F.bin("n_chars")).cast("long"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .withColumn("bucket_lo", F.expr("shiftleft(1L, cast(bucket as int) - 1)"))
        .select("bucket", "bucket_lo", "n_docs", "min_chars", "max_chars")
        .orderBy("bucket")
    )


ORACLE_Q149 = """
SELECT length(bin(n_chars))::BIGINT AS bucket,
       (1::BIGINT << (length(bin(n_chars)) - 1)) AS bucket_lo,
       count(*) AS n_docs,
       min(n_chars) AS min_chars,
       max(n_chars) AS max_chars
FROM documents
GROUP BY 1, 2
ORDER BY 1
"""


# --- q129: deterministic corpus shuffle (training order) --------------------

SHUFFLE_SEED = ":42"
SHUFFLE_TAKE = 100


def q129_corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic pseudo-random global permutation of the corpus —
    the training-order shuffle every LLM data pipeline ends with. The
    permutation key is ``md5(doc_id || seed)``: seed-reproducible,
    partition-count-independent, and no ``rand()`` (same gate rule as
    the q65 split). A full sort by the key is Spark's range-partitioned
    distributed sort — at 100 TB the output is written range-sorted and
    the training order is implicit in file order; here the first
    SHUFFLE_TAKE rows surface through TakeOrderedAndProject (no global
    single-partition window, which a row_number position column would
    force)."""
    docs = _docs(spark, sf_dir)
    return (
        docs.select(
            "doc_id",
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(SHUFFLE_SEED))).alias(
                "shuffle_key"
            ),
            "source",
        )
        .orderBy("shuffle_key", "doc_id")
        .limit(SHUFFLE_TAKE)
    )


ORACLE_Q129 = f"""
SELECT doc_id,
       md5(doc_id::VARCHAR || '{SHUFFLE_SEED}') AS shuffle_key,
       source
FROM documents
ORDER BY shuffle_key, doc_id
LIMIT {SHUFFLE_TAKE}
"""


# --- q137: curation capstone (dedup + quality + decontam + shard plan) -----

CAPSTONE_QBAR = 0.8          # quality_score floor (q33's formula)
CAPSTONE_SHARD_TOKENS = 2_000


def q137_curation_capstone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WHOLE curation pipeline as one composed query — the
    data-card table a corpus release ships with: per source, how many
    documents each independent tagger flagged (near-duplicate
    non-representatives via q36->q72, low quality via q33's score,
    benchmark contamination via q67's phrase scan), how many survive
    all three, their token mass, and the resulting shard plan
    (ceil(kept_tokens / CAPSTONE_SHARD_TOKENS)). Taggers run
    independently over the full corpus and the final filter is one
    pass — the standard industrial shape (taggers parallelize and are
    individually auditable; no tagger depends on another's output).

    Scale shape: each tagger keeps its own sub-quadratic/broadcast
    design (banded LSH + union-find, map-side scoring, broadcast
    phrase scan); the three tag lists are tiny relative to the corpus,
    so the final filter is three AQE-broadcast left joins and one
    partial-aggregated groupBy(source)."""
    docs = _docs(spark, sf_dir).select("doc_id", "source", "text")
    pairs = q36_minhash_lsh(spark, sf_dir).select("doc1", "doc2")
    dup_rm = (
        min_label_clusters(pairs)
        .filter(F.col("label") != F.col("doc_id"))
        .select("doc_id")
        .withColumn("dup", F.lit(True))
    )
    toks = docs.withColumn("tokens", F.expr(TOKENS_SPARK))
    n_stop = F.expr(
        f"size(filter(tokens, t -> array_contains(array({_STOP_SPARK}), t)))"
    ).cast("long")
    n_tokens = F.size("tokens").cast("long")
    stop_ratio = F.round(n_stop / n_tokens, 6)
    len_score = F.round(F.least(n_tokens, F.lit(50)) / 50.0, 6)
    # the contamination verdict rides the SAME map-side pass as the
    # quality score: "joins any phrase" == exists() over the
    # driver-known phrase array — the r12 form ran a second full
    # corpus scan through a broadcast crossJoin + distinct + join for
    # a per-row boolean (r13, guide §1.2/§2.4: one pass, two shuffles
    # removed; identical verdict per doc)
    phrases_arr = "array({})".format(
        ", ".join("'{}'".format(p.replace("'", "\\'")) for p in CONTAM_PHRASES)
    )
    cont_expr = F.expr(
        f"exists({phrases_arr}, p -> contains(lower(text), p))"
    )
    scored = toks.select(
        "doc_id",
        "source",
        n_tokens.alias("n_tokens"),
        F.round(0.5 * len_score + 0.5 * (1.0 - stop_ratio), 6).alias("q"),
        cont_expr.alias("cont"),
    )
    tagged = (
        scored.join(dup_rm, "doc_id", "left")
        .withColumn("lowq", F.col("q") < CAPSTONE_QBAR)
        .withColumn(
            "kept",
            ~F.coalesce(F.col("dup"), F.lit(False))
            & ~F.col("cont")
            & ~F.col("lowq"),
        )
    )
    return (
        tagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("dup"), 1).otherwise(0)).cast("long").alias("n_dup"),
            F.sum(F.when(F.col("lowq"), 1).otherwise(0)).cast("long").alias("n_lowq"),
            F.sum(F.when(F.col("cont"), 1).otherwise(0)).cast("long").alias("n_contam"),
            F.sum(F.when(F.col("kept"), 1).otherwise(0)).cast("long").alias("n_kept"),
            F.sum(F.when(F.col("kept"), F.col("n_tokens")).otherwise(0))
            .cast("long")
            .alias("kept_tokens"),
        )
        .withColumn(
            "n_shards",
            F.expr(
                f"(kept_tokens + {CAPSTONE_SHARD_TOKENS} - 1) div {CAPSTONE_SHARD_TOKENS}"
            ),
        )
        .orderBy("source")
    )


ORACLE_Q137 = f"""{_CC_LABELS_CTE},
scored AS (
  SELECT doc_id, source, n_tokens,
         round(0.5 * round(least(n_tokens, 50) / 50.0, 6)
               + 0.5 * (1.0 - round(n_stopwords / n_tokens, 6)), 6) AS q
  FROM (
    SELECT doc_id, source,
           CAST(len(tokens) AS BIGINT) AS n_tokens,
           CAST(len(list_filter(tokens, t -> list_contains([{_STOP_SPARK}], t))) AS BIGINT) AS n_stopwords
    FROM (SELECT doc_id, source, {TOKENS_DUCK} AS tokens FROM documents)
  )
),
dup_rm AS (
  SELECT doc_id FROM cc_labels WHERE cluster_id <> doc_id
),
contam AS (
  SELECT DISTINCT doc_id
  FROM documents, (VALUES {_PHRASE_VALUES}) phrases(phrase)
  WHERE contains(lower(text), phrase)
),
tagged AS (
  SELECT s.source, s.n_tokens,
         s.doc_id IN (SELECT doc_id FROM dup_rm)  AS dup,
         s.q < {CAPSTONE_QBAR}                    AS lowq,
         s.doc_id IN (SELECT doc_id FROM contam)  AS cont
  FROM scored s
)
SELECT source,
       count(*) AS n_docs,
       CAST(count(*) FILTER (WHERE dup) AS BIGINT)    AS n_dup,
       CAST(count(*) FILTER (WHERE lowq) AS BIGINT)   AS n_lowq,
       CAST(count(*) FILTER (WHERE cont) AS BIGINT)   AS n_contam,
       CAST(count(*) FILTER (WHERE NOT dup AND NOT lowq AND NOT cont) AS BIGINT) AS n_kept,
       CAST(coalesce(sum(n_tokens) FILTER (WHERE NOT dup AND NOT lowq AND NOT cont), 0) AS BIGINT) AS kept_tokens,
       CAST((coalesce(sum(n_tokens) FILTER (WHERE NOT dup AND NOT lowq AND NOT cont), 0)
             + {CAPSTONE_SHARD_TOKENS} - 1) AS BIGINT) // {CAPSTONE_SHARD_TOKENS} AS n_shards
FROM tagged
GROUP BY source
ORDER BY source
"""


# --- q163: multi-round BPE trainer -----------------------------------------

BPE_ROUNDS = 6
_US = "\x1f"  # unit separator: token boundary marker inside the doc string


BPE_MERGES_SCHEMA = "round int, lhs string, rhs string, n_occurrences long"

# per-process artifact cache: {sf_dir: manifest-table path}. NEVER a
# persistent path-keyed fixture (stale bytes if testdata regenerates,
# and a half-finished first staging would wedge every later run) —
# the q167 _chunked_table recipe.
_BPE_ARTIFACT_CACHE: dict[str, str] = {}


def _wrapped_corpus(spark: SparkSession, sf_dir: str,
                    with_source: bool = False) -> DataFrame:
    """Each document as ONE string with every token wrapped in double
    unit-separators (``␟␟tok1␟␟tok2␟␟``) — the representation on which
    a BPE merge of pair (a, b) is literally
    ``replace(s, '␟a␟␟b␟', '␟a b␟')`` (see :func:`q163_bpe_train`)."""
    cols = ["source"] if with_source else []
    return _docs(spark, sf_dir).select(
        *cols,
        F.concat(
            F.lit(_US + _US),
            F.array_join(F.expr(TOKENS_SPARK), _US + _US),
            F.lit(_US + _US),
        ).alias("s"),
    )


def _train_bpe(spark: SparkSession, sf_dir: str) -> list[tuple]:
    """The T-round trainer loop: count adjacent pairs → argmax
    (count DESC, lhs/rhs ASC) → apply the merge → recount. The
    inter-round dependency is ONE driver-side scalar (the argmax
    pair) — the pagerank fixpoint pattern with a 2-string state. Each
    round is q120's one-shuffle plan; the corpus never leaves the
    executors and the T rounds chain T cheap map-side replaces onto
    the pinned base (persisted once — re-running T string replaces per
    round beats checkpointing a corpus-sized intermediate, and the
    lineage stays T expressions deep, not T jobs deep)."""
    wrapped = _wrapped_corpus(spark, sf_dir).persist()
    merges: list[tuple] = []
    try:
        cur = wrapped
        for rnd in range(1, BPE_ROUNDS + 1):
            best = _bpe_round_frame(cur).collect()
            if not best:
                break
            lhs, rhs, n = best[0]["lhs"], best[0]["rhs"], best[0]["n_occurrences"]
            merges.append((rnd, lhs, rhs, n))
            cur = cur.withColumn(
                "s",
                F.replace(
                    F.col("s"),
                    F.lit(f"{_US}{lhs}{_US}{_US}{rhs}{_US}"),
                    F.lit(f"{_US}{lhs} {rhs}{_US}"),
                ),
            )
    finally:
        wrapped.unpersist()
    return merges


def bpe_merges_table(spark: SparkSession, sf_dir: str) -> str:
    """The PERSISTED tokenizer artifact (round-5 verdict ask): train
    once per process and COMMIT the merge table through the manifest
    log (prox_spark/table.py) — dogfooding the table format for model
    artifacts, the tokenizer-artifact hand-off every training pipeline
    has (train ships merges.txt; encode jobs consume it). Consumers
    (:func:`q163_bpe_train`, :func:`q168_bpe_encode`,
    :func:`q169_bpe_roundtrip`) read the artifact — only the first
    call in a process pays the training loop, exactly like a real
    pipeline where the encode job never retrains."""
    from prox_spark.queries._staging import staged
    from prox_spark.table import commit_snapshot

    def build(scratch: str) -> str:
        table = f"{scratch}/bpe_merges"
        merges = _train_bpe(spark, sf_dir)
        # one partition: a T-row artifact, not a distributed write
        commit_snapshot(
            spark, table,
            spark.createDataFrame(
                spark.sparkContext.parallelize(merges, 1), BPE_MERGES_SCHEMA
            ),
        )
        return table

    return staged(_BPE_ARTIFACT_CACHE, sf_dir, "prox_bpe_merges_", build)


def _bpe_merges(spark: SparkSession, sf_dir: str) -> list:
    """The artifact's rows in round order (T entries — driver-tiny)."""
    from prox_spark.table import read_table

    return (
        read_table(spark, bpe_merges_table(spark, sf_dir))
        .orderBy("round")
        .collect()
    )


def _apply_merges(expr, merges) -> "F.Column":
    """Encode: the T trained merges as T chained map-side string
    replaces — embarrassingly parallel, no shuffle, no UDF."""
    for m in merges:
        expr = F.replace(
            expr,
            F.lit(f"{_US}{m['lhs']}{_US}{_US}{m['rhs']}{_US}"),
            F.lit(f"{_US}{m['lhs']} {m['rhs']}{_US}"),
        )
    return expr


def _unapply_merges(expr, merges) -> "F.Column":
    """Decode: the merge-table INVERSE — un-merge in reverse round
    order (later merges may consume earlier merges' outputs, so the
    inverse must peel newest-first)."""
    for m in reversed(list(merges)):
        expr = F.replace(
            expr,
            F.lit(f"{_US}{m['lhs']} {m['rhs']}{_US}"),
            F.lit(f"{_US}{m['lhs']}{_US}{_US}{m['rhs']}{_US}"),
        )
    return expr


def q163_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-round BPE TRAINER (round-5 ask: iterate q120's single
    candidate scan into the actual training loop): T rounds of
    count-adjacent-pairs → pick the argmax (count DESC, then lhs/rhs
    ASC — the exact integer tie-break rule) → apply the merge to the
    corpus → recount. Emits the T-entry merge table, the artifact a
    tokenizer trainer ships — and since round 6 the table IS shipped:
    :func:`bpe_merges_table` commits it through the manifest log and
    this query reads the persisted artifact back (training runs once
    per process; q168/q169 consume the same artifact).

    The merge-application trick that keeps BOTH engines exact and
    identical: each document is one string with every token wrapped in
    double unit-separators (``␟␟tok1␟␟tok2␟␟``). BPE's greedy
    left-to-right non-overlapping merge of pair (a, b) is then
    literally ``replace(s, '␟a␟␟b␟', '␟a b␟')`` — string replace
    scans left-to-right and never rescans inside a replacement, which
    IS the BPE merge rule (in ``x x x`` the first two merge, the third
    survives), and consuming only the INNER separator of each double
    boundary lets back-to-back occurrences (``a b a b``) both merge.
    No UDF, no per-row Python: the whole round is split → zip_with
    pair explode → partial-agg count → TakeOrdered(1), plus one
    map-side replace. Scale shape: see :func:`_train_bpe`."""
    from prox_spark.table import read_table

    return (
        read_table(spark, bpe_merges_table(spark, sf_dir))
        .select("round", "lhs", "rhs", "n_occurrences")
        .orderBy("round")
    )


def _bpe_round_frame(cur: DataFrame) -> DataFrame:
    """ONE BPE round's candidate plan: split the wrapped doc strings
    back to tokens, explode adjacent pairs, partial-agg count, take
    the argmax with the (count DESC, lhs ASC, rhs ASC) integer
    tie-break. Shared by the q163 training loop and the lazy
    plan-audit twin (``q163_bpe_train#round``) so a shuffle-shape
    regression in the loop body is caught mechanically."""
    pair_expr = (
        "zip_with(slice(toks, 1, size(toks) - 1), slice(toks, 2, size(toks) - 1), "
        "(a, b) -> named_struct('lhs', a, 'rhs', b))"
    )
    return (
        cur.withColumn(
            "toks", F.expr(f"filter(split(s, '{_US}{_US}'), x -> x != '')")
        )
        .select(F.explode(F.expr(pair_expr)).alias("p"))
        .groupBy(F.col("p.lhs").alias("lhs"), F.col("p.rhs").alias("rhs"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), F.asc("lhs"), F.asc("rhs"))
        .limit(1)
    )


def bpe_round_audit_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lazy round-1 counterpart of q163's loop body, for tools/plan_audit.py."""
    wrapped = _docs(spark, sf_dir).select(
        F.concat(
            F.lit(_US + _US),
            F.array_join(F.expr(TOKENS_SPARK), _US + _US),
            F.lit(_US + _US),
        ).alias("s")
    )
    return _bpe_round_frame(wrapped)


_N_TOKS = "size(filter(split({col}, '{sep}'), x -> x != ''))"


def q168_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLICATION — the consumer of the PERSISTED merge
    artifact (:func:`bpe_merges_table`): read the T trained merges
    from the committed table (a tiny driver-side collect — the
    artifact is broadcast-sized by nature) and encode the corpus with
    T chained map-side string replaces; report, per source, the
    pre-BPE token count, the post-BPE token count, and the compression
    percentage (the number a tokenizer change is judged by before a
    training run commits to it). No training loop in this query's
    plan (the round-5 verdict ask): before/after token counts come
    from ONE projection over the wrapped corpus — the original string
    and the fully-encoded expression side by side — so the whole query
    is a single linear scan plus a per-source partial-agg rollup. At
    100 TB the artifact read costs nothing and encoding cost is the
    scan.

    Exactness: token counts are integers; the compression percentage
    is one division of exact integers rounded to 6 places — bit-equal
    across engines (the q163 determinism argument extended to the
    aggregate)."""
    merges = _bpe_merges(spark, sf_dir)
    wrapped = _wrapped_corpus(spark, sf_dir, with_source=True)
    sep = _US + _US
    enc = wrapped.select(
        "source",
        F.col("s").alias("s0"),
        _apply_merges(F.col("s"), merges).alias("s1"),
    )
    return (
        enc.select(
            "source",
            F.expr(_N_TOKS.format(col="s0", sep=sep)).alias("before"),
            F.expr(_N_TOKS.format(col="s1", sep=sep)).alias("after"),
        )
        .groupBy("source")
        .agg(
            F.sum("before").cast("long").alias("tokens_before"),
            F.sum("after").cast("long").alias("tokens_after"),
        )
        .withColumn(
            "compression_pct",
            F.round(
                F.lit(100.0) * F.col("tokens_after") / F.col("tokens_before"),
                6,
            ),
        )
        .select("source", "tokens_before", "tokens_after", "compression_pct")
        .orderBy("source")
    )


def q169_bpe_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer ROUND-TRIP fidelity gate — completes the
    q163/q168/q169 family: encode the corpus with the persisted merge
    artifact, DECODE with the merge-table inverse
    (:func:`_unapply_merges` — un-merge newest-first, since later
    merges consume earlier merges' outputs), and require exact string
    equality with the original token stream, per document. The gate a
    real pipeline runs before shipping a tokenizer: a merge table
    whose decode is lossy corrupts every downstream detokenization.

    Plan shape: encode∘decode is 2T chained map-side string replaces
    inside ONE projection — a single linear scan, zero shuffles before
    the per-source rollup, no UDF. The fidelity percentage is exact
    integer division rounded to 6 places (here 100.0 by construction —
    the oracle pins that the inverse actually inverts, bit-for-bit
    through the hash gate)."""
    merges = _bpe_merges(spark, sf_dir)
    wrapped = _wrapped_corpus(spark, sf_dir, with_source=True)
    rt = wrapped.select(
        "source",
        (
            _unapply_merges(_apply_merges(F.col("s"), merges), merges)
            == F.col("s")
        ).alias("exact"),
    )
    return (
        rt.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.when(F.col("exact"), 1).otherwise(0))
            .cast("long")
            .alias("n_roundtrip_exact"),
        )
        .withColumn(
            "fidelity_pct",
            F.round(
                F.lit(100.0) * F.col("n_roundtrip_exact") / F.col("n_docs"),
                6,
            ),
        )
        .orderBy("source")
    )


def _oracle_q168() -> str:
    """The same T rounds unrolled (q163's CTE chain, with source
    threaded through) plus the per-source before/after rollup."""
    u, uu = _US, _US + _US
    parts = [
        f"WITH d0 AS (SELECT source, '{uu}' || array_to_string({TOKENS_DUCK}, '{uu}') "
        f"|| '{uu}' AS s FROM documents)"
    ]
    for r in range(1, BPE_ROUNDS + 1):
        p = r - 1
        parts.append(
            f"""p{r} AS (
  SELECT u.lhs AS lhs, u.rhs AS rhs FROM (
    SELECT unnest(list_transform(range(1, len(toks)),
                  i -> struct_pack(lhs := toks[i], rhs := toks[i + 1]))) AS u
    FROM (SELECT list_filter(string_split(s, '{uu}'), x -> x <> '') AS toks
          FROM d{p})
  )
)"""
        )
        parts.append(
            f"b{r} AS (SELECT lhs, rhs FROM p{r} GROUP BY lhs, rhs "
            f"ORDER BY count(*) DESC, lhs ASC, rhs ASC LIMIT 1)"
        )
        parts.append(
            f"d{r} AS (SELECT source, replace(d{p}.s, "
            f"'{u}' || b{r}.lhs || '{uu}' || b{r}.rhs || '{u}', "
            f"'{u}' || b{r}.lhs || ' ' || b{r}.rhs || '{u}') AS s "
            f"FROM d{p} CROSS JOIN b{r})"
        )
    T = BPE_ROUNDS
    tok = f"len(list_filter(string_split(s, '{uu}'), x -> x <> ''))"
    parts.append(
        f"bef AS (SELECT source, CAST(sum({tok}) AS BIGINT) AS tokens_before "
        f"FROM d0 GROUP BY source)"
    )
    parts.append(
        f"aft AS (SELECT source, CAST(sum({tok}) AS BIGINT) AS tokens_after "
        f"FROM d{T} GROUP BY source)"
    )
    return ",\n".join(parts) + """
SELECT source, tokens_before, tokens_after,
       round(100.0 * tokens_after / tokens_before, 6) AS compression_pct
FROM bef JOIN aft USING (source)
ORDER BY source"""


def _oracle_q163() -> str:
    """The DuckDB re-derivation: the same T rounds unrolled as chained
    CTEs (SQL can't loop; T is a constant) — identical wrap, split,
    pair, argmax, and replace expressions."""
    u, uu = _US, _US + _US
    parts = [
        f"WITH d0 AS (SELECT '{uu}' || array_to_string({TOKENS_DUCK}, '{uu}') "
        f"|| '{uu}' AS s FROM documents)"
    ]
    for r in range(1, BPE_ROUNDS + 1):
        p = r - 1
        parts.append(
            f"""p{r} AS (
  SELECT u.lhs AS lhs, u.rhs AS rhs FROM (
    SELECT unnest(list_transform(range(1, len(toks)),
                  i -> struct_pack(lhs := toks[i], rhs := toks[i + 1]))) AS u
    FROM (SELECT list_filter(string_split(s, '{uu}'), x -> x <> '') AS toks
          FROM d{p})
  )
)"""
        )
        parts.append(
            f"b{r} AS (SELECT lhs, rhs, CAST(count(*) AS BIGINT) AS n_occurrences "
            f"FROM p{r} GROUP BY lhs, rhs "
            f"ORDER BY n_occurrences DESC, lhs ASC, rhs ASC LIMIT 1)"
        )
        parts.append(
            f"d{r} AS (SELECT replace(d{p}.s, "
            f"'{u}' || b{r}.lhs || '{uu}' || b{r}.rhs || '{u}', "
            f"'{u}' || b{r}.lhs || ' ' || b{r}.rhs || '{u}') AS s "
            f"FROM d{p} CROSS JOIN b{r})"
        )
    union = "\nUNION ALL\n".join(
        f"SELECT {r} AS round, lhs, rhs, n_occurrences FROM b{r}"
        for r in range(1, BPE_ROUNDS + 1)
    )
    return ",\n".join(parts) + f"\n{union}\nORDER BY round"


def _oracle_q169() -> str:
    """The q169 re-derivation: train (the q163 CTE chain), encode
    (d1..dT with doc_id/source threaded through for row pairing),
    DECODE (uT..u1 — the inverse replaces in reverse round order),
    then compare each decoded document against its original by
    doc_id."""
    u, uu = _US, _US + _US
    T = BPE_ROUNDS
    parts = [
        f"WITH d0 AS (SELECT doc_id, source, "
        f"'{uu}' || array_to_string({TOKENS_DUCK}, '{uu}') || '{uu}' AS s "
        f"FROM documents)"
    ]
    for r in range(1, T + 1):
        p = r - 1
        parts.append(
            f"""p{r} AS (
  SELECT u.lhs AS lhs, u.rhs AS rhs FROM (
    SELECT unnest(list_transform(range(1, len(toks)),
                  i -> struct_pack(lhs := toks[i], rhs := toks[i + 1]))) AS u
    FROM (SELECT list_filter(string_split(s, '{uu}'), x -> x <> '') AS toks
          FROM d{p})
  )
)"""
        )
        parts.append(
            f"b{r} AS (SELECT lhs, rhs FROM p{r} GROUP BY lhs, rhs "
            f"ORDER BY count(*) DESC, lhs ASC, rhs ASC LIMIT 1)"
        )
        parts.append(
            f"d{r} AS (SELECT doc_id, source, replace(d{p}.s, "
            f"'{u}' || b{r}.lhs || '{uu}' || b{r}.rhs || '{u}', "
            f"'{u}' || b{r}.lhs || ' ' || b{r}.rhs || '{u}') AS s "
            f"FROM d{p} CROSS JOIN b{r})"
        )
    prev = f"d{T}"
    for r in range(T, 0, -1):
        parts.append(
            f"u{r} AS (SELECT doc_id, source, replace({prev}.s, "
            f"'{u}' || b{r}.lhs || ' ' || b{r}.rhs || '{u}', "
            f"'{u}' || b{r}.lhs || '{uu}' || b{r}.rhs || '{u}') AS s "
            f"FROM {prev} CROSS JOIN b{r})"
        )
        prev = f"u{r}"
    return ",\n".join(parts) + f"""
SELECT d0.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(*) FILTER (WHERE u1.s = d0.s) AS BIGINT) AS n_roundtrip_exact,
       round(100.0 * (count(*) FILTER (WHERE u1.s = d0.s)) / count(*), 6) AS fidelity_pct
FROM u1 JOIN d0 USING (doc_id)
GROUP BY d0.source
ORDER BY d0.source"""


# --- q174: Count-Min-Sketch token frequencies ------------------------------

CMS_TOPK = 20


# per-process cache of the persisted vocab-count frame (see q174 body)
_CMS_CNT_CACHE: dict = {}


def q174_cms_token_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min-Sketch token frequencies — the mergeable FREQUENCY
    sketch completing the sketch family next to q19/q98's HLL
    (distinct counts): a D×W counter grid whose rows are md5-bucketed
    sums; any key's estimated count is the MIN over its D counters —
    ≥ the true count by construction, with collision error bounded by
    ~corpus/W per row. At 100 TB this is how per-shard token
    histograms merge into a global frequency oracle without ever
    materializing the full vocabulary in one place: the sketch is
    D×W longs (kilobytes) regardless of corpus size, and merging
    sketches is elementwise addition (sum is associative — the same
    one-pass partial-agg Spark already does here).

    The gate reports, for the true top-``CMS_TOPK`` tokens, the exact
    count, the CMS estimate, and the overestimate — all exact integer
    arithmetic on md5 buckets, bit-identical across engines (the q65
    hash-gate idiom applied to sketch hashing; no rand, no floats)."""
    toks = _docs(spark, sf_dir).select(
        F.explode(F.expr(TOKENS_SPARK)).alias("tok")
    )
    # persist the vocab count: the returned plan references it from
    # three branches (sketch build, truth top-k, probes), and without
    # the cache each branch re-runs the full-corpus token explode —
    # measured 5x the query's whole cost. The cached frame is one row
    # per DISTINCT token (kilobytes); it stays registered for the
    # plan's lifetime because the returned lazy plan reads through it
    # (an unpersist here would silently reintroduce the re-scans).
    # Registered per (app, sf_dir) so repeated builder invocations
    # (bench reps) reuse ONE cached copy instead of leaking one per
    # run. This mirrors the 100 TB design: the vocabulary aggregate is
    # the shared intermediate every downstream frequency consumer
    # reuses.
    cache_key = (spark.sparkContext.applicationId, sf_dir)
    if cache_key not in _CMS_CNT_CACHE:
        _CMS_CNT_CACHE[cache_key] = (
            toks.groupBy("tok")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
            .persist()
        )
    cnt = _CMS_CNT_CACHE[cache_key]
    if not (cnt.storageLevel.useMemory or cnt.storageLevel.useDisk):
        # a session-wide clearCache (bench does this between queries)
        # unpersists the frame under the registry: re-pin it, or every
        # consumer branch silently re-runs the full token explode
        cnt = cnt.persist()
        _CMS_CNT_CACHE[cache_key] = cnt
    cms = cms_grid(cnt, CMS_D, CMS_W)
    top = (
        cnt.orderBy(F.desc("cnt"), F.asc("tok"))
        .limit(CMS_TOPK)
        .withColumnRenamed("cnt", "true_cnt")
    )
    probes = top.select(
        "tok", "true_cnt",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(d).alias("d"),
                    F.expr(_cms_bucket_spark(d)).alias("bucket"),
                )
                for d in range(CMS_D)
            ])
        ).alias("p"),
    ).select("tok", "true_cnt", "p.d", "p.bucket")
    return (
        probes.join(F.broadcast(cms), ["d", "bucket"])
        .groupBy("tok", "true_cnt")
        .agg(F.min("c").cast("long").alias("cms_est"))
        .withColumn(
            "overestimate",
            (F.col("cms_est") - F.col("true_cnt")).cast("long"),
        )
        .orderBy(F.desc("true_cnt"), F.asc("tok"))
    )


def _oracle_q174() -> str:
    buckets = " UNION ALL ".join(
        f"SELECT {d} AS d, {_cms_bucket_duck(d)} AS bucket, cnt FROM cnt"
        for d in range(CMS_D)
    )
    probe_rows = " UNION ALL ".join(
        f"SELECT tok, true_cnt, {d} AS d, {_cms_bucket_duck(d)} AS bucket FROM top"
        for d in range(CMS_D)
    )
    return f"""
WITH toks AS (SELECT unnest({TOKENS_DUCK}) AS tok FROM documents),
cnt AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY tok),
cms AS (
  SELECT d, bucket, CAST(sum(cnt) AS BIGINT) AS c
  FROM ({buckets}) GROUP BY d, bucket
),
top AS (
  SELECT tok, cnt AS true_cnt FROM cnt
  ORDER BY cnt DESC, tok ASC LIMIT {CMS_TOPK}
),
probes AS ({probe_rows})
SELECT p.tok, p.true_cnt,
       CAST(min(cms.c) AS BIGINT) AS cms_est,
       CAST(min(cms.c) - p.true_cnt AS BIGINT) AS overestimate
FROM probes p JOIN cms USING (d, bucket)
GROUP BY p.tok, p.true_cnt
ORDER BY p.true_cnt DESC, p.tok ASC
"""


# --- q177: per-source length-distribution drift ----------------------------

DRIFT_BUCKET = 64  # histogram bucket width in tokens


def q177_length_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-length distribution DRIFT — the mixture-health
    check a corpus dashboard runs per ingest: how far each source's
    document-length histogram sits from the whole corpus's (a feed
    that silently switches from articles to tweets shifts its
    histogram long before its row counts look wrong). Distance is the
    L1 (total-variation×2) between the source's and the corpus's
    length histograms — computed EXACTLY in integers via
    cross-multiplication: for bucket i with source count a_i (total
    na) and corpus count b_i (total nb),
        drift_num = Σ |a_i * nb - b_i * na|,   drift_den = na * nb,
    so ``drift_pct = 100 * drift_num / (2 * den)`` is one final
    division of exact integers (0 = identical shape, 100 = disjoint
    support) — no float accumulation anywhere, bit-stable through the
    hash gate.

    Scale shape: one map-side bucket projection, one (source, bucket)
    partial-agg, a broadcast join of the tiny per-bucket corpus
    totals, and a per-source rollup — histogram width is
    corpus-independent (len//BUCKET buckets), so at 100 TB nothing
    here grows but the first partial-agg's input."""
    lens = _docs(spark, sf_dir).select(
        "source",
        (F.size(F.expr(TOKENS_SPARK)).cast("long") / DRIFT_BUCKET)
        .cast("long").alias("bucket"),
    )
    # the corpus histogram is the ROLLUP of the per-source one:
    # b_bucket = Σ_sources a_(source,bucket) — exact integer counts, so
    # deriving tot from src is bit-identical to re-aggregating lens.
    # This makes lens SINGLE-consumer: the r12 pin (two consumers) both
    # paid a cache write and raced its own cold cache when one action
    # materialized both histogram branches concurrently (the q199
    # lesson) — the rollup removes the second tokenize pass by
    # construction, no pin needed (r13, guide §1.2/§2.3). src itself
    # now has three consumers (tot, na, the join) and ReuseExchange
    # did NOT dedupe its subplan across them (profiled: two extraction
    # stages) — src is a TINY corpus-independent aggregate (sources ×
    # histogram buckets), so an eager localCheckpoint (one ~100-row
    # job) guarantees the tokenize pass runs exactly once
    src = (
        lens.groupBy("source", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("a"))
        .localCheckpoint(eager=True)
    )
    tot = src.groupBy("bucket").agg(
        F.sum("a").cast("long").alias("b")
    )
    na = src.groupBy("source").agg(F.sum("a").cast("long").alias("na"))
    nb_row = tot.agg(F.sum("b").cast("long").alias("nb"))
    # per (source, bucket) both sides; buckets the source lacks still
    # contribute |0*nb - b*na| — use a full outer join per source via
    # the corpus bucket list (left join from tot, coalesce a to 0)
    joined = (
        tot.join(na.crossJoin(F.broadcast(nb_row)), how="cross")
        .join(src, ["source", "bucket"], "left")
        .select(
            "source", "na", "nb",
            F.coalesce("a", F.lit(0)).cast("long").alias("a"),
            "b",
        )
    )
    return (
        joined.groupBy("source", "na", "nb")
        .agg(
            F.sum(F.abs(F.col("a") * F.col("nb") - F.col("b") * F.col("na")))
            .cast("long").alias("drift_num")
        )
        .withColumn(
            "drift_pct",
            F.round(
                F.lit(100.0) * F.col("drift_num")
                / (F.lit(2.0) * F.col("na") * F.col("nb")),
                6,
            ),
        )
        .select("source", F.col("na").alias("n_docs"), "drift_num", "drift_pct")
        .orderBy("source")
    )


ORACLE_Q177 = f"""
WITH lens AS (
  SELECT source, CAST(len({TOKENS_DUCK}) AS BIGINT) // {DRIFT_BUCKET} AS bucket
  FROM documents
),
src AS (
  SELECT source, bucket, CAST(count(*) AS BIGINT) AS a
  FROM lens GROUP BY source, bucket
),
tot AS (SELECT bucket, CAST(count(*) AS BIGINT) AS b FROM lens GROUP BY bucket),
na AS (SELECT source, CAST(sum(a) AS BIGINT) AS na FROM src GROUP BY source),
nb AS (SELECT CAST(sum(b) AS BIGINT) AS nb FROM tot),
joined AS (
  SELECT n.source, n.na, nb.nb, t.bucket, t.b,
         CAST(coalesce(s.a, 0) AS BIGINT) AS a
  FROM tot t CROSS JOIN na n CROSS JOIN nb
  LEFT JOIN src s ON s.source = n.source AND s.bucket = t.bucket
)
SELECT source, na AS n_docs,
       CAST(sum(abs(a * nb - b * na)) AS BIGINT) AS drift_num,
       round(100.0 * CAST(sum(abs(a * nb - b * na)) AS BIGINT)
             / (2.0 * na * nb), 6) AS drift_pct
FROM joined
GROUP BY source, na, nb
ORDER BY source
"""


# --- q164: corpus-frequency quality signals --------------------------------

RARE_COUNT_MAX = 2  # a token with global count <= this is "rare"


def q164_rare_token_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-frequency document quality signals, per source: the
    deterministic cousin of CCNet's LM-perplexity filter. A document
    whose tokens are mostly corpus-rare is usually noise (OCR garbage,
    base64, boilerplate IDs); one whose tokens are all ultra-common is
    template filler. The profile reports, per source, total tokens,
    how many are rare (global count <= RARE_COUNT_MAX), the rare
    fraction, and the source's distinct-token count — the numbers a
    data card's quality section quotes. All arithmetic is
    integer-exact until one final division of exact integers, so the
    hash gate holds bit-for-bit (no logs/perplexity — transcendental
    functions differ across libms; rank/frequency signals don't).

    Scale shape: one explode + partial-agg count builds the global
    vocabulary (shuffle ∝ distinct tokens); the frequency attach is an
    equi-join ON TOKEN (never broadcast — a 100 TB corpus's vocabulary
    is itself huge; AQE picks the strategy), and the per-source
    rollup partial-aggregates. Nothing is per-document quadratic and
    the vocabulary never lands on the driver."""
    toks = (
        _docs(spark, sf_dir)
        .select("source", F.explode(F.expr(TOKENS_SPARK)).alias("tok"))
        # pinned (NOT the r13 eager-checkpoint barrier): the barrier
        # A/B'd 0.98 -> 1.44 s — this frame is the exploded per-token
        # corpus, and materializing the explosion to storage costs far
        # more than the racing branches' second tokenize pass. Same
        # verdict as the q35/q36 shingle cache: cheap extraction,
        # heavy frame => lazy cache wins (r13, guide §5)
        .persist()
    )
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("gc"))
    return (
        toks.join(vocab, "tok")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("gc") <= RARE_COUNT_MAX, 1).otherwise(0))
            .cast("long")
            .alias("n_rare"),
            F.countDistinct("tok").cast("long").alias("n_distinct"),
        )
        .withColumn(
            "rare_pct",
            F.round(F.lit(100.0) * F.col("n_rare") / F.col("n_tokens"), 6),
        )
        .orderBy("source")
    )


ORACLE_Q164 = f"""
WITH toks AS (
  SELECT source, unnest({TOKENS_DUCK}) AS tok FROM documents
),
vocab AS (SELECT tok, count(*) AS gc FROM toks GROUP BY tok)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(count(*) FILTER (WHERE gc <= {RARE_COUNT_MAX}) AS BIGINT) AS n_rare,
       CAST(count(DISTINCT t.tok) AS BIGINT) AS n_distinct,
       round(100.0 * (count(*) FILTER (WHERE gc <= {RARE_COUNT_MAX})) / count(*), 6) AS rare_pct
FROM toks t JOIN vocab USING (tok)
GROUP BY source
ORDER BY source
"""


# --- q165: cross-source duplicate overlap matrix ----------------------------

OVERLAP_PREFIX = 24  # chars of leading text fingerprinted per doc


def q165_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplicate-overlap matrix — for every source pair,
    how many distinct document TEMPLATES (md5 of the first
    OVERLAP_PREFIX chars — shared boilerplate/headers) and how many
    distinct EXACT texts appear in both. The data-card companion to
    q30: within-source dup rates say how noisy each feed is;
    CROSS-source overlap says which feeds mirror each other or share
    a generator (a crawl that re-ingests another dump inflates
    mixture weights silently). Reported per unordered pair
    (src_a < src_b).

    Scale shape: TWO independent distinct-level self-joins, each with
    provably bounded fan-out, then a broadcast join of the two tiny
    per-pair aggregates.  `n_shared_prefix` self-joins
    distinct(pfx, source) on pfx — each prefix contributes exactly one
    row per source it appears in, so fan-out per prefix is O(sources²)
    even when the prefix fronts millions of DISTINCT bodies (the
    boilerplate-header case: "<!DOCTYPE html…" shared by K distinct
    pages per feed joins 1×1, not K×K).  `n_shared_exact` self-joins
    distinct(full, source) on the full digest with the same bound.
    Exact-shared implies prefix-shared (same text ⇒ same prefix), so
    the exact counts left-join onto the prefix matrix with a 0
    default.  Both aggregates are ≤ sources² rows — the final join is
    broadcast-trivial."""
    docs = _docs(spark, sf_dir).select(
        F.md5(F.substring("text", 1, OVERLAP_PREFIX)).alias("pfx"),
        F.md5("text").alias("full"),
        "source",
    )
    pfx_pairs = _shared_pair_join(
        docs.select("pfx", "source").distinct(), "pfx"
    ).groupBy("src_a", "src_b").agg(
        F.count("pfx").cast("long").alias("n_shared_prefix")
    )
    full_pairs = _shared_pair_join(
        docs.select("full", "source").distinct(), "full"
    ).groupBy("src_a", "src_b").agg(
        F.count("full").cast("long").alias("n_shared_exact")
    )
    return (
        pfx_pairs.join(F.broadcast(full_pairs), ["src_a", "src_b"], "left")
        .select(
            "src_a",
            "src_b",
            "n_shared_prefix",
            F.coalesce("n_shared_exact", F.lit(0)).cast("long")
            .alias("n_shared_exact"),
        )
        .orderBy("src_a", "src_b")
    )


def _shared_pair_join(fp_src: DataFrame, key: str) -> DataFrame:
    """Self-equi-join a distinct (key, source) relation on `key`,
    keeping unordered source pairs (src_a < src_b).  Because the input
    is distinct at (key, source), each key yields exactly ONE row per
    source pair it spans — fan-out is bounded by sources² per key
    regardless of how many raw documents carry the key.  After the
    join, count(key) per pair == countDistinct(key) (unit test
    `tests/test_text_units.py::test_overlap_pair_join_fanout` pins
    the O(1)-per-pair bound)."""
    a = fp_src.withColumnRenamed("source", "src_a")
    b = fp_src.select(key, F.col("source").alias("src_b"))
    return a.join(b, key).filter(F.col("src_a") < F.col("src_b"))


ORACLE_Q165 = f"""
WITH ds AS (
  SELECT DISTINCT md5(substr(text, 1, {OVERLAP_PREFIX})) AS pfx,
                  md5(text) AS full, source
  FROM documents
)
SELECT a.source AS src_a, b.source AS src_b,
       CAST(count(DISTINCT a.pfx) AS BIGINT) AS n_shared_prefix,
       CAST(count(DISTINCT CASE WHEN a.full = b.full THEN a.full END) AS BIGINT) AS n_shared_exact
FROM ds a JOIN ds b ON a.pfx = b.pfx AND a.source < b.source
GROUP BY src_a, src_b
ORDER BY src_a, src_b
"""


# --- q172: cross-source canonical dedup + post-dedup mixture ---------------


def q172_cross_source_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source CANONICAL dedup — the action q165's overlap matrix
    informs: when the same exact text appears in several feeds, ONE
    source keeps the copy (ownership rule: lexicographically smallest
    source, then smallest doc_id — fully deterministic) and the
    mixture weights are recomputed over the kept tokens only. This is
    the step every multi-crawl corpus build runs after overlap
    analysis: without it, a feed that mirrors another dump double-buys
    its tokens in the mixture.

    Per source: total docs seen, docs owned after canonical dedup,
    tokens owned, and the post-dedup mixture weight (owned tokens /
    all owned tokens). Copies of one text have identical token counts
    by construction, so the owned-token sum is exact — and because
    only the owner SOURCE is observable in the rollup, min(source) is
    the whole ownership rule (the within-source doc_id tie-break
    would matter only if kept doc ids were emitted).

    Scale shape: one partial-agg shuffle on the 16-byte text digest
    picks each text's owner (min struct — map-side combinable), then a
    per-source rollup; the global token total joins back as a
    broadcast one-row aggregate. No self-joins, nothing per-copy
    quadratic."""
    docs = _docs(spark, sf_dir).select(
        "source",
        F.md5("text").alias("full"),
        F.size(F.expr(TOKENS_SPARK)).cast("long").alias("n_toks"),
    )
    owners = (
        docs.groupBy("full")
        .agg(
            F.min("source").alias("source"),
            F.min("n_toks").alias("n_toks"),  # identical across copies
        )
        .select("source", "n_toks")
    )
    owned = owners.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_owned"),
        F.sum("n_toks").cast("long").alias("tokens_owned"),
    )
    totals = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    grand = owned.agg(F.sum("tokens_owned").alias("g")).select("g")
    return (
        totals.join(owned, "source", "left")
        .select(
            "source",
            "n_docs",
            F.coalesce("n_owned", F.lit(0)).cast("long").alias("n_owned"),
            F.coalesce("tokens_owned", F.lit(0)).cast("long")
            .alias("tokens_owned"),
        )
        .crossJoin(F.broadcast(grand))
        .withColumn(
            "weight_pct",
            F.round(F.lit(100.0) * F.col("tokens_owned") / F.col("g"), 6),
        )
        .drop("g")
        .orderBy("source")
    )


ORACLE_Q172 = f"""
WITH d AS (
  SELECT source, md5(text) AS fh,
         CAST(len({TOKENS_DUCK}) AS BIGINT) AS n_toks
  FROM documents
),
owners AS (
  SELECT fh, min(source) AS source, min(n_toks) AS n_toks
  FROM d GROUP BY fh
),
owned AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_owned,
         CAST(sum(n_toks) AS BIGINT) AS tokens_owned
  FROM owners GROUP BY source
),
totals AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM d GROUP BY source
),
grand AS (SELECT CAST(sum(tokens_owned) AS BIGINT) AS g FROM owned)
SELECT t.source, t.n_docs,
       CAST(coalesce(ow.n_owned, 0) AS BIGINT) AS n_owned,
       CAST(coalesce(ow.tokens_owned, 0) AS BIGINT) AS tokens_owned,
       round(100.0 * CAST(coalesce(ow.tokens_owned, 0) AS BIGINT) / g, 6) AS weight_pct
FROM totals t LEFT JOIN owned ow USING (source) CROSS JOIN grand
ORDER BY t.source
"""


# --- q179: Bloom-prefiltered decontamination (scale path for q76) ----------
#
# q76's eval-shingle broadcast join is right when the eval set is a few
# thousand benchmark docs. When the "exclusion set" is itself large —
# a full held-out split, a copyright takedown list, another corpus —
# its distinct-shingle table stops being broadcastable long before the
# corpus does. The classic fix is a BLOOM FILTER: ~10 bits/entry at 1%
# FPP turns a multi-TB shingle table into a few hundred MB of bit
# array that broadcasts fine, and its false positives are removed by
# an exact join that now only sees the prefiltered sliver. No false
# negatives → the final answer is bit-identical to the plain join (the
# DuckDB oracle), regardless of FPP.
#
# Spark 4 keeps bloom_filter_agg/might_contain internal-only (used by
# InjectRuntimeFilter but not SQL-registered), so the filter is built
# from first principles as DataFrame ops — which also makes the build
# DISTRIBUTED: each shingle maps to BLOOM_K bit positions (seeded
# xxhash64 family), positions partial-aggregate per 64-bit word with
# bit_or (shuffle ∝ BLOOM_BITS/64 words, not entries), and the word
# map broadcasts. The probe is map-side bit arithmetic.

BLOOM_BITS = 4096
BLOOM_K = 3

# eval docs: q76's two plus two more rows over the corpus vocabulary —
# stands in for the "big exclusion set" whose shingles we bloom
BLOOM_EVAL_DOCS = EVAL_DOCS + (
    ("eval2", "window merge sort value spark query filter group the data table hash row scan batch"),
    ("eval3", "customer order line part small big slow fast agg vector column stream key join scan"),
)


def _bloom_hit_expr(bits: int, k: int) -> str:
    """SQL predicate: every one of the K seeded bit positions for
    `shingle` is set in the broadcast `bloom` word map (word index →
    64-bit mask; absent word = all zeros)."""
    terms = []
    for j in range(k):
        pos = f"pmod(xxhash64(shingle, {j}), {bits})"
        word = f"CAST({pos} div 64 AS INT)"
        bit = f"CAST({pos} % 64 AS INT)"
        terms.append(
            f"(coalesce(element_at(bloom, {word}), CAST(0 AS BIGINT))"
            f" & shiftleft(CAST(1 AS BIGINT), {bit})) != 0"
        )
    return " AND ".join(terms)


def _eval_shingles(spark: SparkSession) -> DataFrame:
    ev = values_df(spark, list(BLOOM_EVAL_DOCS), "eval_id string, text string")
    return (
        ev.withColumn("tokens", F.expr(TOKENS_SPARK))
        .withColumn("shingles", F.array_distinct(F.expr(SHINGLES_SPARK)))
        .select(F.explode("shingles").alias("shingle"))
        .distinct()
    )


def _bloom_filter_df(shingles: DataFrame) -> DataFrame:
    """One-row (bloom: map<int,bigint>) frame — the distributed build:
    explode K positions per entry, partial-aggregate bit masks per
    word, collect the words into a map. The shuffle is bounded by the
    number of WORDS (BLOOM_BITS/64), never by the entry count."""
    pos = shingles.select(
        F.explode(
            F.array(*[
                F.pmod(F.xxhash64("shingle", F.lit(j)), F.lit(BLOOM_BITS))
                for j in range(BLOOM_K)
            ])
        ).alias("pos")
    )
    words = pos.select(
        F.expr("CAST(pos div 64 AS INT)").alias("word"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").alias(
            "mask"
        ),
    )
    return (
        words.groupBy("word")
        .agg(F.expr("bit_or(mask)").alias("mask"))
        .agg(
            F.map_from_arrays(
                F.collect_list("word"), F.collect_list("mask")
            ).alias("bloom")
        )
    )


def q179_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination against a LARGE exclusion set: Bloom-prefilter
    the corpus's shingles map-side, then remove the filter's false
    positives with an exact join that only sees the prefiltered
    sliver. Output — per contaminated doc, its distinct shared
    shingles — is identical to the plain exact join (Bloom filters
    have no false negatives), which is exactly what the DuckDB oracle
    computes; tests/test_text_units.py additionally pins
    prefilter == plain-join equality and that the filter genuinely
    prunes.

    Scale shape: the filter build shuffles ≤ BLOOM_BITS/64 words no
    matter how many entries feed it; the probe is map-side bit
    arithmetic after a one-row broadcast; only bloom-positive
    (doc, shingle) rows reach the exact join, so its shuffle is ∝ true
    contamination + FPP·corpus instead of ∝ corpus."""
    ev_shingles = _eval_shingles(spark)
    doc_shingles = _doc_shingle_arrays(spark, sf_dir).select(
        "doc_id", F.explode("shingles").alias("shingle")
    )
    candidates = (
        doc_shingles.crossJoin(F.broadcast(_bloom_filter_df(ev_shingles)))
        .filter(F.expr(_bloom_hit_expr(BLOOM_BITS, BLOOM_K)))
        .select("doc_id", "shingle")
    )
    # exact verify: FPs die here; at test scale the eval side happens
    # to broadcast, at real scale AQE picks shuffle-hash on the sliver
    return (
        candidates.join(ev_shingles.hint("broadcast"), "shingle")
        .groupBy("doc_id")
        .agg(F.countDistinct("shingle").cast("long").alias("n_hit_shingles"))
        .orderBy("doc_id")
    )


_BLOOM_EVAL_VALUES = ", ".join(f"('{i}', '{t}')" for i, t in BLOOM_EVAL_DOCS)

ORACLE_Q179 = f"""
{DUCK_SHINGLE_CTE},
ev(eval_id, etext) AS (VALUES {_BLOOM_EVAL_VALUES}),
etoks AS (
  SELECT eval_id, string_split_regex(lower(trim(etext)), '\\s+') AS tokens FROM ev
), eshingled AS (
  SELECT eval_id, {SHINGLES_DUCK} AS shingles FROM etoks
), eshingles AS (
  SELECT DISTINCT unnest(shingles) AS shingle FROM eshingled
)
SELECT doc_id, CAST(count(DISTINCT s.shingle) AS BIGINT) AS n_hit_shingles
FROM shingles s JOIN eshingles e USING (shingle)
GROUP BY doc_id
ORDER BY doc_id
"""


# --- q180: duplicated n-gram span coverage (substring-level dedup signal) ---

DUPGRAM_N = 8  # word n-gram length, à la Lee et al.'s 50-token spans


def _dup_gram_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_tokens, p) — the 1-based start positions of every
    DUPGRAM_N-token gram occurrence that also occurs verbatim in at
    least one OTHER document. Grams are md5-hashed inside the
    extraction so the duplicate-vocabulary shuffle keys are 32-char
    digests, never gram text; shared by q180 (coverage profile) and
    q185 (removal)."""
    grams_expr = (
        f"transform(sequence(1, size(tokens) - {DUPGRAM_N - 1}), "
        f"i -> md5(concat_ws(' ', slice(tokens, i, {DUPGRAM_N}))))"
    )
    docs = (
        _docs(spark, sf_dir)
        .withColumn("tokens", F.expr(TOKENS_SPARK))
        # guard: sequence(1, 0) yields [1, 0] (descending), not empty
        .filter(F.size("tokens") >= DUPGRAM_N)
        .select(
            "doc_id",
            F.size("tokens").cast("long").alias("n_tokens"),
            F.posexplode(F.expr(grams_expr)).alias("pos0", "gram"),
        )
        .select("doc_id", "n_tokens", (F.col("pos0") + 1).alias("p"), "gram")
    )
    # "appears in >= 2 DISTINCT docs" == "min(doc_id) != max(doc_id)"
    # (valid exactly because the threshold is the literal 2, in both
    # engines), computed as WHOLE-PARTITION window aggregates
    # over the gram digest instead of the r12 {groupBy + join-back}
    # pair: ONE shuffle of the digest frame replaces two (the agg
    # partials and the join probe), and the extraction frame becomes
    # SINGLE-consumer — the r12 pin both paid a cache write and raced
    # its own cold cache when one action materialized the agg and join
    # branches concurrently (profiled: two ~9 s-CPU extraction stages
    # despite the pin). No skew hazard: the partition key is a 32-char
    # md5 digest (uniform), and a gram's group size is its cross-corpus
    # occurrence count — bounded by the duplication factor, never a
    # hot-key constant (r13, guide §2.3/§2.4)
    wg = Window.partitionBy("gram")
    return (
        docs.withColumn("d0", F.min("doc_id").over(wg))
        .withColumn("d1", F.max("doc_id").over(wg))
        .filter(F.col("d0") != F.col("d1"))
        .select("doc_id", "n_tokens", "p")
    )


def q180_dup_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level duplication profile (the signal behind
    "Deduplicating Training Data Makes Language Models Better"-style
    span dedup): for every document, what fraction of its TOKENS sits
    inside some DUPGRAM_N-token span that also occurs verbatim in at
    least one OTHER document. Doc-level dedup (q30/q36) misses these —
    two distinct pages sharing a 40-token boilerplate footer are not
    near-dups, but the footer still trains the model N times.

    Per doc: token count, n-gram count, how many gram OCCURRENCES are
    cross-doc duplicated, and the union length of their (overlapping)
    spans — merged with the classic sorted-starts running-max-end
    sweep, a per-doc window over only the duplicated positions.

    Scale shape: grams are md5-hashed inside the extraction (the
    shuffle key is a 32-char digest, never 8 words of text); the
    duplicate vocabulary is one partial-agg groupBy on the digest; the
    attach back is a digest equi-join (not broadcast — the duplicated-
    gram table of a 100 TB corpus is itself large); the interval merge
    shuffles only (doc, position) pairs of duplicated grams. Nothing
    is quadratic in corpus size; the HOF gram extraction re-slices per
    index (no codegen) but is linear per token and map-side."""
    hits = _dup_gram_hits(spark, sf_dir)
    w = (
        Window.partitionBy("doc_id")
        .orderBy("p")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    covered = hits.withColumn(
        "prev_end", F.max(F.col("p") + DUPGRAM_N).over(w)
    ).withColumn(
        "add",
        F.greatest(
            F.lit(0),
            F.col("p")
            + DUPGRAM_N
            - F.greatest(F.coalesce(F.col("prev_end"), F.col("p")), F.col("p")),
        ),
    )
    return (
        covered.groupBy("doc_id", "n_tokens")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_dup_grams"),
            F.sum("add").cast("long").alias("covered_tokens"),
        )
        .withColumn(
            "dup_token_pct",
            F.round(
                F.lit(100.0) * F.col("covered_tokens") / F.col("n_tokens"), 6
            ),
        )
        .select(
            "doc_id", "n_tokens", "n_dup_grams", "covered_tokens",
            "dup_token_pct",
        )
        .orderBy("doc_id")
    )


ORACLE_Q180 = f"""
WITH t AS (
  SELECT doc_id, {TOKENS_DUCK} AS tokens FROM documents
), g AS (
  SELECT doc_id, CAST(len(tokens) AS BIGINT) AS n_tokens,
         unnest(list_transform(
           range(1, len(tokens) - {DUPGRAM_N - 2}),
           i -> struct_pack(
             p := CAST(i AS BIGINT),
             gram := md5(array_to_string(list_slice(tokens, i, i + {DUPGRAM_N - 1}), ' '))
           )
         ), recursive := true) AS _
  FROM t
  WHERE len(tokens) >= {DUPGRAM_N}
), dup AS (
  SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2
), hits AS (
  SELECT doc_id, n_tokens, p FROM g JOIN dup USING (gram)
), covered AS (
  SELECT doc_id, n_tokens, p,
         max(p + {DUPGRAM_N}) OVER (
           PARTITION BY doc_id ORDER BY p
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ) AS prev_end
  FROM hits
)
SELECT doc_id, n_tokens,
       CAST(count(*) AS BIGINT) AS n_dup_grams,
       CAST(sum(greatest(0, p + {DUPGRAM_N}
                - greatest(coalesce(prev_end, p), p))) AS BIGINT)
         AS covered_tokens,
       round(100.0 * CAST(sum(greatest(0, p + {DUPGRAM_N}
                - greatest(coalesce(prev_end, p), p))) AS BIGINT)
             / n_tokens, 6) AS dup_token_pct
FROM covered
GROUP BY doc_id, n_tokens
ORDER BY doc_id
"""


# --- q193: unified dedup data card (all signals, one pass) -----------------

SPAN_FLAG_QUARTER = 4  # span-flagged when covered_tokens * 4 >= n_tokens


def q193_dedup_data_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE production curation table: every dedup signal the engine
    computes, composed into one per-source data card — the decision
    input a training-data pipeline actually consumes ("how much of
    source X survives which dedup policy?"). Three arms, each reusing
    its operator's existing sub-quadratic front half:

    - EXACT (q30/q172's rule): md5-digest groups, keep-lowest-id —
      copies after the first are exact dups; one partial-agg shuffle
      on 16-byte digests.
    - SPAN (q180's substring signal): a doc is span-flagged when ≥ 1/4
      of its tokens sit under cross-doc duplicated DUPGRAM_N-gram
      spans (exact integer compare, covered·4 ≥ n) — catches the
      boilerplate sharing doc-level dedup misses.
    - SEMANTIC (q170's SemDeDup verdict via
      :func:`prox_spark.queries.similarity.semdedup_dup_ids`):
      within-cluster cosine ≥ τ, higher-id member is the dup; LEFT
      join on doc_id — embeddings cover a PREFIX of the corpus (the
      realistic embed-a-sample regime), unembedded docs are never
      semantically flagged.

    n_clean counts docs no arm flagged — the survivors a
    keep-the-cleanest policy would train on. Image/audio dedup
    (q176/q186) stay per-modality cards: their entities are media
    objects, not documents.

    Scale shape: three independent sub-quadratic fronts (digest agg,
    gram-digest agg + interval merge, cluster-bucketed pairs) joined
    back to the corpus on doc_id — the card costs the sum of its
    arms, never a product; at 100 TB each arm is the same plan it
    ships alone."""
    from prox_spark.queries.similarity import semdedup_dup_ids

    docs = _docs(spark, sf_dir).select(
        "doc_id", "source", F.md5("text").alias("digest")
    )
    owners = docs.groupBy("digest").agg(F.min("doc_id").alias("keeper"))
    cov = q180_dup_span_coverage(spark, sf_dir).select(
        "doc_id",
        (
            F.col("covered_tokens") * SPAN_FLAG_QUARTER >= F.col("n_tokens")
        ).alias("span_flagged"),
    )
    sem = semdedup_dup_ids(spark, sf_dir).withColumn(
        "semantic_dup", F.lit(True)
    )
    card = (
        docs.join(owners, "digest")
        .withColumn("exact_dup", F.col("doc_id") > F.col("keeper"))
        .join(cov, "doc_id", "left")
        .join(sem, "doc_id", "left")
        .select(
            "source",
            "exact_dup",
            F.coalesce("span_flagged", F.lit(False)).alias("span_flagged"),
            F.coalesce("semantic_dup", F.lit(False)).alias("semantic_dup"),
        )
    )
    flag = lambda c: F.sum(F.when(F.col(c), 1).otherwise(0)).cast("long")  # noqa: E731
    return (
        card.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            flag("exact_dup").alias("n_exact_dup"),
            flag("span_flagged").alias("n_span_flagged"),
            flag("semantic_dup").alias("n_semantic_dup"),
            F.sum(
                F.when(
                    ~F.col("exact_dup")
                    & ~F.col("span_flagged")
                    & ~F.col("semantic_dup"),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_clean"),
        )
        .orderBy("source")
    )


def _oracle_q193() -> str:
    from prox_spark.queries.similarity import _SD_K_DUCK, SEMDEDUP_TAU

    sd_dot = DOT_DUCK.format(a="a.dd", b="b.dd")
    nrm = DOT_DUCK.format(a="embedding::DOUBLE[]", b="embedding::DOUBLE[]")
    cdot = DOT_DUCK.format(a="e.dd", b="cent.cdd")
    return f"""
WITH d AS (SELECT doc_id, source, md5(text) AS digest FROM documents),
own AS (SELECT digest, min(doc_id) AS keeper FROM d GROUP BY digest),
t AS (
  SELECT doc_id, {TOKENS_DUCK} AS tokens FROM documents
), g AS (
  SELECT doc_id, CAST(len(tokens) AS BIGINT) AS n_tokens,
         unnest(list_transform(
           range(1, len(tokens) - {DUPGRAM_N - 2}),
           i -> struct_pack(
             p := CAST(i AS BIGINT),
             gram := md5(array_to_string(list_slice(tokens, i, i + {DUPGRAM_N - 1}), ' '))
           )
         ), recursive := true) AS _
  FROM t
  WHERE len(tokens) >= {DUPGRAM_N}
), dupg AS (
  SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2
), hits AS (
  SELECT doc_id, n_tokens, p FROM g JOIN dupg USING (gram)
), covered AS (
  SELECT doc_id, n_tokens, p,
         max(p + {DUPGRAM_N}) OVER (
           PARTITION BY doc_id ORDER BY p
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ) AS prev_end
  FROM hits
), cov AS (
  SELECT doc_id,
         CAST(sum(greatest(0, p + {DUPGRAM_N}
              - greatest(coalesce(prev_end, p), p))) AS BIGINT)
           * {SPAN_FLAG_QUARTER} >= n_tokens AS span_flagged
  FROM covered
  GROUP BY doc_id, n_tokens
), e AS (
  SELECT vec_id, embedding::DOUBLE[] AS dd, sqrt({nrm}) AS nrm
  FROM embeddings
),
cent AS (SELECT vec_id AS cid, dd AS cdd, nrm AS cnrm FROM e WHERE vec_id < {_SD_K_DUCK}),
ranked AS (
  SELECT e.vec_id, e.dd, e.nrm, cent.cid,
         row_number() OVER (
           PARTITION BY e.vec_id
           ORDER BY {cdot} / (e.nrm * cent.cnrm) DESC, cent.cid ASC
         ) AS crank
  FROM e CROSS JOIN cent
),
assign AS (SELECT vec_id, cid, dd, nrm FROM ranked WHERE crank = 1),
sem AS (
  SELECT DISTINCT b.vec_id AS doc_id
  FROM assign a JOIN assign b ON a.cid = b.cid AND a.vec_id < b.vec_id
  WHERE {sd_dot} / (a.nrm * b.nrm) >= {SEMDEDUP_TAU}
)
SELECT d.source,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(CASE WHEN d.doc_id > own.keeper THEN 1 ELSE 0 END) AS BIGINT)
    AS n_exact_dup,
  CAST(sum(CASE WHEN coalesce(cov.span_flagged, FALSE) THEN 1 ELSE 0 END) AS BIGINT)
    AS n_span_flagged,
  CAST(sum(CASE WHEN sem.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS n_semantic_dup,
  CAST(sum(CASE WHEN d.doc_id <= own.keeper
            AND NOT coalesce(cov.span_flagged, FALSE)
            AND sem.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS n_clean
FROM d JOIN own USING (digest)
LEFT JOIN cov ON cov.doc_id = d.doc_id
LEFT JOIN sem ON sem.doc_id = d.doc_id
GROUP BY d.source
ORDER BY d.source
"""


# --- q185: duplicated-span REMOVAL (the action on q180's signal) -----------


def q185_dup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level dedup applied: excise every token covered by a
    cross-doc duplicated DUPGRAM_N-gram and re-emit the cleaned
    corpus — the Lee-et-al. substring-dedup WRITE path, where q180 is
    the read-only profile. Reported per source: docs, tokens
    before/after, removal percentage, and an integer checksum over
    the cleaned TEXTS (sum of each doc's md5 32-bit prefix), so the
    gate pins the actual reconstructed strings, not just counts —
    off-by-one span boundaries or misordered reassembly fail the
    hash.

    Scale shape: covered positions come from exploding each duplicate
    hit into its DUPGRAM_N indices (linear in hits, distinct-ed on
    (doc, idx)); the excision is one anti-join keyed (doc, idx); the
    reassembly is a per-doc sort-by-index aggregation (shuffle keyed
    by doc_id, payload tokens). Docs shorter than a gram — and docs
    with no duplicated span — pass through untouched via the final
    left join, at zero extra cost."""
    base = (
        _docs(spark, sf_dir)
        .withColumn("tokens", F.expr(TOKENS_SPARK))
        .select(
            "doc_id", "source",
            F.size("tokens").cast("long").alias("n_tokens"), "tokens",
        )
        # pinned (r13 A/B'd the eager-checkpoint barrier: 2.30 ->
        # 2.38 s, flat-to-worse — the tokens-array payload makes the
        # checkpoint write as dear as the duplicated tokenize)
        .persist()
    )
    toks = base.select(
        "doc_id", F.posexplode("tokens").alias("i0", "tok")
    ).select("doc_id", (F.col("i0") + 1).alias("idx"), "tok")
    covered = (
        _dup_gram_hits(spark, sf_dir)
        .select(
            "doc_id",
            F.explode(F.expr(f"sequence(p, p + {DUPGRAM_N - 1})")).alias("idx"),
        )
        # NO distinct: the sole consumer is the LEFT ANTI join below,
        # whose semantics ignore right-side duplicates — the dedup was
        # a full extra shuffle + aggregate of the exploded index rows
        # for nothing (r12, guide §2.4 remove shuffles outright)
    )
    cleaned = (
        toks.join(covered, ["doc_id", "idx"], "left_anti")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_kept"),
            F.concat_ws(
                " ",
                F.expr(
                    "transform(array_sort(collect_list(struct(idx, tok))), "
                    "s -> s.tok)"
                ),
            ).alias("clean"),
        )
    )
    perdoc = base.join(cleaned, "doc_id", "left").select(
        "source",
        "n_tokens",
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        F.coalesce("clean", F.lit("")).alias("clean"),
    )
    return (
        perdoc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("toks_before"),
            F.sum("n_kept").cast("long").alias("toks_after"),
            F.sum(
                F.expr("CAST(conv(substring(md5(clean), 1, 8), 16, 10) AS BIGINT)")
            ).cast("long").alias("clean_check"),
        )
        .withColumn(
            "removed_pct",
            F.round(
                F.lit(100.0)
                * (F.col("toks_before") - F.col("toks_after"))
                / F.col("toks_before"),
                6,
            ),
        )
        .select(
            "source", "n_docs", "toks_before", "toks_after",
            "removed_pct", "clean_check",
        )
        .orderBy("source")
    )


ORACLE_Q185 = f"""
WITH t AS (
  SELECT doc_id, source, {TOKENS_DUCK} AS tokens FROM documents
), g AS (
  SELECT doc_id,
         unnest(list_transform(
           range(1, len(tokens) - {DUPGRAM_N - 2}),
           i -> struct_pack(
             p := CAST(i AS BIGINT),
             gram := md5(array_to_string(list_slice(tokens, i, i + {DUPGRAM_N - 1}), ' '))
           )
         ), recursive := true) AS _
  FROM t
  WHERE len(tokens) >= {DUPGRAM_N}
), dup AS (
  SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2
), covered AS (
  SELECT DISTINCT doc_id, unnest(range(p, p + {DUPGRAM_N})) AS idx
  FROM g JOIN dup USING (gram)
), toks AS (
  SELECT doc_id, _.idx AS idx, _.tok AS tok FROM (
    SELECT doc_id, unnest(list_transform(
      range(1, len(tokens) + 1),
      i -> struct_pack(idx := CAST(i AS BIGINT), tok := tokens[i])
    )) AS _
    FROM t
  )
), kept AS (
  SELECT toks.* FROM toks ANTI JOIN covered USING (doc_id, idx)
), cleaned AS (
  SELECT doc_id, count(*) AS n_kept,
         array_to_string(
           list_transform(
             list_sort(list(struct_pack(idx := idx, tok := tok))),
             s -> s.tok
           ), ' ') AS clean
  FROM kept GROUP BY doc_id
), perdoc AS (
  SELECT t.source, CAST(len(t.tokens) AS BIGINT) AS n_tokens,
         CAST(coalesce(c.n_kept, 0) AS BIGINT) AS n_kept,
         coalesce(c.clean, '') AS clean
  FROM t LEFT JOIN cleaned c USING (doc_id)
)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS toks_before,
       CAST(sum(n_kept) AS BIGINT) AS toks_after,
       round(100.0 * (CAST(sum(n_tokens) AS BIGINT) - CAST(sum(n_kept) AS BIGINT))
             / CAST(sum(n_tokens) AS BIGINT), 6) AS removed_pct,
       CAST(sum(CAST(('0x' || substring(md5(clean), 1, 8))::UBIGINT AS BIGINT))
         AS BIGINT) AS clean_check
FROM perdoc
GROUP BY source
ORDER BY source
"""


# --- q181: bigram-LM fluency score (deterministic perplexity stand-in) -----

FLUENCY_K = 15  # worst-scoring docs reported
FLUENCY_MICRO = 1_000_000  # fixed-point scale for probabilities


def q181_bigram_fluency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM fluency filter, made hash-gate deterministic:
    score each document by its MEAN TRANSITION PROBABILITY under the
    corpus's own add-one-smoothed bigram model —
    P(v|u) = (c(uv)+1)/(c(u·)+V) — in BIGINT micro-units (one floor
    division per bigram, no logs: perplexity's transcendentals differ
    across libms, while the probabilities themselves rank documents
    identically for filtering). Low scores = token sequences the
    corpus has never seen adjacent — OCR noise, shuffled text, wrong-
    language fragments; q164 profiles RARE TOKENS, this profiles rare
    TRANSITIONS, which catches garbage built from common words.
    Reports the FLUENCY_K worst documents.

    Scale shape: bigram occurrences come from one map-side zip_with
    (no per-index re-slice); the model is two partial-agg groupBys
    (c(uv) on the pair, c(u·) on the prefix); the attach is two
    token-keyed equi-joins (never broadcast — a web corpus's bigram
    table is huge; AQE decides), the vocabulary size joins as a
    broadcast one-row frame, and the final top-k is a
    TakeOrderedAndProject."""
    bigrams_expr = (
        "zip_with(slice(tokens, 1, size(tokens) - 1), "
        "slice(tokens, 2, size(tokens) - 1), "
        "(a, b) -> named_struct('pfx', a, 'bg', concat(a, ' ', b)))"
    )
    occ = (
        _docs(spark, sf_dir)
        .withColumn("tokens", F.expr(TOKENS_SPARK))
        .filter(F.size("tokens") >= 2)
        .select("doc_id", F.explode(F.expr(bigrams_expr)).alias("o"))
        .select("doc_id", F.col("o.pfx").alias("pfx"), F.col("o.bg").alias("bg"))
        # EAGER localCheckpoint, not the r12 persist: THREE subtrees
        # (c_uv model, c_u model, the scored attach) consume occ inside
        # one action, and a lazy pin let the branches race the cold
        # cache — the tokenize + zip_with + explode pass still ran per
        # consumer (the q75 adjudication, r13 guide §5). The barrier
        # materializes occ exactly once before the consumers plan.
        .localCheckpoint(eager=True)
    )
    c_bg = occ.groupBy("bg").agg(F.count(F.lit(1)).alias("c_uv"))
    c_pfx = occ.groupBy("pfx").agg(F.count(F.lit(1)).alias("c_u"))
    vocab = (
        _docs(spark, sf_dir)
        .select(F.explode(F.expr(TOKENS_SPARK)).alias("tok"))
        .agg(F.countDistinct("tok").alias("v"))
    )
    scored = (
        occ.join(c_bg, "bg")
        .join(c_pfx, "pfx")
        .crossJoin(F.broadcast(vocab))
        .withColumn(
            "p_micro",
            F.expr(f"CAST({FLUENCY_MICRO} * (c_uv + 1) AS BIGINT) div (c_u + v)"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum("p_micro").alias("sum_micro"),
        )
        .withColumn(
            "score_micro", F.expr("sum_micro div n_bigrams").cast("long")
        )
        .select("doc_id", "n_bigrams", "score_micro")
        .orderBy("score_micro", "doc_id")
        .limit(FLUENCY_K)
    )


ORACLE_Q181 = f"""
WITH t AS (
  SELECT doc_id, {TOKENS_DUCK} AS tokens FROM documents
), occ AS (
  SELECT doc_id, _.pfx AS pfx, _.bg AS bg
  FROM (
    SELECT doc_id, unnest(list_transform(
      range(1, len(tokens)),
      i -> struct_pack(pfx := tokens[i], bg := tokens[i] || ' ' || tokens[i+1])
    )) AS _
    FROM t WHERE len(tokens) >= 2
  )
), c_bg AS (SELECT bg, count(*) AS c_uv FROM occ GROUP BY bg),
c_pfx AS (SELECT pfx, count(*) AS c_u FROM occ GROUP BY pfx),
vocab AS (
  SELECT count(DISTINCT tok) AS v
  FROM (SELECT unnest({TOKENS_DUCK}) AS tok FROM documents)
), scored AS (
  SELECT doc_id,
         CAST({FLUENCY_MICRO} * (c_uv + 1) AS BIGINT) // (c_u + v) AS p_micro
  FROM occ JOIN c_bg USING (bg) JOIN c_pfx USING (pfx) CROSS JOIN vocab
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(sum(p_micro) // count(*) AS BIGINT) AS score_micro
FROM scored
GROUP BY doc_id
ORDER BY score_micro, doc_id
LIMIT {FLUENCY_K}
"""


# --- q209: KMV distinct sketch (deterministic, mergeable) ------------------

KMV_K = 16
_KMV_POW48 = float(2**48)


def q209_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-minimum-values DISTINCT sketch per source — the cardinality
    estimator of the sketch family (CMS = frequencies q174, Bloom =
    membership q179, KMV = distinct counts): hash every doc digest to
    a uniform u ∈ [0,1) and keep the k smallest; the estimate is the
    classic (k−1)/u₍k₎. Fully DETERMINISTIC (md5-derived u, no rand,
    no HLL register randomness), so the oracle recomputes identical
    estimates. The pinned ``mergeable`` flag verifies the property
    that makes KMV the distributed choice: the k smallest of the
    UNION of per-source sketches equal the k smallest over the whole
    corpus — shard sketches merge exactly, estimation at 100 TB is a
    k-row-per-shard union, never a global distinct.

    Scale shape: one map-side hash projection, a per-source top-k
    window over DISTINCT u (shuffle keyed by source), k·sources rows
    ever retained."""
    docs = _docs(spark, sf_dir)
    u = (
        kmv_u_frame(docs, "text", ["source"])
        .distinct()
        # EAGER barrier (r13): four consumers raced the r12 pin's
        # cold cache inside one action (the q75 adjudication); the
        # checkpoint materializes the narrow (source, u) projection
        # exactly once
        .localCheckpoint(eager=True)
    )
    w = Window.partitionBy("source").orderBy("u")
    sk = (
        u.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= KMV_K)
        # pinned: consumed by the uk aggregate AND the merged-sketch
        # probe — k·sources rows
        .persist()
    )
    per_source = (
        sk.groupBy("source")
        .agg(
            F.max(F.when(F.col("rn") == KMV_K, F.col("u"))).alias("uk"),
        )
        .join(
            u.groupBy("source").agg(
                F.count(F.lit(1)).cast("long").alias("n_exact")
            ),
            "source",
        )
        .withColumn(
            "est", F.round(F.lit(float(KMV_K - 1)) / F.col("uk"), 6)
        )
        .select("source", "n_exact", "est")
    )
    # merge property: k smallest of the union of per-source sketches
    # == k smallest over the full corpus (tiny driver-side compare —
    # k·sources vs k doubles)
    merged = sorted(
        r["u"] for r in sk.select("u").collect()
    )[:KMV_K]
    direct = [
        r["u"]
        for r in u.select("u").orderBy("u").limit(KMV_K).collect()
    ]
    mergeable = bool(merged == direct)
    return (
        per_source.withColumn("mergeable", F.lit(mergeable))
        .orderBy("source")
    )


def _oracle_q209() -> str:
    return f"""
WITH u_t AS (
  SELECT DISTINCT source, {_u48_expr(_HEXV_DUCK)} AS u
  FROM (SELECT source, md5(text) AS m FROM documents)
), ranked AS (
  SELECT source, u,
         row_number() OVER (PARTITION BY source ORDER BY u) AS rn
  FROM u_t
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_exact,
       round({float(KMV_K - 1)!r} / max(CASE WHEN rn = {KMV_K} THEN u END),
             6) AS est,
       TRUE AS mergeable
FROM ranked
GROUP BY source
ORDER BY source
"""


# --- q206: leakage-free split assignment (cluster-level hashing) -----------

_LSH_PAIRS_CACHE: dict[str, tuple[str, str]] = {}


def _lsh_pairs_table(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Staged once per process: q36's verified MinHash-LSH pair list
    AND its connected-component label table, each committed as a
    manifest table; returns ``(pairs_path, labels_path)``. In
    production both are MAINTAINED indexes (q221's ``nd_pairs``
    registry kind gates exactly that write path: per-batch bands join
    the standing index, work ∝ batch), so split assignment serves
    from the stored tables instead of re-running the shingle/minhash/
    band/verify front + clustering fixpoint per call — the serving
    conversion that took q42 from 2.42 s to 0.11 s. Committing the
    labels also matters for the SERVED plan's engine path: the
    driver-union-find label frame is Python-RDD-backed
    (applySchemaToPythonRDD — every action on a plan containing it
    pays a Python (de)serialization pass), while the committed table
    reads back as a pure-JVM parquet scan."""
    from prox_spark.table import commit_snapshot, read_table

    from ._staging import staged

    def build(scratch: str) -> tuple[str, str]:
        pairs_t = f"{scratch}/lsh_pairs"
        labels_t = f"{scratch}/lsh_labels"
        commit_snapshot(
            spark, pairs_t, q36_minhash_lsh(spark, sf_dir),
            stat_cols=["doc1"], n_files=2,
        )
        pairs = read_table(spark, pairs_t).select("doc1", "doc2")
        commit_snapshot(
            spark, labels_t, min_label_clusters(pairs),
            stat_cols=["doc_id"], n_files=2,
        )
        return pairs_t, labels_t

    return staged(_LSH_PAIRS_CACHE, sf_dir, "prox_lshpairs_", build)


def q206_leakage_free_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test assignment WITHOUT near-duplicate leakage — the
    contamination mode q65's per-document hashing cannot prevent: two
    near-duplicates hash to different splits, and the eval set silently
    contains paraphrases of training documents. The fix is to hash the
    document's DUP-CLUSTER REPRESENTATIVE (q72's connected-component
    label; singletons represent themselves), so whole clusters
    co-locate by construction. The output carries both leakage
    counters computed from the LSH near-dup pairs: ``cross_split_
    pairs`` under cluster hashing (structurally zero — any other value
    is a clustering or assignment bug) next to ``naive_cross_pairs``
    under q65's per-doc hashing (the leakage actually avoided).

    Scale shape: the pair list is SERVED from the staged committed
    artifact (:func:`_lsh_pairs_table` — in production q221's
    maintained ``nd_pairs`` index), never recomputed per call;
    assignment is a map-side md5 projection; and each leakage counter
    broadcasts the PAIR-derived side into the O(N) assignment scans,
    never the reverse (broadcasting a corpus-wide doc_id→split map is
    an executor OOM at crawl scale — same join shape as the capstone's
    leakage audit, llm_jobs.py splits())."""
    rows = q206_audit_plan(spark, sf_dir).collect()
    straddle = {r["k"]: r["a"] for r in rows if r["kind"] == "straddle"}
    cross = int(straddle.get("cluster", 0))
    naive_cross = int(straddle.get("naive", 0))
    per_split = [
        {"split": r["k"], "n_docs": r["a"], "n_clusters": r["b"]}
        for r in rows
        if r["kind"] == "stat"
    ]
    # localize the 3-row result as a pure-JVM VALUES LocalRelation:
    # the counters above already forced the real work, and the
    # caller's own count/collect on the returned frame must not
    # replay the assignment scans (nor pay a Python-RDD round-trip,
    # which createDataFrame(rows) would)
    schema = (
        "split string, n_docs bigint, n_clusters bigint, "
        "cross_split_pairs bigint, naive_cross_pairs bigint"
    )
    if not per_split:  # empty corpus: VALUES () would be a parse error
        return empty_df(spark, schema)
    vals = ", ".join(
        f"('{r['split']}', CAST({int(r['n_docs'])} AS BIGINT), "
        f"CAST({int(r['n_clusters'])} AS BIGINT), "
        f"CAST({cross} AS BIGINT), CAST({naive_cross} AS BIGINT))"
        for r in per_split
    )
    return spark.sql(
        f"SELECT * FROM (VALUES {vals}) AS t(split, n_docs, n_clusters, "
        "cross_split_pairs, naive_cross_pairs) ORDER BY split"
    )


def q206_audit_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LAZY single-job plan behind q206: per-split stats and both
    leakage counters as one unioned aggregate, exposed so plan tests
    can assert its broadcast discipline (the only hinted broadcasts
    are the PAIR-DERIVED frames — ``pairs`` and the pair-sized
    ``half`` — never the corpus-wide assignment or label frames)."""
    from prox_spark.table import read_table

    pairs_t, labels_t = _lsh_pairs_table(spark, sf_dir)
    pairs = read_table(spark, pairs_t).select("doc1", "doc2")
    labels = read_table(spark, labels_t).select("doc_id", "label")
    docs = _docs(spark, sf_dir).select("doc_id")
    # labels is bounded by docs-in-pairs — corpus-DERIVED, so at
    # 100 TB dup rates it is not broadcast-safe: left un-hinted, AQE
    # broadcasts only when the converged label frame genuinely fits
    rep = docs.join(labels, "doc_id", "left").select(
        "doc_id", F.coalesce("label", F.col("doc_id")).alias("rep")
    )
    hx = hex4_spark()
    split = (
        F.when(F.col("bucket") < TRAIN_LT, "train")
        .when(F.col("bucket") < VAL_LT, "val")
        .otherwise("test")
    )
    assigned = (
        rep.withColumn("m", F.md5(F.col("rep").cast("string")))
        .withColumn("bucket", F.expr(hx).cast("long") % 100)
        .withColumn("split", split)
        .select("doc_id", "rep", "split")
    )
    naive = (
        docs.withColumn("m", F.md5(F.col("doc_id").cast("string")))
        .withColumn("bucket", F.expr(hx).cast("long") % 100)
        .withColumn("split", split)
        .select("doc_id", "split")
    )

    # both leakage counters in ONE job: tag the two assignment
    # variants, broadcast the PAIR-derived side into the tagged O(N)
    # assignment scans (never the reverse — a corpus-wide
    # doc_id→split broadcast is an executor OOM at crawl scale; same
    # join shape as the capstone's leakage audit, llm_jobs.splits())
    tagged = (
        assigned.select("doc_id", "split")
        .withColumn("variant", F.lit("cluster"))
        .unionByName(naive.withColumn("variant", F.lit("naive")))
    )
    half = (
        tagged.select(
            F.col("doc_id").alias("doc1"), F.col("split").alias("s1"),
            "variant",
        )
        .join(F.broadcast(pairs), "doc1")
        .select("doc2", "s1", "variant")
    )
    straddle_agg = (
        tagged.select(
            F.col("doc_id").alias("doc2"), F.col("split").alias("s2"),
            "variant",
        )
        .join(F.broadcast(half), ["doc2", "variant"])
        .filter(F.col("s1") != F.col("s2"))
        .groupBy("variant")
        .agg(F.count(F.lit(1)).cast("long").alias("a"))
        .select(
            F.lit("straddle").alias("kind"), F.col("variant").alias("k"),
            "a", F.lit(0).cast("long").alias("b"),
        )
    )
    split_agg = assigned.groupBy("split").agg(
        F.count(F.lit(1)).cast("long").alias("a"),
        F.countDistinct("rep").cast("long").alias("b"),
    ).select(
        F.lit("stat").alias("kind"), F.col("split").alias("k"), "a", "b"
    )
    # ONE action for both counters and the per-split stats: the two
    # aggregate subtrees schedule as a single job instead of paying
    # the multi-stage launch overhead twice
    return split_agg.unionByName(straddle_agg)


def _oracle_q206() -> str:
    hx = hex4_duck()
    case = (
        f"CASE WHEN bucket < {TRAIN_LT} THEN 'train' "
        f"WHEN bucket < {VAL_LT} THEN 'val' ELSE 'test' END"
    )
    return f"""{_CC_LABELS_CTE},
rep_t AS (
  SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS rep
  FROM documents d LEFT JOIN cc_labels c ON d.doc_id = c.doc_id
), assigned AS (
  SELECT doc_id, rep, {case} AS split
  FROM (
    SELECT doc_id, rep, CAST({hx} AS BIGINT) % 100 AS bucket
    FROM (SELECT doc_id, rep, md5(rep::VARCHAR) AS m FROM rep_t)
  )
), naive AS (
  SELECT doc_id, {case} AS split
  FROM (
    SELECT doc_id, CAST({hx} AS BIGINT) % 100 AS bucket
    FROM (SELECT doc_id, md5(doc_id::VARCHAR) AS m FROM documents)
  )
), cross_cnt AS (
  SELECT CAST(count(*) AS BIGINT) AS c
  FROM pairs p
  JOIN assigned a1 ON p.doc1 = a1.doc_id
  JOIN assigned a2 ON p.doc2 = a2.doc_id
  WHERE a1.split <> a2.split
), naive_cnt AS (
  SELECT CAST(count(*) AS BIGINT) AS c
  FROM pairs p
  JOIN naive a1 ON p.doc1 = a1.doc_id
  JOIN naive a2 ON p.doc2 = a2.doc_id
  WHERE a1.split <> a2.split
)
SELECT split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT rep) AS BIGINT) AS n_clusters,
       (SELECT c FROM cross_cnt) AS cross_split_pairs,
       (SELECT c FROM naive_cnt) AS naive_cross_pairs
FROM assigned
GROUP BY split
ORDER BY split
"""


QUERIES = {
    "q30_exact_dedup": q30_exact_dedup,
    "q31_text_stats": q31_text_stats,
    "q32_regex_token_count": q32_regex_token_count,
    "q33_quality_score": q33_quality_score,
    "q34_fingerprint": q34_fingerprint,
    "q35_jaccard_pairs": q35_jaccard_pairs,
    "q36_minhash_lsh": q36_minhash_lsh,
    "q37_langid": q37_langid,
    "q38_simhash": q38_simhash,
    "q105_simhash_neardup": q105_simhash_neardup,
    "q39_sentiment": q39_sentiment,
    "q65_hash_split": q65_hash_split,
    "q66_source_mixture": q66_source_mixture,
    "q67_decontaminate": q67_decontaminate,
    "q72_dup_clusters": q72_dup_clusters,
    "q206_leakage_free_split": q206_leakage_free_split,
    "q209_kmv_distinct": q209_kmv_distinct,
    "q75_tfidf_top_terms": q75_tfidf_top_terms,
    "q76_ngram_decontaminate": q76_ngram_decontaminate,
    "q80_pii_redact": q80_pii_redact,
    "q82_chunk_split_udtf": q82_chunk_split_udtf,
    "q83_source_token_totals": q83_source_token_totals,
    "q81_repetition_stats": q81_repetition_stats,
    "q87_fuzzy_verify": q87_fuzzy_verify,
    "q93_arrow_byte_stats": q93_arrow_byte_stats,
    "q99_filter_funnel": q99_filter_funnel,
    "q115_segment_dedup": q115_segment_dedup,
    "q116_sequence_packing": q116_sequence_packing,
    "q120_bpe_pair_counts": q120_bpe_pair_counts,
    "q163_bpe_train": q163_bpe_train,
    "q168_bpe_encode": q168_bpe_encode,
    "q169_bpe_roundtrip": q169_bpe_roundtrip,
    "q172_cross_source_dedup": q172_cross_source_dedup,
    "q174_cms_token_freq": q174_cms_token_freq,
    "q177_length_drift": q177_length_drift,
    "q179_bloom_decontaminate": q179_bloom_decontaminate,
    "q180_dup_span_coverage": q180_dup_span_coverage,
    "q181_bigram_fluency": q181_bigram_fluency,
    "q185_dup_span_removal": q185_dup_span_removal,
    "q193_dedup_data_card": q193_dedup_data_card,
    "q164_rare_token_profile": q164_rare_token_profile,
    "q165_source_overlap_matrix": q165_source_overlap_matrix,
    "q122_quality_prune": q122_quality_prune,
    "q124_dedup_pipeline": q124_dedup_pipeline,
    "q129_corpus_shuffle": q129_corpus_shuffle,
    "q133_shard_assignment": q133_shard_assignment,
    "q137_curation_capstone": q137_curation_capstone,
    "q142_polymorphic_udtf": q142_polymorphic_udtf,
    "q145_temperature_mixture": q145_temperature_mixture,
    "q146_winsorized_stats": q146_winsorized_stats,
    "q147_containment_pairs": q147_containment_pairs,
    "q148_source_concentration": q148_source_concentration,
    "q149_log_length_histogram": q149_log_length_histogram,
}

ORACLES = {
    "q93_arrow_byte_stats": ORACLE_Q93,
    "q99_filter_funnel": ORACLE_Q99,
    "q72_dup_clusters": ORACLE_Q72,
    "q206_leakage_free_split": _oracle_q206(),
    "q209_kmv_distinct": _oracle_q209(),
    "q75_tfidf_top_terms": ORACLE_Q75,
    "q76_ngram_decontaminate": ORACLE_Q76,
    "q80_pii_redact": ORACLE_Q80,
    "q82_chunk_split_udtf": ORACLE_Q82,
    "q83_source_token_totals": ORACLE_Q83,
    "q81_repetition_stats": ORACLE_Q81,
    "q87_fuzzy_verify": ORACLE_Q87,
    "q39_sentiment": ORACLE_Q39,
    "q65_hash_split": ORACLE_Q65,
    "q66_source_mixture": ORACLE_Q66,
    "q67_decontaminate": ORACLE_Q67,
    "q30_exact_dedup": ORACLE_Q30,
    "q31_text_stats": ORACLE_Q31,
    "q32_regex_token_count": ORACLE_Q32,
    "q33_quality_score": ORACLE_Q33,
    "q34_fingerprint": ORACLE_Q34,
    "q35_jaccard_pairs": ORACLE_Q35,
    "q36_minhash_lsh": ORACLE_Q36,
    "q37_langid": ORACLE_Q37,
    "q38_simhash": ORACLE_Q38,
    "q105_simhash_neardup": ORACLE_Q105,
    "q115_segment_dedup": ORACLE_Q115,
    "q116_sequence_packing": ORACLE_Q116,
    "q120_bpe_pair_counts": ORACLE_Q120,
    "q163_bpe_train": _oracle_q163(),
    "q168_bpe_encode": _oracle_q168(),
    "q169_bpe_roundtrip": _oracle_q169(),
    "q172_cross_source_dedup": ORACLE_Q172,
    "q174_cms_token_freq": _oracle_q174(),
    "q177_length_drift": ORACLE_Q177,
    "q179_bloom_decontaminate": ORACLE_Q179,
    "q180_dup_span_coverage": ORACLE_Q180,
    "q181_bigram_fluency": ORACLE_Q181,
    "q185_dup_span_removal": ORACLE_Q185,
    "q193_dedup_data_card": _oracle_q193(),
    "q164_rare_token_profile": ORACLE_Q164,
    "q165_source_overlap_matrix": ORACLE_Q165,
    "q122_quality_prune": ORACLE_Q122,
    "q124_dedup_pipeline": ORACLE_Q124,
    "q129_corpus_shuffle": ORACLE_Q129,
    "q133_shard_assignment": ORACLE_Q133,
    "q137_curation_capstone": ORACLE_Q137,
    "q142_polymorphic_udtf": ORACLE_Q142,
    "q145_temperature_mixture": ORACLE_Q145,
    "q146_winsorized_stats": ORACLE_Q146,
    "q147_containment_pairs": ORACLE_Q147,
    "q148_source_concentration": ORACLE_Q148,
    "q149_log_length_histogram": ORACLE_Q149,
}
