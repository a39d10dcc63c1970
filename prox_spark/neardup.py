"""Near-duplicate pairs: one bucket-collision operator, plus the
signatures and scores its callers bring.

Every symmetric near-dup pair set is built in the same three steps —
partition by a signature, pair only rows sharing a bucket, score each
candidate exactly; never an all-pairs cross join:

1. signature (the caller's): bucket rows of (id, key...)
   - MinHash bands over word 3-gram shingles (``lsh_band_rows``, keys
     band/band_sig): q36/q147 (q72/q124 through q36), the streaming
     LSH index (q194) and the curation pipeline's near-dup signals;
   - random-hyperplane buckets over embeddings (``_plane_buckets``,
     keys t/bkt): q42's pair artifact and the maintained pair index
     (``build_nd_pair_index``/``maintain_nd_pairs``, the registry's
     ``nd_pairs``).
2. ``bucket_pairs`` — distinct ``id1 < id2`` pairs from one equi-join
   on the keys; given a standing bucket frame, the new-vs-standing
   plus new-vs-new pairs of an incremental fold.
3. ``attach_pairs`` — both sides' payload by two plain id joins.

The score stays with the caller: ``jaccard``, q147's containment, or
``cosine_pairs``' ``cosine >= NEARDUP_COS``.

Each Spark SQL fragment has a structurally identical DuckDB twin
(``*_DUCK``) for the oracles.
"""

from __future__ import annotations

import hashlib
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from prox_spark.local_frames import values_df


# --- token / shingle fragments (Spark SQL expr + DuckDB SQL) ----------------


def tokens_spark(col: str) -> str:
    """Lowercased whitespace tokens of the string column ``col``."""
    return rf"split(lower(trim({col})), '\\s+')"


TOKENS_SPARK = tokens_spark("text")
TOKENS_DUCK = r"string_split_regex(lower(trim(text)), '\s+')"

# 3-gram shingles as zip_with over three shifted slices: each slice is
# evaluated ONCE per row and the binary zips do one concat per
# element. The round-1 ``transform(sequence(1, n-2), i ->
# concat_ws(' ', slice(tokens, i, 3)))`` formulation re-ran a slice
# (array allocation) per INDEX inside an interpreted HOF lambda and
# measured 4-6x slower on the same corpus — HOF lambdas don't
# whole-stage-codegen, so per-element work inside them is the one
# place expression choice dominates. Short docs (<3 tokens) take the
# explicit whole-text branch, mirroring the DuckDB CASE.
SHINGLES_SPARK = (
    "CASE WHEN size(tokens) < 3 THEN array(concat_ws(' ', tokens)) "
    "ELSE zip_with(slice(tokens, 1, size(tokens)-2), "
    "zip_with(slice(tokens, 2, size(tokens)-2), slice(tokens, 3, size(tokens)-2), "
    "(b, c) -> concat(b, ' ', c)), (a, bc) -> concat(a, ' ', bc)) END"
)

SHINGLES_DUCK = (
    "CASE WHEN len(tokens) < 3 THEN [array_to_string(tokens, ' ')] "
    "ELSE list_transform(range(1, len(tokens)-1), i -> array_to_string(list_slice(tokens, i, i+2), ' ')) END"
)


def shingle_arrays(docs: DataFrame) -> DataFrame:
    """(doc_id, shingles, n_shingles) from a (doc_id, text) frame: each
    document's DISTINCT shingle array, computed map-side."""
    return (
        docs.withColumn("tokens", F.expr(TOKENS_SPARK))
        .withColumn("shingles", F.array_distinct(F.expr(SHINGLES_SPARK)))
        .select("doc_id", "shingles", F.size("shingles").alias("n_shingles"))
    )


# --- MinHash + LSH over shingle sets ----------------------------------------

JACCARD_THRESHOLD = 0.5

MINHASH_K = 16          # signature length
LSH_BAND_ROWS = 4       # rows per band -> 4 bands; s-curve threshold ~0.71


def lsh_band_rows(shingled: DataFrame) -> DataFrame:
    """(doc_id, band, band_sig) from a (doc_id, shingles) frame — the
    map-side MinHash signature + banding front shared by q36/q147's
    batch candidate generation and q194's STREAMING index maintenance
    (each micro-batch of new docs runs exactly this projection and
    appends the rows; no shuffle, no state)."""
    sig_expr = (
        f"transform(sequence(0, {MINHASH_K - 1}), "
        "s -> array_min(transform(shingles, x -> md5(concat(cast(s as string), '|', x)))))"
    )
    n_bands = MINHASH_K // LSH_BAND_ROWS
    bands_expr = (
        f"transform(sequence(0, {n_bands - 1}), "
        f"b -> named_struct('band', b, 'band_sig', array_join(slice(sig, b * {LSH_BAND_ROWS} + 1, {LSH_BAND_ROWS}), ',')))"
    )
    return (
        shingled.withColumn("sig", F.expr(sig_expr))
        .select("doc_id", F.explode(F.expr(bands_expr)).alias("bb"))
        .select(
            "doc_id", F.col("bb.band").alias("band"),
            F.col("bb.band_sig").alias("band_sig"),
        )
    )


def jaccard(n_inter: str, n1: str, n2: str) -> Column:
    """Jaccard of two sets from the columns holding their overlap and
    sizes, rounded to the oracles' 6 places."""
    return F.round(F.col(n_inter) / (F.col(n1) + F.col(n2) - F.col(n_inter)), 6)


# --- the bucket-collision operator ------------------------------------------


def bucket_pairs(
    buckets: DataFrame,
    id_col: str,
    keys: Sequence[str],
    standing: DataFrame | None = None,
) -> DataFrame:
    """Distinct (id1, id2) pairs, ``id1 < id2``, of ids sharing every
    column of ``keys`` in some row of ``buckets`` — one equi-join on
    the keys, never a cross join; a pair colliding in several buckets
    appears once. With ``standing`` (a bucket frame of the same
    columns: the already-indexed ids), the pairs are each new id
    against the standing ids and the other new ids, ordered by
    least/greatest — an incremental fold's work, ∝ new rows × bucket
    occupancy, never a standing-corpus self-join."""
    new = buckets.select(F.col(id_col).alias("_l"), *keys)
    other = new if standing is None else new.unionByName(
        standing.select(F.col(id_col).alias("_l"), *keys)
    )
    joined = new.join(other.withColumnRenamed("_l", "_r"), list(keys))
    if standing is None:
        joined = joined.filter(F.col("_l") < F.col("_r"))
    else:
        joined = joined.filter(F.col("_l") != F.col("_r"))
    # the distinct's own shuffle at a FIXED count: the pairs are narrow
    # ids (kilobytes compressed), so AQE would coalesce a plain
    # distinct into ONE task and serialize the callers' payload attach
    # and exact score onto one core — the sf0.1 embedding build on 4
    # cores measured 1.16 s that way against 0.68 s (the curation
    # pipeline's MinHash pairs time the same either way: the repartition
    # is there for q42's artifact and the nd_pairs index). A by-number
    # repartition is never coalesced, and the aggregate reuses its
    # hash partitioning: one exchange, of the raw join rows (a pair
    # repeats per shared bucket: 3x the distinct pairs for MinHash,
    # 1.06x for the hyperplane tables). Deduplicating first does not
    # pay: Spark drops an (id1, id2) repartition above a distinct as
    # redundant (back to one task), any other key adds a second
    # exchange of every pair, and past broadcast scale the join is
    # partitioned by bucket, so a pair's copies land in different
    # tasks and a map-side partial aggregate cannot merge them.
    n = int(buckets.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return joined.select(
        F.least("_l", "_r").alias("id1"), F.greatest("_l", "_r").alias("id2")
    ).repartition(n, "id1", "id2").distinct()


def attach_pairs(pairs: DataFrame, payload: DataFrame, id_col: str) -> DataFrame:
    """(id1, id2) pairs with both sides' payload: every other column
    ``c`` of ``payload`` arrives as ``c1`` (id1's) and ``c2`` (id2's).
    Two plain id equi-joins, deliberately UN-hinted: the payload is
    the full corpus (O(N) shingle arrays or vectors — never
    driver-broadcastable at billions of rows), the pairs are narrow
    ids, so each join shuffles pairs + payload once; AQE still
    broadcasts when the payload actually fits (small scale)."""
    cols = [c for c in payload.columns if c != id_col]

    def side(i: int) -> DataFrame:
        return payload.select(
            F.col(id_col).alias(f"id{i}"), *[F.col(c).alias(f"{c}{i}") for c in cols]
        )

    return pairs.join(side(1), "id1").join(side(2), "id2")


def shingle_overlaps(pairs: DataFrame, arr: DataFrame) -> DataFrame:
    """(doc1, doc2, n_inter, n1, n2): candidate doc pairs with their
    exact overlap against a :func:`shingle_arrays` frame — a
    ``size(array_intersect)`` over the two attached shingle arrays, the
    counts every MinHash consumer's score (Jaccard, containment) reads."""
    return attach_pairs(
        pairs, arr.select("doc_id", "shingles", "n_shingles"), "doc_id"
    ).select(
        F.col("id1").alias("doc1"), F.col("id2").alias("doc2"),
        F.size(F.array_intersect("shingles1", "shingles2")).alias("n_inter"),
        F.col("n_shingles1").alias("n1"), F.col("n_shingles2").alias("n2"),
    )


# --- random-hyperplane LSH over embeddings ----------------------------------

EMB_DIM = 64

# fold-left expressions — MUST stay structurally identical across engines
DOT_SPARK = "aggregate(zip_with({a}, {b}, (x, y) -> x * y), cast(0.0 as double), (acc, x) -> acc + x)"
DOT_DUCK = "list_reduce(list_transform(list_zip({a}, {b}), x -> x[1] * x[2]), (acc, x) -> acc + x)"

NEARDUP_COS = 0.42
ND_TABLES = 4   # L hash tables ...
ND_BITS = 5     # ... of b bits each: recall = 1 - (1 - p^b)^L


def hyperplane_rows(prefix: str, n_tables: int, n_bits: int) -> list[tuple[int, int, list[float]]]:
    """Deterministic ±1 hyperplanes as (t, b, plane) rows: component i
    of table t's plane b is the parity of the first byte of
    md5("{prefix}:{t}:{b}:{i}"). Python-side, so the Spark broadcast
    row and the oracles' VALUES list carry the identical constants."""
    return [
        (t, b, [
            1.0 if int(hashlib.md5(f"{prefix}:{t}:{b}:{i}".encode()).hexdigest()[:2], 16) % 2 == 0
            else -1.0
            for i in range(EMB_DIM)
        ])
        for t in range(n_tables)
        for b in range(n_bits)
    ]


_ND_PLANE_ROWS = hyperplane_rows("ndplane", ND_TABLES, ND_BITS)


def _plane_buckets(
    emb: DataFrame,
    plane_rows: list[tuple[int, int, list[float]]],
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """(vec_id, t, bkt [, carry...]) computed FULLY map-side: the whole
    plane set rides in as ONE broadcast row holding all (t, b, plane)
    structs, and each vector assembles its per-table bucket ids with an
    in-row fold before a T-way explode. Round 1 crossJoined the corpus
    against the plane TABLE (x T*B row explosion) and re-assembled bits
    with a (vec_id, t) groupBy — a full-corpus shuffle this version
    eliminates entirely; at 100 TB the only shuffle left in a bucketed
    LSH consumer is the candidate equi-join itself. Plane data stays a
    broadcast column, not inline literals, so generated code is small
    and uniform (literal megamethods measured seconds of JIT stall; see
    _emb_n note). ``carry`` columns simply stay on the row — there is
    no aggregation to survive anymore."""
    spark = emb.sparkSession
    n_tables = max(t for t, _, _ in plane_rows) + 1
    planes = values_df(spark, plane_rows, "t int, b int, plane array<double>")
    plane_arr = planes.groupBy().agg(
        F.array_sort(F.collect_list(F.struct("t", "b", "plane"))).alias("pl")
    )
    dot = DOT_SPARK.format(a="dd", b="p.plane")
    bkts = (
        f"transform(sequence(0, {n_tables - 1}), t -> named_struct('t', t, 'bkt', "
        f"aggregate(filter(pl, p -> p.t = t), cast(0 as bigint), "
        f"(acc, p) -> acc + if(({dot}) > 0, shiftleft(1L, p.b), cast(0 as bigint)))))"
    )
    return (
        emb.crossJoin(F.broadcast(plane_arr))
        .withColumn("tb", F.explode(F.expr(bkts)))
        .select("vec_id", *carry, F.col("tb.t").alias("t"), F.col("tb.bkt").alias("bkt"))
    )


def _nd_prep(df: DataFrame) -> DataFrame:
    """dd + nrm from a (vec_id, embedding) frame (the _emb_n shape
    over an arbitrary frame instead of the sf fixture)."""
    return df.withColumn(
        "dd", F.expr("cast(embedding as array<double>)")
    ).withColumn(
        "nrm", F.expr(f"sqrt({DOT_SPARK.format(a='dd', b='dd')})")
    )


def cosine_pairs(pairs: DataFrame, emb: DataFrame) -> DataFrame:
    """(id1, id2, cosine) of the candidate pairs whose exact cosine
    clears NEARDUP_COS; ``emb`` is a prepared (vec_id, dd, nrm) frame
    (:func:`_nd_prep`)."""
    return (
        attach_pairs(pairs, emb.select("vec_id", "dd", "nrm"), "vec_id")
        .withColumn(
            "cosine",
            F.expr(f"{DOT_SPARK.format(a='dd1', b='dd2')} / (nrm1 * nrm2)"),
        )
        .filter(F.col("cosine") >= NEARDUP_COS)
        .select("id1", "id2", "cosine")
    )


def maintain_nd_pairs(
    spark: SparkSession, base_path: str, pairs_path: str, buckets_path: str
) -> dict:
    """Fold the base's change feed into the pair index INCREMENTALLY —
    the q194 maintained-LSH-index write path for embeddings: touched
    vectors' bucket rows and pairs retire (file-pruned keyed deletes),
    new vectors' bucket rows join the STANDING bucket table (work ∝
    batch × bucket occupancy, never a corpus self-join) plus
    themselves, survivors verify exact cosine against the base head,
    and the pair upsert publishes the bumped coverage in its own
    commit (``index_of`` — the wand.py/mv.py atomic-coverage
    contract). Every step before the final commit is an idempotent
    keyed delete/upsert, so a crashed run replays cleanly. Returns
    maintenance counters."""
    from prox_spark.cdf import read_table_changes
    from prox_spark.table import read_manifest, read_table
    from prox_spark.upsert import apply_changes, delete_keys, upsert_parquet
    from pyspark.sql import Window

    meta = read_manifest(spark, pairs_path).get("index_of") or {}
    if meta.get("base") != base_path or "version" not in meta:
        raise ValueError(
            f"pair index {pairs_path} records no index_of lineage for "
            f"{base_path}; bootstrap it with build_nd_pair_index"
        )
    covered = int(meta["version"])
    head = int(read_manifest(spark, base_path)["version"])
    if head == covered:
        return {"status": "noop", "covered": covered}
    feed = read_table_changes(spark, base_path, covered, head)
    wd = Window.partitionBy("vec_id").orderBy(
        F.col("_commit_version").desc(), F.col("_change_type").desc()
    )
    last = (
        feed.withColumn("_r", F.row_number().over(wd))
        .filter(F.col("_r") == 1)
        .drop("_r", "_commit_version")
    ).persist()
    try:
        touched = last.select("vec_id")
        fresh = last.filter(F.col("_change_type") == "insert").select(
            "vec_id", "embedding"
        )
        n_touched = touched.count()
        if n_touched == 0:
            # metadata-only window: bump coverage, touch nothing
            empty = read_table(spark, pairs_path).limit(0).withColumn(
                "change", F.lit("update")
            )
            apply_changes(
                spark, pairs_path, empty, ["id1", "id2"],
                extra_meta={
                    "index_of": {"base": base_path, "version": head}
                },
            )
            return {"status": "refreshed", "covered": head,
                    "touched": 0, "new_pairs": 0}
        # retire touched state — keyed deletes, idempotent on replay
        delete_keys(spark, buckets_path, touched, ["vec_id"])
        delete_keys(
            spark, pairs_path,
            touched.select(F.col("vec_id").alias("id1")), ["id1"],
        )
        delete_keys(
            spark, pairs_path,
            touched.select(F.col("vec_id").alias("id2")), ["id2"],
        )
        b_new = _plane_buckets(_nd_prep(fresh), _ND_PLANE_ROWS).select(
            "vec_id", "t", "bkt"
        ).cache()
        try:
            cand = bucket_pairs(
                b_new, "vec_id", ("t", "bkt"),
                standing=read_table(spark, buckets_path),
            )
            emb_head = _nd_prep(read_table(spark, base_path, version=head))
            pairs = cosine_pairs(cand, emb_head)
            # idempotent keyed upserts; coverage rides the pair commit
            upsert_parquet(spark, buckets_path, b_new, ["vec_id", "t"])
            n_new = pairs.count()
            apply_changes(
                spark, pairs_path,
                pairs.withColumn("change", F.lit("update")),
                ["id1", "id2"],
                extra_meta={
                    "index_of": {"base": base_path, "version": head}
                },
            )
            return {
                "status": "refreshed", "covered": head,
                "touched": int(n_touched), "new_pairs": int(n_new),
            }
        finally:
            b_new.unpersist()
    finally:
        last.unpersist()
