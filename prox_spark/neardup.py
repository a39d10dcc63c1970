"""Near-duplicate candidate generators and their exact verifiers.

Both partition by a signature, join only rows sharing a bucket, and
verify each candidate pair exactly — never an all-pairs cross join:

- MinHash over word 3-gram shingles (``lsh_band_rows`` →
  ``lsh_verify_pairs``): q35/q36/q147, the streaming LSH index (q194)
  and the curation pipeline's near-dup signals.
- random-hyperplane LSH over embeddings (``_plane_buckets`` →
  ``_nd_candidates`` → ``_nd_verify``): q41/q42 and the maintained
  pair index (``maintain_nd_pairs``, the registry's ``nd_pairs``).

Each Spark SQL fragment has a structurally identical DuckDB twin
(``*_DUCK``) for the oracles.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from prox_spark.local_frames import values_df


# --- token / shingle fragments (Spark SQL expr + DuckDB SQL) ----------------

TOKENS_SPARK = r"split(lower(trim(text)), '\\s+')"
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


def lsh_verify_pairs(arr: DataFrame, bands: DataFrame) -> DataFrame:
    """Bucket-collision pair enumeration + exact overlap verify over
    ANY (doc_id, band, band_sig) frame — the back half shared by the
    batch path (bands computed inline) and q194 (bands read from the
    stream-maintained index table). Returns (doc1, doc2, n_inter, n1,
    n2)."""
    # enumerate pairs within each bucket (single shuffle keyed by the
    # bucket — no self-join, no second scan of the corpus)
    pairs_expr = (
        "flatten(transform(ds, (x, i) -> transform(slice(ds, i + 2, size(ds)), "
        "y -> named_struct('doc1', least(x, y), 'doc2', greatest(x, y)))))"
    )
    candidates = (
        bands.groupBy("band", "band_sig")
        .agg(F.collect_list("doc_id").alias("ds"))
        .filter(F.size("ds") > 1)
        .select(F.explode(F.expr(pairs_expr)).alias("p"))
        .select("p.doc1", "p.doc2")
        .distinct()
    )
    pa = arr.select(F.col("doc_id").alias("doc1"), F.col("shingles").alias("sh1"), F.col("n_shingles").alias("n1"))
    pb = arr.select(F.col("doc_id").alias("doc2"), F.col("shingles").alias("sh2"), F.col("n_shingles").alias("n2"))
    # payload attach is deliberately UN-hinted: pa/pb are the full shingle
    # corpus (O(N) full text-derived arrays — never driver-broadcastable at
    # billions of docs). The candidate set is narrow ids, so the doc_id
    # equi-join shuffles candidates + corpus once; AQE still broadcasts
    # when the corpus actually fits (small scale) without the OOM cliff
    return (
        candidates.join(pa, "doc1")
        .join(pb, "doc2")
        .withColumn("n_inter", F.size(F.array_intersect("sh1", "sh2")))
        .select("doc1", "doc2", "n_inter", "n1", "n2")
    )


# --- random-hyperplane LSH over embeddings ----------------------------------

EMB_DIM = 64

# fold-left expressions — MUST stay structurally identical across engines
DOT_SPARK = "aggregate(zip_with({a}, {b}, (x, y) -> x * y), cast(0.0 as double), (acc, x) -> acc + x)"
DOT_DUCK = "list_reduce(list_transform(list_zip({a}, {b}), x -> x[1] * x[2]), (acc, x) -> acc + x)"

NEARDUP_COS = 0.42
ND_TABLES = 4   # L hash tables ...
ND_BITS = 5     # ... of b bits each: recall = 1 - (1 - p^b)^L

_ND_PLANES = [
    [
        [
            1 if int(hashlib.md5(f"ndplane:{t}:{b}:{i}".encode()).hexdigest()[:2], 16) % 2 == 0 else -1
            for i in range(EMB_DIM)
        ]
        for b in range(ND_BITS)
    ]
    for t in range(ND_TABLES)
]

_ND_PLANE_ROWS = [
    (t, b, [float(v) for v in row])
    for t, rows in enumerate(_ND_PLANES)
    for b, row in enumerate(rows)
]


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


def _nd_candidates(a_b: DataFrame, b_b: DataFrame, same: bool) -> DataFrame:
    """Distinct candidate id pairs colliding in any (t, bkt) bucket
    between two bucket frames; ``same=True`` is the within-frame
    self-join (each pair once), ``same=False`` the new-vs-standing
    join (ids disjoint by construction, ordered via least/greatest)."""
    a = a_b.alias("a")
    b = b_b.alias("b")
    cond = (F.col("a.t") == F.col("b.t")) & (F.col("a.bkt") == F.col("b.bkt"))
    if same:
        cond = cond & (F.col("a.vec_id") < F.col("b.vec_id"))
    else:
        cond = cond & (F.col("a.vec_id") != F.col("b.vec_id"))
    return (
        a.join(b, cond)
        .select(
            F.least(F.col("a.vec_id"), F.col("b.vec_id")).alias("id1"),
            F.greatest(F.col("a.vec_id"), F.col("b.vec_id")).alias("id2"),
        )
        .distinct()
    )


def _nd_verify(cand: DataFrame, emb: DataFrame) -> DataFrame:
    """Exact cosine verification of candidate id pairs against a
    prepared (vec_id, dd, nrm) frame — semi-join prune first so only
    vectors that will be verified move (the q42 shape)."""
    cand = cand.cache()
    ids = (
        cand.select(F.col("id1").alias("vec_id"))
        .union(cand.select(F.col("id2").alias("vec_id")))
        .distinct()
    )
    emb_c = emb.join(ids, "vec_id", "left_semi")
    e1 = emb_c.select(
        F.col("vec_id").alias("id1"), F.col("dd").alias("v1"),
        F.col("nrm").alias("n1"),
    )
    e2 = emb_c.select(
        F.col("vec_id").alias("id2"), F.col("dd").alias("v2"),
        F.col("nrm").alias("n2"),
    )
    out = (
        cand.join(e1, "id1")
        .join(e2, "id2")
        .withColumn(
            "cosine",
            F.expr(f"{DOT_SPARK.format(a='v1', b='v2')} / (n1 * n2)"),
        )
        .filter(F.col("cosine") >= NEARDUP_COS)
        .select("id1", "id2", "cosine")
    )
    return out


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
            standing = read_table(spark, buckets_path)
            cand = _nd_candidates(b_new, standing, same=False).unionByName(
                _nd_candidates(b_new, b_new, same=True)
            ).distinct()
            emb_head = _nd_prep(read_table(spark, base_path, version=head))
            pairs = _nd_verify(cand, emb_head)
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
