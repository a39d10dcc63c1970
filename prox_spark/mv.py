"""Materialized views with CHANGE-FEED incremental refresh — the
operational wrapper around the IVM algebra the query surface proves
(q118 sum/count, q184 min/max-under-deletes, q190 join views, q199
data card): a registered sum/count-by-key view refreshes with work ∝
the base table's delta, never a base re-scan.

The reference has no MV surface (its Redshift layer full-refreshes,
reference glue_scripts/s3_to_redshift_script.py preactions); the
open-source parity target is Databricks/Delta materialized views.
The core class is SELF-MAINTAINABLE aggregates (count, sum of
fixed-point/integer columns): every change-feed row folds as
insert = +value / delete = −value, an update's delete+insert pair
nets itself, and exactness needs no group history. min/max views
(``create_mv(..., mins=, maxs=)``) use the q184 algebra instead:
inserts fold monotonically (least/greatest) and a refresh RECOMPUTES
exactly the groups whose stored extreme was deleted — work ∝
affected groups, scoped by a broadcast semi-join against the base.

Refresh mechanics: the view's manifest records ``mv_of`` = {path,
version, keys, sums} — the base version the contents cover. Refresh
reads ``read_table_changes(base, covered, head)``, folds the signed
delta per key, and merges it into the view through ONE file-pruned
commit whose manifest carries the bumped ``mv_of`` lineage in the
SAME atomic rename (``commit_delta(extra_meta=...)``) — so refresh
cost is ∝ |touched keys|, the view stays a normal manifest table
(time travel, vacuum, cloning all apply), and there is NO crash
window where the folded data landed without its coverage record (a
replayed refresh either sees both or neither, never double-folds).
Groups whose count nets to zero drop out of the same rewrite.

NULL-valued group keys are exact: the merge joins with null-safe
equality, and a delta containing a NULL key falls back to a
full-table merge scope (footer min/max stats cannot locate NULL-keyed
groups, so a pruned scope could miss the group's file and duplicate
it)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from prox_spark.table import (
    _commit_meta_change,
    commit_snapshot,
    read_manifest,
    read_table,
)

COUNT_COL = "n_rows"
NEEDS_COL = "_needs_recompute"


def _agg(
    df: DataFrame, keys: list[str], sums: list[str],
    mins: list[str] = (), maxs: list[str] = (),
) -> DataFrame:
    aggs = [F.count(F.lit(1)).cast("long").alias(COUNT_COL)] + [
        F.sum(c).alias(f"sum_{c}") for c in sums
    ] + [F.min(c).alias(f"min_{c}") for c in mins] + [
        F.max(c).alias(f"max_{c}") for c in maxs
    ]
    return df.groupBy(*keys).agg(*aggs)


def create_mv(
    spark: SparkSession,
    base_path: str,
    mv_path: str,
    keys: list[str],
    sums: list[str],
    mins: list[str] = (),
    maxs: list[str] = (),
) -> int:
    """Materialize count + per-column sums (and optionally per-column
    min/max) grouped by ``keys`` over the base table's current version
    and register the lineage in the view's manifest — ONE commit, so a
    half-created view cannot exist. Returns the view's version.

    count/sum are SELF-MAINTAINABLE (every refresh folds the signed
    feed algebraically). min/max are not under deletes — the q184
    algebra applies instead: inserts fold monotonically
    (least/greatest), and a refresh RECOMPUTES exactly the groups
    whose stored extreme was deleted (work ∝ affected groups, scoped
    by a broadcast semi-join that partition-prunes when the base
    clusters on the group keys)."""
    base_v = int(read_manifest(spark, base_path)["version"])
    return commit_snapshot(
        spark, mv_path,
        _agg(read_table(spark, base_path), keys, sums, mins, maxs),
        stat_cols=list(keys), n_files=4,
        extra_meta={"mv_of": {
            "path": base_path, "version": base_v,
            "registered": base_v,
            "keys": list(keys), "sums": list(sums),
            "mins": list(mins), "maxs": list(maxs),
        }},
    )


def mv_info(spark: SparkSession, mv_path: str) -> dict:
    info = read_manifest(spark, mv_path).get("mv_of")
    if not info:
        raise ValueError(f"{mv_path} is not a registered materialized view")
    return info


def _merge_delta(
    spark: SparkSession, mv_path: str, keys: list[str], sums: list[str],
    delta: DataFrame, lineage: dict,
    mins: list[str] = (), maxs: list[str] = (),
    recompute_from: str | None = None,
    restore: dict[str, str] | None = None,
    recompute_version: int | None = None,
) -> tuple[int, int]:
    """Merge a signed per-key delta frame (``_dn`` + ``_ds_<col>``
    columns, plus ``_imin/_dmin/_imax/_dmax`` extreme columns when the
    view carries min/max) into the view in ONE commit that also
    publishes ``lineage`` as the view's new ``mv_of`` record — data and
    coverage land in the same atomic manifest rename, so a crash (or a
    lost CAS) can never leave the fold applied but the covered version
    stale (which would double-count the same feed window on the next
    refresh). Returns (touched groups, recomputed groups).

    Scale shape: the merge scope file-prunes on the delta's keys (work
    ∝ touched groups); groups netting to zero count simply drop out of
    the rewrite; min/max groups whose stored extreme was deleted are
    recomputed from ``recompute_from``'s head scoped to those keys
    (broadcast semi-join, work ∝ affected groups). A delta with NULL
    group keys forces a full-table scope — stats cannot locate
    NULL-keyed groups (see module doc)."""
    from functools import reduce

    from prox_spark.upsert import _merge_scope

    delta = delta.persist()
    merged_pin = None
    try:
        touched = delta.count()
        if touched == 0:
            # nothing to fold (e.g. every commit in the window was
            # data_change=false): bump the coverage record only — a
            # metadata-only publish is atomic on its own
            def mutate(doc: dict, v: int) -> dict:
                doc["mv_of"] = lineage
                return doc

            _commit_meta_change(spark, mv_path, mutate)
            return 0, 0
        has_null = bool(
            delta.filter(
                reduce(lambda a, b: a | b,
                       [F.col(k).isNull() for k in keys])
            ).limit(1).count()
        )
        scope = _merge_scope(
            spark, mv_path, delta.select(*keys), keys,
            prune=not has_null,
        )
        merged = _apply_delta(scope.touched, delta, keys, sums, mins, maxs)
        recomputed = 0
        if mins or maxs:
            merged_pin = merged.persist()
            kept, affected = _split_recompute(merged_pin, keys)
            recomputed = affected.count()
            merged = kept
            if recomputed:
                # recompute from the PINNED version the lineage claims
                # coverage of — reading the base's live head instead
                # would bake post-coverage changes into groups the next
                # refresh then re-folds (a double count on replayed or
                # lagging batches)
                scoped = _semi_nullsafe(
                    _restore_names(
                        read_table(
                            spark, recompute_from,
                            version=recompute_version,
                        ),
                        restore or {},
                    ),
                    affected, keys,
                )
                merged = kept.unionByName(
                    _agg(scoped, keys, sums, mins, maxs)
                )
        scope.commit(merged, extra_meta={"mv_of": lineage})
        return touched, recomputed
    finally:
        delta.unpersist()
        if merged_pin is not None:
            merged_pin.unpersist()


def _apply_delta(
    cur: DataFrame, delta: DataFrame, keys: list[str], sums: list[str],
    mins: list[str] = (), maxs: list[str] = (),
) -> DataFrame:
    """Fold a signed per-key delta (``_dn`` + ``_ds_<col>``, plus
    insert/delete extreme columns when the view carries min/max) into
    view rows: null-safe full-outer on the group keys, additive
    coalesce, groups netting to a non-positive count drop out. min/max
    fold monotonically from the INSERT extremes (least/greatest skip
    NULLs); when the view carries extremes the result gains a
    ``_needs_recompute`` flag — TRUE for groups whose DELETE extremes
    touched the stored extreme, i.e. the groups the q184 algebra must
    recompute from the base. Pure DataFrame — the shared kernel of the
    persisted merge (:func:`_merge_delta`) and the read-time fold
    (:func:`read_mv_current`)."""
    from functools import reduce

    d = delta
    for k in keys:
        d = d.withColumnRenamed(k, f"_k_{k}")
    cond = reduce(
        lambda a, b: a & b,
        [F.col(k).eqNullSafe(F.col(f"_k_{k}")) for k in keys],
    )
    cols = [
        *[F.coalesce(F.col(k), F.col(f"_k_{k}")).alias(k) for k in keys],
        (
            F.coalesce(F.col(COUNT_COL), F.lit(0))
            + F.coalesce(F.col("_dn"), F.lit(0))
        ).cast("long").alias(COUNT_COL),
        *[
            (
                F.coalesce(F.col(f"sum_{c}"), F.lit(0))
                + F.coalesce(F.col(f"_ds_{c}"), F.lit(0))
            ).alias(f"sum_{c}")
            for c in sums
        ],
        *[
            F.least(F.col(f"min_{c}"), F.col(f"_imin_{c}")).alias(f"min_{c}")
            for c in mins
        ],
        *[
            F.greatest(F.col(f"max_{c}"), F.col(f"_imax_{c}")).alias(
                f"max_{c}"
            )
            for c in maxs
        ],
    ]
    if mins or maxs:
        hits = [
            F.coalesce(
                F.col(f"_dmin_{c}") == F.col(f"min_{c}"), F.lit(False)
            )
            for c in mins
        ] + [
            F.coalesce(
                F.col(f"_dmax_{c}") == F.col(f"max_{c}"), F.lit(False)
            )
            for c in maxs
        ]
        cols.append(reduce(lambda a, b: a | b, hits).alias(NEEDS_COL))
    return (
        cur.join(d, cond, "full_outer")
        .select(*cols)
        .filter(F.col(COUNT_COL) > 0)
    )


def _split_recompute(
    merged: DataFrame, keys: list[str]
) -> tuple[DataFrame, DataFrame]:
    """Split an extremes fold into (algebraically-maintained rows,
    affected group keys needing a base recompute)."""
    kept = merged.filter(~F.col(NEEDS_COL)).drop(NEEDS_COL)
    affected = merged.filter(F.col(NEEDS_COL)).select(*keys)
    return kept, affected


def _semi_nullsafe(
    df: DataFrame, keyframe: DataFrame, keys: list[str]
) -> DataFrame:
    """``df`` semi-joined to ``keyframe``'s group keys with null-safe
    equality; the key frame broadcasts (∝ affected groups)."""
    from functools import reduce

    kf = keyframe
    for k in keys:
        kf = kf.withColumnRenamed(k, f"_k_{k}")
    cond = reduce(
        lambda a, b: a & b,
        [F.col(k).eqNullSafe(F.col(f"_k_{k}")) for k in keys],
    )
    return df.join(F.broadcast(kf), cond, "left_semi")


# --- base-schema evolution: recorded names resolve through renames ----------


class MvSchemaError(ValueError):
    """A recorded base column no longer resolves — the view needs a
    rebuild. Deliberately NOT treated as an unreadable-version error:
    a silent full-recompute fallback here would fold the wrong (or no)
    column."""


def _rename_events(
    spark: SparkSession, base: str, lo: int, head: int
) -> list[tuple[int, str, str]]:
    """The base's rename events committed in (lo, head], in version
    order — collected from every SURVIVING manifest (a mapping entry
    retires from later manifests once pre-rename files are rewritten,
    but the manifest of its own commit always carries it; an event is
    lost only when its manifest was vacuumed AND it retired from all
    survivors — the recorded column then fails resolution loudly)."""
    from prox_spark.table import _manifest_versions

    events: dict[tuple[int, str], str] = {}
    for v in _manifest_versions(spark, base):
        if v > head:
            continue
        m = read_manifest(spark, base, v)
        for e in m.get("renames") or []:
            ev = int(e["version"])
            if lo < ev <= head:
                events[(ev, e["from"])] = e["to"]
    return sorted((v, f, t) for (v, f), t in events.items())


def _resolve_cols(
    cols: list[str], events: list[tuple[int, str, str]]
) -> dict[str, str]:
    """Map each REGISTRATION-TIME column name to its CURRENT name by
    composing the rename events in version order (a → b then b → c
    resolves a to c)."""
    out = {c: c for c in cols}
    for _v, frm, to in events:
        for rec, cur in out.items():
            if cur == frm:
                out[rec] = to
    return out


def _mv_mapping(
    spark: SparkSession, info: dict, head: int,
    events: list[tuple[int, str, str]],
) -> dict[str, str]:
    """The registration-time → current mapping for a single-table
    view's recorded columns, validated against the base's HEAD
    schema: a recorded column that resolves to nothing (dropped, or
    renamed outside the reconstructable window) raises loudly — the
    view needs a rebuild, never a silent wrong fold."""
    cols = [
        *info["keys"], *info["sums"],
        *(info.get("mins") or []), *(info.get("maxs") or []),
    ]
    mapping = _resolve_cols(sorted(set(cols)), events)
    schema = {
        f["name"]
        for f in read_manifest(spark, info["path"], head)["schema"]["fields"]
    }
    missing = sorted(
        rec for rec, cur in mapping.items() if cur not in schema
    )
    if missing:
        raise MvSchemaError(
            f"materialized view over {info['path']} records column(s) "
            f"{missing} that no longer resolve in the base schema "
            "(dropped, or renamed beyond the reconstructable history) — "
            "drop and re-create the view"
        )
    return mapping


def _restore_names(df: DataFrame, mapping: dict[str, str]) -> DataFrame:
    """Rename a base-derived frame's CURRENT column names back to the
    registration-time names, so the view's own schema (sum_<col>,
    min_<col>, ...) never shifts underneath its readers. A change feed
    spanning the rename carries BOTH name generations (frames union by
    name with NULL backfill) — those coalesce: each row has exactly
    one generation's column non-null."""
    cols = set(df.columns)
    for rec, cur in mapping.items():
        if cur == rec:
            continue
        if cur in cols and rec in cols:
            df = df.withColumn(
                rec, F.coalesce(F.col(rec), F.col(cur))
            ).drop(cur)
        elif cur in cols:
            df = df.withColumnRenamed(cur, rec)
    return df


def _signed_delta(
    feed: DataFrame, keys: list[str], sums: list[str],
    mins: list[str] = (), maxs: list[str] = (),
) -> DataFrame:
    """Fold a change feed (``_change_type`` rows) into ONE signed
    per-key delta frame (``_dn`` + ``_ds_<col>``, plus per-key
    insert/delete extremes for min/max views) — the input shape
    :func:`_apply_delta` consumes.

    Extremes are computed from NET multiplicities per (key, value),
    never the raw feed: a value inserted and deleted within the same
    window nets to zero and must contribute to NEITHER side (a raw
    insert-side fold would let a cancelled value raise the stored
    max; a raw delete-side fold would trigger spurious — or worse,
    with the insert applied, wrong — maintenance). count/sum fold on
    the raw feed, where cancellation is automatic."""
    ins = F.col("_change_type") == "insert"
    sgn = F.when(ins, F.lit(1)).otherwise(F.lit(-1))
    out = feed.groupBy(*keys).agg(
        F.sum(sgn).cast("long").alias("_dn"),
        *[F.sum(sgn * F.col(c)).alias(f"_ds_{c}") for c in sums],
    )
    for c in sorted({*mins, *maxs}):
        net = feed.groupBy(*keys, c).agg(F.sum(sgn).alias("_m"))
        aggs = []
        if c in mins:
            aggs.append(
                F.min(F.when(F.col("_m") > 0, F.col(c))).alias(f"_imin_{c}")
            )
            aggs.append(
                F.min(F.when(F.col("_m") < 0, F.col(c))).alias(f"_dmin_{c}")
            )
        if c in maxs:
            aggs.append(
                F.max(F.when(F.col("_m") > 0, F.col(c))).alias(f"_imax_{c}")
            )
            aggs.append(
                F.max(F.when(F.col("_m") < 0, F.col(c))).alias(f"_dmax_{c}")
            )
        ext = net.groupBy(*keys).agg(*aggs)
        out = _join_nullsafe(out, ext, keys)
    return out


def _join_nullsafe(
    left: DataFrame, right: DataFrame, keys: list[str]
) -> DataFrame:
    """Inner join on the group keys with null-safe equality (both
    sides grouped from the same feed, so the key sets coincide)."""
    from functools import reduce

    r = right
    for k in keys:
        r = r.withColumnRenamed(k, f"_j_{k}")
    cond = reduce(
        lambda a, b: a & b,
        [F.col(k).eqNullSafe(F.col(f"_j_{k}")) for k in keys],
    )
    return left.join(r, cond).drop(*[f"_j_{k}" for k in keys])


def refresh_mv(spark: SparkSession, mv_path: str) -> dict:
    """Fold the base table's changes since the covered version into
    the view. Returns {"refreshed", "covered", "touched_groups"}.
    Work ∝ |delta| + |touched groups|: the feed opens only the
    commits' files and the merge rewrites only the files whose key
    range admits a touched group — published WITH the bumped coverage
    in one atomic commit (see :func:`_merge_delta`)."""
    from prox_spark.cdf import read_table_changes

    info = mv_info(spark, mv_path)
    base, covered = info["path"], int(info["version"])
    keys, sums = list(info["keys"]), list(info["sums"])
    mins = list(info.get("mins") or [])
    maxs = list(info.get("maxs") or [])
    head = int(read_manifest(spark, base)["version"])
    if head == covered:
        return {"refreshed": False, "covered": covered, "touched_groups": 0}

    lineage = {**info, "version": head}
    # recorded column names resolve through the base's rename history
    # since registration; a column that no longer resolves raises
    # MvSchemaError loudly (never a silent wrong fold). A pre-round-9
    # view without a 'registered' record defaults the window's low
    # bound to its COVERED version, not 0: replaying pre-registration
    # events could remap a recorded name through a stale rename whose
    # 'from' column was later recreated — a silent wrong fold, where
    # the covered default at worst fails loudly (MvSchemaError)
    events = _rename_events(
        spark, base, int(info.get("registered", covered)), head
    )
    mapping = _mv_mapping(spark, info, head, events)
    mode = "incremental"
    recomputed = 0
    try:
        feed = _restore_names(
            read_table_changes(spark, base, covered, head), mapping
        )
        delta = _signed_delta(feed, keys, sums, mins, maxs)
        touched, recomputed = _merge_delta(
            spark, mv_path, keys, sums, delta, lineage,
            mins, maxs, recompute_from=base, restore=mapping,
            recompute_version=head,
        )
    except Exception as ex:
        if not _is_unreadable_version(ex):
            raise
        # the covered version was vacuumed past the refresh cadence:
        # the incremental inputs are gone, fall back to a FULL
        # recompute (one rewrite commit, lineage in the same rename)
        mode = "full"
        touched = _replace_contents(
            spark, mv_path,
            _agg(
                _restore_names(read_table(spark, base), mapping),
                keys, sums, mins, maxs,
            ),
            keys, lineage,
        )
    return {
        "refreshed": True, "covered": head, "touched_groups": touched,
        "mode": mode, "recomputed_groups": recomputed,
    }


def _is_unreadable_version(ex: Exception) -> bool:
    from prox_spark.table import _is_missing_file_error

    if isinstance(ex, MvSchemaError):
        return False  # a schema mismatch must stay loud, never fall back
    return isinstance(ex, ValueError) or _is_missing_file_error(ex)


def _replace_contents(
    spark: SparkSession, mv_path: str, contents: DataFrame,
    keys: list[str], lineage: dict,
) -> int:
    from prox_spark.table import commit_delta

    prev = read_manifest(spark, mv_path)
    commit_delta(
        spark, mv_path, contents, [], stat_cols=list(keys), n_files=4,
        base_version=int(prev["version"]),
        extra_meta={"mv_of": lineage},
    )
    return -1  # full recompute: touched-group accounting does not apply


def mv_stream_batch(batch_df: DataFrame, batch_id: int,
                    mv_path: str) -> None:
    """CONTINUOUS maintenance: foreachBatch sink for a readChangeFeed
    stream over the base table — fold the micro-batch's signed rows
    into the view directly (work ∝ batch, no change-feed re-read).
    Idempotence comes from the LINEAGE, not marker rows: the fold
    first drops rows at or below the view's covered version (a
    replayed or overlapping batch contributes only its uncovered
    slice), a batch advancing nothing publishes nothing, and the fold
    + coverage bump land in ONE commit — so a replay after a crash
    either sees the bumped coverage (no-op) or a view the fold never
    touched (clean re-apply), never a half-applied state."""
    sp = batch_df.sparkSession
    info = mv_info(sp, mv_path)
    covered = int(info["version"])
    keys, sums = list(info["keys"]), list(info["sums"])
    mins = list(info.get("mins") or [])
    maxs = list(info.get("maxs") or [])
    fresh = batch_df.filter(F.col("_commit_version") > covered)
    end_row = fresh.agg(F.max("_commit_version")).first()
    end = end_row[0]
    if end is None:
        return  # nothing beyond the covered version: replay no-op
    # the mapping resolves against the base's actual head (a replayed
    # batch can carry versions the base has since compacted past, and
    # a synthetic feed can run ahead of the manifest log)
    base_head = int(read_manifest(sp, info["path"])["version"])
    h = min(int(end), base_head)
    events = _rename_events(
        sp, info["path"], int(info.get("registered", covered)), h
    )
    mapping = _mv_mapping(sp, info, h, events)
    delta = _signed_delta(
        _restore_names(fresh, mapping), keys, sums, mins, maxs
    )
    # extremes recompute is PINNED to min(end, head): recomputing from
    # the live head while publishing coverage 'end' would bake
    # post-end changes into the affected groups, and the next batch
    # would re-fold those versions' count/sum deltas — a double count
    # on replayed or lagging batches
    _merge_delta(
        sp, mv_path, keys, sums, delta, {**info, "version": int(end)},
        mins, maxs, recompute_from=info["path"], restore=mapping,
        recompute_version=h,
    )


# --- JOIN materialized views: the two-sided delta algebra as an API --------
#
#   V₂ = agg(A₂ ⋈ B₂)
#   Δ(A ⋈ B) = ΔA ⋈ B₁  +  A₁ ⋈ ΔB  +  ΔA ⋈ ΔB     (signed multiplicities)
#
# — q190's query-level proof, registered: A₁/B₁ are TIME-TRAVEL reads
# of the covered versions (never the new heads), ΔA/ΔB the signed
# change feeds, and every term joins a DELTA against a base, so the
# full V₂ join is never rebuilt. Covered versions must still be
# readable: keep the bases' vacuum retention above the refresh cadence.


def create_join_mv(
    spark: SparkSession,
    left_path: str,
    right_path: str,
    mv_path: str,
    on: list[str],
    keys: list[str],
    sums: list[str],
) -> int:
    """Materialize count + sums grouped by ``keys`` over the inner
    equi-join of two base tables and register the two-sided lineage.
    ``keys``/``sums`` must name unambiguous columns of the joined
    frame. Returns the view's version."""
    lv = int(read_manifest(spark, left_path)["version"])
    rv = int(read_manifest(spark, right_path)["version"])
    joined = read_table(spark, left_path).join(
        read_table(spark, right_path), on
    )
    return commit_snapshot(
        spark, mv_path, _agg(joined, keys, sums),
        stat_cols=list(keys), n_files=4,
        extra_meta={"mv_of": {
            "left": {"path": left_path, "version": lv},
            "right": {"path": right_path, "version": rv},
            "on": list(on), "keys": list(keys), "sums": list(sums),
        }},
    )


def refresh_join_mv(spark: SparkSession, mv_path: str) -> dict:
    """Fold BOTH base tables' changes since their covered versions
    into the join view with the three-term delta algebra. Work ∝
    |ΔA| + |ΔB| + the touched groups' merge; A₁/B₁ appear only as the
    non-delta side of delta-joins (shuffle width ∝ delta)."""
    info = mv_info(spark, mv_path)
    if "left" not in info:
        raise ValueError(f"{mv_path} is a single-table view; use refresh_mv")
    on = list(info["on"])
    keys, sums = list(info["keys"]), list(info["sums"])
    lp, lv = info["left"]["path"], int(info["left"]["version"])
    rp, rv = info["right"]["path"], int(info["right"]["version"])
    lh = int(read_manifest(spark, lp)["version"])
    rh = int(read_manifest(spark, rp)["version"])
    _check_join_schema(spark, info, lh, rh)
    if lh == lv and rh == rv:
        return {"refreshed": False, "covered": (lv, rv), "touched_groups": 0}

    lineage = {
        **info,
        "left": {"path": lp, "version": lh},
        "right": {"path": rp, "version": rh},
    }
    mode = "incremental"
    try:
        delta = _join_delta(spark, info, lh, rh)
        touched, _ = _merge_delta(spark, mv_path, keys, sums, delta, lineage)
    except Exception as ex:
        if not _is_unreadable_version(ex):
            raise
        # a covered base version was vacuumed: full recompute fallback
        mode = "full"
        joined = read_table(spark, lp).join(read_table(spark, rp), on)
        touched = _replace_contents(
            spark, mv_path, _agg(joined, keys, sums), keys, lineage,
        )
    return {
        "refreshed": True, "covered": (lh, rh), "touched_groups": touched,
        "mode": mode,
    }


def _check_join_schema(
    spark: SparkSession, info: dict, lh: int, rh: int
) -> None:
    """Join views do NOT resolve renames (a recorded column's owning
    side is ambiguous in the joined frame): every recorded on/key/sum
    column must still exist in some base's head schema, else the view
    loudly requires a rebuild."""
    avail: set[str] = set()
    for side in ("left", "right"):
        m = read_manifest(spark, info[side]["path"],
                          lh if side == "left" else rh)
        avail |= {f["name"] for f in m["schema"]["fields"]}
    recorded = {*info["on"], *info["keys"], *info["sums"]}
    missing = sorted(recorded - avail)
    if missing:
        raise MvSchemaError(
            f"join materialized view records column(s) {missing} that no "
            "longer exist in either base's schema (renamed or dropped) — "
            "drop and re-create the view (join views do not resolve "
            "renames)"
        )


def _join_delta(
    spark: SparkSession, info: dict, lh: int, rh: int
) -> DataFrame:
    """The three-term signed per-key delta of a registered join view
    between its covered versions and heads ``(lh, rh)`` — shared by the
    persisted refresh (:func:`refresh_join_mv`) and the read-time fold
    (:func:`read_mv_current`). Every term joins a DELTA against a
    time-traveled covered base, so shuffle width is ∝ the deltas."""
    from functools import reduce

    from prox_spark.cdf import read_table_changes

    on = list(info["on"])
    keys, sums = list(info["keys"]), list(info["sums"])
    lp, lv = info["left"]["path"], int(info["left"]["version"])
    rp, rv = info["right"]["path"], int(info["right"]["version"])
    sgn = F.when(F.col("_change_type") == "insert", F.lit(1)).otherwise(
        F.lit(-1)
    )

    def signed(path: str, v0: int, v1: int) -> DataFrame | None:
        if v1 == v0:
            return None
        return (
            read_table_changes(spark, path, v0, v1)
            .withColumn("_s", sgn)
            .drop("_change_type", "_commit_version")
        )

    da, db = signed(lp, lv, lh), signed(rp, rv, rh)
    a1 = read_table(spark, lp, version=lv).withColumn("_s", F.lit(1))
    b1 = read_table(spark, rp, version=rv).withColumn("_s", F.lit(1))

    def term(left: DataFrame, right: DataFrame) -> DataFrame:
        lr = left.withColumnRenamed("_s", "_sl")
        rr = right.withColumnRenamed("_s", "_sr")
        return lr.join(rr, on).withColumn("_s", F.col("_sl") * F.col("_sr"))

    terms = []
    if da is not None:
        terms.append(term(da, b1))
    if db is not None:
        terms.append(term(a1, db))
    if da is not None and db is not None:
        terms.append(term(da, db))
    cols = [*keys, *sums, "_s"]
    pairs = reduce(
        lambda x, y: x.unionByName(y), [t.select(*cols) for t in terms]
    )
    return pairs.groupBy(*keys).agg(
        F.sum("_s").cast("long").alias("_dn"),
        *[F.sum(F.col("_s") * F.col(c)).alias(f"_ds_{c}") for c in sums],
    )


# --- the READ path: serve queries from the view --------------------------


def read_mv_current(spark: SparkSession, mv_path: str) -> DataFrame:
    """The EXACT current aggregate, served from the view with ZERO
    refresh publish: the stored contents plus a read-time fold of the
    base's change feed since the covered version (the join class folds
    the three-term delta the same way). This is the MV read users
    actually touch — the stored files answer for the covered history
    and the plan opens only the delta window's commit files, never a
    full base scan; a view refreshed to head reads its own files
    alone.

    The reference's Redshift layer full-refreshes because it lacks
    exactly this (reference glue_scripts/s3_to_redshift_script.py
    preactions); the parity target is Databricks/Redshift
    serve-from-MV with delta catch-up.

    When the covered version has been vacuumed past the refresh
    cadence, the incremental inputs are gone: the read falls back to
    the direct base aggregate — still exact, just not MV-accelerated
    (mirrors the refresh's full-recompute fallback)."""
    info = mv_info(spark, mv_path)
    cur = read_table(spark, mv_path)
    keys, sums = list(info["keys"]), list(info["sums"])
    if "left" in info:
        lp, rp = info["left"]["path"], info["right"]["path"]
        on = list(info["on"])
        lh = int(read_manifest(spark, lp)["version"])
        rh = int(read_manifest(spark, rp)["version"])
        _check_join_schema(spark, info, lh, rh)
        if (
            lh == int(info["left"]["version"])
            and rh == int(info["right"]["version"])
        ):
            return cur
        try:
            return _apply_delta(
                cur, _join_delta(spark, info, lh, rh), keys, sums
            )
        except Exception as ex:
            if not _is_unreadable_version(ex):
                raise
            joined = read_table(spark, lp).join(read_table(spark, rp), on)
            return _agg(joined, keys, sums)
    from prox_spark.cdf import read_table_changes

    base, covered = info["path"], int(info["version"])
    mins = list(info.get("mins") or [])
    maxs = list(info.get("maxs") or [])
    head = int(read_manifest(spark, base)["version"])
    if head == covered:
        return cur
    events = _rename_events(
        spark, base, int(info.get("registered", covered)), head
    )
    mapping = _mv_mapping(spark, info, head, events)
    try:
        feed = _restore_names(
            read_table_changes(spark, base, covered, head), mapping
        )
    except Exception as ex:
        if not _is_unreadable_version(ex):
            raise
        return _agg(
            _restore_names(read_table(spark, base), mapping),
            keys, sums, mins, maxs,
        )
    merged = _apply_delta(
        cur, _signed_delta(feed, keys, sums, mins, maxs),
        keys, sums, mins, maxs,
    )
    if not (mins or maxs):
        return merged
    # extremes: recompute the affected groups from the base at the
    # MEASURED head (pinned — a commit landing mid-read must not leak
    # into the recompute while the fold stops at `head`) — same q184
    # algebra the persisted refresh uses
    kept, affected = _split_recompute(merged, keys)
    scoped = _semi_nullsafe(
        _restore_names(read_table(spark, base, version=head), mapping),
        affected, keys,
    )
    return kept.unionByName(_agg(scoped, keys, sums, mins, maxs))


def rewrite_aggregate(
    spark: SparkSession,
    base_path: str,
    keys: list[str],
    sums: list[str],
    candidates: list[str],
    mins: list[str] = (),
    maxs: list[str] = (),
    avgs: list[str] = (),
) -> tuple[DataFrame, str | None]:
    """AUTO-REWRITE a count+sum(+min/max/avg)-by-keys aggregate over
    ``base_path``: if a registered single-table view among
    ``candidates`` COVERS the request (same base, requested keys ⊆
    view keys, requested sums/avgs/mins/maxs ⊆ the view's sums +
    extremes), serve it from :func:`read_mv_current` — rolled up to
    the requested grain when the view is finer (count/sum
    re-aggregate losslessly; min-of-mins and max-of-maxs are exact
    roll-ups) — else fall back to the direct base aggregate. An AVG
    never needs its own view class: it derives as
    ``round(sum_<c> / n_rows, 6)`` from any covering count+sum view,
    the identical arithmetic the direct path uses, so served and
    direct answers are bit-identical. Returns
    ``(frame, matched_mv_path_or_None)``; the frame's schema is
    identical either way (`n_rows` + `sum_<col>` + `min_<col>` +
    `max_<col>` + `avg_<col>`)."""

    def with_avgs(df: DataFrame) -> DataFrame:
        for c in avgs:
            df = df.withColumn(
                f"avg_{c}",
                F.round(F.col(f"sum_{c}") / F.col(COUNT_COL), 6),
            )
        return df

    out_cols = [
        *[f"sum_{c}" for c in sums],
        *[f"min_{c}" for c in mins],
        *[f"max_{c}" for c in maxs],
        *[f"avg_{c}" for c in avgs],
    ]
    need_sums = list(dict.fromkeys([*sums, *avgs]))
    for mv in candidates:
        try:
            info = mv_info(spark, mv)
        except ValueError:
            continue
        if "left" in info or info["path"] != base_path:
            continue
        if not (
            set(keys) <= set(info["keys"])
            and set(need_sums) <= set(info["sums"])
            and set(mins) <= set(info.get("mins") or [])
            and set(maxs) <= set(info.get("maxs") or [])
        ):
            continue
        cur = read_mv_current(spark, mv)
        if list(keys) != list(info["keys"]):
            cur = cur.groupBy(*keys).agg(
                F.sum(COUNT_COL).cast("long").alias(COUNT_COL),
                *[F.sum(f"sum_{c}").alias(f"sum_{c}") for c in need_sums],
                *[F.min(f"min_{c}").alias(f"min_{c}") for c in mins],
                *[F.max(f"max_{c}").alias(f"max_{c}") for c in maxs],
            )
        return with_avgs(cur).select(*keys, COUNT_COL, *out_cols), mv
    direct = _agg(
        read_table(spark, base_path), keys, need_sums, mins, maxs
    )
    return with_avgs(direct).select(*keys, COUNT_COL, *out_cols), None


def rewrite_join_aggregate(
    spark: SparkSession,
    left_path: str,
    right_path: str,
    on: list[str],
    keys: list[str],
    sums: list[str],
    candidates: list[str],
    avgs: list[str] = (),
) -> tuple[DataFrame, str | None]:
    """The join counterpart of :func:`rewrite_aggregate`: route a
    count+sum(+avg)-by-keys aggregate over ``left ⋈ right`` to a
    covering registered JOIN view (same base pair in either order with
    the same join keys, requested keys/sums/avgs ⊆ the view's), served
    through :func:`read_mv_current`'s three-term read-time delta fold —
    the full join is never rebuilt even when BOTH bases moved after the
    last refresh. Rolled up when the view's grain is finer; an AVG
    derives as ``round(sum_<c> / n_rows, 6)`` on either path (served
    and direct answers bit-identical); falls back to the direct join
    aggregate with the identical schema."""

    def with_avgs(df: DataFrame) -> DataFrame:
        for c in avgs:
            df = df.withColumn(
                f"avg_{c}",
                F.round(F.col(f"sum_{c}") / F.col(COUNT_COL), 6),
            )
        return df

    out_cols = [
        *[f"sum_{c}" for c in sums],
        *[f"avg_{c}" for c in avgs],
    ]
    need_sums = list(dict.fromkeys([*sums, *avgs]))
    want = {left_path, right_path}
    for mv in candidates:
        try:
            info = mv_info(spark, mv)
        except ValueError:
            continue
        if "left" not in info:
            continue
        have = {info["left"]["path"], info["right"]["path"]}
        if have != want or sorted(info["on"]) != sorted(on):
            continue
        if not (
            set(keys) <= set(info["keys"])
            and set(need_sums) <= set(info["sums"])
        ):
            continue
        cur = read_mv_current(spark, mv)
        if list(keys) != list(info["keys"]):
            cur = cur.groupBy(*keys).agg(
                F.sum(COUNT_COL).cast("long").alias(COUNT_COL),
                *[F.sum(f"sum_{c}").alias(f"sum_{c}") for c in need_sums],
            )
        return with_avgs(cur).select(*keys, COUNT_COL, *out_cols), mv
    joined = read_table(spark, left_path).join(
        read_table(spark, right_path), list(on)
    )
    return (
        with_avgs(_agg(joined, keys, need_sums)).select(
            *keys, COUNT_COL, *out_cols
        ),
        None,
    )
