"""md5-derived hash fragments, spelled once for both SQL dialects:
split and mix gates (q65/q66/q206, the curation splits), SimHash
(q38), Count-Min buckets (q174/q189, the ``cms`` artifact) and the
KMV / quantile-sketch unit-interval ``u`` (q209, the ``kmv`` and
``quantile_sketch`` artifacts). A hex digit's value is ``locate`` in
Spark SQL and ``strpos`` in DuckDB; the positional sums are the same,
so a plan and its oracle agree bit for bit.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import functions as F

# one hex digit (0..15) of the md5 string ``{col}`` at 1-based ``{i}``
_HEXV_SPARK = "locate(substring({col}, {i}, 1), '0123456789abcdef') - 1"
_HEXV_DUCK = "strpos('0123456789abcdef', substring({col}, {i}, 1)) - 1"


def _hex4(hexv: str, col: str) -> str:
    return " + ".join(
        f"({hexv.format(col=col, i=i + 1)}) * {16 ** (3 - i)}"
        for i in range(4)
    )


def hex4_spark(col: str = "m") -> str:
    """The first 4 hex digits of the md5 string ``col`` as an integer
    in 0..65535 (Spark SQL) — the bucket source of every split/mix
    gate and Count-Min row."""
    return _hex4(_HEXV_SPARK, col)


def hex4_duck(col: str = "m") -> str:
    """:func:`hex4_spark` in DuckDB SQL."""
    return _hex4(_HEXV_DUCK, col)


def _u48_expr(hexv: str) -> str:
    """The first 12 hex chars of column ``m`` as a uniform double in
    [0, 1): Σ hexval(cᵢ)·16^(12−i) / 2^48 — every term exact in a
    double (< 2^53), the same positional formula in both engines."""
    # DOUBLE literals via exponent notation: hexval is an engine INT
    # and 16^11 overflows int32 under ANSI, while a bare `123.0`
    # parses as DECIMAL in Spark SQL (decimal division then truncates
    # the quotient's scale); `123e0` is a double in BOTH dialects and
    # every term is exact in a double (< 2^53)
    s = " + ".join(
        f"({hexv.format(col='m', i=i + 1)}) * {16 ** (11 - i)}e0"
        for i in range(12)
    )
    return f"(({s}) / {2**48}e0)"


def kmv_u_frame(df, col: str, keys: list[str] = ()):
    """([keys...,] u double) frame: the md5-derived uniform u ∈ [0, 1)
    of each value of ``df.col`` — the deterministic hash the whole KMV
    family shares (q209) — with optional group-key columns carried."""
    return df.select(
        *keys, F.md5(F.col(col).cast("string")).alias("m")
    ).select(*keys, F.expr(_u48_expr(_HEXV_SPARK)).alias("u"))


# --- Count-Min sketch -------------------------------------------------------

CMS_D = 4     # hash rows
CMS_W = 16    # counters per row (vocab here is tiny; small W makes collisions real)


def _cms_bucket_spark(d: int, w: int | None = None) -> str:
    hx = hex4_spark(f"md5(concat('{d}|', tok))")
    return f"cast({hx} as long) % {CMS_W if w is None else int(w)}"


def _cms_bucket_duck(d: int, w: int | None = None) -> str:
    hx = hex4_duck(f"md5('{d}|' || tok)")
    return f"CAST({hx} AS BIGINT) % {CMS_W if w is None else int(w)}"


def cms_grid(cnt, d: int, w: int, keys: list[str] = ()):
    """(keys..., d, bucket, c) grid rows from per-item counts: one
    partial-agg per hash row over the vocabulary aggregate
    (equivalent to per-occurrence increments), ≤ d×w rows per group."""
    rows = [
        cnt.select(
            *keys,
            F.lit(dd).cast("int").alias("d"),
            F.expr(_cms_bucket_spark(dd, w)).cast("long").alias("bucket"),
            F.col("cnt").alias("c"),
        )
        for dd in range(d)
    ]
    return (
        reduce(lambda a, b: a.unionByName(b), rows)
        .groupBy(*keys, "d", "bucket")
        .agg(F.sum("c").cast("long").alias("c"))
    )
