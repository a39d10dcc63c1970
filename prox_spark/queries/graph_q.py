"""Graph queries: link-graph importance scoring for corpus curation.

Web-scale training corpora are curated by graph importance (the
CommonCrawl lineage filters hosts by link-graph centrality before any
text heuristic runs); the same rank-propagation scores entities in
any interaction graph. The testdata has no hyperlink table, so the
graph is the customer<->supplier interaction bipartite graph induced
by orders x lineitem — structurally the host<->host link graph at
1/10^6 scale. The reference has no graph surface (SURVEY.md §2);
this extends the engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from prox_spark.catalog import testdata_catalog
from prox_spark.graph import MASS, pagerank
from prox_spark.local_frames import values_df

PR_ITERS = 5


def _interaction_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetrized customer<->supplier edges. Customer and supplier
    key spaces overlap (both 1..N), so nodes are namespaced onto one
    BIGINT axis: customer c -> 2c, supplier s -> 2s+1 (even/odd)."""
    cat = testdata_catalog(spark, sf_dir)
    orders = cat.table("orders").select("o_orderkey", "o_custkey")
    # NOT spread (r12 A/B, noop sink): the broadcast join + distinct
    # already parallelize past the single-split scan here — adding the
    # round-robin exchange measured ~0.1 s SLOWER (1.15 vs 1.28 s);
    # contrast _part_co_edges where the self-join fan-out wins from it
    li = cat.table("lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("cust_node"),
            (F.col("l_suppkey") * 2 + 1).alias("supp_node"),
        )
        .distinct()
    )
    # symmetrize map-side (explode of a 2-element struct array), not
    # via union: a union of two selects over `pairs` is two branches
    # of the same subtree, and the first materializing action would
    # replay the join+distinct twice
    return pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("cust_node").alias("src"), F.col("supp_node").alias("dst")
                ),
                F.struct(
                    F.col("supp_node").alias("src"), F.col("cust_node").alias("dst")
                ),
            )
        ).alias("e")
    ).select("e.src", "e.dst")


def q127_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 nodes by 5-round integer-arithmetic PageRank over the
    customer<->supplier interaction graph (see prox_spark/graph.py for
    the exact-arithmetic design that lets a DuckDB oracle match
    bit-for-bit). Suppliers serve many customers, so the top of the
    ranking is the supplier side — the 'important hosts' a crawl
    curation would keep."""
    ranks = pagerank(
        _interaction_edges(spark, sf_dir), iters=PR_ITERS, symmetric=True
    )
    return (
        ranks.select(
            F.col("node").alias("node_id"),
            F.when(F.col("node") % 2 == 0, F.lit("customer"))
            .otherwise(F.lit("supplier"))
            .alias("node_type"),
            F.expr("node div 2").alias("entity_key"),
            "rank",
        )
        .orderBy(F.desc("rank"), "node_id")
        .limit(20)
    )


def _rank_round_cte(i: int) -> str:
    """One unrolled PageRank round: r{i} from r{i-1}. The sum() is
    cast back to BIGINT (DuckDB widens BIGINT sums to HUGEINT) so the
    schema — and the subsequent integer ops — match Spark exactly."""
    return f"""r{i} AS (
  SELECT n.node,
         (15 * (SELECT {MASS} // n FROM params)) // 100
         + (85 * coalesce(infl.s, 0)) // 100 AS rank
  FROM nodes n
  LEFT JOIN (
    SELECT e.dst AS node, (sum(r.rank // d.outdeg))::BIGINT AS s
    FROM edges e
    JOIN r{i - 1} r ON e.src = r.node
    JOIN deg d ON e.src = d.src
    GROUP BY e.dst
  ) infl ON n.node = infl.node
)"""


_ROUNDS = ",\n".join(_rank_round_cte(i) for i in range(1, PR_ITERS + 1))

ORACLE_Q127 = f"""
WITH pairs AS (
  SELECT DISTINCT o.o_custkey * 2 AS cust_node, l.l_suppkey * 2 + 1 AS supp_node
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
), edges AS (
  SELECT cust_node AS src, supp_node AS dst FROM pairs
  UNION ALL
  SELECT supp_node, cust_node FROM pairs
), deg AS (
  SELECT src, count(*) AS outdeg FROM edges GROUP BY src
), nodes AS (
  SELECT src AS node FROM deg
), params AS (
  SELECT count(*) AS n FROM nodes
), r0 AS (
  SELECT node, (SELECT {MASS} // n FROM params) AS rank FROM nodes
),
{_ROUNDS}
SELECT node AS node_id,
       CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS node_type,
       node // 2 AS entity_key,
       rank
FROM r{PR_ITERS}
ORDER BY rank DESC, node_id
LIMIT 20
"""


QUERIES = {
    "q127_pagerank": q127_pagerank,
}

ORACLES = {
    "q127_pagerank": ORACLE_Q127,
}


def _weighted_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer<->supplier edges weighted by interaction COUNT (number
    of lineitems between the pair) — the weighted domain-graph form: a
    host linking another 500 times is not the same as linking once."""
    cat = testdata_catalog(spark, sf_dir)
    orders = cat.table("orders").select("o_orderkey", "o_custkey")
    # not spread — see _interaction_edges
    li = cat.table("lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            (F.col("o_custkey") * 2).alias("cust_node"),
            (F.col("l_suppkey") * 2 + 1).alias("supp_node"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    return pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("cust_node").alias("src"),
                    F.col("supp_node").alias("dst"),
                    F.col("w"),
                ),
                F.struct(
                    F.col("supp_node").alias("src"),
                    F.col("cust_node").alias("dst"),
                    F.col("w"),
                ),
            )
        ).alias("e")
    ).select("e.src", "e.dst", "e.w")


def q150_weighted_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted 5-round PageRank: edge shares proportional to
    interaction counts, same exact-integer recurrence (share =
    (rank*w) div total_w; see prox_spark/graph.py). Compared to q127's
    unweighted walk, suppliers with heavy repeat business pull ahead
    of breadth-only suppliers — the distinction domain-level curation
    actually wants."""
    ranks = pagerank(
        _weighted_edges(spark, sf_dir), iters=PR_ITERS, weight_col="w",
        symmetric=True,
    )
    return (
        ranks.select(
            F.col("node").alias("node_id"),
            F.when(F.col("node") % 2 == 0, F.lit("customer"))
            .otherwise(F.lit("supplier"))
            .alias("node_type"),
            F.expr("node div 2").alias("entity_key"),
            "rank",
        )
        .orderBy(F.desc("rank"), "node_id")
        .limit(20)
    )


def _wrank_round_cte(i: int) -> str:
    return f"""r{i} AS (
  SELECT n.node,
         (15 * (SELECT {MASS} // n FROM params)) // 100
         + (85 * coalesce(infl.s, 0)) // 100 AS rank
  FROM nodes n
  LEFT JOIN (
    SELECT e.dst AS node, (sum((r.rank * e.w) // d.outw))::BIGINT AS s
    FROM edges e
    JOIN r{i - 1} r ON e.src = r.node
    JOIN deg d ON e.src = d.src
    GROUP BY e.dst
  ) infl ON n.node = infl.node
)"""


_WROUNDS = ",\n".join(_wrank_round_cte(i) for i in range(1, PR_ITERS + 1))

ORACLE_Q150 = f"""
WITH pairs AS (
  SELECT o.o_custkey * 2 AS cust_node, l.l_suppkey * 2 + 1 AS supp_node,
         count(*) AS w
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  GROUP BY 1, 2
), edges AS (
  SELECT cust_node AS src, supp_node AS dst, CAST(w AS BIGINT) AS w FROM pairs
  UNION ALL
  SELECT supp_node, cust_node, CAST(w AS BIGINT) FROM pairs
), deg AS (
  SELECT src, CAST(sum(w) AS BIGINT) AS outw FROM edges GROUP BY src
), nodes AS (
  SELECT src AS node FROM deg
), params AS (
  SELECT count(*) AS n FROM nodes
), r0 AS (
  SELECT node, (SELECT {MASS} // n FROM params) AS rank FROM nodes
),
{_WROUNDS}
SELECT node AS node_id,
       CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS node_type,
       node // 2 AS entity_key,
       rank
FROM r{PR_ITERS}
ORDER BY rank DESC, node_id
LIMIT 20
"""


QUERIES["q150_weighted_pagerank"] = q150_weighted_pagerank
ORACLES["q150_weighted_pagerank"] = ORACLE_Q150


CO_SUPPORT = 2  # parts must be co-ordered in >= this many distinct orders


def _part_co_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Part co-purchase edges (market-basket projection): parts linked
    when they appear together in at least CO_SUPPORT distinct orders.
    Per-order pair fan-out is bounded by order size (<=7 lineitems),
    and the support threshold is the standard noise filter that keeps
    one-mode projections of bipartite graphs SPARSE — without it a hub
    container (here: a popular supplier/part) densifies the projection
    toward a clique and any downstream graph algorithm inherits the
    blow-up (measured: the unthresholded supplier projection at sf0.1
    is near-complete, 135M oriented wedges; this graph has thousands)."""
    from prox_spark.queries.text import _spread

    if CO_SUPPORT != 2:
        raise ValueError("min!=max rewrite requires CO_SUPPORT == 2")
    cat = testdata_catalog(spark, sf_dir)
    # spread rationale: see _interaction_edges — here the single-split
    # scan serializes the per-order pair fan-out (a measured 1.5 s
    # single-task stage). EAGER localCheckpoint: the two self-join
    # branches did NOT reuse the spread exchange (profiled r13: two
    # identical 0.6 s scan+exchange map stages per run — the
    # round-robin repartition defeats ReuseExchange canonicalization);
    # the barrier materializes the projected scan once and both
    # branches read the stored partitions
    li = _spread(
        cat.table("lineitem").select("l_orderkey", "l_partkey")
    ).localCheckpoint(eager=True)
    l2 = li.select(
        F.col("l_orderkey").alias("o2"), F.col("l_partkey").alias("p2")
    )
    return (
        li.join(l2, (li.l_orderkey == l2.o2) & (li.l_partkey < l2.p2))
        .select(
            F.col("l_partkey").alias("src"),
            F.col("p2").alias("dst"),
            F.col("l_orderkey").alias("o"),
        )
        .groupBy("src", "dst")
        # ">= CO_SUPPORT distinct orders" == min != max over the
        # order key — map-side partial min/max instead of the
        # countDistinct expansion (r12, guide §2.3). Valid exactly
        # for a threshold of 2 (ADVICE r12: fail loudly here if the
        # constant — still interpolated into the oracle — ever moves)
        .agg(F.min("o").alias("o0"), F.max("o").alias("o1"))
        .filter(F.col("o0") != F.col("o1"))
        .select("src", "dst")
    )


def q160_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle census of the part co-purchase graph (market-
    basket projection with a co-order support threshold — the same
    shape as host co-citation graphs in crawl curation). Counts come
    from prox_spark.graph.triangle_count — degree-orientation +
    wedge-closing joins, O(m^1.5) worst-case shuffle — and the oracle
    recomputes all four integers with the identical orientation rule
    in SQL, so a double-counted or dropped triangle breaks the gate.
    n_wedges (oriented two-paths) is gated too: it IS the candidate
    volume of the closing join, so the oracle also pins the operator's
    work bound, not just its answer."""
    from prox_spark.graph import triangle_count

    n_nodes, n_edges, n_wedges, n_triangles = triangle_count(
        _part_co_edges(spark, sf_dir)
    )
    return values_df(
        spark,
        [(n_nodes, n_edges, n_wedges, n_triangles)],
        "n_nodes BIGINT, n_edges BIGINT, n_wedges BIGINT, n_triangles BIGINT",
    )


ORACLE_Q160 = f"""
WITH e AS (
  SELECT l1.l_partkey AS a, l2.l_partkey AS b
  FROM lineitem l1
  JOIN lineitem l2
    ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
  GROUP BY a, b
  HAVING count(DISTINCT l1.l_orderkey) >= {CO_SUPPORT}
), deg AS (
  SELECT node, count(*) AS deg
  FROM (SELECT a AS node FROM e UNION ALL SELECT b FROM e)
  GROUP BY node
), o AS (
  SELECT CASE WHEN (da.deg < db.deg) OR (da.deg = db.deg AND e.a < e.b)
              THEN e.a ELSE e.b END AS src,
         CASE WHEN (da.deg < db.deg) OR (da.deg = db.deg AND e.a < e.b)
              THEN e.b ELSE e.a END AS dst,
         CASE WHEN (da.deg < db.deg) OR (da.deg = db.deg AND e.a < e.b)
              THEN db.deg ELSE da.deg END AS dst_deg
  FROM e
  JOIN deg da ON da.node = e.a
  JOIN deg db ON db.node = e.b
), wedge AS (
  SELECT o1.dst AS v, o2.dst AS w
  FROM o o1
  JOIN o o2
    ON o1.src = o2.src
   AND ((o1.dst_deg < o2.dst_deg)
        OR (o1.dst_deg = o2.dst_deg AND o1.dst < o2.dst))
)
SELECT (SELECT count(*) FROM deg)                        AS n_nodes,
       (SELECT count(*) FROM e)                          AS n_edges,
       (SELECT count(*) FROM wedge)                      AS n_wedges,
       (SELECT count(*) FROM wedge
        WHERE EXISTS (SELECT 1 FROM o
                      WHERE o.src = wedge.v AND o.dst = wedge.w)) AS n_triangles
"""


QUERIES["q160_triangle_count"] = q160_triangle_count
ORACLES["q160_triangle_count"] = ORACLE_Q160
