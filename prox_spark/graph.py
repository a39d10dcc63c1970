"""Iterative graph algorithms over edge-list DataFrames.

Two families live here: connected components (min-label propagation
with pointer jumping, q72 and the curation pipeline's dup clusters) and
rank propagation (PageRank, q127/q150). The reference has no graph
operators at all; these belong to the 100 TB training-data curation
layer — web-crawl corpora are curated by link-graph importance
(PageRank/harmonic centrality over the domain graph), and the same
machinery scores entity importance in any bipartite interaction graph.

Determinism design — EXACT INTEGER ARITHMETIC: a textbook PageRank
sums doubles, and a double sum's value depends on partition/merge
order, so Spark and an oracle engine would disagree in the low bits
(and a top-k over near-tied ranks could even reorder). Instead the
unit rank mass is scaled to ``MASS = 10^12`` integer micro-units and
every step is a BIGINT op with truncating division:

- ``share(src)   = rank(src) div outdeg(src)``
- ``inflow(dst)  = sum(share(src) for src -> dst)``    (exact BIGINT sum)
- ``rank'(node)  = (15 * (MASS div n)) div 100 + (85 * inflow) div 100``

Truncation leaks a few micro-units of mass per step (bounded by
edges + nodes per iteration, i.e. relative error ~1e-7 here) — an
*identical* leak in any engine that implements integer division, so
results are bit-equal across Spark and DuckDB and across cluster
sizes/partitionings. That is the same trick the money aggregates use
(fixed-point => order-independent), applied to an iterative
algorithm.

Scale shape: per iteration one equi-join of the edge list with the
narrow (node, rank) frame plus one groupBy(dst) — both shuffles are
sized to the EDGE count (the frames carry two BIGINTs per row), with
map-side partial aggregation on the inflow sum. Ranks never visit the
driver; lineage is rebased with an eager localCheckpoint every
``checkpoint_every`` rounds exactly like the connected-components
fixpoint (:func:`min_label_clusters`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from prox_spark.local_frames import values_df

MASS = 10**12
DAMP_NUM, DAMP_DEN = 85, 100  # damping 0.85 as an exact ratio


def _rank_round(
    ed: DataFrame,
    nodes: DataFrame,
    ranks: DataFrame,
    base: int,
    w: str | None,
    symmetric: bool = False,
) -> DataFrame:
    """ONE rank-propagation round (shared by the fixpoint loop and the
    plan-audit twin, so audited plan shape == executed plan shape):
    join the dst-partitioned edge frame with the broadcast rank frame,
    sum shares per dst, re-anchor on the node list.

    ``symmetric=True`` asserts every node has >= 1 in-edge (true for
    any symmetrized edge list: in-degree == out-degree >= 1), so the
    inflow aggregation's key set IS the node set and the re-anchor
    left-join is an identity — skipping it removes one join (and its
    broadcast build) per round with bit-identical ranks (coalesce
    never fires: no node is missing from inflow)."""
    share = F.expr(f"(rank * {w}) div out") if w else F.expr("rank div out")
    inflow = (
        ed.join(F.broadcast(ranks), ed.src == ranks.node)
        .select("dst", share.alias("share"))
        .groupBy("dst")
        .agg(F.sum("share").alias("inflow"))
    )
    if symmetric:
        return inflow.select(
            F.col("dst").alias("node"),
            (
                F.lit(base) + F.expr(f"({DAMP_NUM} * inflow) div {DAMP_DEN}")
            ).alias("rank"),
        )
    return nodes.join(inflow, nodes.node == inflow.dst, "left").select(
        "node",
        (
            F.lit(base)
            + F.expr(f"({DAMP_NUM} * coalesce(inflow, 0L)) div {DAMP_DEN}")
        ).alias("rank"),
    )


def pagerank_round_audit_frame(
    edges: DataFrame, weight_col: str | None = None, symmetric: bool = False
) -> DataFrame:
    """AUDIT TWIN: the DataFrame of one PageRank round built LAZILY —
    no checkpoints, no counts — so tools/plan_audit.py can count the
    loop body's shuffles/joins mechanically (the real ``pagerank``
    executes eagerly while building, which a plan audit must not).
    Plan shape is identical to the executed round because both call
    :func:`_rank_round`; only the materialization boundaries differ
    (the audit frame carries the edge/degree build that checkpointing
    amortizes across rounds in the real run). Pass ``symmetric`` as
    the executed call site does so the audited round matches."""
    w = weight_col
    cols = ["src", "dst"] + ([w] if w else [])
    e = edges.select(*cols)
    out_expr = F.sum(w).alias("out") if w else F.count(F.lit(1)).alias("out")
    deg = e.groupBy("src").agg(out_expr)
    ed = e.join(deg, "src").repartition("dst")
    nodes = deg.select(F.col("src").alias("node"))
    ranks = nodes.withColumn("rank", F.lit(MASS))
    return _rank_round(ed, nodes, ranks, 0, w, symmetric=symmetric)


def pagerank(
    edges: DataFrame,
    iters: int = 5,
    weight_col: str | None = None,
    symmetric: bool = False,
) -> DataFrame:
    """Integer-arithmetic PageRank over a directed edge list
    ``(src, dst[, weight])``; returns ``(node, rank)`` with rank in
    micro-units of MASS. Every node must appear as a ``src`` at least
    once (feed a symmetrized edge list for undirected graphs — then
    outdeg >= 1 by construction and no dangling-mass redistribution is
    needed).

    ``weight_col`` (integer weights >= 1) generalizes to the weighted
    walk — a domain link graph weighs edges by link COUNT, not
    existence. The recurrence stays exact: each edge's share is
    ``(rank * w) div total_w(src)`` (BIGINT; rank <= MASS = 1e12 and
    64-bit headroom allows total weights up to ~9e6 per source —
    pre-scale weights down if a source exceeds that).

    ``iters`` is a fixed count, not a convergence test: oracle twins
    unroll the same number of rounds, and a data-dependent stop would
    make the result depend on float tolerances.

    ``symmetric=True`` (valid for any symmetrized edge list, where
    every node has an in-edge) drops the per-round re-anchor join on
    the node list — see :func:`_rank_round`; ranks are bit-identical.
    """
    spark = edges.sparkSession
    # AQE OFF for the fixpoint, restored on exit (r13, guide §1.2):
    # the loop body is a stable, tiny plan (checkpoint-backed edge scan
    # + broadcast join + pre-partitioned agg) that AQE re-plans every
    # round for no benefit, materializing each shuffle/broadcast stage
    # as its own tracked job — measured 29 jobs / ~3 s of inter-job
    # driver gaps per query at sf0.1. Statically planned, each round
    # is one job (A/B 5-rep medians: q127 3.42→3.27 s, q150
    # 3.46→2.68 s; ranks bit-identical — exact integer arithmetic is
    # plan-shape-independent). At cluster scale the loop's plans are
    # still fixed-shape (the one data-sized choice, broadcast-vs-SMJ,
    # is pinned by the explicit broadcast hint), so AQE has nothing to
    # adapt here either.
    _prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        return _pagerank_body(edges, iters, weight_col, symmetric)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", _prev_aqe)


def _pagerank_body(
    edges: DataFrame,
    iters: int,
    weight_col: str | None,
    symmetric: bool,
) -> DataFrame:
    spark = edges.sparkSession
    w = weight_col if weight_col is not None else None
    cols = ["src", "dst"] + ([w] if w else [])
    # pin the edge list: degrees and the dst-partitioned edge frame
    # both derive from it, and its lineage (the upstream join/distinct
    # that built it) must not replay. A lazy persist (populated by the
    # stats job below) replaces the r11 eager localCheckpoint — same
    # single materialization, one fewer job.
    e = edges.select(*cols).persist()
    out_expr = F.sum(w).alias("out") if w else F.count(F.lit(1)).alias("out")
    # degrees carry an out-edge COUNT alongside the (possibly
    # weighted) out-mass so ONE aggregate job yields n_nodes AND
    # n_edges — replacing the separate e.count() + deg.count() jobs
    # (r12 guide §1.2: fewer passes; the values are identical —
    # sum(cnt) over deg IS the directed edge-row count)
    deg = e.groupBy("src").agg(out_expr, F.count(F.lit(1)).alias("cnt")).persist()
    stats = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"), F.sum("cnt").alias("n_edges")
    ).collect()[0]
    n_nodes, n_edges = int(stats["n_nodes"]), int(stats["n_edges"])
    width = max(
        1, min(spark.sparkContext.defaultParallelism, n_edges // 250_000 + 1)
    )
    # (src, dst, out) hash-partitioned by DST and checkpointed: the
    # per-round heavy shuffle would be groupBy(dst) over the edge
    # frame — pre-clustering on dst lets every round's aggregation
    # reuse this one exchange (the checkpoint preserves the
    # partitioning), so after setup NO per-iteration shuffle touches
    # edge-sized data. Width sized to edge count like the CC fixpoint
    # (min_label_clusters) at ~250k rows (~6 MB) per partition — edge
    # rows are three BIGINTs, so finer slicing just buys per-round
    # task-scheduling overhead.
    ed = (
        e.join(deg.select("src", "out"), "src")
        .repartition(width, "dst")
        .localCheckpoint(eager=True)
    )
    e.unpersist()
    nodes = deg.select(F.col("src").alias("node"))
    if not symmetric:
        # the re-anchor left join references `nodes` EVERY round, and
        # deg unpersists before the caller's first action — without a
        # barrier each round's plan would replay the full upstream
        # edge build through the dead cache (ADVICE r12). One eager
        # node-sized checkpoint pins it. The symmetric path never
        # reads `nodes` inside the loop, so it skips the job.
        nodes = nodes.localCheckpoint(eager=True)
    init = MASS // n_nodes
    base = (15 * init) // 100
    # the initial rank frame checkpoints EAGERLY (one node-sized job)
    # so the lazy round chain below never reaches back through the
    # unpersisted degree cache
    ranks = nodes.withColumn("rank", F.lit(init)).localCheckpoint(eager=True)
    for _ in range(iters):
        # ranks is two BIGINTs per node — broadcast it (inside
        # _rank_round) so the edge frame never moves. (At billion-node
        # graph scale flip this to an un-hinted join over
        # src-co-partitioned frames; node frames in the curation
        # use-case are bounded by hosts, not documents, so broadcast
        # is the right default.)
        # LAZY checkpoint per round (r12): each round still
        # materializes exactly once — the NEXT round's broadcast build
        # computes it and the checkpoint caches the partitions — but
        # the separate eager-materialization job per round disappears
        # (A/B: 3.85→3.33 s median at sf0.1, bit-identical ranks).
        # The chain never nests un-materialized: every backward
        # reference lands on a checkpoint-backed RDD.
        ranks = _rank_round(
            ed, nodes, ranks, base, w, symmetric=symmetric
        ).localCheckpoint(eager=False)
    # rounds chain only through checkpoints and ed, so the degree
    # cache is no longer referenced by the returned frame
    deg.unpersist()
    return ranks


def _tri_normalize(edges: DataFrame) -> DataFrame:
    """Undirected edge canonicalization: (min, max) endpoints, no
    self-loops, no duplicates (forward or reversed)."""
    return (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def _tri_orient(e: DataFrame, deg: DataFrame | None = None) -> DataFrame:
    """Orient each edge from its lower to its higher endpoint in the
    total order (degree, id); carries the destination's degree so the
    wedge join can compare that order without another lookup. Pass a
    pre-built (node, deg) frame to reuse one degree computation for
    both join branches (the executor persists it — node-sized)."""
    if deg is None:
        deg = (
            e.select(F.explode(F.array("a", "b")).alias("node"))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("deg_b"))
    a_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))
    )
    return (
        e.join(da, "a")
        .join(db, "b")
        .select(
            F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("src"),
            F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
            F.when(a_first, F.col("deg_b"))
            .otherwise(F.col("deg_a"))
            .alias("dst_deg"),
        )
    )


def _tri_closing(oriented: DataFrame) -> DataFrame:
    """The wedge-generation + wedge-closing frame whose row count is
    the triangle count (shared by the fixpoint-free executor and the
    plan-audit twin, so audited plan shape == executed plan shape)."""
    o1 = oriented.select(
        F.col("src"), F.col("dst").alias("v"), F.col("dst_deg").alias("v_deg")
    )
    o2 = oriented.select(
        F.col("src"), F.col("dst").alias("w"), F.col("dst_deg").alias("w_deg")
    )
    wedge_ord = (F.col("v_deg") < F.col("w_deg")) | (
        (F.col("v_deg") == F.col("w_deg")) & (F.col("v") < F.col("w"))
    )
    closing = oriented.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    return o1.join(o2, "src").filter(wedge_ord).join(closing, ["v", "w"], "left_semi")


def triangle_audit_frame(edges: DataFrame) -> DataFrame:
    """Lazily-built closing-join plan for tools/plan_audit.py —
    :func:`triangle_count` executes counting jobs while building, so
    the audit inspects this frame instead (same builders, no persist)."""
    return _tri_closing(_tri_orient(_tri_normalize(edges)))


def triangle_count(edges: DataFrame) -> tuple[int, int, int, int]:
    """Exact global triangle count over an undirected edge list
    (``src``/``dst`` columns; self-loops, duplicates, and reversed
    duplicates are normalized away). Returns
    ``(n_nodes, n_edges, n_wedges, n_triangles)`` as plain ints —
    four bounded scalars, the only values that ever reach the driver.

    Scale design is the standard compact-forward / degree-orientation
    algorithm: orient every edge from its lower to its higher endpoint
    in the total order (degree, id). Every triangle then has exactly
    ONE vertex with two out-edges into it, so

        triangles = |{(u->v, u->w, v->w)}|  with  pi(v) < pi(w)

    counted by one self-join on ``src`` (wedge generation) plus one
    equi-join against the oriented edge list (wedge closing). The
    orientation bounds every out-degree by O(sqrt(m)) regardless of
    how skewed the raw degree distribution is — a celebrity node of
    degree d contributes C(d,2) wedges UNORIENTED but only
    C(sqrt(2m),2) oriented — so the wedge shuffle is O(m^1.5) worst
    case and near-linear on real graphs, never the O(sum d^2) of the
    naive join. ``n_wedges`` (the oriented-wedge count, i.e. the
    candidate volume the closing join actually processes) is reported
    so callers can see that bound. The closing join keys on the
    oriented (src, dst) pair — a plain shuffled equi-join; nothing is
    broadcast (both sides are edge-sized).
    """
    e = _tri_normalize(edges).persist()
    deg = (
        e.select(F.explode(F.array("a", "b")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
        .persist()
    )
    try:
        # ONE stats job over the (node-sized) degree frame replaces the
        # r11 e.count() + explode-distinct-count pair: node count is
        # deg's row count, and every normalized edge contributes
        # exactly 2 to sum(deg), so n_edges = sum(deg) div 2 (guide
        # §1.2 — fewer passes; the job also materializes e and deg for
        # the orientation join below)
        stats = deg.agg(
            F.count(F.lit(1)).alias("n"), F.sum("deg").alias("td")
        ).collect()[0]
        n_nodes = int(stats["n"])
        n_edges = int(stats["td"] or 0) // 2
        oriented = _tri_orient(e, deg).persist()
        try:
            n_wedges = (
                oriented.groupBy("src")
                .agg(F.count(F.lit(1)).alias("c"))
                .agg(F.sum(F.expr("c * (c - 1) div 2")).alias("w"))
                .collect()[0]["w"]
                or 0
            )
            n_triangles = _tri_closing(oriented).count()
        finally:
            oriented.unpersist()
    finally:
        e.unpersist()
        deg.unpersist()
    return int(n_nodes), int(n_edges), int(n_wedges), int(n_triangles)


# --- connected components (min-label propagation, q72) ----------------------

CC_MAX_ITERS = 15

# truncate the label frame's lineage every N fixpoint rounds. Each round
# references the previous label frame TWICE (the propagate join's input
# and the update join's left side), so the logical-plan TREE doubles per
# round: un-truncated, a 15-round run carries 2^16-2 ≈ 65k join nodes and
# plan analysis itself becomes the bottleneck (measured: 2/6/14 joins
# after 1/2/3 rounds). localCheckpoint rebases the plan on the
# materialized partitions, bounding the tree at 2^(N+1)-2 joins and
# releasing prior rounds' shuffle files.
CC_CHECKPOINT_EVERY = 3

# below this edge count the whole fixpoint is driver-side union-find:
# a dedup edge list is orders of magnitude smaller than the corpus
# (pairs that SURVIVED banding + verify), and a sub-million-row list
# union-finds in milliseconds where the distributed fixpoint pays
# rounds x job-scheduling overhead. 1M edges x 16 bytes ≈ 16 MB on the
# driver — far under any sane driver heap. The distributed path stays
# the default above the threshold; both produce identical min-labels.
CC_DRIVER_MAX_EDGES = 1_000_000


def _driver_union_find(edge_rows: list[tuple[int, int]]) -> list[tuple[int, int]]:
    """Union-find with path compression; returns (node, min_label)."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in edge_rows:
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            # keep the SMALLER id as root so the root IS the min label
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb
    return sorted((n, find(n)) for n in parent)


def _cc_round(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """ONE min-label-propagation + pointer-jump round (shared by the
    fixpoint loop and the plan-audit twin, so audited plan shape ==
    executed plan shape). Returns the new label frame, carrying the
    previous label as ``old`` so convergence is read off the SAME
    materialization — one job per round, not a second change-detection
    join.

    Pointer jumping (label-of-label): after adopting the neighbor
    minimum, also adopt the label OF the candidate label's node.
    Labels are always node ids, so the lookup is a self-join on the
    (narrow) label frame; it turns chain convergence from O(diameter)
    rounds into O(log diameter) — the property that matters when a
    billion-edge near-dup graph hides long paths. A fixpoint of the
    combined update is in particular a fixpoint of plain neighbor-min
    propagation, so the converged labels are unchanged."""
    nbr_min = (
        edges.join(labels, edges.doc1 == labels.doc_id)
        .groupBy(F.col("doc2").alias("doc_id"))
        .agg(F.min("label").alias("nbr"))
    )
    mid = labels.join(nbr_min, "doc_id", "left").select(
        "doc_id",
        F.col("label").alias("old"),
        F.least(F.col("label"), F.coalesce(F.col("nbr"), F.col("label"))).alias("mid"),
    )
    l2 = labels.select(F.col("doc_id").alias("p_id"), F.col("label").alias("p_label"))
    return mid.join(l2, mid.mid == l2.p_id, "left").select(
        "doc_id",
        "old",
        F.least(F.col("mid"), F.coalesce(F.col("p_label"), F.col("mid"))).alias(
            "label"
        ),
    )


def min_label_clusters(
    pairs: DataFrame,
    max_iters: int = CC_MAX_ITERS,
    driver_max_edges: int = CC_DRIVER_MAX_EDGES,
) -> DataFrame:
    """Connected components over an undirected pair list: every node
    gets the minimum doc_id of its component, as ``(doc_id, label)``.

    HYBRID: edge lists at or below ``driver_max_edges`` are collected
    and union-found on the driver (a dedup edge list is tiny relative
    to the corpus; the fixpoint's per-round job overhead dwarfs a
    sub-second union-find). Larger graphs run the distributed
    fixpoint below — identical labels either way (both tested).

    Spark has no recursive CTE, so connectivity is iterative min-label
    propagation: per round, every node adopts the smallest label among
    itself and its neighbors; converged when no label changes. Rounds
    needed = component diameter (near-dup clusters are tiny — chains
    longer than ~10 docs are pathological), capped at ``max_iters``.
    Per round: one groupBy over the edge list + one left join over the
    (narrow) label frame; the only driver-side values are the converged?
    count — the corpus never leaves the executors. Lineage is rebased
    via eager localCheckpoint every CC_CHECKPOINT_EVERY rounds (see
    constant note)."""
    spark = pairs.sparkSession
    # cache the PAIR list, not the symmetrized union: both the size
    # probe and whichever path runs next re-read it, and an uncached
    # union's two branches would each replay the upstream pair
    # generation (the LSH pipeline — the expensive part)
    pairs = pairs.select("doc1", "doc2").cache()
    n_edges = 2 * pairs.count()
    if n_edges <= driver_max_edges:
        # small-graph fast path (see CC_DRIVER_MAX_EDGES note): one
        # collect of the (cached) edge list, exact union-find, labels
        # parallelized back — replaces rounds of fixpoint jobs
        labels = _driver_union_find([(r[0], r[1]) for r in pairs.collect()])
        if len(labels) <= 20_000:
            # pure-JVM VALUES relation: a Python-RDD createDataFrame
            # pays a Python-worker scan per downstream materialization
            # (twice under a global sort — range sampler + sort), the
            # q84/q195 pathology; 20k rows keeps the SQL text well
            # under parser pain
            out = values_df(spark, labels, "doc_id BIGINT, label BIGINT")
        else:
            out = spark.createDataFrame(labels, "doc_id BIGINT, label BIGINT")
        pairs.unpersist()
        return out
    # size the fixpoint's shuffle width to the EDGE count, not the
    # corpus: near-dup edge lists are a tiny fraction of the input
    # (here hundreds of rows; at 100 TB maybe billions). Running a
    # 500-row fixpoint at cluster-wide width would pay ~P tasks of
    # pure scheduling overhead per round for no parallelism gain.
    width = max(1, min(spark.sparkContext.defaultParallelism, n_edges // 50_000 + 1))
    edges = pairs.union(
        pairs.select(F.col("doc2").alias("doc1"), F.col("doc1").alias("doc2"))
    ).repartition(width, "doc1")
    labels = (
        edges.select(F.col("doc1").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id"))
        .cache()
    )
    for i in range(max_iters):
        new_labels = _cc_round(edges, labels).cache()
        changed = new_labels.filter(F.col("label") < F.col("old")).count()
        labels.unpersist()
        labels = new_labels.drop("old")
        if changed == 0:
            break
        if (i + 1) % CC_CHECKPOINT_EVERY == 0:
            checkpointed = labels.localCheckpoint(eager=True)
            new_labels.unpersist()
            labels = checkpointed
    return labels
