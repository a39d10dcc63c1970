"""Dump .explain("formatted") for named queries to plans/r12/.

Usage: python tools/dump_plans.py <before|after> <query> [query ...]

Writes plans/r12/<query>_<tag>.txt. For the iterative/eager queries
(q127/q150 PageRank, q160 triangle count) the executed function
collects mid-build, so the committed plan is the plan-audit twin of
the loop body / closing join (same builders as the executed rounds —
see prox_spark/graph.py docstrings), plus the edge-build frame.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT_DIR = os.path.join(ROOT, "plans", "r13")


def frames_for(name: str, spark):
    """Return {suffix: DataFrame} of lazily-explainable frames for a
    query — the twin surfaces for eager-executing queries, the query
    frame itself otherwise."""
    import __spark_entry__ as e

    if name in ("q127_pagerank", "q150_weighted_pagerank"):
        from prox_spark.graph import pagerank_round_audit_frame
        from prox_spark.queries.graph_q import _interaction_edges, _weighted_edges

        if name.startswith("q127"):
            edges = _interaction_edges(spark, SF_DIR)
            return {"": pagerank_round_audit_frame(edges, symmetric=True), "_edges": edges}
        edges = _weighted_edges(spark, SF_DIR)
        return {"": pagerank_round_audit_frame(edges, "w", symmetric=True), "_edges": edges}
    if name == "q160_triangle_count":
        from prox_spark.graph import triangle_audit_frame
        from prox_spark.queries.graph_q import _part_co_edges

        edges = _part_co_edges(spark, SF_DIR)
        return {"": triangle_audit_frame(edges), "_edges": edges}
    qs = e.queries()
    return {"": qs[name](spark, SF_DIR)}


def main() -> None:
    tag = sys.argv[1]
    names = sys.argv[2:]
    os.makedirs(OUT_DIR, exist_ok=True)
    from prox_spark.session import get_spark

    spark = get_spark("plan-dump")
    for name in names:
        for suffix, df in frames_for(name, spark).items():
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            path = os.path.join(OUT_DIR, f"{name}{suffix}_{tag}.txt")
            with open(path, "w") as f:
                f.write(buf.getvalue())
            print(f"wrote {path}")


if __name__ == "__main__":
    main()
