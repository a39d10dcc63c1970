"""Property-based checks (SURVEY.md §5.2 item 4) on the pure-Python
DAG runner — fast to fuzz because no SparkSession is involved."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from prox_spark.pipeline import Pipeline

# a random DAG: for stage i, an optional dependency on some j < i, and
# a flag saying whether the stage itself fails
dag_strategy = st.lists(
    st.tuples(st.one_of(st.none(), st.integers(min_value=0, max_value=50)),
              st.booleans()),
    min_size=1,
    max_size=12,
)


@given(dag_strategy)
@settings(max_examples=200, deadline=None)
def test_runner_invariants(spec):
    p = Pipeline()
    for i, (dep, fails) in enumerate(spec):
        deps = [f"s{dep}"] if dep is not None and dep < i else []

        def fn(ctx, i=i, fails=fails):
            if fails:
                raise RuntimeError(f"boom {i}")
            return i

        p.add_stage(f"s{i}", fn, depends_on=deps, max_attempts=1, backoff_seconds=0)
    results = p.run()

    assert set(results) == {f"s{i}" for i in range(len(spec))}
    for i, (dep, fails) in enumerate(spec):
        r = results[f"s{i}"]
        if dep is not None and dep < i and results[f"s{dep}"].status != "succeeded":
            # dependency not satisfied -> never executed
            assert r.status == "skipped" and r.attempts == 0
        elif fails:
            assert r.status == "failed"
        else:
            assert r.status == "succeeded" and r.output == i


# --- pure-Python models of the distributed operators: union-find and
# the integer PageRank recurrence are Spark-free here, so hypothesis
# can fuzz graph shapes cheaply; the Spark paths are pinned to these
# same models in tests/test_graph.py / tests/test_clusters.py.

edge_strategy = st.lists(
    st.tuples(st.integers(0, 30), st.integers(0, 30)).filter(lambda e: e[0] != e[1]),
    min_size=1,
    max_size=60,
)


@given(edge_strategy)
@settings(max_examples=200, deadline=None)
def test_union_find_labels_are_component_minima(pairs):
    from prox_spark.graph import _driver_union_find

    labels = dict(_driver_union_find(pairs))
    # brute-force reachability model
    adj: dict[int, set[int]] = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    for node in adj:
        seen, todo = {node}, [node]
        while todo:
            for nxt in adj[todo.pop()]:
                if nxt not in seen:
                    seen.add(nxt)
                    todo.append(nxt)
        assert labels[node] == min(seen)


@given(edge_strategy)
@settings(max_examples=100, deadline=None)
def test_integer_pagerank_conserves_and_orders(pairs):
    from prox_spark.graph import MASS

    edges = pairs + [(b, a) for a, b in pairs]
    out: dict[int, int] = {}
    for s, _ in edges:
        out[s] = out.get(s, 0) + 1
    nodes = sorted(out)
    init = MASS // len(nodes)
    rank = {v: init for v in nodes}
    base = (15 * init) // 100
    for _ in range(5):
        inflow: dict[int, int] = {}
        for s, d in edges:
            inflow[d] = inflow.get(d, 0) + rank[s] // out[s]
        rank = {v: base + (85 * inflow.get(v, 0)) // 100 for v in nodes}
    # truncating division only leaks mass, never creates it
    assert sum(rank.values()) <= MASS
    # every rank keeps the damping floor
    assert all(r >= base for r in rank.values())


@given(st.lists(st.integers(1, 100_000), min_size=1, max_size=30))
@settings(max_examples=300, deadline=None)
def test_temperature_quota_math_invariants(counts):
    # the q145 integer recurrence: isqrt weights, proportional integer
    # quotas of a total//2 budget, 2^32-scaled keep thresholds
    import math

    total = sum(counts)
    budget = total // 2
    ws = [math.isqrt(c) for c in counts]
    tot_w = sum(ws)
    quotas = [(budget * w) // tot_w for w in ws]
    # floor-allocation never oversubscribes the budget
    assert sum(quotas) <= budget
    # quotas are weakly monotone in counts (bigger source never gets
    # a smaller quota)
    order = sorted(range(len(counts)), key=lambda i: counts[i])
    for a, b in zip(order, order[1:]):
        assert quotas[a] <= quotas[b]
    # thresholds stay in 33-bit range only when the quota is below the
    # source size; a quota >= count keeps the whole source (rate
    # implicitly clamped at 1) — both regimes are valid keep-gates
    for q, c in zip(quotas, counts):
        thr = (q * 4294967296) // c
        if q <= c:
            assert thr <= 4294967296
