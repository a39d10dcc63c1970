from __future__ import annotations

import sys
import threading
import time

from prox_spark.pipeline import Pipeline


def test_happy_path_passes_context():
    p = Pipeline()
    p.add_stage("a", lambda ctx: 1)
    p.add_stage("b", lambda ctx: ctx["a"] + 1, depends_on=["a"])
    res = p.run()
    assert res["a"].status == "succeeded"
    assert res["b"].output == 2


def test_retry_with_backoff():
    calls = []

    def flaky(ctx):
        calls.append(1)
        if len(calls) < 3:
            raise RuntimeError("transient")
        return "ok"

    p = Pipeline()
    p.add_stage("flaky", flaky, max_attempts=3, backoff_seconds=0.01)
    res = p.run()
    assert res["flaky"].status == "succeeded"
    assert res["flaky"].attempts == 3


def test_failure_skips_dependents_and_notifies():
    failures = []
    p = Pipeline(on_failure=failures.append)
    p.add_stage("bad", lambda ctx: 1 / 0, max_attempts=2, backoff_seconds=0.01)
    p.add_stage("down", lambda ctx: "never", depends_on=["bad"])
    p.add_stage("indep", lambda ctx: "runs")
    res = p.run()
    assert res["bad"].status == "failed"
    assert res["down"].status == "skipped"
    assert res["indep"].status == "succeeded"
    assert len(failures) == 1 and failures[0].name == "bad"


def test_unknown_dependency_rejected():
    p = Pipeline()
    try:
        p.add_stage("x", lambda ctx: 1, depends_on=["ghost"])
    except ValueError as e:
        assert "ghost" in str(e)
    else:
        raise AssertionError("expected ValueError")


def test_independent_stages_run_concurrently():
    """Both branches must be inside their stage at once to pass the
    barrier; a runner that runs one stage at a time breaks it."""
    meet = threading.Barrier(2, timeout=10)
    p = Pipeline()
    p.add_stage("left", lambda ctx: meet.wait(), max_attempts=1)
    p.add_stage("right", lambda ctx: meet.wait(), max_attempts=1)
    res = p.run()
    assert [r.status for r in res.values()] == ["succeeded", "succeeded"], res


def test_dependent_stage_starts_after_its_dependency_ends():
    spans: dict[str, tuple[float, float]] = {}

    def timed(name, secs):
        def fn(ctx):
            t0 = time.monotonic()
            time.sleep(secs)
            spans[name] = (t0, time.monotonic())
            return name
        return fn

    p = Pipeline()
    p.add_stage("a", timed("a", 0.2))
    p.add_stage("side", timed("side", 0.05))
    p.add_stage("b", timed("b", 0.01), depends_on=["a"])
    p.add_stage("c", timed("c", 0.01), depends_on=["b", "side"])
    res = p.run()
    assert all(r.status == "succeeded" for r in res.values())
    assert spans["b"][0] >= spans["a"][1]
    assert spans["c"][0] >= max(spans["b"][1], spans["side"][1])


def test_results_come_back_in_declared_order():
    """The stage declared first finishes last; the results still list
    the stages as declared, skips included."""
    p = Pipeline()
    p.add_stage("slow", lambda ctx: time.sleep(0.2))
    p.add_stage("bad", lambda ctx: 1 / 0, max_attempts=1)
    p.add_stage("fast", lambda ctx: 1)
    p.add_stage("after_bad", lambda ctx: 2, depends_on=["bad"])
    p.add_stage("after_fast", lambda ctx: ctx["fast"] + 1, depends_on=["fast"])
    res = p.run()
    assert list(res) == ["slow", "bad", "fast", "after_bad", "after_fast"]
    assert [r.status for r in res.values()] == [
        "succeeded", "failed", "succeeded", "skipped", "succeeded"]
    assert res["after_fast"].output == 2


def test_many_concurrent_stages_lose_no_output_or_callback():
    """More stage threads than cores, switching often: every output
    reaches the shared context and every success callback is seen."""
    n = 32
    seen = []
    p = Pipeline(on_success=seen.append)
    for i in range(n):
        p.add_stage(f"s{i}", lambda ctx, i=i: i * i)
    p.add_stage("sum", lambda ctx: sum(ctx[f"s{i}"] for i in range(n)),
                depends_on=[f"s{i}" for i in range(n)])
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        res = p.run()
    finally:
        sys.setswitchinterval(old)
    assert res["sum"].output == sum(i * i for i in range(n))
    assert sorted(r.name for r in seen) == sorted(res)


def test_stage_jobs_keep_the_callers_job_group(spark):
    """A stage runs on a worker thread, but its Spark jobs are listed
    under the job group the caller set."""
    sc = spark.sparkContext
    group = "pipeline-stage-job-group"
    p = Pipeline()
    p.add_stage("count", lambda ctx: spark.range(10).count())
    sc.setJobGroup(group, "pipeline job group test")
    try:
        res = p.run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert res["count"].output == 10
    assert sc.statusTracker().getJobIdsForGroup(group)


def test_end_to_end_medallion_pipeline(spark, fixtures, tmp_path):
    """bronze -> silver -> gold -> parquet, wired through the runner
    (the reference's Step Functions DAG, reference stepfunctions.tf:8-226)."""
    from prox_spark.gold import build_star_schema, write_gold
    from prox_spark.silver import to_silver

    p = Pipeline()
    p.add_stage("bronze", lambda ctx: fixtures)
    p.add_stage("silver", lambda ctx: to_silver(ctx["bronze"]), depends_on=["bronze"])
    p.add_stage("gold", lambda ctx: build_star_schema(spark, ctx["silver"]),
                depends_on=["silver"])
    p.add_stage("load", lambda ctx: write_gold(ctx["gold"], str(tmp_path)),
                depends_on=["gold"])
    res = p.run()
    assert all(r.status == "succeeded" for r in res.values())
    fact = spark.read.parquet(str(tmp_path / "fact_booking"))
    assert fact.count() > 0
    assert spark.read.parquet(str(tmp_path / "dim_date")).count() > 300
