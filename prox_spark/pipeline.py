"""In-process DAG pipeline runner (SURVEY.md §2.12 O1-O4); it needs no
Spark session.

Re-expresses the reference's Step Functions state machine
(reference stepfunctions.tf:1-295) as an in-process runner:

- stages with dependency edges (O1), each started as soon as all of
  its dependencies have succeeded: independent branches run
  concurrently, one thread per stage. At small scale every stage is
  bound by per-job driver overhead, so while one branch waits on the
  driver another keeps the executors busy;
- per-stage retry with exponential backoff (O2; reference
  ``IntervalSeconds=30, MaxAttempts=3, BackoffRate=2`` at
  stepfunctions.tf:17-22 — configurable here, defaults scaled down);
- stage-level failure callbacks standing in for the SNS failure
  topics (O4; stepfunctions.tf:228-292). Callbacks run on the stage's
  worker thread, so two may run at once;
- no crawler poll loops (O3): parquet is self-describing, so there
  is nothing to crawl — the 3x60s latency floor disappears.
"""

from __future__ import annotations

import time
import warnings
from collections.abc import Callable
from concurrent.futures import FIRST_COMPLETED, Future, ThreadPoolExecutor, wait
from dataclasses import dataclass, field
from typing import Any

from pyspark import SparkContext
from pyspark.util import inheritable_thread_target


@dataclass
class Stage:
    name: str
    fn: Callable[[dict[str, Any]], Any]
    depends_on: list[str] = field(default_factory=list)
    max_attempts: int = 3
    backoff_seconds: float = 0.1
    backoff_rate: float = 2.0


@dataclass
class StageResult:
    name: str
    status: str  # "succeeded" | "failed" | "skipped"
    attempts: int
    output: Any = None
    error: str | None = None
    duration_s: float = 0.0


class Pipeline:
    """Run stages over a shared context dict; each stage's return value
    is stored under its name. A stage starts once every dependency has
    succeeded, on its own worker thread, and is skipped once any
    dependency failed or was skipped. ``run`` returns the results in
    declared stage order."""

    def __init__(self, on_failure: Callable[[StageResult], None] | None = None,
                 on_success: Callable[[StageResult], None] | None = None) -> None:
        self.stages: list[Stage] = []
        self.on_failure = on_failure
        self.on_success = on_success

    def add_stage(self, name: str, fn: Callable[[dict[str, Any]], Any],
                  depends_on: list[str] | None = None, **kw: Any) -> "Pipeline":
        known = {s.name for s in self.stages}
        for dep in depends_on or []:
            if dep not in known:
                raise ValueError(f"stage {name!r} depends on unknown stage {dep!r}")
        self.stages.append(Stage(name, fn, depends_on or [], **kw))
        return self

    def run(self, context: dict[str, Any] | None = None) -> dict[str, StageResult]:
        ctx: dict[str, Any] = dict(context or {})
        results: dict[str, StageResult] = {}
        pending = list(self.stages)
        running: dict[Future, Stage] = {}
        with ThreadPoolExecutor(max_workers=max(1, len(self.stages))) as pool:
            while pending or running:
                # one pass in declared order settles every ready stage:
                # dependencies are declared first, so a skip recorded
                # here is seen by its dependents later in the same pass
                for stage in list(pending):
                    if not all(d in results for d in stage.depends_on):
                        continue
                    pending.remove(stage)
                    failed_dep = next(
                        (d for d in stage.depends_on if results[d].status != "succeeded"),
                        None,
                    )
                    if failed_dep is not None:
                        results[stage.name] = StageResult(
                            stage.name, "skipped", 0,
                            error=f"dependency {failed_dep!r} failed",
                        )
                    else:
                        running[pool.submit(_inherit(self._run_stage), stage, ctx)] = stage
                if running:
                    done, _ = wait(running, return_when=FIRST_COMPLETED)
                    for fut in done:
                        results[running.pop(fut).name] = fut.result()
        return {s.name: results[s.name] for s in self.stages}

    def _run_stage(self, stage: Stage, ctx: dict[str, Any]) -> StageResult:
        delay = stage.backoff_seconds
        t0 = time.monotonic()
        for attempt in range(1, stage.max_attempts + 1):
            try:
                out = stage.fn(ctx)
                ctx[stage.name] = out
                res = StageResult(stage.name, "succeeded", attempt, output=out,
                                  duration_s=round(time.monotonic() - t0, 3))
                if self.on_success:
                    self.on_success(res)
                return res
            except Exception as exc:  # noqa: BLE001 - stage errors become results
                if attempt == stage.max_attempts:
                    res = StageResult(stage.name, "failed", attempt, error=repr(exc),
                                      duration_s=round(time.monotonic() - t0, 3))
                    if self.on_failure:
                        self.on_failure(res)
                    return res
                time.sleep(delay)
                delay *= stage.backoff_rate
        raise AssertionError("unreachable")


def _inherit(fn: Callable) -> Callable:
    """``fn`` carrying the calling thread's Spark local properties (job
    group, description, scheduler pool) onto the worker thread, so a
    stage's jobs are listed under the caller's job group. Without a
    live Spark context in the process there is nothing to carry, and it
    is ``fn`` itself. Spark warns that session tags are not carried when
    given no session; the runner has none to give, and no stage relies
    on tags."""
    if SparkContext._active_spark_context is None:
        return fn
    with warnings.catch_warnings():
        warnings.filterwarnings("ignore", "Spark session is not provided", UserWarning)
        return inheritable_thread_target(fn)
