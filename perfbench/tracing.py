"""Tracing measured from outside the library.

The untraced run touches nothing: an operation is just timed. In the
traced run (``--trace 1``) the benchmark

- runs each operation under its own Spark job group and, once the
  listener bus has drained, reads the group's jobs, stages and tasks
  from ``statusTracker()`` and their intervals from the status store,
  plus the executor totals (task time, GC, shuffle bytes) before and
  after;
- wraps the public functions of the format-layer modules (``table``,
  ``upsert``, ``mv``, ``artifacts``, ``txn``, ``cdf``) in every loaded
  ``prox_spark`` module namespace, so each call made during an
  operation becomes a span and a count;
- keeps every span (id, name, start, end, parent, op id) in memory and
  writes them with the per-layer metrics when the run ends.

Nothing inside ``prox_spark/`` changes.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import sys
import time
from collections import Counter
from contextlib import contextmanager

WRAPPED_MODULES = ("table", "upsert", "mv", "artifacts", "txn", "cdf")


def _scala_seq(seq) -> list:
    it = seq.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class Tracer:
    """Spans and per-operation Spark accounting; inert when disabled."""

    def __init__(self, spark, enabled: bool) -> None:
        self.enabled = enabled
        self.spark = spark
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self.ops: list[dict] = []  # one record per traced operation
        self.calls: Counter = Counter()  # "<module>.<fn>" -> calls inside ops
        self._stack: list[int] = []
        self._op: dict | None = None
        self._originals: list[tuple] = []
        if enabled:
            self._wrap_library()

    # -- spans ------------------------------------------------------------
    def _now(self) -> float:
        return time.perf_counter() - self.t0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans), "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self._op["op"] if self._op else None,
            "start": self._now(), "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = self._now()
            self._stack.pop()

    def child_spans(self, parent: dict, parts: list[tuple[str, float]]) -> None:
        """Spans for sequential parts the library reports only as
        durations (pipeline stages), laid end to end from ``parent``'s
        start."""
        if not self.enabled:
            return
        t = parent["start"]
        for name, d in parts:
            self.spans.append({
                "id": len(self.spans), "name": name, "parent": parent["id"],
                "op": parent["op"], "start": t, "end": t + d, "derived": True,
            })
            t += d

    # -- operations -------------------------------------------------------
    @contextmanager
    def op(self, kind: str, label: str):
        """One benchmark operation. Yields a dict the caller may add
        fields to; traced, it also receives the Spark accounting."""
        rec: dict = {"kind": kind, "label": label}
        if not self.enabled:
            yield rec
            return
        sc = self.spark.sparkContext
        rec["op"] = f"op{len(self.ops)}"
        self.ops.append(rec)
        before = self._executor_totals()
        sc.setJobGroup(rec["op"], f"{kind}:{label}")
        self._op = rec
        calls_before = self.calls.copy()
        try:
            with self.span(f"op.{kind}") as s:
                yield rec
        finally:
            self._op = None
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        rec["wall_s"] = s["end"] - s["start"]
        rec["calls"] = dict(self.calls - calls_before)
        rec.update(self._session_stats(rec["op"], rec["wall_s"], before))

    def _executor_totals(self) -> tuple[float, float, float]:
        store = self.spark.sparkContext._jsc.sc().statusStore()
        task = gc = shuffle = 0.0
        for e in _scala_seq(store.executorList(True)):
            task += e.totalDuration() / 1000.0
            gc += e.totalGCTime() / 1000.0
            shuffle += e.totalShuffleRead() + e.totalShuffleWrite()
        return task, gc, shuffle

    def _session_stats(self, group: str, wall: float, before) -> dict:
        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        stages = tasks = failed = 0
        intervals = []
        for jid in tracker.getJobIdsForGroup(group):
            job = store.job(jid)
            start, end = _opt_ms(job.submissionTime()), _opt_ms(job.completionTime())
            if start is not None and end is not None:
                intervals.append((start, end))
            for sid in _scala_seq(job.stageIds()):
                info = tracker.getStageInfo(sid)
                if info is not None and info.numCompletedTasks + info.numFailedTasks:
                    stages += 1
                    tasks += info.numCompletedTasks
                    failed += info.numFailedTasks
        busy, cur_s, cur_e = 0.0, None, None
        for s, e in sorted(intervals):
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    busy += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            busy += cur_e - cur_s
        after = self._executor_totals()
        return {
            "jobs": len(tracker.getJobIdsForGroup(group)), "stages": stages,
            "tasks": tasks, "failed_tasks": failed, "job_busy_s": busy,
            "driver_gap_s": max(0.0, wall - busy),
            "task_s": after[0] - before[0], "gc_s": after[1] - before[1],
            "shuffle_bytes": after[2] - before[2],
        }

    # -- library wrapping ---------------------------------------------------
    def _wrap_library(self) -> None:
        for short in WRAPPED_MODULES:
            importlib.import_module(f"prox_spark.{short}")
        for short in WRAPPED_MODULES:
            mod = sys.modules[f"prox_spark.{short}"]
            for name, fn in list(vars(mod).items()):
                if name.startswith("_") or not inspect.isfunction(fn):
                    continue
                if fn.__module__ != mod.__name__:
                    continue
                wrapped = self._wrap(f"{short}.{name}", fn)
                for m in list(sys.modules.values()):
                    if (getattr(m, "__name__", "") or "").startswith("prox_spark") and \
                            getattr(m, name, None) is fn:
                        self._originals.append((m, name, fn))
                        setattr(m, name, wrapped)

    def _wrap(self, qual: str, fn):
        @functools.wraps(fn)
        def wrapper(*a, **kw):
            if self._op is None:  # the benchmark's own bookkeeping
                return fn(*a, **kw)
            self.calls[qual] += 1
            with self.span(qual):
                return fn(*a, **kw)
        return wrapper

    def close(self) -> None:
        for m, name, fn in self._originals:
            setattr(m, name, fn)
        self._originals.clear()

    def dump(self, path: str, metrics: dict) -> None:
        with open(path, "w") as f:
            json.dump({"metrics": metrics, "ops": self.ops, "spans": self.spans}, f)
