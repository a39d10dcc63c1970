"""Benchmark entry point.

    python3 perfbench/run.py --workload analyst_queries --seed 1 --seconds 15 --trace 0

One closed-loop client on ``local[<cores>]``: set up (JVM start, seeded
generation, staging, warm-up), run the workload's operations back to
back for ``--seconds``, check every output, and print one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones (and writes every span to ``perfbench/results/``).
See ``perfbench/README.md`` for what each metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

from common import RESULTS, ROOT, WORK, jvm_peak_rss_mb, mean, pct, start_spark, stop_spark

WORKLOADS = ("analyst_queries", "medallion_etl", "corpus_lifecycle")
SESSION_KEYS = ("jobs", "stages", "tasks", "failed_tasks", "job_busy_s",
                "driver_gap_s", "task_s", "gc_s", "shuffle_bytes")


class Run:
    """One benchmark run: its settings, counters and shared helpers."""

    def __init__(self, args) -> None:
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.scale = args.scale
        self.cores = len(os.sched_getaffinity(0))
        self.work = os.path.join(WORK, args.workload)
        self.attempted = 0
        self.failed = 0
        self.tracer = None
        self._lock = threading.Lock()  # warm-up checks from two threads

    def check(self, ok: bool, msg: str) -> None:
        """Count one correctness check; a miss counts as a failure."""
        with self._lock:
            self.attempted += 1
            if not ok:
                self.failed += 1
                print(f"CHECK FAILED: {msg}", file=sys.stderr)

    def count_op(self) -> None:
        """Count one operation whose only check is that it returned."""
        self.check(True, "")


def make_workload(run: Run):
    if run.workload == "analyst_queries":
        from analyst import Analyst
        return Analyst(run)
    if run.workload == "medallion_etl":
        from etl import Etl
        return Etl(run)
    from corpus import Corpus
    return Corpus(run)


def session_metrics(ops: list[dict]) -> dict:
    out = {f"session.{k}": mean([r[k] for r in ops]) for k in SESSION_KEYS}
    calls = [r["calls"] for r in ops]
    out["table.read_manifest_calls"] = mean([c.get("table.read_manifest", 0) for c in calls])
    out["table.table_versions_calls"] = mean([c.get("table.table_versions", 0) for c in calls])
    out["table.calls"] = mean(
        [sum(n for k, n in c.items() if k.startswith("table.")) for c in calls]
    )
    return out


def spec_units(section: str) -> dict[str, str]:
    """{metric name: unit} of one section of ``BENCHMARK.json``."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


def run(args) -> dict:
    from tracing import Tracer

    bench = Run(args)
    shutil.rmtree(bench.work, ignore_errors=True)
    os.makedirs(bench.work)
    wl = make_workload(bench)

    t0 = time.perf_counter()
    spark = start_spark(bench.cores)
    jvm_s = time.perf_counter() - t0
    try:
        bench.tracer = Tracer(spark, False)
        t0 = time.perf_counter()
        wl.generate()
        gen_s = time.perf_counter() - t0
        warm_s = wl.warm_up(spark)
        setup_s = jvm_s + gen_s + warm_s

        bench.tracer = tracer = Tracer(spark, bool(args.trace))
        wl.measure(spark, args.seconds)
        tracer.close()
        peak = jvm_peak_rss_mb(spark)
        wl.gate(spark)

        lat = wl.op_latencies()
        e2e = {
            "setup_s": (setup_s, "s"),
            "op_p50_s": (statistics.median(lat), "s"),
            "op_p90_s": (pct(lat, 90), "s"),
            "ops_per_s": (len(lat) / wl.busy_s(), "1/s"),
            "batch_s": (wl.end_to_end()["batch_s"], "s"),
            "peak_rss_mb": (peak, "MiB"),
            "success_rate": (1.0 - bench.failed / bench.attempted, "ratio"),
        }
        if args.trace:
            units = spec_units("per_layer")
            # a layer the workload never enters reports no work
            layer = dict.fromkeys(units, 0.0)
            layer.update(session_metrics(tracer.ops))
            layer.update(wl.per_layer(tracer.ops, spark))
            layer["setup.jvm_s"] = jvm_s
            layer["setup.generate_s"] = gen_s
            layer["setup.warm_up_s"] = warm_s
            for k in ("op_p50_s", "ops_per_s", "batch_s"):
                layer[f"traced.{k}"] = e2e[k][0]
            os.makedirs(RESULTS, exist_ok=True)
            tracer.dump(
                os.path.join(RESULTS, f"trace_{args.workload}_seed{args.seed}.json"), layer
            )
            metrics = {k: {"value": v, "unit": units[k]} for k, v in layer.items()}
        else:
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    finally:
        stop_spark(spark)
        shutil.rmtree(bench.work, ignore_errors=True)
    return {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": metrics,
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input size multiplier (1.0 is the benchmark; the self-test uses 0.01)")
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "prox_spark")):
        print(f"no prox_spark package under {ROOT}: run from a checkout of the repository",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    cores = str(len(os.sched_getaffinity(0)))
    os.environ.setdefault("SPARK_GRAFT_CPUS", cores)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    try:
        result = run(args)
    except Exception:  # noqa: BLE001 - report and fail the run
        traceback.print_exc()
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
