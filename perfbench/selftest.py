"""Tiny-size self-test of the benchmark harness.

    python3 perfbench/selftest.py [--seconds 2] [--scale 0.01]

Runs every workload at ``--scale`` (0.01: sf0.001 TPC-H tables, 100
bronze bookings, 200 crawl documents) with tracing off and on, and
checks that

- each run exits 0 and ends with a correct result line carrying every
  metric ``BENCHMARK.json`` names, with its unit;
- the traced run of ``corpus_lifecycle`` calls into ``table`` and the
  traced runs of the other two workloads do not;
- ``corpus_lifecycle``'s ``space_amp`` is at least 1.

It then prints the tracing overhead: the traced run's end-to-end
numbers minus the untraced run's. At this size the numbers say nothing
about performance; they only show that the harness works end to end.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, trace: int, seconds: float, scale: float, seed: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
           "--scale", str(scale)]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    if p.returncode != 0:
        raise SystemExit(f"{workload} trace={trace} exited {p.returncode}:\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seconds", type=float, default=2.0)
    ap.add_argument("--scale", type=float, default=0.01)
    ap.add_argument("--seed", type=int, default=3)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems = []
    for wl in ("analyst_queries", "medallion_etl", "corpus_lifecycle"):
        res = {}
        for trace, section in ((0, "end_to_end"), (1, "per_layer")):
            r = res[trace] = run_once(wl, trace, args.seconds, args.scale, args.seed)
            if not r["correct"] or r["failed"] or r["attempted"] < 1:
                problems.append(f"{wl} trace={trace}: {r['failed']}/{r['attempted']} failed")
            for m in spec[section]:
                got = r["metrics"].get(m["name"])
                if got is None or got["unit"] != m["unit"]:
                    problems.append(f"{wl} trace={trace}: metric {m['name']} missing or mis-united")
        if wl == "corpus_lifecycle":
            amp = res[1]["metrics"]["space_amp"]["value"]
            if amp < 1.0:
                problems.append(f"{wl}: space_amp = {amp:.3f} < 1")
        calls = res[1]["metrics"]["table.calls"]["value"]
        if (calls > 0) != (wl == "corpus_lifecycle"):
            problems.append(f"{wl}: table.calls per op = {calls}")
        print(f"{wl}: table.calls/op={calls:.2f}; tracing overhead (traced - untraced):")
        for k in ("op_p50_s", "ops_per_s", "batch_s"):
            t = res[1]["metrics"][f"traced.{k}"]["value"]
            u = res[0]["metrics"][k]["value"]
            print(f"  {k:10s} untraced={u:.4f} traced={t:.4f} diff={t - u:+.4f}")
    for p in problems:
        print("PROBLEM:", p)
    print("SELFTEST", "FAILED" if problems else "OK")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
