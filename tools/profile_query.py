"""Per-query profiler: runs one declared query with the Spark event
log enabled, then decomposes its wall time into jobs and stages
(durations, task counts, shuffle bytes) so optimization targets the
measured cost, not a guess (guide §1).

Usage: python tools/profile_query.py <query_name> [sf_dir] [reps]

Runs the query once untimed (staging + JVM warm-up, like bench.py),
then `reps` timed runs (default 2); the LAST timed run is the one
decomposed. Prints per-job lines (duration, description) and the
slowest stages with shuffle read/write volumes.
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> None:
    name = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 2

    log_dir = "/tmp/prox_eventlog"
    os.makedirs(log_dir, exist_ok=True)
    import shutil

    for f in os.listdir(log_dir):
        p = os.path.join(log_dir, f)
        shutil.rmtree(p) if os.path.isdir(p) else os.remove(p)

    import __spark_entry__ as e
    from prox_spark.session import get_spark

    spark = get_spark(
        "prox-profile",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            # plain single-file JSON so the parser below can read it
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    qs = e.queries()
    fn = qs[name]

    # mimic bench warm-up so staged fixtures are outside the timing
    spark.read.parquet(f"{sf_dir}/nation.parquet").count()
    t0 = time.monotonic()
    fn(spark, sf_dir).collect()
    print(f"untimed first run (staging+warmup): {time.monotonic() - t0:.2f}s")

    walls = []
    for i in range(reps):
        spark.catalog.clearCache()
        import gc

        gc.collect()
        marker_t = time.time() * 1000  # ms epoch, to filter events
        t0 = time.monotonic()
        fn(spark, sf_dir).collect()
        walls.append(time.monotonic() - t0)
        print(f"timed run {i + 1}: {walls[-1]:.3f}s")

    app_id = spark.sparkContext.applicationId
    spark.stop()

    path = None
    for f in os.listdir(log_dir):
        # Spark 4 may write rolling event logs as a directory
        # (eventlog_v2_<appid>/events_1_<appid>); accept both layouts
        if app_id in f:
            path = os.path.join(log_dir, f)
    assert path, f"no event log for {app_id}"
    if os.path.isdir(path):
        parts = sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.startswith("events_")
        )
    else:
        parts = [path]

    def _lines():
        for p in parts:
            with open(p) as fh:
                yield from fh

    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    if True:
        for line in _lines():
            try:
                ev = json.loads(line)
            except ValueError:
                continue
            et = ev.get("Event")
            if et == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = {
                    "t0": ev["Submission Time"],
                    "desc": ev.get("Properties", {}).get(
                        "spark.job.description", ""
                    ),
                    "stages": [s["Stage ID"] for s in ev.get("Stage Infos", [])],
                }
            elif et == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["t1"] = ev["Completion Time"]
            elif et == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                stages[si["Stage ID"]] = {
                    "name": si["Stage Name"],
                    "t0": si.get("Submission Time", 0),
                    "t1": si.get("Completion Time", 0),
                    "n": si["Number of Tasks"],
                }
            elif et == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                m = ev.get("Task Metrics") or {}
                st = stages.setdefault(sid, {})
                sr = (m.get("Shuffle Read Metrics") or {})
                sw = (m.get("Shuffle Write Metrics") or {})
                st["shr"] = st.get("shr", 0) + sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                st["shw"] = st.get("shw", 0) + sw.get("Shuffle Bytes Written", 0)
                st["cpu"] = st.get("cpu", 0) + (m.get("Executor Run Time") or 0)

    # events from the LAST timed run only
    last = [j for j in jobs.values() if j["t0"] >= marker_t and "t1" in j]
    last.sort(key=lambda j: j["t0"])
    total = sum(j["t1"] - j["t0"] for j in last)
    gaps = 0.0
    prev_end = None
    for j in last:
        if prev_end is not None:
            gaps += max(0, j["t0"] - prev_end)
        prev_end = j["t1"]
    print(f"\n=== last run: {len(last)} jobs, job-time {total / 1000:.3f}s, "
          f"inter-job gaps {gaps / 1000:.3f}s, wall {walls[-1]:.3f}s ===")
    for j in last:
        dur = (j["t1"] - j["t0"]) / 1000
        sids = [s for s in j["stages"] if s in stages and stages[s].get("t1")]
        stage_txt = ""
        for s in sorted(sids):
            st = stages[s]
            if not st.get("t0"):
                continue
            sd = (st["t1"] - st["t0"]) / 1000
            if sd < 0.02:
                continue
            stage_txt += (
                f"\n      stage {s} {sd:.2f}s n={st.get('n')} "
                f"cpu={st.get('cpu', 0) / 1000:.2f}s "
                f"shr={st.get('shr', 0) // 1024}K shw={st.get('shw', 0) // 1024}K "
                f" {st.get('name', '')[:80]}"
            )
        print(f"  job {dur:6.3f}s  {j['desc'][:70]}{stage_txt}")


if __name__ == "__main__":
    main()
