"""Batch per-query profiler: one Spark session, event log enabled,
runs EACH named query (1 untimed warm-up + ``reps`` timed runs) and
prints, per query, the LAST timed run decomposed into jobs — count,
summed job time, inter-job gap (driver-side planning / py4j / collect
time), and the slowest stages with task counts and shuffle volumes.

The single-session form amortizes JVM/codegen/Python-worker warm-up
across the list (tools/profile_query.py pays ~15 s of session start
per query), so a whole top-20 sweep fits in one coffee. Row order of
results is irrelevant — nothing here is a correctness check.

Usage: python tools/profile_batch.py <query> [query ...]
       python tools/profile_batch.py --top N   (slowest N from BENCH_DETAIL.json)
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPS = int(os.environ.get("SPARK_GRAFT_PROFILE_REPS", "2"))


def main() -> None:
    names = sys.argv[1:]
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if names and names[0] == "--top":
        n = int(names[1]) if len(names) > 1 else 20
        with open(os.path.join(here, "BENCH_DETAIL.json")) as f:
            detail = json.load(f)
        names = [
            k
            for k, _ in sorted(
                detail["queries"].items(), key=lambda kv: -kv[1]
            )[:n]
        ]
    assert names, "no queries named"

    log_dir = "/tmp/prox_eventlog_batch"
    os.makedirs(log_dir, exist_ok=True)
    import shutil

    for f in os.listdir(log_dir):
        p = os.path.join(log_dir, f)
        shutil.rmtree(p) if os.path.isdir(p) else os.remove(p)

    import __spark_entry__ as e
    from prox_spark.session import get_spark

    spark = get_spark(
        "prox-profile-batch",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    qs = e.queries()
    spark.read.parquet(f"{SF_DIR}/nation.parquet").count()

    windows: dict[str, tuple[float, float, list[float]]] = {}
    for name in names:
        fn = qs[name]
        t0 = time.monotonic()
        fn(spark, SF_DIR).collect()  # staging + warm-up, untimed
        stage_s = time.monotonic() - t0
        walls = []
        marker = None
        for _ in range(REPS):
            spark.catalog.clearCache()
            gc.collect()
            marker = time.time() * 1000
            t0 = time.monotonic()
            fn(spark, SF_DIR).collect()
            walls.append(time.monotonic() - t0)
        end = time.time() * 1000
        windows[name] = (marker, end, walls + [stage_s])

    app_id = spark.sparkContext.applicationId
    spark.stop()

    path = None
    for f in os.listdir(log_dir):
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

    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    for p in parts:
        with open(p) as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue
                et = ev.get("Event")
                if et == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = {
                        "t0": ev["Submission Time"],
                        "stages": [
                            s["Stage ID"] for s in ev.get("Stage Infos", [])
                        ],
                    }
                elif et == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["t1"] = ev["Completion Time"]
                elif et == "SparkListenerStageCompleted":
                    si = ev["Stage Info"]
                    d = stages.setdefault(si["Stage ID"], {})
                    d.update(
                        name=si["Stage Name"],
                        t0=si.get("Submission Time", 0),
                        t1=si.get("Completion Time", 0),
                        n=si["Number of Tasks"],
                    )
                elif et == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    st = stages.setdefault(ev["Stage ID"], {})
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    st["shr"] = (
                        st.get("shr", 0)
                        + sr.get("Remote Bytes Read", 0)
                        + sr.get("Local Bytes Read", 0)
                    )
                    st["shw"] = st.get("shw", 0) + sw.get(
                        "Shuffle Bytes Written", 0
                    )
                    st["cpu"] = st.get("cpu", 0) + (
                        m.get("Executor Run Time") or 0
                    )
                    st["py"] = st.get("py", 0) + (
                        m.get("Executor Deserialize Time") or 0
                    )

    for name in names:
        marker, end, walls = windows[name]
        stage_s = walls[-1]
        walls = walls[:-1]
        sel = [
            j
            for j in jobs.values()
            if j["t0"] >= marker and j.get("t1", 0) <= end + 1000 and "t1" in j
        ]
        sel.sort(key=lambda j: j["t0"])
        jt = sum(j["t1"] - j["t0"] for j in sel) / 1000
        gaps = 0.0
        prev = None
        for j in sel:
            if prev is not None:
                gaps += max(0, j["t0"] - prev)
            prev = j["t1"]
        print(
            f"\n=== {name}: staging+warm {stage_s:.2f}s, walls "
            f"{'/'.join(f'{w:.2f}' for w in walls)}s | last run: "
            f"{len(sel)} jobs, job-time {jt:.2f}s, gaps {gaps / 1000:.2f}s ==="
        )
        seen = set()
        rows = []
        for j in sel:
            dur = (j["t1"] - j["t0"]) / 1000
            rows.append((dur, j))
        for dur, j in sorted(rows, key=lambda r: -r[0])[:6]:
            txt = f"  job {dur:.2f}s:"
            for s in sorted(j["stages"]):
                st = stages.get(s)
                if not st or not st.get("t1") or s in seen:
                    continue
                seen.add(s)
                sd = (st["t1"] - st.get("t0", st["t1"])) / 1000
                if sd < 0.05:
                    continue
                nm = (st.get("name") or "")[:60]
                txt += (
                    f"\n    stage {s} {sd:.2f}s n={st.get('n')} "
                    f"cpu={st.get('cpu', 0) / 1000:.1f}s "
                    f"shr={st.get('shr', 0) // 1024}K shw={st.get('shw', 0) // 1024}K {nm}"
                )
            print(txt)


if __name__ == "__main__":
    main()
