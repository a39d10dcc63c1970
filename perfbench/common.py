"""Shared plumbing: the Spark session, timing statistics, file-system
sizes and result comparison."""

from __future__ import annotations

import math
import os
import statistics
import time
from collections.abc import Iterable

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(BENCH_DIR, ".work")
RESULTS = os.path.join(BENCH_DIR, "results")
# every stage of jobs.run_medallion, then of llm_jobs.run_llm_pipeline
PIPELINE_STAGES = (
    "load_bronze", "silver", "gold", "write_gold", "kpis", "write_kpis",
    "ingest", "signals", "card", "corpus", "splits", "freeze", "register",
)


def start_spark(cores: int):
    """The library's own session factory on ``local[cores]``, with every
    scratch directory inside the benchmark's work dir."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    from prox_spark.session import get_spark

    return get_spark(
        "perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.local.dir": os.path.join(WORK, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        },
    )


def stop_spark(spark) -> None:
    """Stop the context and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - fall back to a hard stop
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM, in MiB."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def timed(fn, *args, **kw):
    t0 = time.perf_counter()
    out = fn(*args, **kw)
    return out, time.perf_counter() - t0


def mean(values: list[float]) -> float:
    return sum(values) / len(values) if values else 0.0


def pct(values: list[float], q: int) -> float:
    """The q-th percentile (inclusive linear interpolation)."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def tree_files(path: str) -> dict[str, int]:
    """{file path: size} of every file under ``path``."""
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            out[p] = os.path.getsize(p)
    return out


def tree_bytes(path: str) -> int:
    return sum(tree_files(path).values())


def _norm(v):
    """One canonical Python value for what Spark rows, pandas frames and
    DuckDB tuples carry for the same cell."""
    if v is None:
        return None
    if hasattr(v, "to_pydatetime"):  # pandas Timestamp or NaT
        return None if v != v else v.to_pydatetime()
    if hasattr(v, "item") and not isinstance(v, (str, bytes)):
        v = v.item()  # numpy scalar
    if isinstance(v, float) and math.isnan(v):
        return None
    return v


def canon(rows: Iterable) -> list[tuple]:
    """Rows as sorted tuples of canonical values (order-insensitive)."""
    out = [tuple(_norm(v) for v in r) for r in rows]
    out.sort(key=repr)
    return out


def frame_rows(df) -> list[tuple]:
    """A pandas frame's rows, for :func:`canon`."""
    return list(df.itertuples(index=False, name=None))


def duck_views(data_dir: str, tables):
    """A DuckDB connection with one view per ``<data_dir>/<table>.parquet``."""
    import duckdb

    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con
