"""Quick same-session timing: N reps per named query, prints medians.

Usage: python tools/time_queries.py [--reps N] <query> [query ...]
Mirrors bench.py methodology (collect + clearCache + gc between reps)
without the event-log machinery — for tight A/B loops.
"""

from __future__ import annotations

import gc
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    args = sys.argv[1:]
    reps = 5
    if args and args[0] == "--reps":
        reps = int(args[1])
        args = args[2:]
    assert args, "no queries named"

    import __spark_entry__ as e
    from prox_spark.session import get_spark

    spark = get_spark("prox-time")
    qs = e.queries()
    spark.read.parquet(f"{SF_DIR}/nation.parquet").count()

    out = {}
    for name in args:
        fn = qs[name]
        fn(spark, SF_DIR).collect()  # staging + warm-up, untimed
        spark.catalog.clearCache()
        gc.collect()
        walls = []
        for _ in range(reps):
            t0 = time.monotonic()
            fn(spark, SF_DIR).collect()
            walls.append(time.monotonic() - t0)
            spark.catalog.clearCache()
            gc.collect()
        out[name] = walls
        print(
            f"{name}: median {statistics.median(walls):.3f}s  "
            f"[{'/'.join(f'{w:.2f}' for w in walls)}]",
            flush=True,
        )


if __name__ == "__main__":
    main()
