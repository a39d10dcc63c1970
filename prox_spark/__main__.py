"""CLI entrypoints: ``python -m prox_spark <command>``.

Commands:
  medallion --bronze DIR --out DIR   run the full bronze->silver->gold->KPI job
            [--fixtures]             stage the seeded PROX fixtures as bronze first
  compact   --src DIR --dst DIR      small-file compaction
            [--target-mb N]
  maintain  --registry DIR           bring every registered derived artifact
            [--keep-going]           current (prox_spark.artifacts); exits 1
                                     on any artifact failure
  llm-pipeline --docs PATH --out DIR run the one-call training-data curation
                                     pipeline (dedup signals -> card -> clean
                                     corpus -> leakage-free splits -> frozen
                                     training-set txn -> artifact registry)
  sql       "SELECT ..."             run SQL over committed manifest tables
            [--table NAME=PATH[@V|@ts:MS]]   (prox_table views; repeatable —
            [--output DIR] [--limit N]        @V pins a version, @ts: a time)
  vacuum    --table DIR              retention for a manifest table
            [--keep-last N]          (default 2 versions)
            [--retain-hours H]       age-based: keep the TIMESTAMP AS OF window
            [--registry DIR]         pin registered artifacts' covered suffix
            [--workspace DIR]        pin versions frozen by the txn log
"""

from __future__ import annotations

import argparse
import sys


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="prox_spark")
    sub = parser.add_subparsers(dest="cmd", required=True)

    p_med = sub.add_parser("medallion", help="run the end-to-end medallion job")
    p_med.add_argument("--bronze", help="dir of <table>.parquet bronze inputs")
    p_med.add_argument("--out", required=True, help="output dir for gold/ and kpis/")
    p_med.add_argument(
        "--fixtures", action="store_true",
        help="stage the deterministic PROX fixtures as the bronze input",
    )

    p_cmp = sub.add_parser("compact", help="compact a parquet directory")
    p_cmp.add_argument("--src", required=True)
    p_cmp.add_argument("--dst", required=True)
    p_cmp.add_argument("--target-mb", type=int, default=128)

    p_mnt = sub.add_parser(
        "maintain", help="maintain every registered derived artifact"
    )
    p_mnt.add_argument("--registry", required=True)
    p_mnt.add_argument(
        "--keep-going", action="store_true",
        help="report failures in the exit code only, never raise mid-run",
    )

    p_llm = sub.add_parser(
        "llm-pipeline", help="run the one-call training-data curation job"
    )
    p_llm.add_argument(
        "--docs", required=True,
        help="parquet path with (doc_id, source, text[, n_chars]) rows",
    )
    p_llm.add_argument(
        "--out", required=True,
        help="output dir for pairs/ card/ corpus/ splits/ ws/ registry/",
    )

    p_sql = sub.add_parser(
        "sql",
        help="run SQL over committed manifest tables (prox_table views)",
    )
    p_sql.add_argument("query", help="the SQL to run")
    p_sql.add_argument(
        "--table", action="append", default=[], metavar="NAME=PATH",
        help="register a committed table as view NAME (repeatable); "
        "append @VERSION or @ts:EPOCH_MS to pin a snapshot",
    )
    p_sql.add_argument(
        "--output", help="write the result as parquet here instead of printing"
    )
    p_sql.add_argument("--limit", type=int, default=100,
                       help="max rows printed (default 100)")

    p_vac = sub.add_parser(
        "vacuum", help="retention for a manifest table (pins composed)"
    )
    p_vac.add_argument("--table", required=True)
    p_vac.add_argument("--keep-last", type=int, default=2)
    p_vac.add_argument(
        "--retain-hours", type=float, default=None,
        help="age-based retention: keep every version published within "
        "the window plus the newest pre-window one",
    )
    p_vac.add_argument(
        "--registry",
        help="artifact registry whose covered-version suffix must survive",
    )
    p_vac.add_argument(
        "--workspace",
        help="txn workspace whose frozen pins must survive",
    )
    p_vac.add_argument("--retention-minutes", type=float, default=15.0)

    args = parser.parse_args(argv)

    from prox_spark.session import get_spark

    spark = get_spark(f"prox-{args.cmd}")

    if args.cmd == "medallion":
        bronze = args.bronze
        if args.fixtures:
            import os

            from prox_spark.fixture_store import stage_fixtures

            bronze = os.path.dirname(next(iter(stage_fixtures().values())))
        elif not bronze:
            parser.error("medallion needs --bronze DIR or --fixtures")
        from prox_spark.jobs import run_medallion

        results = run_medallion(spark, bronze, args.out)
        width = max(len(n) for n in results)
        failed = False
        for name, res in results.items():
            print(f"{name:{width}s}  {res.status:9s} attempts={res.attempts} "
                  f"{res.duration_s:.2f}s{'  ' + res.error if res.error else ''}")
            failed = failed or res.status != "succeeded"
        return 1 if failed else 0

    if args.cmd == "compact":
        from prox_spark.io import compact_parquet

        n = compact_parquet(spark, args.src, args.dst, target_file_mb=args.target_mb)
        print(f"compacted {args.src} -> {args.dst} ({n} files)")
        return 0

    if args.cmd == "sql":
        from prox_spark.table_ds import register, register_sql

        register(spark)
        for spec in args.table:
            if "=" not in spec:
                parser.error(f"--table expects NAME=PATH, got {spec!r}")
            name, path = spec.split("=", 1)
            version = None
            if "@" in path:
                path, pin = path.rsplit("@", 1)
                if pin.startswith("ts:"):
                    from prox_spark.table_stream import resolve_timestamp

                    version = resolve_timestamp(path, float(pin[3:]))
                else:
                    version = int(pin)
            register_sql(spark, name, path, version=version)
        out = spark.sql(args.query)
        if args.output:
            out.write.mode("overwrite").parquet(args.output)
            print(f"wrote {args.output}")
        else:
            out.show(args.limit, truncate=False)
        return 0

    if args.cmd == "vacuum":
        from prox_spark.table import vacuum

        pins: set = set()
        if args.workspace:
            from prox_spark.txn import txn_pinned_versions

            pins |= txn_pinned_versions(spark, args.workspace, args.table)
        if args.registry:
            from prox_spark.artifacts import vacuum_with_registry

            removed = vacuum_with_registry(
                spark, args.table, args.registry,
                keep_last=args.keep_last,
                retention_minutes=args.retention_minutes,
                extra_pins=pins, retain_hours=args.retain_hours,
            )
        else:
            removed = vacuum(
                spark, args.table, keep_last=args.keep_last,
                retention_minutes=args.retention_minutes,
                extra_pins=pins, retain_hours=args.retain_hours,
            )
        print(f"vacuumed {args.table}: removed versions {removed}")
        return 0

    if args.cmd == "llm-pipeline":
        from prox_spark.llm_jobs import run_llm_pipeline
        from prox_spark.io import read_parquet

        results = run_llm_pipeline(
            spark, read_parquet(spark, args.docs), args.out
        )
        width = max(len(n) for n in results)
        failed = False
        for name, res in results.items():
            print(f"{name:{width}s}  {res.status:9s} attempts={res.attempts} "
                  f"{res.duration_s:.2f}s"
                  f"{'  ' + res.error if res.error else ''}")
            failed = failed or res.status != "succeeded"
        return 1 if failed else 0

    if args.cmd == "maintain":
        from prox_spark.artifacts import maintain_artifacts

        results = maintain_artifacts(
            spark, args.registry, raise_on_error=not args.keep_going
        )
        width = max((len(a) for a in results), default=0)
        failed = False
        for art, res in sorted(results.items()):
            extra = " ".join(
                f"{k}={v}" for k, v in res.items() if k != "status"
            )
            print(f"{art:{width}s}  {res['status']:11s} {extra}")
            failed = failed or res["status"] == "error"
        return 1 if failed else 0

    return 2


if __name__ == "__main__":
    sys.exit(main())
