"""Self-run oracle differential check, mimicking the driver's gate.

For every query in __spark_entry__.queries() that has an
oracle_sql() twin: run the Spark builder and the DuckDB SQL on the
same sf directory, then compare row count, column names/dtypes, and
an order-insensitive value hash (columns sorted by name, rows sorted
by all columns, values stringified). Exact value equality implies
any reasonable hash matches, so we check equality and report the
first differing cells on mismatch.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def duck_conn(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
    if len(df):
        df = df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def compare(name: str, spark_df: pd.DataFrame, oracle_df: pd.DataFrame) -> list[str]:
    problems: list[str] = []
    if len(spark_df) != len(oracle_df):
        problems.append(f"rowcount spark={len(spark_df)} oracle={len(oracle_df)}")
    s_cols = sorted(spark_df.columns)
    o_cols = sorted(oracle_df.columns)
    if s_cols != o_cols:
        problems.append(f"columns spark={s_cols} oracle={o_cols}")
        return problems
    s = normalize(spark_df)
    o = normalize(oracle_df)
    for c in s.columns:
        if str(s[c].dtype) != str(o[c].dtype):
            problems.append(f"dtype[{c}] spark={s[c].dtype} oracle={o[c].dtype}")
    if len(s) == len(o):
        for c in s.columns:
            a, b = s[c], o[c]
            try:
                neq = ~((a == b) | (a.isna() & b.isna()))
            except Exception:
                neq = a.astype(str) != b.astype(str)
            if neq.any():
                i = int(neq.idxmax())
                problems.append(
                    f"values[{c}] differ at row {i}: spark={a.iloc[i]!r} oracle={b.iloc[i]!r} "
                    f"({int(neq.sum())} cells)"
                )
    return problems


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as e
    from prox_spark.session import get_spark

    spark = get_spark("oracle-check")
    con = duck_conn(sf_dir)
    qs = e.queries()
    oracles = e.oracle_sql()

    failed = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        if name not in oracles:
            n = fn(spark, sf_dir).count()
            print(f"{name:40s} rows-only: {n} rows")
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
            odf = con.execute(oracles[name]).df()
            problems = compare(name, sdf, odf)
        except Exception as ex:  # noqa: BLE001
            problems = [f"EXCEPTION {type(ex).__name__}: {ex}"]
        if problems:
            failed.append(name)
            print(f"{name:40s} FAIL")
            for p in problems[:6]:
                print(f"    {p}")
        else:
            print(f"{name:40s} OK ({len(sdf)} rows)")
    print(f"\n{'ALL OK' if not failed else 'FAILED: ' + ', '.join(failed)}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
