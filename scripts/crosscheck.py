"""Local stand-in for the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry under Spark and its
``oracle_sql()`` twin under DuckDB on the same sf dir, then compares
row count, column names, and order-insensitive values.

Usage: python scripts/crosscheck.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import numpy as np
import pandas as pd


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif np.issubdtype(df[c].dtype, np.floating):
            df[c] = df[c].round(9)
        elif str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> bool:
    ok = True
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        print(f"  [{name}] COLUMN MISMATCH spark={sorted(spark_pdf.columns)} duck={sorted(duck_pdf.columns)}")
        return False
    if len(spark_pdf) != len(duck_pdf):
        print(f"  [{name}] ROWCOUNT MISMATCH spark={len(spark_pdf)} duck={len(duck_pdf)}")
        ok = False
    a, b = normalize(spark_pdf), normalize(duck_pdf)
    if len(a) == len(b):
        neq = (a != b) & ~(a.isna() & b.isna())
        if neq.any().any():
            bad_cols = [c for c in a.columns if neq[c].any()]
            print(f"  [{name}] VALUE MISMATCH in {bad_cols} ({int(neq.any(axis=1).sum())} rows)")
            idx = neq.any(axis=1)
            print("  spark:", a[idx].head(5).to_dict("records"))
            print("  duck :", b[idx].head(5).to_dict("records"))
            ok = False
    else:
        sa = set(map(tuple, a.itertuples(index=False)))
        sb = set(map(tuple, b.itertuples(index=False)))
        print("  only-spark sample:", list(sa - sb)[:3])
        print("  only-duck  sample:", list(sb - sa)[:3])
    return ok


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    import __spark_entry__ as entrymod
    from stanford_relation_extractor_spark.session import get_spark

    # cpus and shuffle partitions default to session.DEFAULT_CPUS
    spark = get_spark("crosscheck")
    con = duck_con(sf_dir)
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            spark_pdf = fn(spark, sf_dir).toPandas()
            if name not in oracles:
                print(f"[{name}] rows={len(spark_pdf)} (no oracle — rows-only)")
                continue
            duck_pdf = con.execute(oracles[name]).df()
            good = compare(name, spark_pdf, duck_pdf)
            print(f"[{name}] {'OK' if good else 'FAIL'} rows={len(spark_pdf)}")
            n_fail += 0 if good else 1
        except Exception as exc:  # noqa: BLE001
            print(f"[{name}] ERROR {type(exc).__name__}: {exc}")
            n_fail += 1
    print(f"{'ALL OK' if n_fail == 0 else f'{n_fail} FAILURES'}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
