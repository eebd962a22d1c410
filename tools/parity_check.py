"""Local replica of the driver's correctness gate.

Runs every queries() entry on Spark and its oracle_sql() twin on DuckDB over
the same sf dir, compares row count, column names, pandas dtype kinds and
exact values (rows sorted by all columns, columns sorted by name).

Usage: python tools/parity_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import duckdb
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def values_equal(a, b) -> bool:
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b
    try:
        if pd.isna(a) and pd.isna(b):
            return True
    except (TypeError, ValueError):
        pass
    return a == b


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    problems = []
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        problems.append(f"columns: spark={sorted(spark_pdf.columns)} duck={sorted(duck_pdf.columns)}")
        return problems
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"rows: spark={len(spark_pdf)} duck={len(duck_pdf)}")
        return problems
    # values_equal passes 2 == 2.0, so an integer column that one side
    # returns as float (a DuckDB HUGEINT sum) only shows in its dtype. The
    # kind is compared (integer, float, datetime, ...), not the width or
    # unit: int32 against int64 and datetime64[ns] against [us] hold the
    # same values.
    for c in sorted(spark_pdf.columns):
        if spark_pdf[c].dtype.kind != duck_pdf[c].dtype.kind:
            problems.append(f"dtype {c}: spark={spark_pdf[c].dtype} duck={duck_pdf[c].dtype}")
    a, b = normalize(spark_pdf), normalize(duck_pdf)
    for c in a.columns:
        av, bv = a[c].tolist(), b[c].tolist()
        bad = [i for i, (x, y) in enumerate(zip(av, bv)) if not values_equal(x, y)]
        if bad:
            i = bad[0]
            problems.append(f"col {c}: {len(bad)} mismatches; first at {i}: spark={av[i]!r} duck={bv[i]!r}")
    return problems


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    import __spark_entry__ as E
    from omop_meds_spark.session import get_spark

    spark = get_spark(app_name="parity", cores=8)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, os_ = E.queries(), E.oracle_sql()
    n_pass = n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            spark_pdf = sdf.toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            n_fail += 1
            continue
        if name not in os_:
            print(f"SKIP {name}: no oracle (rows={len(spark_pdf)})")
            continue
        try:
            duck_pdf = con.sql(os_[name]).df()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {str(e)[:200]}")
            n_fail += 1
            continue
        problems = compare(name, spark_pdf, duck_pdf)
        if problems:
            print(f"FAIL {name}: " + " | ".join(problems[:3]))
            n_fail += 1
        else:
            print(f"PASS {name} ({len(spark_pdf)} rows)")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
