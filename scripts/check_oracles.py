"""Local replica of the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() on DuckDB over the same parquet tables,
compare row-count, schema (column names), and order-insensitive values.

Usage: PYTHONPATH=. python scripts/check_oracles.py [sf_dir] [name ...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def oracle_db(sf_dir: str):
    """A DuckDB connection with one view per sf table."""
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif np.issubdtype(df[c].dtype, np.floating):
            df[c] = df[c].astype(np.float64)
        elif str(df[c].dtype).startswith(("int", "Int", "uint")):
            df[c] = df[c].astype(np.int64)
    return df.sort_values(list(df.columns), kind="stable").reset_index(drop=True)


def mismatch(got: pd.DataFrame, exp: pd.DataFrame) -> str | None:
    """Why the Spark result ``got`` differs from the oracle's ``exp``
    (both raw ``toPandas()``/``df()`` frames), or None when they are equal
    as row multisets."""
    got, exp = normalize(got), normalize(exp)
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} vs {list(exp.columns)}"
    if len(got) != len(exp):
        return f"rows {len(got)} vs {len(exp)}"
    for c in got.columns:
        g, e = got[c].to_numpy(), exp[c].to_numpy()
        if np.issubdtype(got[c].dtype, np.floating):
            # exact bit equality: the driver hashes values, so rounded
            # floats must be IDENTICAL doubles on both engines
            bad = ~((g == e) | (np.isnan(g) & np.isnan(e)))
        else:
            bad = g != e
        if bad.any():
            i = int(np.argmax(bad))
            return f"col {c} row {i}: spark={g[i]!r} oracle={e[i]!r}"
    return None


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = sys.argv[2:]

    from full_lattice_search_spark.plans.queries import ORACLES, QUERIES
    from full_lattice_search_spark.session import build_session

    unknown = [n for n in only if n not in QUERIES]
    if unknown:
        print(f"unknown entries: {' '.join(unknown)}")
        return 2
    names = only or list(QUERIES)

    spark = build_session("check-oracles",
                          cores=len(os.sched_getaffinity(0)),
                          driver_memory="8g")
    con = oracle_db(sf_dir)

    failures = []
    for name in names:
        t0 = time.time()
        try:
            why = mismatch(QUERIES[name](spark, sf_dir).toPandas(),
                           con.sql(ORACLES[name]).df())
        except Exception as e:
            why = f"EXCEPTION {type(e).__name__}: {str(e)[:300]}"
        if why:
            print(f"FAIL {name}: {why}")
            failures.append(name)
        else:
            print(f"PASS {name} [{time.time() - t0:.1f}s]")

    spark.stop()
    print(f"\n{len(names) - len(failures)}/{len(names)} pass")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
