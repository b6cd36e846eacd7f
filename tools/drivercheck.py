"""Pandas-faithful mirror of the driver's correctness comparator.

The driver (see CORRECTNESS_r01.json b8 traceback) canonicalizes both
result sets as *pandas* DataFrames: columns sorted by name, rows sorted
by all columns, then value-hashed. That makes it dtype-sensitive in
ways tools/selfcheck.py (pure-python objects) is not — e.g. DuckDB
HUGEINT sums surface as float64 while Spark's BIGINT sums stay int64,
and a ns-typed timestamp stringifies differently from a us-typed one
even when equal. This tool reproduces that comparison so fixes can be
validated against the real gate, not a looser one.

Usage: python tools/drivercheck.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pgsink_spark.session import get_spark
from pgsink_spark.sources.fixtures import TABLES


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.rename(columns=str.lower)
    df = df[sorted(df.columns)]
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    return df.reset_index(drop=True)


def _cell(v) -> str:
    # Dtype-faithful encoding: the driver's pandas value-hash
    # distinguishes int64 from float64 even when every value is equal
    # (round-2 evidence: tpch_q12 failed hash_match at the gate on a
    # DuckDB HUGEINT→float64 sum while SELFCHECK passed it). Prefix
    # cells with a type kind so the mirror can never pass what the
    # driver fails on a numeric-kind mismatch.
    if isinstance(v, bool) or type(v).__name__ == "bool_":
        return f"b:{v}"
    if isinstance(v, float) or type(v).__name__.startswith("float"):
        return f"f:{v:.9g}"
    if isinstance(v, int) or type(v).__name__.startswith(("int", "uint")):
        return f"i:{v}"
    # date vs midnight-timestamp parity: the real driver treats a DATE
    # column and a midnight TIMESTAMP as equal (d14/d30 passed r1 with
    # Spark DATE vs DuckDB datetime64[us])
    if hasattr(v, "isoformat"):
        s = v.isoformat()
        return s[:-9] if s.endswith("T00:00:00") else s
    return str(v)


def _hashable(df: pd.DataFrame) -> list[tuple]:
    return [tuple(_cell(v) for v in row) for row in df.itertuples(index=False)]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    spark = get_spark("drivercheck")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"ok?   {name}: rows-only ({len(sdf)} rows, "
                  f"{time.time() - t0:.1f}s)")
            continue
        try:
            ddf = con.sql(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {e}")
            failures.append(name)
            continue
        ok = True
        if sorted(c.lower() for c in sdf.columns) != sorted(
            c.lower() for c in ddf.columns
        ):
            print(f"FAIL  {name}: cols spark={list(sdf.columns)} "
                  f"duck={list(ddf.columns)}")
            ok = False
        elif len(sdf) != len(ddf):
            print(f"FAIL  {name}: rows spark={len(sdf)} duck={len(ddf)}")
            ok = False
        else:
            try:
                sc = _hashable(_canon(sdf))
                dc = _hashable(_canon(ddf))
            except Exception as e:  # noqa: BLE001
                print(f"FAIL  {name}: comparator crash: {e}")
                failures.append(name)
                continue
            if sc != dc:
                diffs = [(a, b) for a, b in zip(sc, dc) if a != b][:3]
                print(f"FAIL  {name}: value mismatch "
                      f"(spark dtypes={dict(sdf.dtypes.astype(str))}, "
                      f"duck dtypes={dict(ddf.dtypes.astype(str))}), "
                      f"first diffs: {diffs}")
                ok = False
        if ok:
            print(f"PASS  {name} ({len(sdf)} rows, {time.time() - t0:.1f}s)")
        else:
            failures.append(name)

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
