"""Mirror of the driver's correctness gate: run every ``queries()``
entry on Spark and its ``oracle_sql()`` on DuckDB, compare row count,
column names, and order-insensitive values.

Usage: python tools/selfcheck.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time
from datetime import date, datetime
from decimal import Decimal

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pgsink_spark.session import get_spark
from pgsink_spark.sources.fixtures import TABLES


def _norm(v):
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, float):
        return round(v, 9) if not math.isnan(v) else "NaN"
    if isinstance(v, datetime):
        return v.isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return v


def _canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        (tuple(_norm(r[i]) for i in order) for r in rows),
        key=lambda row: tuple((v is None, str(v)) for v in row),
    )


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    spark = get_spark("selfcheck")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    failures = []
    for name, fn in sorted(qs.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"ok?   {name}: rows-only ({len(srows)} rows, "
                  f"{time.time()-t0:.1f}s)")
            continue
        try:
            rel = con.sql(oracles[name])
            dcols = [c.lower() for c in rel.columns]
            drows = rel.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {e}")
            failures.append(name)
            continue
        ok = True
        if sorted(c.lower() for c in scols) != sorted(dcols):
            print(f"FAIL  {name}: cols spark={scols} duck={dcols}")
            ok = False
        elif len(srows) != len(drows):
            print(f"FAIL  {name}: rows spark={len(srows)} duck={len(drows)}")
            ok = False
        else:
            sc = _canon(srows, [c.lower() for c in scols])
            dc = _canon(drows, dcols)
            if sc != dc:
                diffs = [
                    (a, b) for a, b in zip(sc, dc) if a != b
                ][:3]
                print(f"FAIL  {name}: value mismatch, first diffs: {diffs}")
                ok = False
        if ok:
            print(f"PASS  {name} ({len(srows)} rows, {time.time()-t0:.1f}s)")
        else:
            failures.append(name)

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
