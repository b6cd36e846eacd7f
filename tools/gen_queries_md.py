"""Regenerate QUERIES.md (registry index) — run after adding queries."""
import inspect
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as em

qs = em.queries()
osql = em.oracle_sql()
lines = [
    "# QUERIES — registry index",
    "",
    "Auto-generated (tools/gen_queries_md.py): every `queries()` entry, its",
    "implementing module, and its check form. The driver gate checks the",
    "first 50 slots per round. The order is derived from the",
    "`CORRECTNESS_r*.json` ledger, stalest row first",
    "(`registry.driver_order`); `tools/drivercheck.py` checks all of them.",
    "",
    "| # | query | module | check |",
    "|---|---|---|---|",
]
for i, (name, fn) in enumerate(qs.items(), 1):
    mod = inspect.getmodule(fn).__name__.replace("pgsink_spark.", "")
    check = (
        "oracle (DuckDB hash)"
        if name in osql
        else "rows-only (declared approximate/stub)"
    )
    lines.append(f"| {i} | `{name}` | {mod} | {check} |")
open("QUERIES.md", "w").write("\n".join(lines) + "\n")
print(f"QUERIES.md: {len(qs)} queries")
