"""Regenerate PLANS.md: executed-plan audit of every bench headline
query at sf0.001 — shuffle exchange count, broadcast joins, partial
aggregation, codegen span count, and per-scan column pruning. The
committed artifact makes the scale posture checkable without rerunning
anything; tests/test_plans.py pins the load-bearing properties.

Run: python tools/gen_plans_md.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pgsink_spark.plans import (  # noqa: E402
    broadcast_join_count,
    codegen_span_count,
    exchange_count,
    has_partial_aggregate,
    scan_columns,
)
from pgsink_spark.session import get_spark  # noqa: E402

SF = "/root/testdata/sf0.001"


def main() -> None:
    import bench

    spark = get_spark("plan-audit")
    import __spark_entry__ as em

    qs = em.queries()
    # retired from queries() (round 6) but still a bench headline
    from pgsink_spark.operators.dedup import bloom_decontaminate

    qs.setdefault("bloom_decontaminate", bloom_decontaminate)
    lines = [
        "# PLANS — executed-plan audit (auto-generated)",
        "",
        "`tools/gen_plans_md.py` runs every bench headline query at",
        "sf0.001 and reads its FINAL adaptive plan. Columns: shuffle",
        "exchanges (broadcast exchanges excluded), broadcast joins,",
        "partial (map-side) aggregation present, whole-stage-codegen",
        "spans, and the widest scan's column count (pruning evidence).",
        "A '—' means the metric does not apply (no agg in plan).",
        "",
        "| query | shuffles | bcast joins | partial agg | codegen spans | max scan cols |",
        "|---|---|---|---|---|---|",
    ]
    for name in bench.HEADLINE:
        try:
            df = qs[name](spark, SF)
            # ops that return a lineage-truncating localCheckpoint
            # attach the executed pre-checkpoint plan for the audit
            df = getattr(df, "_plan_audit_df", df)
            ex = exchange_count(df)  # runs the plan
            bc = broadcast_join_count(df, run=False)
            pa = "yes" if has_partial_aggregate(df) else "—"
            cg = codegen_span_count(df, run=False)
            cols = scan_columns(df)
            widest = max((len(c) for c in cols), default=0)
            lines.append(
                f"| `{name}` | {ex} | {bc} | {pa} | {cg} | {widest} |"
            )
        except Exception as e:  # pragma: no cover — audit robustness
            lines.append(f"| `{name}` | error: {str(e)[:60]} | | | | |")
    open("PLANS.md", "w").write("\n".join(lines) + "\n")
    print(f"PLANS.md: {len(bench.HEADLINE)} queries audited")
    spark.stop()


if __name__ == "__main__":
    main()
