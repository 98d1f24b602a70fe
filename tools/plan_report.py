"""Physical-plan audit: render every batch query's plan properties
into PLANS.md — the at-a-glance evidence that each operator compiles
to the plan you'd WANT at 100 TB (broadcasts where a side is small,
TakeOrdered instead of global sorts, pushdown reaching scans, bounded
exchange counts), not just a plan that happens to pass the oracle.

Usage: python tools/plan_report.py [sf_dir]   (writes PLANS.md)
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from gasket_spark.utils import plan_nodes  # noqa: E402

# building these DataFrames EXECUTES work (streaming runs to
# completion) — their execution properties are covered by selfcheck +
# tests instead
EXECUTES_ON_BUILD = {
    "q_stream_tumbling", "q_stream_sliding", "q_stream_session",
    "q_stream_stateful_totals", "q_stream_stream_join", "q_stream_dedup",
}


def audit(df) -> dict[str, object]:
    # node counts walk the executed plan (each cached subplan once);
    # the flags below read the formatted explain text
    nodes = plan_nodes(df)
    plan = df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))
    joins = {
        "BHJ": nodes["BroadcastHashJoin"],
        "SMJ": nodes["SortMergeJoin"],
        "BNLJ": nodes["BroadcastNestedLoopJoin"],
        "SHJ": nodes["ShuffledHashJoin"],
    }
    return {
        "exchanges": nodes["ShuffleExchange"],
        # Exchange SinglePartition = everything funnels to ONE task
        # (global window/sort/limit). Bounded inputs (post-LIMIT rank
        # windows, 1-row aggregates) are fine; a count here on an
        # unbounded input is the single-partition WindowExec
        # anti-pattern — eyeball any nonzero row.
        "onepart": len(re.findall(r"Exchange SinglePartition", plan)),
        "joins": "+".join(f"{v}×{k}" for k, v in joins.items() if v)
                 or "—",
        "hashagg": nodes["HashAggregate"],
        "topk": "✓" if "TakeOrderedAndProject" in plan else "",
        "pushdown": "✓" if re.search(r"PushedFilters: \[(?!\])", plan)
                    else "",
        "codegen": "✓" if "codegen id" in plan else "",
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    from gasket_spark.queries import ORACLES, QUERIES
    from gasket_spark.session import get_spark

    spark = get_spark("plan-report")
    spark.sparkContext.setLogLevel("ERROR")
    lines = [
        "# PLANS — physical-plan audit of every batch query",
        "",
        f"Generated by `tools/plan_report.py` at `{sf_dir}`. Columns:",
        "shuffle exchanges in the plan; join strategies (BHJ broadcast",
        "hash, SMJ sort-merge, BNLJ broadcast nested loop, SHJ shuffled",
        "hash); HashAggregate nodes (2 = one two-phase agg); TopK =",
        "TakeOrderedAndProject (no global sort); Pushdown = filters",
        "reached the parquet scan; Codegen = whole-stage codegen spans;",
        "1part = Exchange SinglePartition occurrences (global funnel —",
        "fine when the input is bounded, e.g. a post-LIMIT rank window",
        "or a 1-row aggregate; review any nonzero on unbounded input).",
        "Streaming queries execute on build and are audited by",
        "selfcheck + tests instead (see SURVEY §2B).",
        "",
        "| query | oracle | exch | joins | hashagg | topk | pushdown "
        "| codegen | 1part |",
        "|---|---|---|---|---|---|---|---|---|",
    ]
    for name, fn in QUERIES.items():
        if name in EXECUTES_ON_BUILD:
            continue
        a = audit(fn(spark, sf_dir))
        oracle = "exact" if name in ORACLES else "rows"
        lines.append(
            f"| {name} | {oracle} | {a['exchanges']} | {a['joins']} "
            f"| {a['hashagg']} | {a['topk']} | {a['pushdown']} "
            f"| {a['codegen']} | {a['onepart'] or ''} |")
    out = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                       os.pardir, "PLANS.md")
    with open(os.path.abspath(out), "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {os.path.abspath(out)} ({len(lines) - 16} queries)")


if __name__ == "__main__":
    main()
