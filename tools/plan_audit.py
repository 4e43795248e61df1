"""Regenerate PLANS.md for EVERY registered query (driver + local tiers).

Usage: python tools/plan_audit.py [query ...]   (default: all registered)

Runs with AQE disabled so the static physical plan (codegen ids, join
strategies) is visible; production runs AQE on, which can only improve on
what is shown (coalescing, skew splitting, dynamic broadcast). Red-flag
enforcement (cartesian / unexpected Python stage / exchange blow-up) lives
in tests/test_plan_audit.py over the same fact extractor, so a plan that
regresses fails the suite, not just the doc. Each query is built for real
(`plans/audit.py::record_build`): a constructor that runs SQL while it is
built runs it here at sf0.1, and those executions are audited too.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

from stock_market_big_data_project_spark.plans import (
    LOCAL_QUERIES,
    QUERIES,
    load_all_plans,
)
from stock_market_big_data_project_spark.plans.audit import (
    STREAMING_HARNESS,
    plan_facts,
    record_build,
    red_flags,
)

SF = "/root/testdata/sf0.1"

HEADER = """# PLANS — physical-plan audit of every registered query

Generated by `tools/plan_audit.py` at sf0.1 with AQE disabled so the
static physical plan (codegen ids, join strategies) is visible;
production runs AQE on, which can only improve on what is shown here
(coalescing, skew splitting, dynamic broadcast). For each query: the
scan/join/codegen facts that matter at 100 TB — filters reaching the
parquet reader (`PushedFilters`), column pruning (`ReadSchema`),
broadcast vs shuffle joins, and how many whole-stage-codegen spans cover
the plan. Sections marked *(local tier)* are not driver-exported but are
oracle-parity-tested; `tests/test_plan_audit.py` fails the suite on any
red-flag plan (cartesian product, non-allowlisted Python stage or
nested-loop join, exchange blow-up). The facts describe the frame a
constructor returns; a constructor that runs SQL while it is built (eager
checkpoints, trainer rounds, collected scalars) also lists those
executions, and the red flags cover their plans too.
"""


def section(spark: SparkSession, name: str, local: bool) -> str:
    tier = " *(local tier)*" if local else ""
    if name in STREAMING_HARNESS:
        return (
            f"## {name}{tier}\n\n"
            "- streaming harness: executes a Structured Streaming replay at "
            "call time and returns the memory-sink table; audited via its "
            "batch twin + tests/test_streaming.py, not a static plan\n"
        )
    df, executed = record_build(spark, {**LOCAL_QUERIES, **QUERIES}[name], SF)
    f = plan_facts(df)
    ran = [plan_facts(p) for p in executed]
    flags = red_flags(name, f) + [x for e in ran for x in red_flags(name, e)]
    lines = [
        f"## {name}{tier}",
        "",
        f"- joins: {f['broadcast_hash_joins']} broadcast-hash, "
        f"{f['sort_merge_joins']} sort-merge, "
        f"{f['broadcast_nested_loop_joins']} broadcast-nested-loop, "
        f"{f['cartesian_products']} cartesian",
        f"- exchanges (shuffles/broadcasts): {f['exchanges']}; "
        f"whole-stage-codegen spans: {f['codegen_spans']}; "
        f"arrow/python stages: {f['python_stages']}",
        f"- pushed filters: "
        f"{f['pushed_filters'] if f['pushed_filters'] else 'none (full scan by design or filter not pushable)'}",
        f"- scanned columns: {', '.join(f['scanned_columns'])}",
    ]
    if ran:
        lines.append(
            f"- SQL executions while built: {len(ran)}; their exchanges: "
            f"{[e['exchanges'] for e in ran]}"
        )
    if flags:
        lines.append(f"- **RED FLAGS**: {flags}")
    lines.append("")
    return "\n".join(lines)


def main() -> None:
    load_all_plans()
    names = sys.argv[1:] or None
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.sql.shuffle.partitions", "32")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    sections = []
    for name in names or sorted(QUERIES):
        sections.append(section(spark, name, local=False))
    if names is None:
        for name in sorted(LOCAL_QUERIES):
            sections.append(section(spark, name, local=True))
    out = HEADER + "\n" + "\n".join(sections)
    if names is None:
        path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
        with open(path, "w") as fh:
            fh.write(out)
        print(f"wrote {path} ({len(sections)} sections)")
    else:
        print(out)


if __name__ == "__main__":
    main()
