"""Dump `.explain("formatted")` for named queries to plans/<round>/ files.

Usage: python tools/explain_dump.py <suffix> <query> [query ...]
       python tools/explain_dump.py before symspell_fuzzy_join_dist2 ...

Writes plans/$SPARK_GRAFT_ROUND/<query>_<suffix>.txt for each name
(driver or local tier), at $SPARK_GRAFT_SF_DIR (default sf0.1). The
round directory comes from $SPARK_GRAFT_ROUND (default r13) so a new
optimization round cannot silently overwrite the previous round's
committed plan artifacts (ADVICE r12). AQE stays ON (the shipped
configuration): the dump records the initial adaptive plan — join
strategies, exchanges, pushed filters — exactly what the optimization
round's before/after claims are about. A query that runs SQL while it is
built (eager checkpoints, trainer rounds, collected scalars) also gets the
plan of each of those executions appended, as tools/plan_audit.py audits
them.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from stock_market_big_data_project_spark.plans import (
    LOCAL_QUERIES,
    QUERIES,
    load_all_plans,
)
from stock_market_big_data_project_spark.plans.audit import explain, record_build
from stock_market_big_data_project_spark.session import get_spark

OUT_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "plans",
    os.environ.get("SPARK_GRAFT_ROUND", "r13"),
)


def main() -> int:
    load_all_plans()
    suffix, names = sys.argv[1], sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("explain-dump")
    os.makedirs(OUT_DIR, exist_ok=True)
    all_q = {**LOCAL_QUERIES, **QUERIES}
    for name in names:
        df, executed = record_build(spark, all_q[name], sf_dir)
        txt = explain(df)
        for i, plan in enumerate(executed, 1):
            txt += f"\n== SQL execution {i} while built ==\n{plan}"
        path = os.path.join(OUT_DIR, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(txt)
        print(f"wrote {path} ({len(txt)} chars)")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
