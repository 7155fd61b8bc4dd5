"""Dump the FULL `.explain("formatted")` output of named registered queries
to OUTDIR/<query>_<tag>.txt — the before/after plan evidence committed
alongside a change that must (or must not) move a plan.

Usage: python tools/capture_plans.py OUTDIR TAG QUERY [QUERY ...] [--sf SF_DIR]
  TAG is `before` or `after` (or any suffix).

Spark's process-global counters (expression ids `#N`, exchange
`plan_id=N`, RDD ids `RDD[N]`, the suffix of a Python lambda's variables
`lambda x_N`) depend on everything the process planned before, so each
dump renumbers them in order of first appearance: two dumps of the same
plan compare byte-equal (`cmp`), whatever ran before.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def mask_counters(plan: str) -> str:
    """`plan` with each global counter renumbered by first appearance."""
    for pattern in (
        r"(#)(\d+)", r"(plan_id=)(\d+)", r"(RDD\[)(\d+)", r"(lambda \w+_)(\d+)"
    ):
        ids: dict[str, int] = {}
        plan = re.sub(
            pattern, lambda m: f"{m[1]}{ids.setdefault(m[2], len(ids))}", plan
        )
    return plan


def main() -> None:
    args = [a for a in sys.argv[1:]]
    sf_dir = "/root/testdata/sf0.01"
    if "--sf" in args:
        i = args.index("--sf")
        sf_dir = args[i + 1]
        del args[i : i + 2]
    outdir, tag, names = args[0], args[1], args[2:]

    import __spark_entry__ as e
    from airdatapipeline_spark.session import get_spark, query_scope

    spark = get_spark("capture-plans")
    qs = e.queries()
    os.makedirs(outdir, exist_ok=True)
    for name in names:
        with query_scope(spark):
            df = qs[name](spark, sf_dir)
            plan = mask_counters(df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
            ))
        path = os.path.join(outdir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan.splitlines())} lines)")


if __name__ == "__main__":
    main()
