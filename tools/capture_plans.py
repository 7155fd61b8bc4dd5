"""Dump the FULL `.explain("formatted")` output of named registered queries
to OUTDIR/<query>_<tag>.txt — the before/after plan evidence committed
alongside a change that must (or must not) move a plan.

A query's final plan does not show the frames it collects or lazily
checkpoints while it builds (a recall grader's panel, a model table that
reaches the driver). Each of those is dumped too, in the order the build
touched it, as its own `=== collect ===` or `=== localCheckpoint ===`
section before the `=== final ===` one; `take`, `head` and `first`
collect, so they show as `collect`.

Usage: python tools/capture_plans.py OUTDIR TAG QUERY [QUERY ...] [--sf SF_DIR]
  TAG is `before` or `after` (or any suffix).

Spark's process-global counters (expression ids `#N`, exchange
`plan_id=N`, RDD ids `RDD[N]`, the suffix of a Python lambda's variables
`lambda x_N`) depend on everything the process planned before, so each
dump renumbers them in order of first appearance: two dumps of the same
plan compare byte-equal (`cmp`), whatever ran before. Paths that differ
between two runs are masked too: the query scope's random root, the random
suffix of each scratch dir made under it, and the working directory (the
warehouse sits under it).
"""

from __future__ import annotations

import contextlib
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


def mask_paths(plan: str, scope_root: str, cwd: str) -> str:
    """`plan` with `scope_root` as `<scope>` and `cwd` as `<cwd>`, and
    renumbered by first appearance: the random `mkdtemp` suffix of each
    directory under the scope, and the UUIDs (dashed, or 32 hex digits)
    that name written files and commit directories in a path. Leading
    slashes are not matched, because a path can also appear inside a
    regex as `file:/*tmp/...`."""
    plan = plan.replace(scope_root.lstrip("/"), "<scope>").replace(cwd.lstrip("/"), "<cwd>")
    for pattern in (
        r"(<scope>/[A-Za-z_]*?)([a-z0-9_]{8})(?=[/,)\]\s]|$)",
        r"([/-])([0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}|[0-9a-f]{32})(?=[/,.\]-])",
    ):
        ids: dict[str, int] = {}
        plan = re.sub(
            pattern, lambda m: f"{m[1]}{ids.setdefault(m[2], len(ids))}", plan, flags=re.M
        )
    return plan


def _formatted(spark, df) -> str:
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


@contextlib.contextmanager
def build_frames(spark, sections: list):
    """Append (action, formatted plan) to `sections` for every frame that
    is collected or locally checkpointed while the block runs."""
    from pyspark.sql.classic.dataframe import DataFrame

    originals = {a: getattr(DataFrame, a) for a in ("collect", "localCheckpoint")}

    def recording(action, run):
        def recorded(self, *args, **kwargs):
            sections.append((action, _formatted(spark, self)))
            return run(self, *args, **kwargs)

        return recorded

    for action, run in originals.items():
        setattr(DataFrame, action, recording(action, run))
    try:
        yield
    finally:
        for action, run in originals.items():
            setattr(DataFrame, action, run)


def main() -> None:
    args = [a for a in sys.argv[1:]]
    sf_dir = "/root/testdata/sf0.01"
    if "--sf" in args:
        i = args.index("--sf")
        sf_dir = args[i + 1]
        del args[i : i + 2]
    outdir, tag, names = args[0], args[1], args[2:]

    import __spark_entry__ as e
    from airdatapipeline_spark.session import get_spark, query_scope, scratch_dir

    spark = get_spark("capture-plans")
    qs = e.queries()
    os.makedirs(outdir, exist_ok=True)
    for name in names:
        sections: list = []
        with query_scope(spark):
            scope_root = os.path.dirname(scratch_dir("plans_"))
            with build_frames(spark, sections):
                df = qs[name](spark, sf_dir)
            sections.append(("final", _formatted(spark, df)))
        plan = "".join(f"=== {a} ===\n{p}\n" for a, p in sections)
        plan = mask_counters(mask_paths(plan, scope_root, os.getcwd()))
        path = os.path.join(outdir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan.splitlines())} lines)")


if __name__ == "__main__":
    main()
