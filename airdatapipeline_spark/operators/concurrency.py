"""Overlap INDEPENDENT driver actions (guide §2.6: Spark happily runs
several jobs at once inside one application; actions are only sequential
because driver code calls them sequentially).

Several operators materialize two or more independent small tables before
joining them (a truth panel and a sketch table, a register table and its
exact verifier). Run sequentially, each eager materialization pays the
full job latency while most of the cluster idles — at bench scale the per-action floor (~0.2-0.5 s: stage
scheduling, AQE re-planning, commit) dominates the data work, and on a
real cluster the tail of one job leaves executors idle that the next
job's tasks could back-fill. `pyspark.InheritableThread` is the
documented way to run driver threads (JVM thread-local properties — job
group/description — are inherited and cleaned up under the pinned-thread
py4j mode).

Only use this for actions with NO data dependency between them; results
are deterministic regardless of scheduling because each branch's value is
fully determined by its own plan.
"""

from __future__ import annotations

from pyspark import InheritableThread
from pyspark.sql import DataFrame


def parallel_checkpoints(*dfs: DataFrame) -> list[DataFrame]:
    """Materialize independent DataFrames as eager localCheckpoints
    concurrently; returns them in argument order. Exceptions propagate
    (the first one raised after all threads join)."""
    out: list = [None] * len(dfs)
    errs: list = [None] * len(dfs)

    def run(i: int, df: DataFrame) -> None:
        try:
            out[i] = df.localCheckpoint(eager=True)
        except BaseException as exc:  # noqa: BLE001 - re-raised below
            errs[i] = exc

    threads = [
        InheritableThread(target=run, args=(i, df)) for i, df in enumerate(dfs)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    for e in errs:
        if e is not None:
            raise e
    return out
