"""Traced-run reader: per-operation layer records from Spark's own counters.

Every call the benchmark makes into the engine runs under the job group
`<pass>:<op>:<phase>` (phase = build, plan, exec or write). After the
operation this module reads, with the UI off:

- the job ids of each group (`statusTracker().getJobIdsForGroup`);
- per stage, the last attempt's task metrics from the JVM status store
  (`statusStore().lastStageAttempt(id)`);
- the Catalyst phase times of the planned frame
  (`queryExecution().tracker().phases()`);
- what the operation left persisted (`getRDDStorageInfo`).
"""

from __future__ import annotations

from py4j.protocol import Py4JJavaError

# physical operators that cross into Python workers
PYTHON_NODES = (
    "MapInPandas", "MapInArrow", "ArrowEvalPython", "BatchEvalPython",
    "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas", "AggregateInPandas",
    "WindowInPandas", "FlatMapGroupsInArrow",
)

# status-store stage fields summed per phase: name -> (getter, scale)
_STAGE_FIELDS = {
    "tasks": ("numTasks", 1),
    "failed_tasks": ("numFailedTasks", 1),
    "run_s": ("executorRunTime", 1e-3),
    "cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "input_mb": ("inputBytes", 1e-6),
    "shuffle_write_mb": ("shuffleWriteBytes", 1e-6),
    "shuffle_read_mb": ("shuffleReadBytes", 1e-6),
    "spill_mb": ("diskBytesSpilled", 1e-6),
}


def set_group(sc, group: str | None) -> None:
    """Tag the jobs launched from here on (None clears the tag)."""
    sc.setLocalProperty("spark.jobGroup.id", group)
    sc.setLocalProperty("spark.job.description", group)


def group_counters(sc, group: str) -> dict:
    """Jobs, stages and summed stage metrics of one job group."""
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stage_ids = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    out = dict.fromkeys(_STAGE_FIELDS, 0.0)
    out["jobs"], out["stages"] = len(jobs), 0
    store = sc._jsc.sc().statusStore()
    for sid in stage_ids:
        try:
            sd = store.lastStageAttempt(sid)
        except Py4JJavaError:  # never submitted
            continue
        if sd.status().toString() == "SKIPPED":
            continue
        out["stages"] += 1
        for key, (getter, scale) in _STAGE_FIELDS.items():
            out[key] += getattr(sd, getter)() * scale
    return out


def drain(sc) -> None:
    """Wait until the status store has seen every finished job."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()


def plan_phases(jdf) -> tuple[dict, bool]:
    """Force physical planning of a frame; return the Catalyst phase times
    (ms) and whether the plan holds a Python boundary."""
    qe = jdf.queryExecution()
    plan = qe.executedPlan().toString()
    phases = {}
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        phases[kv._1()] = kv._2().durationMs()
    return phases, any(n in plan for n in PYTHON_NODES)


def storage(sc) -> tuple[int, float]:
    """(persisted RDD count, their cached MB in memory and on disk)."""
    infos = sc._jsc.sc().getRDDStorageInfo()
    n = sc._jsc.getPersistentRDDs().size()
    return n, sum(i.memSize() + i.diskSize() for i in infos) / 1e6
