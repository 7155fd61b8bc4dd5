"""Workload definitions: generated input size and the operation list.

A read operation is a registry query name, run as
`registry.QUERIES[name](spark, input_dir)` and forced by collecting its rows.
A write operation (see `Bench` in run.py) writes its real output into a
per-run directory; its read-back is checked against a registry oracle.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    documents: int  # generated documents (sf0.1 has 5,000, sf0.01 500)
    reads: tuple[str, ...]
    writes: tuple[str, ...] = ()

    @property
    def ops(self) -> tuple[str, ...]:
        return self.reads + self.writes


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="medallion_daily",
            why="the paper's daily Bronze->Silver->Gold batch: clean, anti-join pending, "
            "Arrow enrichment, Gold models and their writes; per-query fixed cost dominates",
            documents=3000,
            reads=(
                "flagship_enrichment_gold", "a1_daily_sentiment_gold", "j1_pending_antijoin",
                "snk_incremental_gold",
            ),
            writes=("write_gold", "write_silver_partitioned"),
        ),
        Workload(
            name="llm_corpus",
            why="LLM-data operators: curation written as parquet, LM perplexity filter and BPE "
            "training; Spark jobs run while building the query and leaked caches dominate",
            documents=500,
            reads=("text_lm_perplexity_filter", "text_bpe_train_merges"),
            writes=("write_curated_corpus",),
        ),
    )
}

# per-layer metric -> (end-to-end metric it should move, workload it shows on)
LAYER_TARGETS = {
    "session.start_s": ("setup_s", "all"),
    "build.s": ("batch_s", "llm_corpus"),
    "build.jobs": ("batch_s", "llm_corpus"),
    "plan.analysis_ms": ("batch_s", "medallion_daily"),
    "plan.optimization_ms": ("batch_s", "medallion_daily"),
    "plan.planning_ms": ("batch_s", "medallion_daily"),
    "exec.s": ("batch_s", "all"),
    "python.ops": ("batch_s", "medallion_daily"),
    "python.exec_s": ("batch_s", "medallion_daily"),
    "mat.leaked_rdds": ("live_heap_mb", "llm_corpus"),
    "mat.storage_mb": ("live_heap_mb", "llm_corpus"),
    "write.s": ("batch_s", "medallion_daily"),
}


def input_dir(workload: str, seed: int) -> str:
    return os.path.join(WORK, "inputs", f"{workload}-seed{seed}")
