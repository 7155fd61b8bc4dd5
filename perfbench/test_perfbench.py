"""Tests of the benchmark itself (not part of the engine's test suite).

    python3 -m pytest perfbench -q -m "not slow"  # generator and checker, seconds
    python3 -m pytest perfbench -q                # plus one traced run, ~2 min
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
from workloads import LAYER_TARGETS, ROOT, WORK, WORKLOADS  # noqa: E402

def _docs(d):
    return pq.read_table(os.path.join(d, "documents.parquet"))


def test_seed_fixes_inputs_and_only_permutes_rows(tmp_path):
    for x, seed in (("a", 3), ("b", 3), ("c", 4)):
        gen.generate(str(tmp_path / x), seed, 400)
    docs_a, docs_b, docs_c = (_docs(str(tmp_path / x)) for x in "abc")
    assert docs_a.equals(docs_b)
    assert not docs_a.equals(docs_c)
    assert docs_a.sort_by("doc_id").equals(docs_c.sort_by("doc_id"))
    assert docs_a.num_rows == 400


def test_documents_have_the_measured_corpus_shape():
    d = gen.documents(np.random.default_rng(0), 4000).to_pandas()
    words = d.text.str.split()
    base = words[~d.text.str.endswith(" dup")].map(len)
    assert base.min() >= 10 and base.max() <= 99
    assert set(w for ws in words for w in ws) == set(gen.WORDS) | {"dup"}
    assert abs(d.text.str.endswith(" dup").mean() - gen.DUP_P) < 0.015
    assert abs((d.lang == "en").mean() - 0.41) < 0.03
    assert (d.n_chars == d.text.str.len()).all()


def test_mismatch_is_order_insensitive_and_strict():
    got = pd.DataFrame({"k": [2, 1], "v": [0.5, 0.25]})
    assert check.mismatch(got, pd.DataFrame({"v": [0.25, 0.5], "k": [1, 2]})) is None
    assert "values differ" in check.mismatch(got, pd.DataFrame({"k": [1, 2], "v": [0.25, 0.5000001]}))
    assert "dtype" in check.mismatch(got, pd.DataFrame({"k": [1.0, 2.0], "v": [0.25, 0.5]}))
    assert "rows" in check.mismatch(got, got.iloc[:1])


def test_benchmark_json_matches_the_metrics_a_run_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)
    counters = dict.fromkeys(["jobs", "stages", *layers._STAGE_FIELDS], 1.0)
    rec = {
        "op": "x", "wall": 1.0, "spans": {"build": 0.25, "plan": 0.25, "exec": 0.5},
        "counters": {"build": counters, "plan": counters, "exec": counters},
        "phases": {"analysis": 1, "optimization": 1, "planning": 1}, "python": True,
        "leaked_rdds": 1, "storage_mb": 0.5,
    }
    names = set(run.layer_metrics([rec], cores=4))
    names |= {"session.start_s", "trace.overhead_s", "trace.unstable_job_ops"}
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == {n: run.layer_unit(n) for n in names}
    assert set(LAYER_TARGETS) <= names


@pytest.mark.slow
def test_traced_run_is_correct_covered_and_job_counts_repeat():
    wl = "medallion_daily"
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl, "--seed", "9",
         "--seconds", str(run.COLD_S), "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    with open(os.path.join(WORK, "traces", f"{wl}-seed9.json")) as fh:
        trace = json.load(fh)
    # the release after every operation makes each pass, cold or warm,
    # launch the same jobs
    assert len(trace["passes"]) >= 2 and trace["unstable_job_ops"] == {}
    assert 0.95 <= trace["layers"]["trace.coverage"] <= 1.0
