"""Interleaved A/B timing of one registered query across two git revisions.

The instrument VERDICT-r10 item 2 asks for: ambient drift (thermal state,
page cache, background load) moves slower than minutes, so alternating
rev-A / rev-B trials cancels it out of the A:B ratio — the same reason
the writes tier interleaves base/big passes. Each trial is a FRESH
subprocess + JVM running the query from a detached `git worktree` of that
revision: 1 untimed warm lap, then bench.py's `_run_samples` (median of
3 noop-forced runs, each in its own `session.query_scope`), so the ratio
times the plan bench reports, and the last run's layer record (build_s,
exec_s, Catalyst phases, job-group counters) comes with it.

The engine comes from the revision's worktree, the instrument from the
current tree: the trial imports `airdatapipeline_spark` from the worktree
first, then loads bench.py (and, through bench's own path setup,
perfbench/layers.py) from this checkout by path, so both revisions are
timed by the same code. The worktree's engine must have `query_scope`.
The trial asserts that every loaded `airdatapipeline_spark` module file
lies under the worktree, because bench.py puts its own directory first
on `sys.path`.
The printed verdict is the median-of-pairs ratio with per-trial
spreads, so a real plan regression separates from dispersion, and the
per-layer medians of both revisions say which layer moved.

Usage:
    python tools/ab_interleaved.py REV_A REV_B QUERY [SF_DIR] [N_PAIRS]

Worktrees live under .ab_worktrees/ (inside the repo, removed on exit).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import _median  # noqa: E402

_TRIAL = r"""
import importlib.util, json, os, sys
sys.path.insert(0, {root!r})
import airdatapipeline_spark  # the engine under test, before bench's path setup
spec = importlib.util.spec_from_file_location("bench", {bench!r})
bench = importlib.util.module_from_spec(spec)
spec.loader.exec_module(bench)
from airdatapipeline_spark.session import get_spark
spark = get_spark("ab_trial")
fn = bench.query_fn(spark, {query!r}, {sf!r})
bench._run_samples(fn, spark, n=1)  # untimed warm lap (JIT/thread-pool ramp)
rec = {{}}
runs = bench._run_samples(fn, spark, io_sink=rec, io_key={query!r})
root = os.path.realpath({root!r}) + os.sep
stray = [m.__file__ for n, m in list(sys.modules.items())
         if n.split(".")[0] == "airdatapipeline_spark"
         and not os.path.realpath(m.__file__).startswith(root)]
assert not stray, f"engine modules from outside {{root}}: {{stray[:3]}}"
print("ABRESULT", json.dumps({{"median": bench._median(runs),
      "layers": rec[{query!r}], "engine": airdatapipeline_spark.__file__}}))
"""


def _trial(root: str, query: str, sf: str) -> dict:
    """One fresh-JVM trial of `query` with the engine under `root`:
    {"median": s, "layers": the last run's record, "engine": package file}."""
    out = subprocess.run(
        [
            sys.executable,
            "-c",
            _TRIAL.format(
                root=root, query=query, sf=sf, bench=os.path.join(REPO, "bench.py")
            ),
        ],
        capture_output=True,
        text=True,
        cwd=root,
        check=True,
    ).stdout
    line = [ln for ln in out.splitlines() if ln.startswith("ABRESULT")][-1]
    return json.loads(line.split(" ", 1)[1])


def _layer_medians(trials: list[dict]) -> dict[str, float]:
    """Per-layer median over trials of every numeric key of the record."""
    keys = [k for k, v in trials[0]["layers"].items() if not isinstance(v, list)]
    return {k: _median(sorted(t["layers"][k] for t in trials)) for k in keys}


def main() -> None:
    rev_a, rev_b, query = sys.argv[1], sys.argv[2], sys.argv[3]
    sf = sys.argv[4] if len(sys.argv) > 4 else "/root/testdata/sf0.1"
    pairs = int(sys.argv[5]) if len(sys.argv) > 5 else 5

    wt = os.path.join(REPO, ".ab_worktrees")
    roots = {}
    created = []  # only remove worktrees THIS invocation created (ADVICE-r11)
    for rev in (rev_a, rev_b):
        d = os.path.join(wt, rev)
        if not os.path.isdir(d):
            subprocess.run(
                ["git", "worktree", "add", "--detach", d, rev],
                cwd=REPO,
                check=True,
                capture_output=True,
            )
            created.append(d)
        else:
            # a stale dir from an interrupted run (or a moved branch name)
            # would silently time the WRONG code — re-pin it to the
            # requested revision before trusting it (ADVICE-r11)
            subprocess.run(
                ["git", "-C", d, "checkout", "--detach", rev],
                check=True,
                capture_output=True,
            )
        want = subprocess.run(
            ["git", "rev-parse", f"{rev}^{{commit}}"], cwd=REPO, check=True,
            capture_output=True, text=True,
        ).stdout.strip()
        have = subprocess.run(
            ["git", "-C", d, "rev-parse", "HEAD"], check=True,
            capture_output=True, text=True,
        ).stdout.strip()
        if have != want:
            raise SystemExit(f"worktree {d} is at {have[:12]}, wanted {rev} ({want[:12]})")
        roots[rev] = d

    results: dict[str, list] = {rev_a: [], rev_b: []}
    try:
        for i in range(pairs):
            for rev in (rev_a, rev_b):  # strict alternation: A B A B ...
                t = _trial(roots[rev], query, sf)
                results[rev].append(t)
                rec = t["layers"]
                print(
                    f"pair {i + 1} {rev[:9]}: median {t['median']:.3f} "
                    f"[{min(rec['runs']):.3f}, {max(rec['runs']):.3f}] "
                    f"build {rec['build_s']:.3f} exec {rec['exec_s']:.3f} "
                    f"jobs {rec['jobs']:.0f} engine {os.path.dirname(t['engine'])}",
                    flush=True,
                )
    finally:
        for d in created:
            subprocess.run(
                ["git", "worktree", "remove", "--force", d], cwd=REPO, capture_output=True
            )

    med_a = _median(sorted(t["median"] for t in results[rev_a]))
    med_b = _median(sorted(t["median"] for t in results[rev_b]))
    print(
        json.dumps(
            {
                "query": query,
                "sf": sf,
                "rev_a": rev_a,
                "rev_b": rev_b,
                "median_a": med_a,
                "median_b": med_b,
                "ratio_b_over_a": round(med_b / med_a, 3),
                "layers_a": _layer_medians(results[rev_a]),
                "layers_b": _layer_medians(results[rev_b]),
                "trials_a": [t["layers"]["runs"] for t in results[rev_a]],
                "trials_b": [t["layers"]["runs"] for t in results[rev_b]],
            }
        )
    )


if __name__ == "__main__":
    main()
