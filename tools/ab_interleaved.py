"""Interleaved A/B timing of one registered query across two git revisions.

The instrument VERDICT-r10 item 2 asks for: ambient drift (thermal state,
page cache, background load) moves slower than minutes, so alternating
rev-A / rev-B trials cancels it out of the A:B ratio — the same reason
the writes tier interleaves base/big passes. Each trial is a FRESH
subprocess + JVM running the query from a detached `git worktree` of that
revision: 1 untimed warm lap, then median-of-3 timed runs, each forced
with a noop write (the bench's per-query statistic and forcing, so the
ratio times the plan bench reports). Every lap runs in its own
`session.query_scope`, so no lap reuses what an earlier lap persisted;
both revisions must therefore have `query_scope`. The trial script
repeats these few lines of bench.py instead of importing it, because it
runs against other revisions' trees.
The printed verdict is the median-of-pairs ratio with per-trial
spreads, so a real plan regression separates from dispersion.

Usage:
    python tools/ab_interleaved.py REV_A REV_B QUERY [SF_DIR] [N_PAIRS]

Worktrees live under .ab_worktrees/ (inside the repo, removed on exit).
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_TRIAL = r"""
import sys, time
sys.path.insert(0, {root!r})
from airdatapipeline_spark.session import get_spark, query_scope
from airdatapipeline_spark.registry import QUERIES
spark = get_spark("ab_trial")
fn = QUERIES[{query!r}]

def force():  # bench.py's forcing: a noop write runs every projected column
    fn(spark, {sf!r}).write.format("noop").mode("overwrite").save()

with query_scope(spark):
    force()  # untimed warm lap (JIT/thread-pool ramp)
ts = []
for _ in range(3):
    with query_scope(spark):
        t = time.time(); force(); ts.append(time.time() - t)
print("ABRESULT", sorted(ts)[1], min(ts), max(ts))
"""


def _trial(root: str, query: str, sf: str) -> tuple[float, float, float]:
    out = subprocess.run(
        [sys.executable, "-c", _TRIAL.format(root=root, query=query, sf=sf)],
        capture_output=True,
        text=True,
        cwd=root,
        check=True,
    ).stdout
    line = [ln for ln in out.splitlines() if ln.startswith("ABRESULT")][-1]
    _, med, lo, hi = line.split()
    return float(med), float(lo), float(hi)


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
                med, lo, hi = _trial(roots[rev], query, sf)
                results[rev].append((med, lo, hi))
                print(f"pair {i + 1} {rev[:9]}: median {med:.3f} [{lo:.3f}, {hi:.3f}]", flush=True)
    finally:
        for d in created:
            subprocess.run(
                ["git", "worktree", "remove", "--force", d], cwd=REPO, capture_output=True
            )

    med_a = statistics.median(m for m, _, _ in results[rev_a])
    med_b = statistics.median(m for m, _, _ in results[rev_b])
    print(
        json.dumps(
            {
                "query": query,
                "sf": sf,
                "rev_a": rev_a,
                "rev_b": rev_b,
                "median_a": round(med_a, 3),
                "median_b": round(med_b, 3),
                "ratio_b_over_a": round(med_b / med_a, 3),
                "trials_a": [[round(x, 3) for x in t] for t in results[rev_a]],
                "trials_b": [[round(x, 3) for x in t] for t in results[rev_b]],
            }
        )
    )


if __name__ == "__main__":
    main()
