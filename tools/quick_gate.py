"""Mid-round commit gate: changed-family oracle parity + the quick pytest
lane, in one command (VERDICT-r11 item 8).

The full exit gate (tools/exit_verify.py: 198-query parity sweep + full
pytest) is ~30 min and runs once per round; nothing enforced a check
before MID-round commits, so an oracle desync could ship at 15:00 and
surface hours later. This wrapper is the enforceable middle tier:

1. map the files changed since a base rev (plus the working tree) to the
   registry families they can affect — direct for registry modules
   (core.QUERY_MODULE records who registered each query), via a static
   import scan for operator/streaming/source modules (closed over the
   package's own imports: an operator/streaming/source module importing a
   changed module counts as changed, until nothing new is added; then any
   registry module importing one of them re-proves — a superset, never a
   miss), and EVERYTHING for shared seams (io, session, model, core,
   _shared, __init__) — then run tools/check_oracle.py on that subset;
2. run the quick pytest lane (`-m "not slow"`: unit tiers + the sf0.001
   parity gate, ~15 min; the full lane stays the exit gate).

Usage: python tools/quick_gate.py [BASE_REV] [--parity-only]
Exit code 0 = safe to commit. BASE_REV defaults to HEAD (working-tree
changes only); pass the last verified commit to cover a commit range.
"""

from __future__ import annotations

import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

PKG = "airdatapipeline_spark"

# shared seams: a change here can shift ANY query's result
_FULL_SWEEP = {
    "io.py", "session.py", "model.py", "pipeline.py",
    "registry/core.py", "registry/_shared.py", "registry/__init__.py",
}


def _changed_files(base: str) -> list[str]:
    diff = subprocess.run(
        ["git", "diff", "--name-only", base], cwd=REPO,
        capture_output=True, text=True, check=True,
    ).stdout.splitlines()
    tree = [
        line[3:] for line in subprocess.run(
            ["git", "status", "--porcelain"], cwd=REPO,
            capture_output=True, text=True, check=True,
        ).stdout.splitlines()
    ]
    return sorted({f for f in diff + tree if f.endswith(".py")})


def _sources(*subpackages: str) -> dict[str, str]:
    """{subpackage/module: source} of the package's modules there."""
    out = {}
    for sub in subpackages:
        d = os.path.join(REPO, PKG, sub)
        for f in os.listdir(d):
            if f.endswith(".py"):
                out[f"{sub}/{f[:-3]}"] = open(os.path.join(d, f)).read()
    return out


def _importers(name: str, sources: dict[str, str]) -> set[str]:
    """Keys of `sources` whose module imports the module `name`. Matches
    the import forms the package uses: `from ..operators import merge`,
    `from ..operators.merge import x`, `from .merge import x`,
    `operators.merge`; a bare-word match would drag in comment mentions
    and balloon the subset to half the registry."""
    n = re.escape(name)
    pat = re.compile(
        rf"(^\s*from\s+[\w.]*\b{n}\b[\w.]*\s+import\b"  # from ..operators.X import y
        rf"|^\s*from\s+[\w.]+\s+import\s+[^\n]*\b{n}\b"  # from ..operators import X [as _x]
        rf"|\b(?:operators|streaming|sources)\.{n}\b)",  # attribute reference
        re.M,
    )
    return {key for key, src in sources.items() if pat.search(src)}


def affected_queries(changed: list[str]) -> list[str] | None:
    """Queries whose parity a change can affect; None = full sweep."""
    from airdatapipeline_spark.registry import QUERIES, core

    reg_sources = _sources("registry")
    lib_sources = _sources("operators", "streaming", "sources")
    hit_modules: set[str] = set()
    for f in changed:
        if not f.startswith(f"{PKG}/"):
            continue  # tests/tools/bench never change query results
        rel = f[len(PKG) + 1 :]
        if rel in _FULL_SWEEP:
            return None
        name = os.path.basename(rel)[:-3]
        if rel.startswith("registry/"):
            hit_modules.add(name)
            continue
        # operator/streaming/source module: it and every library module
        # that imports it, transitively, count as changed; any registry
        # module that IMPORTS one of them must re-prove
        closure, frontier = {name}, [name]
        while frontier:
            for key in _importers(frontier.pop(), lib_sources):
                m = os.path.basename(key)
                if m not in closure:
                    closure.add(m)
                    frontier.append(m)
        users = {
            os.path.basename(key) for m in closure for key in _importers(m, reg_sources)
        }
        if not users:
            return None  # unmapped seam -> full sweep, never skip
        hit_modules |= users
    return sorted(
        q for q, m in core.QUERY_MODULE.items() if m in hit_modules and q in QUERIES
    )


def main() -> None:
    args = [a for a in sys.argv[1:] if a != "--parity-only"]
    parity_only = "--parity-only" in sys.argv
    base = args[0] if args else "HEAD"

    changed = _changed_files(base)
    subset = affected_queries(changed)
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

    if subset == []:
        print(f"[quick_gate] no registry-affecting changes vs {base}; parity skipped")
    else:
        names = subset or []
        label = f"{len(names)} affected queries" if subset else "FULL sweep"
        print(f"[quick_gate] parity: {label} (changed: {len(changed)} files)")
        rc = subprocess.run(
            [sys.executable, os.path.join(REPO, "tools", "check_oracle.py"), sf, *names],
            cwd=REPO,
        ).returncode
        if rc != 0:
            sys.exit(rc)

    if not parity_only:
        print("[quick_gate] quick pytest lane (-m 'not slow')")
        rc = subprocess.run(
            [sys.executable, "-m", "pytest", "tests/", "-x", "-q", "-m", "not slow"],
            cwd=REPO,
        ).returncode
        if rc != 0:
            sys.exit(rc)
    print("[quick_gate] PASS — safe to commit")


if __name__ == "__main__":
    main()
