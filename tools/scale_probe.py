"""Beyond-10x scaling probe (VERDICT-r11 item 6): measure the riskiest
headline shapes at 10x / 30x / 100x replica scale in one exclusive run.

The per-round bench's scaling tier stops at 10x (it must fit the round
budget); this probe extends the SAME replica methodology (sources/
scale.py: key-offset copies, per-copy text suffix, so replicas behave
like new data) to 30x and 100x for a chosen query list — by default the
two shapes VERDICT-r11 named riskiest:

- ev_range_errors_near_clicks — the interval join whose hot-cell bound
  is the r11 skew fix; the claim is join input ∝ windows, not errors².
- text_snapshot_drift_by_source — keyed drift; the claim is one linear
  scan into fixed sources x metrics x 16-bin counter state.

Only the tables the probed queries scan are replicated (events,
documents), so the 100x build does not pay for 60M unused lineitem rows.
Timing protocol is bench.py's own (`query_fn`, `_run_samples`,
`_median`): noop-forced, each run (the warm lap too) in its own query
scope, median of 3, ascending tiers in one warm session.

Usage: python tools/scale_probe.py [--copies 10,30,100] [query ...]
Writes one JSON line to stdout; paste the table into MEASURED.md.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
PROBE_TABLES = ("events", "documents")
DEFAULT_QUERIES = ("ev_range_errors_near_clicks", "text_snapshot_drift_by_source")


def main() -> None:
    copies = [10, 30, 100]
    args = sys.argv[1:]
    if args and args[0] == "--copies":
        copies = [int(c) for c in args[1].split(",")]
        args = args[2:]
    queries = list(args) or list(DEFAULT_QUERIES)

    from airdatapipeline_spark.session import get_spark
    from airdatapipeline_spark.sources.scale import build_replica_warehouse
    from bench import _median, _run_samples, query_fn

    spark = get_spark("scale_probe")
    base_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".benchscale",
    )

    tiers: dict[int, str] = {1: SF_DIR}
    for c in copies:
        d = os.path.join(base_dir, f"probe_x{c}")
        sys.stderr.write(f"[build] x{c} replica ({','.join(PROBE_TABLES)})\n")
        build_replica_warehouse(spark, SF_DIR, d, copies=c, tables=PROBE_TABLES)
        tiers[c] = d

    # warm lap at base so tier-1 timings read a warm JVM
    for q in queries:
        _run_samples(query_fn(spark, q, SF_DIR), spark, n=1)

    out: dict[str, dict] = {}
    for q in queries:
        rows = {}
        for c, d in sorted(tiers.items()):
            runs = _run_samples(query_fn(spark, q, d), spark)
            med = _median(runs)
            rows[str(c)] = {"median_s": med, "runs": runs}
            sys.stderr.write(f"{q} x{c}: {med}s (runs {runs})\n")
        base = rows["1"]["median_s"]
        for c in sorted(tiers):
            rows[str(c)]["ratio_vs_base"] = (
                round(rows[str(c)]["median_s"] / base, 2) if base > 0 else None
            )
        out[q] = rows
    print(json.dumps({"sf_dir": SF_DIR, "tiers": sorted(tiers), "queries": out}))


if __name__ == "__main__":
    main()
