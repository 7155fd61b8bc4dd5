"""Local mimic of the driver's correctness gate.

Runs every __spark_entry__.queries() entry on Spark and its oracle_sql() twin
on DuckDB over the same parquet dir, then compares row count, column names,
and (order-insensitively) values. Each query runs in its own `query_scope`;
a query that leaves anything behind once its scope has closed (a persisted
RDD, a cached plan, a new temp-dir entry) is reported as a leak and fails
the run like a value mismatch. Usage:

    python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

import duckdb
import pandas as pd


def canon(df: pd.DataFrame) -> pd.DataFrame:
    import datetime

    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        col = df[c]
        if pd.api.types.is_datetime64_any_dtype(col):
            df[c] = col.astype("datetime64[ns]")
        elif col.dtype == object:
            sample = col.dropna()
            if len(sample) and isinstance(sample.iloc[0], (datetime.date, datetime.datetime)):
                df[c] = pd.to_datetime(col).astype("datetime64[ns]")
            else:
                df[c] = col.astype(str)
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def compare(name: str, spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> list[str]:
    problems = []
    if len(spark_pdf) != len(oracle_pdf):
        problems.append(f"rowcount spark={len(spark_pdf)} oracle={len(oracle_pdf)}")
    s_cols, o_cols = sorted(spark_pdf.columns), sorted(oracle_pdf.columns)
    if s_cols != o_cols:
        problems.append(f"columns spark={s_cols} oracle={o_cols}")
        return problems
    if problems:
        return problems
    s, o = canon(spark_pdf), canon(oracle_pdf)
    for c in s.columns:
        sv, ov = s[c], o[c]
        # Driver-faithful dtype gate: the driver's value-hash distinguishes
        # int 3 from float 3.0, and numpy's int64==float64 comparison is
        # lossy above 2^53 (DuckDB HUGEINT->float64 oracles passed locally
        # for two rounds because of exactly this). An integer-typed column
        # on one side and a float-typed column on the other is a failure
        # regardless of numeric closeness.
        if (sv.dtype.kind in "iu") != (ov.dtype.kind in "iu") and (
            sv.dtype.kind in "iuf" and ov.dtype.kind in "iuf"
        ):
            problems.append(
                f"col {c}: dtype mismatch spark={sv.dtype} oracle={ov.dtype}"
                " (int-vs-float; driver hash would fail)"
            )
            continue
        if sv.dtype.kind == "f" or ov.dtype.kind == "f":
            # STRICT: bit-equality or failure — the driver's value hash is
            # exact, so any tolerance here is a local-green/driver-red
            # channel (r3/r4 lesson; the last 1e-9 escape hatch was removed
            # per VERDICT-r5 item 3). The near/far split below is
            # DIAGNOSTIC wording only: both append a failure.
            sv_f = pd.to_numeric(sv, errors="coerce")
            ov_f = pd.to_numeric(ov, errors="coerce")
            both_nan = sv_f.isna() & ov_f.isna()
            exact = (sv_f == ov_f) | both_nan
            if not exact.all():
                n = (~exact).sum()
                i = (~exact).idxmax()
                ulp_only = bool(
                    (((sv_f - ov_f).abs() <= 1e-9 + 1e-9 * ov_f.abs()) | both_nan).all()
                )
                kind = (
                    "FLOAT-ULP (mirror IEEE op order / decimal accumulation"
                    " on the Spark side; never round)"
                    if ulp_only
                    else "values differ"
                )
                problems.append(
                    f"col {c}: {kind}: {n} not bit-equal, e.g. {sv_f[i]!r} vs {ov_f[i]!r}"
                )
        else:
            if not sv.equals(ov):
                neq = (sv != ov)
                i = neq.idxmax()
                problems.append(f"col {c}: {neq.sum()} values differ, e.g. {sv[i]!r} vs {ov[i]!r}")
    return problems


def footprint(spark) -> tuple[set, set]:
    """What a query could leave behind: persisted RDD ids and temp-dir entries."""
    rdds = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    return rdds, set(os.listdir(tempfile.gettempdir()))


def leaks(spark, before: tuple[set, set]) -> list[str]:
    """What was left behind since `before = footprint(spark)`, apart from the
    landing-zone copies `_landing_dir` keeps for the life of the process.
    The temp-dir listing is exact only in a temp dir that neither another
    process nor the JVM (it writes to java.io.tmpdir) writes to."""
    from airdatapipeline_spark.streaming.events import _STAGED

    rdds, tmp = footprint(spark)
    staged = {os.path.basename(d) for d in _STAGED.values()}
    out = [f"persisted rdd {i}" for i in sorted(rdds - before[0])]
    out += [f"temp entry {d}" for d in sorted(tmp - before[1] - staged)]
    if not spark._jsparkSession.sharedState().cacheManager().isEmpty():
        out.append("cached plan in the CacheManager")
    return out


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entrymod

    if os.environ.get("SPARK_GRAFT_BARE_SESSION"):
        # Simulate the driver's session: default confs, none of get_spark's
        # pins (UTC tz, nanosAsLong, AQE sizing). Every registered query must
        # still oracle-match — conf dependencies belong inside the operators.
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[16]")
            .appName("oracle-check-bare")
            .config("spark.sql.shuffle.partitions", "16")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
    else:
        from airdatapipeline_spark.session import get_spark

        spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings".split()
    ):
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    from airdatapipeline_spark.session import query_scope

    # scratch goes to a temp dir of this run's own (see `leaks`)
    tempfile.tempdir = tempfile.mkdtemp(prefix="check_oracle_")
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failed, leaky = [], []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        before = footprint(spark)
        try:
            with query_scope(spark):
                spark_pdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            failed.append(name)
            print(f"FAIL  {name}: spark error: {e}")
            continue
        left = leaks(spark, before)
        if left:
            leaky.append(name)
            print(f"LEAK  {name}: {left}")
        if name not in oracles:
            print(f"skip  {name}: no oracle (rows-only, {len(spark_pdf)} rows, {time.time()-t0:.1f}s)")
            continue
        try:
            oracle_pdf = con.execute(oracles[name]).df()
        except Exception as e:
            failed.append(name)
            print(f"FAIL  {name}: duckdb error: {e}")
            continue
        problems = compare(name, spark_pdf, oracle_pdf)
        if problems:
            failed.append(name)
            print(f"FAIL  {name} ({time.time()-t0:.1f}s)")
            for p in problems:
                print(f"      {p}")
        else:
            print(f"ok    {name} ({len(spark_pdf)} rows, {time.time()-t0:.1f}s)")
    print(f"\n{len(failed)} failures" + (f": {failed}" if failed else ""))
    print(f"{len(leaky)} leaks" + (f": {leaky}" if leaky else ""))
    return 1 if failed or leaky else 0


if __name__ == "__main__":
    raise SystemExit(main())
