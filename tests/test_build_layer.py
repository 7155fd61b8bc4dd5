"""Build-layer budgets: what the driver spends while an operator builds
its frame, before any action on the returned frame.

- py4j round-trips: every Column call is one or more JVM calls, so the
  count moves with the session's call-site capture setting and with how
  many expressions an operator builds;
- Spark jobs launched during the build: each is a serial driver wait,
  the cost the LLM-data operators are bound by at test scale.

The budgets are the counts measured on sf0.001 when they were set; a
change that raises one should say why.
"""

from __future__ import annotations

import datetime
import math

import pytest
from conftest import SF_SMALL


def test_get_spark_turns_call_site_capture_off(spark):
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert not is_debugging_enabled()


# The flagship build made about 3,300 round-trips with call-site capture on.
FLAGSHIP_BUILD_PY4J_BUDGET = 1500


def test_flagship_build_py4j_budget(spark, monkeypatch):
    from py4j.java_gateway import GatewayClient

    from airdatapipeline_spark import pipeline

    calls = [0]
    send = GatewayClient.send_command

    def counting(self, *args, **kwargs):
        calls[0] += 1
        return send(self, *args, **kwargs)

    monkeypatch.setattr(GatewayClient, "send_command", counting)
    pipeline.flagship(spark, SF_SMALL)
    monkeypatch.undo()
    assert 0 < calls[0] <= FLAGSHIP_BUILD_PY4J_BUDGET, calls[0]


# query -> jobs its build may launch (10, 11 and 18 before the cut)
BUILD_JOB_BUDGETS = {
    "text_lm_perplexity_filter": 4,  # schema read + one stats collect (two stages)
    "text_bpe_train_merges": 3,  # schema read + one word-table collect
    "curation_pipeline": 8,  # schema read + candidate checkpoint + one fixpoint probe
}


@pytest.mark.parametrize("query", sorted(BUILD_JOB_BUDGETS))
def test_llm_operator_build_job_budget(spark, query):
    from airdatapipeline_spark.registry import QUERIES

    sc = spark.sparkContext
    group = f"build-budget:{query}"
    sc.setJobGroup(group, group)
    try:
        QUERIES[query](spark, SF_SMALL)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) <= BUILD_JOB_BUDGETS[query], (query, len(jobs))


def test_query_entry_frees_proxies_of_earlier_queries(spark):
    """A frame's `_jdf` proxy sits in a cycle with the method proxies py4j
    caches on it. Promoted to the oldest generation while its query runs,
    it keeps the JVM Dataset, plan and broadcasts after the frame is
    dropped, until a full collection; the next registered query runs one
    before it builds."""
    import gc
    import weakref

    from airdatapipeline_spark.registry import QUERIES

    enabled = gc.isenabled()
    gc.disable()
    try:
        df = QUERIES["text_train_val_split"](spark, SF_SMALL)
        df.collect()
        jdf = weakref.ref(df._jdf)
        gc.collect()  # the frame is alive: its proxy moves to the oldest generation
        del df
        assert jdf() is not None
        QUERIES["text_train_val_split"](spark, SF_SMALL)
        assert jdf() is None
    finally:
        if enabled:
            gc.enable()


def _union_find_min_labels(pairs):
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_hashmin_components_rounds_match_union_find(spark):
    """The corpora's near-dup components are cliques, so their seed labels
    are already the fixpoint and no round runs. Long chains (in both id
    orders), a star and a lone pair make the probe fail and the rounds
    run; the result must still be every node's component minimum."""
    from airdatapipeline_spark.operators.dedup import hashmin_components

    pairs = [(i, i + 1) for i in range(1, 12)]  # chain, min at one end
    pairs += [(i + 1, i) for i in range(40, 52)]  # chain, reversed orientation
    pairs += [(100, 101 + k) for k in range(5)] + [(7, 100)]  # star hung off the first chain
    pairs += [(200, 201)]
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    got = {r.doc_id: r.cluster_id for r in hashmin_components(df).collect()}
    assert got == _union_find_min_labels(pairs)


def test_bpe_train_matches_duckdb_unroll_past_the_registered_k(spark, duck):
    """The driver-side trainer moves pair counts incrementally; at K=12
    (three times the registered K) its rules must still equal the DuckDB
    unroll that recounts every pair each iteration."""
    from airdatapipeline_spark.operators import text as t
    from airdatapipeline_spark.registry.text import _bpe_oracle_ctes

    k = 12
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    got = [(rank, l, r, n) for rank, l, r, _, n in t.bpe_train(t.bpe_word_table(docs), k)]
    rules = " UNION ALL ".join(
        f"SELECT {i} AS rank, l, r, pair_count FROM m{i}" for i in range(1, k + 1)
    )
    want = duck.execute(f"WITH {_bpe_oracle_ctes(k)} SELECT * FROM ({rules}) ORDER BY rank").fetchall()
    assert len(got) == k
    assert got == [tuple(row) for row in want]


LOCAL_TABLE_CASES = [
    ([(3, math.log(3.0)), (7, math.log(7.0)), (11, None)], "arg bigint, lnv double"),
    ([("a", 1), ("b", 2), (None, 3)], "term string, qrank int"),
    ([(0, [0.1, math.log(2.0)]), (1, [])], "centroid_id bigint, emb array<double>"),
    ([(1, [[0.1, math.log(5.0)], [-2.5]])], "query_id bigint, dtab array<array<double>>"),
    ([], "doc_id long, hits int, bm25 double, rank int"),
    (
        [
            (1, datetime.datetime(2024, 1, 2, 3, 4, 5, 6)),
            (2, datetime.datetime(2024, 3, 31, 1, 30, tzinfo=datetime.timezone.utc)),
            (3, None),
        ],
        "id int, ts timestamp",
    ),
]


@pytest.mark.parametrize("rows,ddl", LOCAL_TABLE_CASES, ids=[c[1] for c in LOCAL_TABLE_CASES])
def test_local_table_is_a_local_relation_equal_to_the_list_path(spark, rows, ddl):
    """Rows the driver holds become a JVM LocalRelation (no Python RDD)
    with the same schema and values as `createDataFrame` over the list:
    doubles bit-exact, naive and aware timestamps the same instants."""
    from airdatapipeline_spark.io import local_table

    df = local_table(spark, rows, ddl)
    qe = df._jdf.queryExecution()
    assert qe.logical().getClass().getSimpleName() == "LocalRelation"
    assert "LocalTableScan" in qe.executedPlan().toString()
    ref = spark.createDataFrame(rows, ddl)
    assert df.schema == ref.schema
    assert df.collect() == ref.collect()  # float == compares exact values, no tolerance


def test_create_dataframe_only_inside_local_table():
    """`createDataFrame` over a Python list runs a Python RDD; the package
    calls it once, inside `io.local_table`, on an Arrow table."""
    import inspect
    import pathlib

    import airdatapipeline_spark
    from airdatapipeline_spark.io import local_table

    root = pathlib.Path(airdatapipeline_spark.__file__).parent
    hits = {
        p.relative_to(root).as_posix(): p.read_text().count("createDataFrame(")
        for p in root.rglob("*.py")
    }
    assert {p: n for p, n in hits.items() if n} == {"io.py": 1}
    assert "createDataFrame(" in inspect.getsource(local_table)


@pytest.mark.parametrize("query", ["text_lm_perplexity_filter", "text_bpe_train_merges"])
def test_llm_operator_driver_tables_scan_locally(spark, query):
    """The LM log table and the BPE merges are driver rows: once executed,
    the plan reads them as a LocalTableScan, not a Python RDD."""
    from airdatapipeline_spark.registry import QUERIES
    from airdatapipeline_spark.session import query_scope

    with query_scope(spark):
        df = QUERIES[query](spark, SF_SMALL)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan
    assert "ExistingRDD" not in plan
