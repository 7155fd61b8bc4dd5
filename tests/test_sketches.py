"""Mergeable-sketch family (operators/sketches.py) + the JL projection tier:
plan shapes (bounded state is a PLAN property, not a value property), the
HLL/histogram merge contracts, partitioning invariance, accuracy bounds,
the linear-counting regime flag on a synthetic low-cardinality corpus,
the profiler's Expand-free sketch mode, and independent pure-Python
reference differentials for every sketch formula. Value parity vs DuckDB
is covered for all registered sketch queries by tests/test_oracle_parity.py
like every other registration.
"""

import os
import tempfile

import pyspark.sql.functions as F

from airdatapipeline_spark.operators import similarity, sketches
from airdatapipeline_spark.operators.sketches import (
    HLL_M,
    KMV_K,
    _source_shingles,
)
from airdatapipeline_spark.operators.text import hash56

from conftest import SF_SMALL


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# --- plan shapes --------------------------------------------------------------


def test_hll_register_build_partial_aggregates(spark):
    """The register build must partial-aggregate map-side (partial_max under
    the exchange): the shuffle carries <= 64 register rows per source per
    task, never the hash stream — the property that makes the sketch a
    bounded-state COUNT(DISTINCT) at 100 TB."""
    hashed = _source_shingles(spark, SF_SMALL).select("source", hash56("shingle").alias("h"))
    regs = sketches.hll_registers(hashed)
    plan = _plan(regs)
    assert "partial_max" in plan
    assert "CartesianProduct" not in plan
    assert regs.count() <= 20 * HLL_M


def test_kmv_bottom_k_uses_window_group_limit(spark):
    """The bottom-k cut must compile to WindowGroupLimit (rank pushdown:
    map tasks keep <= k rows per source BEFORE the exchange) — the
    stratified sampler's pushdown, here bounding the sketch build."""
    hashed = _source_shingles(spark, SF_SMALL).select("source", hash56("shingle").alias("h"))
    bk = sketches.kmv_bottom_k(hashed)
    plan = _plan(bk)
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan
    pdf = bk.toPandas()
    assert pdf.groupby("source").size().le(KMV_K).all()
    assert not pdf.duplicated(["source", "h"]).any()


def test_rp_topk_broadcasts_queries(spark):
    plan = _plan(similarity.rp_topk(spark, SF_SMALL))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


# --- HLL merge contract & partitioning invariance ------------------------------


def test_hll_registers_merge_and_partitioning_invariance(spark):
    """(a) max-merging per-half register tables over an arbitrary corpus
    split yields EXACTLY the full-corpus registers (the mergeability
    contract that combines per-shard sketches without rescanning data);
    (b) the register table is identical under different partitionings
    (max is order-free and the rest is integer arithmetic)."""
    hashed = _source_shingles(spark, SF_SMALL).select(
        "source", hash56("shingle").alias("h")
    )
    full = {
        (r["source"], r["j"]): r["m"]
        for r in sketches.hll_registers(hashed).collect()
    }
    merged = {}
    for half in (hashed.filter(F.col("h") % 2 == 0), hashed.filter(F.col("h") % 2 == 1)):
        for r in sketches.hll_registers(half).collect():
            key = (r["source"], r["j"])
            merged[key] = max(merged.get(key, 0), r["m"])
    assert merged == full
    repart = {
        (r["source"], r["j"]): r["m"]
        for r in sketches.hll_registers(hashed.repartition(7)).collect()
    }
    assert repart == full


# --- accuracy (deterministic on the fixed corpus — bounds, not flakes) --------


def test_hll_global_estimate_accuracy(spark):
    pdf = sketches.hll_shingle_cardinality(spark, SF_SMALL).toPandas()
    row = pdf[pdf.scope == sketches.ALL_SCOPE].iloc[0]
    # 64 registers -> ~13% std error; the fixed corpus lands well inside 3σ
    assert abs(row.rel_error) < 0.35
    assert row.regime == "raw"
    assert row.zero_registers == 0  # 16.5k distinct >> 64 registers


def test_kmv_jaccard_accuracy(spark):
    pdf = sketches.kmv_source_overlap(spark, SF_SMALL).toPandas()
    assert (pdf.sketch_union_size <= KMV_K).all()
    assert (pdf.sketch_overlap <= pdf.sketch_union_size).all()
    assert (pdf.jaccard_est.between(0, 1)).all()
    # k=64 -> per-pair std ~ sqrt(J(1-J)/64) <= 0.0625; mean error is tighter
    assert pdf.abs_err.mean() < 0.15


def test_rp_recall_panel_consistency(spark):
    pdf = similarity.rp_recall(spark, SF_SMALL).toPandas()
    assert len(pdf) == 10
    assert (pdf.rp_hits.between(0, 5)).all()
    assert (pdf.rp_rerank_hits.between(0, 5)).all()
    assert abs(pdf.panel_rp_recall.iloc[0] - pdf.rp_recall.mean()) < 1e-12
    assert abs(pdf.panel_rp_rerank_recall.iloc[0] - pdf.rp_rerank_recall.mean()) < 1e-12
    # JL at 64->16 on the isotropic worst case (all true cosines ~0 — rank
    # inversions maximally likely): the raw projected ranking still beats
    # random chance (5/500 = 0.01) by ~10x, and the production rerank
    # serve recovers to the BQ tier's neighborhood (measured 0.30 at
    # sf0.001 / 0.48 at sf0.01 vs BQ's 0.58/0.64 at the same rerank=40;
    # recorded in MEASURED.md)
    assert pdf.panel_rp_recall.iloc[0] > 0.05
    assert pdf.panel_rp_rerank_recall.iloc[0] >= pdf.panel_rp_recall.iloc[0]
    assert pdf.panel_rp_rerank_recall.iloc[0] >= 0.25


# --- linear-counting regime flag on a synthetic low-cardinality corpus --------


def test_hll_linear_counting_flag(spark):
    """A corpus whose per-source distinct-shingle count is far below 2.5m
    must flag 'linear_counting_advised' (and keep zero registers) rather
    than silently reporting the biased raw estimate."""
    root = tempfile.mkdtemp(prefix="hll_lc_")
    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta", "en", "only_src", 23) for i in range(5)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.write.mode("overwrite").parquet(os.path.join(root, "documents.parquet"))
    pdf = sketches.hll_shingle_cardinality(spark, root).toPandas()
    row = pdf[pdf.scope == "only_src"].iloc[0]
    assert row.exact_distinct == 2  # two distinct 3-shingles
    assert row.regime == "linear_counting_advised"
    assert row.zero_registers > 0


# --- histogram quantile sketch -------------------------------------------------


def test_histogram_sketch_merge_and_accuracy(spark):
    """(a) Per-half histograms SUM-merge to the full histogram (the
    mergeability contract — per-shard histograms combine by addition);
    (b) every estimate sits within one bin width of the exact rank-select
    quantile; (c) the sketch state is bounded by types x 256."""
    from airdatapipeline_spark.io import load_table

    ev = load_table(spark, SF_SMALL, "events").select("event_type", "value")
    binned = ev.select(
        "event_type",
        F.least(
            F.floor(F.col("value") / F.lit(sketches.HQ_WIDTH)).cast("int"),
            F.lit(sketches.HQ_BINS - 1),
        ).alias("bin"),
    )
    full = {
        (r["event_type"], r["bin"]): r["cnt"]
        for r in binned.groupBy("event_type", "bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    assert len(full) <= 5 * sketches.HQ_BINS
    merged: dict = {}
    for half in (
        binned.filter(F.col("bin") % 2 == 0),
        binned.filter(F.col("bin") % 2 == 1),
    ):
        for r in half.groupBy("event_type", "bin").agg(
            F.count(F.lit(1)).alias("cnt")
        ).collect():
            k = (r["event_type"], r["bin"])
            merged[k] = merged.get(k, 0) + r["cnt"]
    assert merged == full

    pdf = sketches.quantile_histogram_sketch(spark, SF_SMALL).toPandas()
    assert len(pdf) == 15  # 5 types x 3 quantiles
    assert (pdf.abs_err <= sketches.HQ_WIDTH).all()


# --- profiler sketch mode --------------------------------------------------------


def test_profile_sketch_mode_drops_expand(spark):
    """distinct_mode='sketch' must (a) remove the Expand the exact
    multi-column COUNT(DISTINCT) forces into the plan, and (b) estimate
    every column's cardinality within the HLL++ rsd band of the exact
    profile."""
    from airdatapipeline_spark.operators import profile

    exact_df = profile.table_profile(spark, SF_SMALL)
    sk_df = profile.table_profile(spark, SF_SMALL, distinct_mode="sketch")
    assert "Expand" in _plan(exact_df)
    assert "Expand" not in _plan(sk_df)
    exact = {r["column_name"]: r["n_distinct"] for r in exact_df.collect()}
    approx = {r["column_name"]: r["n_distinct"] for r in sk_df.collect()}
    assert set(exact) == set(approx)
    for c, n in exact.items():
        assert abs(approx[c] - n) <= max(2, 0.1 * n), (c, n, approx[c])


# --- independent pure-Python reference differentials ---------------------------
# The DuckDB oracles REPLAY the same formulas the operators declare, so a
# transcription error in the formula itself would pass parity in both
# engines. These references re-derive the sketches from first principles
# (hashlib + plain Python) on the collected sf0.001 corpus — the BM25
# differential-fuzz precedent applied to the sketch family.


def _py_shingles(rows):
    import re

    out = []
    for source, text in rows:
        toks = re.split(r"\s+", text.strip())
        if len(toks) < 3:
            continue
        seen = set()
        for i in range(len(toks) - 2):
            s = f"{toks[i]} {toks[i+1]} {toks[i+2]}"
            if s not in seen:
                seen.add(s)
                out.append((source, s))
    return out


def _py_hash56(s: str) -> int:
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:14], 16)


def test_hll_registers_match_pure_python_reference(spark):
    from airdatapipeline_spark.io import load_table

    rows = [
        (r["source"], r["text"])
        for r in load_table(spark, SF_SMALL, "documents")
        .select("source", "text")
        .collect()
    ]
    ref: dict = {}
    for source, sh in _py_shingles(rows):
        h = _py_hash56(sh)
        j, w = h % HLL_M, h // HLL_M
        rho = sketches.HLL_RHO_MAX if w == 0 else sketches.HLL_RHO_MAX - w.bit_length()
        key = (source, j)
        ref[key] = max(ref.get(key, 0), rho)
    hashed = _source_shingles(spark, SF_SMALL).select("source", hash56("shingle").alias("h"))
    got = {
        (r["source"], r["j"]): r["m"]
        for r in sketches.hll_registers(hashed).collect()
    }
    assert got == ref


def test_kmv_bottom_k_matches_pure_python_reference(spark):
    from airdatapipeline_spark.io import load_table

    rows = [
        (r["source"], r["text"])
        for r in load_table(spark, SF_SMALL, "documents")
        .select("source", "text")
        .collect()
    ]
    per_src: dict = {}
    for source, sh in _py_shingles(rows):
        per_src.setdefault(source, set()).add(_py_hash56(sh))
    ref = {
        src: set(sorted(hs)[: sketches.KMV_K]) for src, hs in per_src.items()
    }
    hashed = _source_shingles(spark, SF_SMALL).select("source", hash56("shingle").alias("h"))
    got: dict = {}
    for r in sketches.kmv_bottom_k(hashed).collect():
        got.setdefault(r["source"], set()).add(r["h"])
    assert got == ref


def test_histogram_quantiles_match_pure_python_reference(spark):
    from airdatapipeline_spark.io import load_table

    import math

    vals: dict = {}
    for r in (
        load_table(spark, SF_SMALL, "events").select("event_type", "value").collect()
    ):
        vals.setdefault(r["event_type"], []).append(r["value"])
    ref = {}
    for t, vs in vals.items():
        hist: dict = {}
        for v in vs:
            b = min(int(v / sketches.HQ_WIDTH), sketches.HQ_BINS - 1)
            hist[b] = hist.get(b, 0) + 1
        n = len(vs)
        for q in sketches.HQ_QS:
            r_ = math.ceil(q * n)
            cum = 0
            for b in sorted(hist):
                if cum + hist[b] >= r_:
                    est = b * sketches.HQ_WIDTH + sketches.HQ_WIDTH * (
                        (r_ - cum) / hist[b]
                    )
                    ref[(t, q)] = (n, est, sorted(vs)[r_ - 1])
                    break
                cum += hist[b]
    got = {
        (r["event_type"], r["q"]): (r["n_events"], r["est"], r["exact"])
        for r in sketches.quantile_histogram_sketch(spark, SF_SMALL).collect()
    }
    assert set(got) == set(ref)
    for k, (n, est, exact) in ref.items():
        gn, gest, gexact = got[k]
        assert gn == n and gexact == exact, (k, got[k], ref[k])
        assert abs(gest - est) < 1e-9, (k, gest, est)
