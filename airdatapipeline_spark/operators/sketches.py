"""Mergeable sketches: HyperLogLog, KMV (bottom-k), histogram quantiles.

With text.heavy_hitter_tokens' Misra-Gries frequency sketch, this module
completes the bounded-state summary toolkit (cardinality / set overlap /
quantiles / heavy hitters) a 100 TB pipeline runs where exact aggregation
would shuffle every key.

Extension family for the 100 TB training-data pipeline (no reference
counterpart — the reference's ETL, /root/reference/scripts/*.py, never
needs approximate distinct counting; a web-scale corpus does):

- ``hll_shingle_cardinality``: per-source + global distinct-shingle
  estimates with 64-register HyperLogLog sketches (Flajolet, Fusy,
  Gandouet, Meunier; AofA 2007). The whole sketch is ONE partial-aggregated
  shuffle of at most ``scopes x 64`` register rows — a naive
  ``COUNT(DISTINCT shingle)`` shuffles every distinct key (billions at
  100 TB) where the sketch shuffles a fixed 64-row state per scope, and the
  global row is derived by MERGING the per-source registers in-plan
  (``MAX`` per register), proving the sketch's defining property.
- ``kmv_source_overlap``: bottom-k (k=64) distinct-hash sketches per
  source, pairwise-merged to estimate cross-source Jaccard overlap and
  union cardinality (Beyer et al., SIGMOD 2007) — the pre-dedup planning
  query ("how much does source A overlap source B?") answered from
  k-sized per-source state instead of a corpus-wide pairwise join. The
  bottom-k cut is a rank window, so Spark's InferWindowGroupLimit keeps at
  most k rows per source per map task BEFORE the exchange (the stratified
  sampler's pushdown, plan-asserted in tests/test_plans.py).

Determinism (the repo's engine-parity rules, DESIGN.md §4): hashes are the
shared conv(md5[1:14]) 56-bit idiom; HyperLogLog's harmonic sum is kept in
EXACT integer arithmetic (sum of ``2^(51-M)`` as BIGINT — dyadic terms
scaled to integers, so the aggregation is order-free where a float
``sum(2^-M)`` could round differently per partitioning) and becomes a
float only in the final ``literal / CAST(s AS DOUBLE)`` step, which is a
deterministic function of the integer state. The estimator constants
(alpha_64 = 0.709, the KMV ``(k-1) * 2^56`` numerator) are Python literals
injected into BOTH engines. Exact-distinct comparison columns are the
graded-accuracy pattern of the ANN recall panels: the sketch is the
product, the exact join is the quarantined verifier you run on a sample —
never the full corpus — at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load_table, local_table
from .dedup import _shingles
from .text import hash56

# --- HyperLogLog configuration ----------------------------------------------
# p=6 -> m=64 registers (std error 1.04/sqrt(64) ~ 13%): small enough that
# the oracle's register table is readable, large enough that the sf0.001
# corpus (~16.5k distinct shingles) sits far inside the raw-estimate regime
# (n/m ~ 258 >> 2.5). The register count is the accuracy dial: p=14 (16384
# registers, ~0.8%) is the production setting and changes nothing
# structural — the shuffle stays one fixed-width state per scope.
HLL_P = 6
HLL_M = 1 << HLL_P  # 64 registers
HLL_HASH_BITS = 56  # conv(md5[1:14]) yields [0, 2^56)
HLL_W_BITS = HLL_HASH_BITS - HLL_P  # 50 suffix bits -> rho in [1, 51]
HLL_RHO_MAX = HLL_W_BITS + 1  # 51
# Scaled-integer harmonic sum: each register contributes 2^(51-M) (BIGINT,
# exact); worst case 64 * 2^51 = 2^57 < 2^63 so the SUM cannot overflow.
HLL_SCALE_BITS = HLL_RHO_MAX  # 51
HLL_ALPHA = 0.709  # alpha_64, Flajolet et al. 2007, Fig. 3
# alpha * m^2 * 2^51 — the raw-estimate numerator over the scaled sum.
HLL_EST_NUM = HLL_ALPHA * HLL_M * HLL_M * float(1 << HLL_SCALE_BITS)
HLL_LC_THRESHOLD = 2.5 * HLL_M  # below this (with empty registers),
# linear counting is the advised estimator; flagged, not applied (ln is
# the one libm-parity hazard this family avoids entirely)

ALL_SCOPE = "__ALL__"

# --- KMV configuration -------------------------------------------------------
KMV_K = 64
KMV_HASH_SPACE = 1 << HLL_HASH_BITS  # 2^56
# (k-1) * 2^56: 63 * 2^56 = 2^56 * 63 is exactly representable as a double
# (6 significant bits), so the numerator literal is identical in all
# engines.
KMV_EST_NUM = float((KMV_K - 1) * KMV_HASH_SPACE)


def _source_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, shingle) over the documents table: word 3-grams, distinct
    within each document. The streaming ingest twins run the same
    `dedup._shingles(batch, "source")` on each micro-batch."""
    return _shingles(load_table(spark, sf_dir, "documents"), "source")


def hll_registers(hashed: DataFrame) -> DataFrame:
    """(source, j, m) register table from a (source, h) 56-bit hash stream
    — the sketch build: ONE groupBy whose partial aggregation caps map-side
    state at 64 registers per source per task (plan-asserted: partial_max
    below the exchange). Exposed for the plan/merge tests."""
    rho = hashed.select(
        "source",
        (F.col("h") % HLL_M).alias("j"),
        F.when(F.expr(f"h div {HLL_M}") == 0, F.lit(HLL_RHO_MAX))
        .otherwise(F.lit(HLL_RHO_MAX) - F.length(F.bin(F.expr(f"h div {HLL_M}"))))
        .alias("rho"),
    )
    return rho.groupBy("source", "j").agg(F.max("rho").alias("m"))


def kmv_bottom_k(hashed: DataFrame) -> DataFrame:
    """(source, h) bottom-k distinct hashes per source — dense_rank over
    the raw hash stream (duplicates share a rank, so they cannot consume
    sketch slots), cut at k, then distinct. InferWindowGroupLimit keeps
    <= k rows per source per map task BEFORE the exchange (plan-asserted).
    Exposed for the plan tests."""
    w = Window.partitionBy("source").orderBy(F.asc("h"))
    return (
        hashed.withColumn("r", F.dense_rank().over(w))
        .filter(F.col("r") <= KMV_K)
        .select("source", "h")
        .distinct()
    )


def _hll_estimate(s_int: F.Column) -> F.Column:
    """Raw HLL estimate from the scaled-integer register sum. The BIGINT ->
    DOUBLE cast is round-to-nearest in Spark, DuckDB and IEEE-754 alike, so
    the single division is bit-reproducible from the exact integer state."""
    return F.lit(HLL_EST_NUM) / s_int.cast("double")


def hll_scope_estimates(regs_src: DataFrame) -> DataFrame:
    """(scope, hll_estimate, zero_registers) from a per-source register
    table — per-source scopes plus the max-merged ``__ALL__`` row. Shared
    by the batch query and the streaming ingest twin so the estimate
    formula (scaled-integer sum -> one cast+division) cannot drift between
    the two paths."""
    regs_all = (
        regs_src.groupBy("j")
        .agg(F.max("m").alias("m"))
        .select(F.lit(ALL_SCOPE).alias("scope"), "j", "m")
    )
    regs = regs_src.select(F.col("source").alias("scope"), "j", "m").unionByName(
        regs_all
    )
    term = F.expr(f"shiftleft(CAST(1 AS BIGINT), {HLL_SCALE_BITS} - m)")
    stats = regs.groupBy("scope").agg(
        (
            F.sum(term)
            + (F.lit(HLL_M) - F.count(F.lit(1)))
            * F.lit(1 << HLL_SCALE_BITS).cast("long")
        ).alias("s_int"),
        (F.lit(HLL_M) - F.count(F.lit(1))).cast("long").alias("zero_registers"),
    )
    return stats.select(
        "scope",
        _hll_estimate(F.col("s_int")).alias("hll_estimate"),
        "zero_registers",
    )


def hll_shingle_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-shingle cardinality per source and globally, estimated by
    64-register HyperLogLog sketches and graded against the exact count.

    Plan shape (the 100 TB story): the shingle stream is scanned ONCE; the
    register build is a (scope, j) groupBy whose partial aggregation
    collapses map-side to <= 64 rows per source per task — the shuffle
    carries register states, never keys. The ``__ALL__`` row is NOT a
    second scan: it merges the per-source registers (MAX per register
    index), which is the sketch's mergeability contract — the same MAX that
    would combine per-day sketches into a month, or per-shard sketches into
    a corpus, without touching the data again. The exact-distinct column is
    the quarantined verifier (a full COUNT(DISTINCT) shuffle you run at
    test scale to grade the sketch, and on samples only at 100 TB).

    Columns: scope, exact_distinct, hll_estimate, zero_registers,
    rel_error, regime ('raw', or 'linear_counting_advised' when the
    estimate falls under 2.5m with empty registers — flagged rather than
    applied, keeping the family free of the ln() libm-parity hazard the
    BM25/LM operators had to pin)."""
    sh = _source_shingles(spark, sf_dir)
    # ONE corpus pass (r12, guide §2.4): the exact verifier needs the
    # distinct (source, shingle) set anyway, and the HLL register state is
    # dedup-invariant (max(rho) per (source, j) — duplicate pairs
    # contribute identical rows), so the sketch is built FROM the
    # materialized distinct set instead of paying a second
    # tokenize+explode scan of the corpus. Bit-identical registers; the
    # streaming twin keeps feeding hll_registers the raw stream, which is
    # the 100 TB posture when the exact verifier is sampled out.
    # Lazy checkpoint (CC-loop precedent): the cached distinct set still
    # computes exactly once — all readers share the same RDD, so its
    # distinct shuffle is one shared stage of the FINAL job instead of a
    # separate serial driver job; lineage still truncates at first
    # materialization.
    ssets = sh.distinct().localCheckpoint(eager=False)
    hashed = ssets.select("source", hash56("shingle").alias("h"))
    # The register table (<= sources x 64 rows) is read twice (its own
    # rows + the merged __ALL__ branch), but both branches now re-derive
    # it from the checkpointed distinct set — two tiny in-plan groupBys,
    # no corpus re-scan, one serial driver job fewer than the previous
    # eager localCheckpoint.
    regs_src = hll_registers(hashed)
    est = hll_scope_estimates(regs_src)
    exact = (
        ssets.groupBy(F.col("source").alias("scope"))
        .agg(F.count(F.lit(1)).alias("exact_distinct"))
        .unionByName(
            ssets.select("shingle")
            .distinct()
            .agg(F.count(F.lit(1)).alias("exact_distinct"))
            .select(F.lit(ALL_SCOPE).alias("scope"), "exact_distinct")
        )
    )
    e = F.col("hll_estimate")
    return (
        est.join(exact, on="scope", how="inner")
        .select(
            "scope",
            "exact_distinct",
            "hll_estimate",
            "zero_registers",
            ((e - F.col("exact_distinct")) / F.col("exact_distinct")).alias(
                "rel_error"
            ),
            F.when(
                (e <= F.lit(HLL_LC_THRESHOLD)) & (F.col("zero_registers") > 0),
                F.lit("linear_counting_advised"),
            )
            .otherwise(F.lit("raw"))
            .alias("regime"),
        )
        .orderBy("scope")
    )


def kmv_pair_estimates(bk: DataFrame) -> DataFrame:
    """Pairwise Jaccard/union estimates from per-source bottom-k sketch
    tables (source, h) — SHARED verbatim by the batch query and the
    streaming ingest twin so online and offline estimates cannot drift.
    For each source pair: union the two sketches with membership flags,
    re-cut to the k smallest of the union, overlap fraction estimates
    Jaccard, (k-1)/h_k estimates the union cardinality (Beyer et al.
    2007; sources with < k distinct hashes are their own exact sketch).
    Returns (source_a, source_b, sketch_union_size, sketch_overlap,
    jaccard_est, union_est) over pairs x k rows."""
    sources = bk.select("source").distinct()
    pairs = (
        sources.select(F.col("source").alias("source_a"))
        .crossJoin(sources.select(F.col("source").alias("source_b")))
        .filter(F.col("source_a") < F.col("source_b"))
    )
    ua = pairs.join(
        bk.withColumnRenamed("source", "source_a"), on="source_a", how="inner"
    ).select("source_a", "source_b", "h", F.lit(1).alias("in_a"), F.lit(0).alias("in_b"))
    ub = pairs.join(
        bk.withColumnRenamed("source", "source_b"), on="source_b", how="inner"
    ).select("source_a", "source_b", "h", F.lit(0).alias("in_a"), F.lit(1).alias("in_b"))
    merged = (
        ua.unionByName(ub)
        .groupBy("source_a", "source_b", "h")
        .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
    )
    wp = Window.partitionBy("source_a", "source_b").orderBy(F.asc("h"))
    cut = merged.withColumn("r", F.row_number().over(wp)).filter(F.col("r") <= KMV_K)
    sk = cut.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).alias("sketch_union_size"),
        F.sum(F.col("in_a") * F.col("in_b")).cast("long").alias("sketch_overlap"),
        F.max("h").alias("h_k"),
    )
    return sk.select(
        "source_a",
        "source_b",
        "sketch_union_size",
        "sketch_overlap",
        (F.col("sketch_overlap").cast("double") / F.col("sketch_union_size")).alias(
            "jaccard_est"
        ),
        F.when(
            F.col("sketch_union_size") < KMV_K,
            F.col("sketch_union_size").cast("double"),
        )
        .otherwise(F.lit(KMV_EST_NUM) / F.col("h_k").cast("double"))
        .alias("union_est"),
    )


def kmv_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cross-source overlap estimated from per-source KMV
    (bottom-k distinct-hash) sketches, graded against the exact Jaccard.

    Sketch build: the shingle-hash stream is ranked per source by
    ``dense_rank`` (so duplicate hashes cannot consume sketch slots) and
    cut at k=64 — InferWindowGroupLimit turns that into a map-side top-k
    BEFORE the exchange, so per-task state is k rows per source and the
    shuffle is rank-pruned (the events_stratified_sample pushdown,
    plan-asserted). Pair estimates: for each source pair the two sketches
    are merged, re-cut to the k smallest of the union, and the fraction of
    survivors present in BOTH sketches estimates Jaccard(A, B) (Beyer et
    al. 2007); the union cardinality estimate is the standard
    (k-1)/h_k over the merged sketch. All pair arithmetic runs over
    ``pairs x k`` rows — at 100 TB the sketches for any number of sources
    fit on one page, which is the point: overlap planning BEFORE paying for
    a cross-source dedup join. Sources with < k distinct shingles are their
    own exact sketch (the standard KMV small-set rule). The exact-Jaccard
    columns are the quarantined verifier, as in the recall panels.

    Columns: source_a, source_b, sketch_union_size, sketch_overlap,
    jaccard_est, union_est, jaccard_exact, abs_err."""
    sh = _source_shingles(spark, sf_dir)
    # ONE corpus pass (r12, guide §2.4): the exact verifier's distinct
    # (source, shingle) set is materialized first, and the KMV sketch —
    # dedup-invariant by construction (dense_rank gives duplicate hashes
    # one rank; the trailing distinct collapses them) — is built FROM it,
    # removing the second tokenize+explode scan of the corpus. The
    # streaming twin keeps feeding kmv_bottom_k the raw micro-batch
    # stream, the 100 TB posture when the exact verifier is sampled out.
    # Both checkpoints are LAZY (CC-loop precedent): each cached table
    # still computes exactly once — every reader shares the same RDD, so
    # the distinct shuffle and the ranked sketch cut become shared stages
    # of the FINAL job instead of two serial driver jobs; lineage still
    # truncates at first materialization.
    ssets = sh.distinct().localCheckpoint(eager=False)
    hashed = ssets.select("source", hash56("shingle").alias("h"))
    # The sketches (<= sources x k rows) are cached before the three reads
    # below (source dim + both sides of the pair-merge) — otherwise each
    # read re-runs the ranked scan of the distinct set.
    bk = kmv_bottom_k(hashed).localCheckpoint(eager=False)
    sk = kmv_pair_estimates(bk)
    pairs = sk.select("source_a", "source_b")
    sizes = ssets.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        ssets.withColumnRenamed("source", "source_a")
        .join(ssets.withColumnRenamed("source", "source_b"), on="shingle", how="inner")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))  # rows are distinct
        # (source, shingle) pairs joined on shingle — already unique per
        # (pair, shingle)
    )
    exact = (
        pairs.join(sizes.withColumnRenamed("source", "source_a").withColumnRenamed("n", "n_a"), on="source_a")
        .join(sizes.withColumnRenamed("source", "source_b").withColumnRenamed("n", "n_b"), on="source_b")
        .join(inter, on=["source_a", "source_b"], how="left")
        .select(
            "source_a",
            "source_b",
            (
                F.coalesce(F.col("n_inter"), F.lit(0)).cast("double")
                / (F.col("n_a") + F.col("n_b") - F.coalesce(F.col("n_inter"), F.lit(0)))
            ).alias("jaccard_exact"),
        )
    )
    return (
        sk.join(exact, on=["source_a", "source_b"], how="inner")
        .withColumn("abs_err", F.abs(F.col("jaccard_est") - F.col("jaccard_exact")))
        .orderBy("source_a", "source_b")
    )


# --- histogram quantile sketch ------------------------------------------------
# Completes the mergeable-sketch triad: cardinality (HLL above), frequency
# (text.heavy_hitter_tokens' Misra-Gries), QUANTILES (here). Spark's own
# approxQuantile is a driver-side action whose result depends on
# partitioning (Greenwald-Khanna merge order); this sketch is a fixed
# equi-width histogram over a declared domain — the state is 256 integer
# counters per group (mergeable by plain addition, so per-day/per-shard
# histograms combine by SUM), the estimate is deterministic linear
# interpolation inside the covering bin, and everything value-hashes in
# DuckDB.
HQ_BINS = 256
HQ_DOMAIN = 512.0  # events.value sits in (0, ~500]; the declared domain
HQ_WIDTH = HQ_DOMAIN / HQ_BINS  # 2.0 — an exact power of two (bit-safe /2)
HQ_QS = [0.5, 0.95, 0.99]


def hq_bin_expr():
    """Bin index clamped into [0, HQ_BINS-1] from BOTH sides (ADVICE-r9:
    the original clamp was upper-only, so an out-of-domain negative value
    would mint unbounded negative bin ids and break the 'state bounded at
    HQ_BINS counters per group' contract — out-of-domain mass now lands in
    the edge bins, keeping the state bound unconditional). The clamp runs
    in DOUBLE space BEFORE the int cast: the earlier cast-then-clamp order
    crashed on ANSI int overflow for any finite value >= 2^31 * width
    (and on +/-inf), where clamp-then-cast books all of them in the edge
    bins — the fuzz's finding; mirrored in the oracle. NaN stays outside
    the contract (the declared domain is finite doubles)."""
    return F.greatest(
        F.least(
            F.floor(F.col("value") / F.lit(HQ_WIDTH)),
            F.lit(float(HQ_BINS - 1)),
        ),
        F.lit(0.0),
    ).cast("int")


def hq_histogram(ev: DataFrame) -> DataFrame:
    """(event_type, bin, cnt) histogram state from (event_type, value)
    rows — the ONE partial-aggregated shuffle whose map side collapses to
    <= HQ_BINS counters per type per task. Mergeable by plain SUM, which
    is what the streaming twin exploits.

    NULL policy, pinned EXPLICITLY (fuzz finding): a NULL event_type
    group would survive the groupBy but then vanish silently in the
    probe's equi-joins (Spark join-on-NULL and DuckDB USING both drop
    it) — the classic NULL-key trap. Excluding it here makes the
    contract visible and keeps the reference implementation honest;
    NULL values are likewise out (quantiles are over present values,
    and NULL ordering differs across engines)."""
    return (
        ev.filter(F.col("value").isNotNull() & F.col("event_type").isNotNull())
        .select("event_type", hq_bin_expr().alias("bin"))
        .groupBy("event_type", "bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def hq_quantile_estimates(spark: SparkSession, hist: DataFrame) -> DataFrame:
    """Quantile probe over histogram state (event_type, bin, cnt) —
    SHARED verbatim by the batch sketch and the streaming merge-on-read
    twin so the two estimates cannot drift. Target rank r = ceil(q*n);
    inside the first bin whose cumulative count reaches r, interpolate
    lo + width*(r - cum_before)/bin_count (exact-integer differences, one
    division, ordered identically in DuckDB). Returns
    (event_type, q, n_events, est)."""
    hist = hist.localCheckpoint(eager=False)  # <= types x HQ_BINS rows,
    # read by the totals, the cumulative pass and the probe — lazy: all
    # three readers share the RDD, so the histogram shuffle is one shared
    # stage of the final job, not a separate serial driver job
    totals = hist.groupBy("event_type").agg(F.sum("cnt").alias("n_events"))
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.withColumn("cum", F.sum("cnt").over(wcum))
    qdf = local_table(spark, [(q,) for q in HQ_QS], "q double")
    return (
        cum.join(totals, on="event_type", how="inner")
        .crossJoin(F.broadcast(qdf))
        .withColumn("r", F.ceil(F.col("q") * F.col("n_events")).cast("long"))
        .filter((F.col("cum") >= F.col("r")) & (F.col("cum") - F.col("cnt") < F.col("r")))
        .select(
            "event_type",
            "q",
            "n_events",
            (
                F.col("bin").cast("double") * F.lit(HQ_WIDTH)
                + F.lit(HQ_WIDTH)
                * (
                    (F.col("r") - (F.col("cum") - F.col("cnt"))).cast("double")
                    / F.col("cnt").cast("double")
                )
            ).alias("est"),
        )
    )


def quantile_histogram_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type quantile estimates from a 256-bin equi-width
    histogram sketch, graded against the exact rank-select quantiles.

    Sketch build: ONE (type, bin) groupBy whose partial aggregation
    collapses map-side to <= 256 counters per type per task — the shuffle
    carries histogram state, never values (a naive percentile needs a
    full sort or a whole-group collect). The cumulative pass and the
    quantile probe run over <= types x 256 rows. Estimate: target rank
    r = ceil(q·n); inside the first bin whose cumulative count reaches r,
    interpolate lo + width·(r - cum_before)/bin_count — two exact-integer
    differences and one division, ordered identically in both engines.
    The exact column (full rank-select, one sort shuffle per type) is the
    quarantined verifier, as everywhere in the sketch family.

    Columns: event_type, q, n_events, est, exact, abs_err."""
    # explicit NULL policy: quantiles are over present values (a NULL
    # would also ORDER differently across engines — Spark sorts nulls
    # first, DuckDB last — so the filter is a parity requirement, not
    # just a semantic choice; no NULLs exist in the test data, the filter
    # pins the contract)
    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_type", "value")
        .filter(F.col("value").isNotNull() & F.col("event_type").isNotNull())
    )
    probe = hq_quantile_estimates(spark, hq_histogram(ev))
    totals = probe.select("event_type", "n_events").distinct()
    qdf = local_table(spark, [(q,) for q in HQ_QS], "q double")
    # exact verifier: rank-select per type (one sort shuffle — test-scale /
    # sampled-only at 100 TB)
    wrn = Window.partitionBy("event_type").orderBy("value")
    ranked = ev.withColumn("rn", F.row_number().over(wrn))
    exact = (
        ranked.join(totals, on="event_type", how="inner")
        .crossJoin(F.broadcast(qdf))
        .filter(F.col("rn") == F.ceil(F.col("q") * F.col("n_events")).cast("long"))
        .select("event_type", "q", F.col("value").alias("exact"))
    )
    return (
        probe.join(exact, on=["event_type", "q"], how="inner")
        .withColumn("abs_err", F.abs(F.col("est") - F.col("exact")))
        .orderBy("event_type", "q")
    )
