"""Physical-plan assertions: the optimizations DESIGN.md claims must be
visible in the executed plans (pushdown, pruning, broadcast, top-k,
codegen). These guard against regressions that correctness tests can't see
— a plan that silently stops broadcasting or pushing filters still returns
right answers, just 100× slower at scale."""

import pyspark.sql.functions as F

from airdatapipeline_spark import model
from airdatapipeline_spark.operators import analytics, gold, relational, similarity, tpch

from conftest import SF_SMALL


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _explain(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_quick_gate_follows_imports_transitively():
    """quick_gate maps a changed operator module to every query that
    reaches it, also through another operator module: tpch's stratified
    sample (operators/tpch.py imports text._hash_bucket) and the cluster
    labels (similarity.cluster_labels imports text.tokens_col) re-prove
    on a change to operators/text.py."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools"))
    from quick_gate import affected_queries

    subset = affected_queries(["airdatapipeline_spark/operators/text.py"])
    assert subset is not None
    assert {"events_stratified_sample", "emb_cluster_labels"} <= set(subset)


def test_plan_dump_masking_hides_only_global_counters():
    """capture_plans' masking: two dumps of one plan that differ only in
    Spark's process-global counters compare equal; a changed operator
    still shows."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools"))
    from capture_plans import mask_counters

    def plan(expr_id, plan_id, rdd_id, lam, op="BroadcastHashJoin"):
        return (
            f"(1) {op}\nLeft keys [1]: [query_id#{expr_id}L]\n"
            f"Arguments: hashpartitioning(query_id#{expr_id}L, 32), [plan_id={plan_id}]\n"
            f"Scan ExistingRDD MapPartitionsRDD[{rdd_id}]\n"
            f"array_sort(x, lambdafunction(f(lambda x_{lam}#{expr_id + 1}, "
            f"lambda y_{lam + 1}#{expr_id + 2}), lambda x_{lam}#{expr_id + 1}, "
            f"lambda y_{lam + 1}#{expr_id + 2}, false))\n"
        )

    a = mask_counters(plan(3, 1019, 16, 1))
    assert a == mask_counters(plan(64, 1035, 18, 9))
    assert a != mask_counters(plan(64, 1035, 18, 9, op="SortMergeJoin"))


def test_plan_dump_masking_hides_run_specific_paths():
    """capture_plans' path masking: the query scope's random root, the
    random suffixes of scratch dirs under it and the working directory
    mask to fixed names, also inside a `file:/*` regex; other paths stay."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools"))
    from capture_plans import mask_paths

    def plan(scope, cwd, a, b):
        return (
            f"Location: InMemoryFileIndex [file:{scope}/shards_tomb_{a}/layout]\n"
            f"regexp_replace(__file#0, ^file:/*{scope[1:]}/vt_ingest_{b}/, , 1)\n"
            f"Location: [file:{cwd}/spark-warehouse/bkt, file:/data/x_12345678]\n"
            f"[file:{scope}/vt_{a}/data/c-{b * 4}/part-00000-{a}-{b[:4]}-{a[:4]}-{b[4:]}-{a}{b[:4]}-c000.snappy.parquet]\n"
            f"md5 literal 0fc68493167646e58efc6d33df84050e\n"
        )

    a = mask_paths(plan("/tmp/query_scope_ng82b81x", "/src/a", "5c9292be", "acc07ab0"),
                   "/tmp/query_scope_ng82b81x", "/src/a")
    b = mask_paths(plan("/tmp/query_scope__m9hpkua", "/work/b", "11f0dd12", "e9a90632"),
                   "/tmp/query_scope__m9hpkua", "/work/b")
    assert a == b
    assert "<scope>/shards_tomb_0/" in a and "<scope>/vt_ingest_1/" in a
    assert "/c-0/part-00000-1-c000" in a
    assert "<cwd>/spark-warehouse" in a and "/data/x_12345678" in a
    assert "literal 0fc68493167646e58efc6d33df84050e" in a


def test_plan_dump_records_build_time_frames(spark):
    """capture_plans' build_frames: every frame collected (also through
    take) or locally checkpointed inside the block is recorded in order,
    and DataFrame's methods are restored afterwards."""
    import os
    import sys

    from pyspark.sql.classic.dataframe import DataFrame

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools"))
    from capture_plans import build_frames

    collect, checkpoint = DataFrame.collect, DataFrame.localCheckpoint
    sections: list = []
    with build_frames(spark, sections):
        spark.range(5).filter("id > 1").take(1)
        spark.range(3).localCheckpoint(eager=False)
    assert [a for a, _ in sections] == ["collect", "localCheckpoint"]
    assert "Filter" in sections[0][1] and "Range" in sections[1][1]
    assert (DataFrame.collect, DataFrame.localCheckpoint) == (collect, checkpoint)


def test_q1_filter_pushdown_and_column_pruning(spark):
    ex = _explain(tpch.q1_pricing_summary(spark, SF_SMALL))
    assert "PushedFilters" in ex and "l_shipdate" in ex.split("PushedFilters")[1][:200]
    # 16-column table, 7-column read
    read_schema = ex.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" not in read_schema and "l_partkey" not in read_schema


def test_q3_broadcasts_filtered_customer(spark):
    plan = _plan(tpch.q3_shipping_priority(spark, SF_SMALL))
    assert "BroadcastHashJoin" in plan
    # the segment filter must reach the customer scan
    ex = _explain(tpch.q3_shipping_priority(spark, SF_SMALL))
    assert "c_mktsegment" in ex and "BUILDING" in ex


def test_q5_dimension_joins_broadcast(spark):
    plan = _plan(tpch.q5_regional_revenue(spark, SF_SMALL))
    assert plan.count("BroadcastHashJoin") >= 2  # dims + supplier hops


def test_topk_plans_as_take_ordered(spark):
    silver = model.silver_enriched(spark, SF_SMALL)
    plan = _plan(analytics.recent_headlines(silver, 20))
    assert "TakeOrderedAndProject" in plan  # true top-k, no global sort


def test_anti_join_is_hash_not_nested_loop(spark):
    bronze_clean = relational.clean_headlines(model.bronze_headlines(spark, SF_SMALL))
    silver = model.silver_enriched(spark, SF_SMALL)
    plan = _plan(relational.pending_headlines(bronze_clean, silver))
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_gold_single_agg_exchange(spark):
    stg = model.stg_enriched_headlines(model.silver_enriched(spark, SF_SMALL))
    plan = _plan(gold.daily_sentiment_analysis(stg))
    # partial + final HashAggregate around exactly one exchange
    assert plan.count("Exchange") == 1
    assert "HashAggregate" in plan


def test_membership_filter_broadcast_semi(spark):
    g = gold.daily_category_analysis(
        model.stg_enriched_headlines(model.silver_enriched(spark, SF_SMALL))
    )
    plan = _plan(analytics.filter_to_top_categories(g, 5))
    assert "LeftSemi" in plan and "Broadcast" in plan


def test_lsh_candidates_equi_join_not_cross(spark):
    plan = _plan(similarity.lsh_bucketed_topk(spark, SF_SMALL))
    assert "CartesianProduct" not in plan  # bucket equi-join, never a cross join


def test_text_ops_are_jvm_side(spark):
    """Text analysis must stay in whole-stage codegen — no Python eval."""
    from airdatapipeline_spark.operators import text

    for df in (
        text.quality_scores(spark, SF_SMALL),
        text.langid_confusion(spark, SF_SMALL),
        text.fingerprint_clusters(spark, SF_SMALL),
    ):
        plan = _plan(df)
        # no Python boundary of any kind — all expressions evaluate in the JVM
        assert "EvalPython" not in plan and "MapInPandas" not in plan


def test_enrich_is_arrow_batched(spark):
    from airdatapipeline_spark.operators import enrichment

    bronze_clean = relational.clean_headlines(model.bronze_headlines(spark, SF_SMALL))
    plan = _plan(enrichment.enrich(bronze_clean))
    assert "MapInPandas" in plan  # Arrow-batched, not row-at-a-time PythonUDF


def test_bucketed_join_has_no_shuffle_before_join(spark):
    from airdatapipeline_spark.operators import bucketed

    # at sf0.001 Catalyst correctly broadcasts the tiny orders side; the
    # property that matters at 100 TB is what happens when NEITHER side can
    # broadcast — simulate by disabling auto-broadcast
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = bucketed.bucketed_order_revenue(spark, SF_SMALL)
        plan = _plan(df)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "SortMergeJoin" in plan
    assert "Bucketed: true" in plan
    # co-located, pre-sorted bucketed scans: no Exchange and no Sort feed
    # the join — the only Exchange left is the final tiny aggregation
    join_part = plan.split("SortMergeJoin")[1]
    assert "Exchange" not in join_part
    assert plan.count("Exchange") <= 1


def test_asof_join_is_single_shuffle_no_join(spark):
    from airdatapipeline_spark.operators import temporal

    plan = _plan(temporal.asof_last_purchase_before_click(spark, SF_SMALL))
    # union + ordered carry-forward: one exchange on user_id, a window,
    # and NO join operator at all
    assert "Join" not in plan
    assert plan.count("Exchange") == 1
    assert "Window" in plan


def test_range_join_is_equi_hash_not_nested_loop(spark):
    from airdatapipeline_spark.operators import temporal

    plan = _plan(temporal.range_join_errors_near_clicks(spark, SF_SMALL))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "HashJoin" in plan  # bucketed equi keys drive a hash join
    # the skew bound: the error side pre-aggregates to (user, second)
    # BEFORE the join (r11) — the plan carries an aggregate on the join's
    # error input in addition to the final per-click aggregate, so a hot
    # cell's intermediate is clicks x distinct-seconds, not clicks x events
    assert plan.count("HashAggregate") >= 4  # partial+final x (pre-agg, final agg)


def test_ivf_candidate_join_is_equi_on_centroid(spark):
    from airdatapipeline_spark.operators import similarity

    plan = _plan(similarity.ivf_topk(spark, SF_SMALL))
    # the candidate join must be an equi hash join on centroid_id; the only
    # nested-loop allowed is the K-row broadcast centroid scoring
    assert "BroadcastHashJoin [centroid_id" in plan


def test_ivf_kmeans_centroids_same_probe_join(spark):
    """Swapping corpus-slice centroids for trained pyspark.ml KMeans
    centroids must not change the candidate-join shape: still an equi
    BroadcastHashJoin on centroid_id, never a cross join over the corpus."""
    from airdatapipeline_spark.operators import similarity

    cent = similarity.kmeans_centroids(spark, SF_SMALL)
    assert cent.count() == similarity.N_CENTROIDS
    assert cent.schema.simpleString() == (
        "struct<centroid_id:int,emb:array<double>,norm:double>"
    )
    plan = _plan(similarity.ivf_topk(spark, SF_SMALL, centroids=cent))
    assert "BroadcastHashJoin [centroid_id" in plan
    assert "CartesianProduct" not in plan


def test_ivf_persisted_index_partition_prunes(spark, tmp_path):
    """The offline/online IVF split: serving from the persisted index must
    (a) return exactly the inline ivf_topk result and (b) scan ONLY the
    probed centroid partitions — PartitionFilters on centroid_id visible in
    the plan, pruned file count < total partitions."""
    from airdatapipeline_spark.operators import similarity

    idx = str(tmp_path / "ivf_index")
    similarity.build_ivf_index(spark, SF_SMALL, idx)
    import os

    n_parts = sum(1 for d in os.listdir(idx) if d.startswith("centroid_id="))
    assert n_parts == similarity.N_CENTROIDS

    served = similarity.ivf_topk_from_index(spark, SF_SMALL, idx)
    inline = similarity.ivf_topk(spark, SF_SMALL)
    a = {(r.query_id, r.neighbor_id, r.rank) for r in served.collect()}
    b = {(r.query_id, r.neighbor_id, r.rank) for r in inline.collect()}
    assert a == b

    ex = _explain(served)
    # the IN-filter must reach the scan as a partition filter, not a
    # post-scan predicate
    assert "PartitionFilters" in ex and "centroid_id" in ex.split("PartitionFilters")[1][:200]


def test_streaming_index_ingest_builds_equivalent_index(spark, tmp_path):
    """Index lifecycle: streaming ingest of the corpus (3 landing files =
    3 micro-batches) must produce an index that serves IDENTICAL results to
    the batch-built one, and re-delivering a landing file must not
    duplicate vectors (anti-join idempotency)."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from airdatapipeline_spark.io import load_table
    from airdatapipeline_spark.operators import similarity

    land = str(tmp_path / "landing")
    os.makedirs(land)
    emb = load_table(spark, SF_SMALL, "embeddings").select("vec_id", "embedding")
    for i in range(3):
        part = str(tmp_path / f"slice{i}")
        emb.filter(F.col("vec_id") % 3 == i).coalesce(1).write.parquet(part)
        src = next(f for f in os.listdir(part) if f.endswith(".parquet"))
        shutil.move(os.path.join(part, src), os.path.join(land, f"slice{i}.parquet"))

    corpus = similarity.with_norm(load_table(spark, SF_SMALL, "embeddings"))
    cents = corpus.filter(
        (F.col("vec_id") >= similarity.CENTROID_ID_LO)
        & (F.col("vec_id") < similarity.CENTROID_ID_LO + similarity.N_CENTROIDS)
    ).select(F.col("vec_id").alias("centroid_id"), "emb", "norm")

    idx = str(tmp_path / "ivf_stream_index")
    similarity.streaming_index_ingest(spark, land, idx, str(tmp_path / "ck"), cents)

    n_vectors = emb.count()
    assert spark.read.parquet(idx).count() == n_vectors

    served = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in similarity.ivf_topk_from_index(spark, SF_SMALL, idx).collect()
    }
    inline = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in similarity.ivf_topk(spark, SF_SMALL).collect()
    }
    assert served == inline

    # redelivery: drop a duplicate of slice0 into the landing dir and drain
    # again — the anti-join must keep the index duplicate-free
    shutil.copy(
        os.path.join(land, "slice0.parquet"), os.path.join(land, "slice0_redelivered.parquet")
    )
    similarity.streaming_index_ingest(spark, land, idx, str(tmp_path / "ck"), cents)
    assert spark.read.parquet(idx).count() == n_vectors


def test_repetition_filters_zero_shuffle(spark):
    """The Gopher repetition metrics claim to be a pure map — no Exchange
    may appear (the n-grams never leave their document's row)."""
    from airdatapipeline_spark.operators import text

    plan = _plan(text.repetition_scores(spark, SF_SMALL))
    assert "Exchange" not in plan
    assert "Scan parquet" in plan


def test_pii_redaction_zero_shuffle_no_python(spark):
    """PII detect/redact is map-only whole-stage codegen: no Exchange, no
    Python boundary."""
    from airdatapipeline_spark.operators import text

    plan = _plan(text.pii_redaction(spark, SF_SMALL))
    assert "Exchange" not in plan
    for marker in ("MapInPandas", "FlatMapGroupsInPandas", "BatchEvalPython", "ArrowEvalPython"):
        assert marker not in plan


def test_sequence_packing_single_shuffle_per_stage(spark):
    """Concatenate-and-split packing: one Exchange for the per-bucket
    window, one for the per-pack aggregate — and nothing else."""
    from airdatapipeline_spark.operators import text

    plan = _plan(text.sequence_packing(spark, SF_SMALL))
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "CartesianProduct" not in plan


def test_source_quality_report_one_scan_no_join(spark):
    """The per-source triage computes dup burden via COUNT(DISTINCT text)
    inside the same aggregate — one documents scan, no self-join."""
    from airdatapipeline_spark.operators import text

    plan = _plan(text.source_quality_report(spark, SF_SMALL))
    assert plan.count("Scan parquet") == 1
    for join in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert join not in plan


def test_table_profile_single_pass(spark):
    """ANALYZE-style profile: one scan feeding an Expand for the exact
    per-column distincts — never one scan per column, never a join."""
    from airdatapipeline_spark.operators import profile

    plan = _plan(profile.table_profile(spark, SF_SMALL, "documents"))
    assert plan.count("Scan parquet") == 1
    assert "Expand" in plan
    for join in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert join not in plan


def test_shard_manifest_one_wide_shuffle_no_cache(spark):
    """The global shard layout is a two-level prefix sum with nothing
    cached: the layout pass scans the documents and shuffles them once, by
    bucket, for the per-bucket window; the bucket-total pass scans them
    again for the token counts only; the bucket-base table arrives by
    broadcast."""
    from airdatapipeline_spark.operators import corpus

    df = corpus.shard_manifest(spark, SF_SMALL)
    df.collect()
    plan = _plan(df).split("== Initial Plan ==")[0]  # AQE's final plan
    assert "InMemoryTableScan" not in plan
    assert plan.count("FileScan parquet") == 2, plan
    assert "BroadcastHashJoin" in plan  # 256-row bucket bases
    assert "CartesianProduct" not in plan


def test_token_rarity_head_broadcast_tail_shuffle(spark):
    """The Zipf split: the head frequency table must arrive by broadcast
    (hot tokens never shuffle), the head, tail and vocabulary branches must
    read the per-(doc, token) profile's one exchange (one parquet scan
    total, nothing cached), and no cartesian product anywhere."""
    from airdatapipeline_spark.operators import corpus

    df = corpus.token_rarity_scores(spark, SF_SMALL)
    df.collect()
    plan = _plan(df).split("== Initial Plan ==")[0]  # AQE's final plan
    assert plan.count("FileScan parquet") == 1
    assert "ReusedExchange" in plan
    assert "InMemoryTableScan" not in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_bm25_topk_is_take_ordered_with_broadcast_query(spark):
    from airdatapipeline_spark.operators import text

    df = text.bm25_topk(spark, SF_SMALL)
    plan = _plan(df)
    # top-k must be TakeOrderedAndProject (no global sort of all matching
    # docs); the 3-term query joins into the tf stream as a broadcast
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # exactly k rows, ranked 1..k with deterministic ties
    pdf = df.toPandas()
    assert list(pdf["rank"]) == list(range(1, len(pdf) + 1))
    assert len(pdf) == text.BM25_TOPK


def test_stratified_sample_uses_window_group_limit(spark):
    """Per-stratum top-k must compile to WindowGroupLimit (rank pushdown:
    map tasks keep <= k rows per type BEFORE the exchange) — the property
    that keeps the sampler safe on a skewed event log."""
    df = tpch.events_stratified_sample(spark, SF_SMALL)
    plan = _plan(df)
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan
    pdf = df.toPandas()
    per = pdf.groupby("event_type").size()
    assert (per == tpch.STRATA_K).all()
    assert pdf.groupby("event_type").srank.max().eq(tpch.STRATA_K).all()


def test_versioned_read_keeps_pushdown_and_pruning(spark, tmp_path):
    """The versioned table's snapshot read (explicit manifest file list +
    pinned schema) must not cost the scan its optimizations: a filtered,
    projected read still shows PushedFilters and a pruned ReadSchema —
    i.e. the manifest layer is invisible to Catalyst's scan planning."""
    from airdatapipeline_spark.sources import versioned as vt

    df = spark.range(100).select(
        F.col("id").alias("k"),
        (F.col("id") * 2).alias("v"),
        F.lit("pad").alias("w"),
    )
    t = vt.create_table(spark, str(tmp_path / "tbl"), df.repartition(4))
    q = t.read().filter(F.col("k") == 7).select("k", "v")
    ex = _explain(q)
    assert "PushedFilters" in ex and "k" in ex.split("PushedFilters")[1][:120]
    read_schema = ex.split("ReadSchema:")[1].splitlines()[0]
    assert "w" not in read_schema  # projection pruned at the scan
    assert {r.v for r in q.collect()} == {14}


def test_fuzzy_decon_verification_is_candidate_bounded(spark):
    """After banding proposes candidates, every corpus-side branch of the
    verification stage must be pruned to the candidate ids BEFORE the
    shingle explode, and the pair join must broadcast the tiny candidate
    table, never a shingle stream: the r12 before-plan built the hash
    relation from the corpus-side shingles and probed with cand
    (BuildLeft), which inverts to a corpus broadcast/shuffle at scale."""
    from airdatapipeline_spark.operators import dedup

    df = dedup.fuzzy_decontamination(spark, SF_SMALL)
    plan = _plan(df)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    try:
        # every LeftSemi candidate prune is a broadcast join, never a
        # shuffled one (a semi join can only build its right side, so the
        # build side needs no check), and all four corpus branches named
        # below are among them
        semi = [ln.strip() for ln in plan.splitlines() if "Join [" in ln and ", LeftSemi" in ln]
        assert not [h for h in semi if "SortMergeJoin" in h or "ShuffledHashJoin" in h], semi
        assert sum("BroadcastHashJoin" in h for h in semi) >= 4, semi
        # all four corpus branches (two size aggs, pair-join stream, eval
        # side) are LeftSemi-pruned, and in the OPTIMIZED LOGICAL plan the
        # prune sits BELOW the shingle Generate (only candidate docs are
        # tokenized) — asserted on the logical tree, whose shape doesn't
        # depend on physical-planning session state
        assert opt.count("Join LeftSemi") >= 4
        # every semi is the broadcast-hinted candidate prune
        assert all(
            "rightHint=(strategy=broadcast)" in seg[:200]
            for seg in opt.split("Join LeftSemi")[1:]
        )
        # every shingle explode has a LeftSemi prune in its own indented
        # subtree (only candidate docs are tokenized), asserted PER-EXPLODE
        # (ADVICE-r12: a windowed OR let one unpruned explode hide behind
        # a neighbor's semi)
        lines = opt.splitlines()

        def _offset(ln: str) -> int:
            i = 0
            while i < len(ln) and ln[i] in ":+- ":
                i += 1
            return i

        for n, ln in enumerate(lines):
            if "Generate explode" not in ln:
                continue
            off = _offset(ln)
            subtree = []
            for nxt in lines[n + 1:]:
                if _offset(nxt) <= off:
                    break
                subtree.append(nxt)
            sub = "\n".join(subtree)
            assert "Join LeftSemi" in sub, (
                f"explode at line {n} has no LeftSemi prune in its own "
                f"subtree:\n{sub[:1500]}"
            )
    except AssertionError:
        with open("/tmp/fuzzy_decon_plan_fail.txt", "w") as fh:
            fh.write(plan + "\n==== optimized ====\n" + opt)
        raise
