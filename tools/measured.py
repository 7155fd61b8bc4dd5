"""Generate MEASURED.md: actual executed-plan metrics per headline query.

DESIGN.md §2 argues each operator's shuffle economics; this tool MEASURES
them — after running each query, it walks the final adaptive physical plan
(through AQE query stages) and aggregates the SQLMetrics Spark collected:
parquet scan files/bytes/rows (proves pushdown+pruning), shuffle exchanges
and their written bytes/records (the quantity that decides 100 TB
feasibility), broadcast exchanges, and Python boundaries.

Every query it builds runs inside a `session.query_scope`, and every time
it reports comes from bench.py's sampler (`_run_samples`, `_median`): the
median of 3 noop-forced runs. The lifecycle stress table renders bench's
`writes_distinct` tier for the same corpus.

Usage: python tools/measured.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

QUERIES_TO_MEASURE = [
    "flagship_enrichment_gold",
    "a1_daily_sentiment_gold",
    "a2_w1_daily_category_gold",
    "j1_pending_antijoin",
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_regional_revenue",
    "agg_rollup_lineitem",
    "events_sessionization",
    "dedup_minhash_lsh_candidates",
    "dedup_cluster_assignments",
    "dedup_prefix_jaccard_pairs",
    "simsearch_lsh_topk",
    "simsearch_ivf_topk",
    "simsearch_ivfpq_topk",
    "ev_asof_last_purchase",
    "ev_range_errors_near_clicks",
    "bucketed_order_revenue",
    "j_salted_hotkey_events",
    "snk_incremental_gold",
    "q_expectations_report",
    "snk_merge_upsert_delete",
    "text_quality_scores",
    "text_postings_phrase_search",
    "curation_pipeline",
    "training_data_build",
    # r4: window/events analytics joined the bench headline
    "events_cohort_retention",
    "w_customer_rfm_segments",
    # r4: paragraph dedup after the bounded-memory rewrite
    "dedup_paragraph_rebuild",
    # r4 (late): corpus-prep family
    "text_shard_manifest",
    "text_token_rarity_scores",
    # r8: BQ candidate scan, BM25 retrieval, bounded-state heavy hitters
    "simsearch_bq_topk",
    "text_bm25_topk",
    "text_heavy_hitters",
    # r9: clustered-regime tier grading, residual IVFPQ (+refine), LM filter
    "simsearch_clustered_tier_recall",
    "simsearch_clustered_residual_ivfpq",
    "simsearch_clustered_rpq_rerank",
    "text_lm_perplexity_filter",
    # late r9: BPE training. vocab_top's final plan carries the whole
    # last-iteration lineage (word-table aggregation + K merge projections
    # + the symbol rollup); train_merges itself returns a K-row
    # createDataFrame of the collected rules, so ITS returned plan has no
    # metrics to read — the work shows up here instead
    "text_bpe_vocab_top",
    # late r9: integer-lattice k-means (final-assignment stats plan)
    "emb_kmeans_sq8_stats",
    # continuation r9: mergeable sketches (HLL registers + KMV bottom-k)
    # and the JL projection two-stage serve
    "text_hll_shingle_cardinality",
    "text_kmv_source_overlap",
    "simsearch_rp_recall",
    "snk_zorder_layout_stats",
    "emb_cluster_labels",
    "dedup_fuzzy_decontamination",
    "agg_quantile_histogram_sketch",
    # r10: snapshot drift (one scan, one partial-agg shuffle of bounded
    # fixed-bin counter state)
    "text_snapshot_drift",
    # r11: keyed drift (source threaded through the counter key)
    "text_snapshot_drift_by_source",
    # r12: the versioned-table chain — measured properties: the time-travel
    # read is three plain parquet scans (manifest layer costs the plan
    # nothing), and the build side's shuffles are the merge/delete COW
    # rewrites, bounded by hit files
    "vt_time_travel_chain",
]


def _metrics(node) -> dict:
    vals = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        vals[kv._1()] = kv._2().value()
    return vals


def walk(node, out):
    cls = node.getClass().getSimpleName()
    out.append((node.nodeName(), cls, _metrics(node)))
    if cls == "AdaptiveSparkPlanExec":
        walk(node.executedPlan(), out)
    elif cls.endswith("QueryStageExec"):
        walk(node.plan(), out)
    else:
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i), out)


def summarize(df) -> dict:
    nodes: list = []
    walk(df._jdf.queryExecution().executedPlan(), nodes)
    s = {
        "scan_files": 0,
        "scan_bytes": 0,
        "scan_rows": 0,
        "n_scans": 0,
        "n_shuffles": 0,
        "shuffle_records": 0,
        "shuffle_bytes": 0,
        "n_broadcasts": 0,
        "python_stages": 0,
    }
    for name, cls, m in nodes:
        if name.startswith("Scan parquet"):
            s["n_scans"] += 1
            s["scan_files"] += m.get("numFiles", 0)
            s["scan_bytes"] += m.get("filesSize", 0)
            s["scan_rows"] += m.get("numOutputRows", 0)
        elif name == "Exchange":
            s["n_shuffles"] += 1
            s["shuffle_records"] += m.get("shuffleRecordsWritten", 0)
            s["shuffle_bytes"] += m.get("shuffleBytesWritten", 0) or (
                m.get("localBytesRead", 0) + m.get("remoteBytesRead", 0)
            )
        elif name == "BroadcastExchange":
            s["n_broadcasts"] += 1
        elif "InPandas" in name or "EvalPython" in name or "ArrowEval" in name:
            s["python_stages"] += 1
    return s


def skew_lines(spark, sf_dir: str) -> list[str]:
    """Adversarial hot-key measurement (VERDICT-r4 item 6): sf documents
    replicated 10x with ONE boilerplate paragraph prepended to every copy —
    the worst-case input for the two segment/span-hash shuffles. Reports
    the paragraph first-wins shuffle staying combine-bounded (hot key ships
    <= n_map_partitions rows, not all its occurrences) and the substring
    posting-list cap engaging (quadratic pair blowup from hot spans
    avoided BEFORE the self-join)."""
    from pyspark.sql import functions as F

    from airdatapipeline_spark.io import load_table
    from airdatapipeline_spark.operators import dedup as dd
    from airdatapipeline_spark.session import query_scope, scratch_dir

    cap = 64
    with query_scope(spark):
        tmp = scratch_dir("skewcorpus_")
        hot = " ".join(f"boilerplate{j}" for j in range(dd.PARA_WORDS))
        (
            load_table(spark, sf_dir, "documents")
            .select("doc_id", "text")
            .withColumn("r", F.explode(F.sequence(F.lit(0), F.lit(9))))
            .select(
                (F.col("doc_id") * 100 + F.col("r")).alias("doc_id"),
                F.concat(F.lit(hot), F.lit(" "), F.col("text")).alias("text"),
            )
            .repartition(8)
            .write.mode("overwrite")
            .parquet(f"{tmp}/documents.parquet")
        )

        segs = dd.paragraph_segments(spark, tmp)
        total_segs = segs.count()
        hot_occurrences = segs.groupBy("para_hash").count().agg(F.max("count")).first()[0]
        fw = dd.first_wins_per_hash(dd.paragraph_segments(spark, tmp))
        fw.collect()
        fw_shuffled = summarize(fw)["shuffle_records"]

        wins_df = (
            load_table(spark, tmp, "documents")
            .filter(F.length("text") >= 40)
            .select(
                "doc_id",
                F.explode(
                    F.expr(
                        "transform(sequence(0, int(floor((length(text) - 40) / 10))),"
                        " i -> md5(substring(text, i * 10 + 1, 40)))"
                    )
                ).alias("h"),
            )
            .distinct()
            .groupBy("h")
            .agg(F.count("*").alias("df"))
        )
        blocked = (
            wins_df.filter(F.col("df") > cap)
            .agg(
                F.count("*").alias("n_hashes"),
                F.sum(F.col("df") * (F.col("df") - 1) / 2).alias("avoided_pairs"),
            )
            .first()
        )
        capped_pairs = dd.exact_substring_pairs(spark, tmp, max_postings=cap).count()

    return [
        "",
        "## Adversarial hot-key skew (10x replica corpus, one boilerplate paragraph prepended to EVERY doc)",
        "",
        f"Corpus: {sf_dir} documents x10 = {total_segs} segments; the hot paragraph",
        f"occurs {hot_occurrences} times (every document).",
        "",
        "| guard | measurement |",
        "|---|---|",
        f"| paragraph first-wins combine | shuffle_records {fw_shuffled} of {total_segs} segment rows — the hot key's {hot_occurrences} occurrences pre-combine map-side (partial_min) instead of landing on one reducer |",
        f"| substring posting cap (max_postings={cap}) | {int(blocked['n_hashes'])} hot span hashes dropped BEFORE the self-join, avoiding {int(blocked['avoided_pairs'])} pairs; capped run emits {capped_pairs} genuine pairs (replica-group evidence, df<=10) |",
        "",
        "Property tests pin both bounds (`test_first_wins_aggregate_bounds_hot_key_shuffle`,",
        "`test_substring_posting_cap_drops_hot_span`).",
    ]


def interval_skew_lines(spark, sf_dir: str) -> list[str]:
    """Adversarial hot-user skew for the interval joins (VERDICT-r10
    item 7): the range join is the classic quadratic-blowup-under-skew
    operator — one user logging clicks AND errors inside a single ±W
    window makes that (user, bucket) cell's intermediate clicks x errors.
    Corpus: sf events + ONE synthetic user with 1,000 clicks and
    HOT_ERR errors, all inside one 300 s bucket; HOT_ERR grows 10x
    across tiers while the distinct seconds stay <= 300. Measures the
    r11 bound engaging: error rows entering the join are
    3 x distinct (user, second) — flat across tiers — so the hot cell's
    join output is clicks x (2W+1) and wall time stays flat while the
    stock (per-event) plan's cell pairs would grow 10x. The as-of join
    rides the same corpora: its hot user is ONE window partition (a
    linear straggler, never quadratic), so its time should track the hot
    event count ~linearly."""
    from pyspark.sql import functions as F

    from airdatapipeline_spark.io import load_table
    from airdatapipeline_spark.operators import temporal as tp
    from airdatapipeline_spark.session import query_scope, scratch_dir
    from bench import _median, _run_samples

    HOT_USER = 10**9
    HOT_CLICKS = 1_000
    rows = []
    for tier, hot_err in (("base", 10_000), ("10x", 100_000)):
        with query_scope(spark):
            tmp = scratch_dir(f"intervalskew_{tier}_")
            base = load_table(spark, sf_dir, "events").select(
                "event_id", "ts", "user_id", "event_type", "value", "props"
            )

            def hot(n, id_lo, etype):
                return spark.range(n).selectExpr(
                    f"{id_lo} + id AS event_id",
                    # epoch 2024-06-01 12:00:00 UTC; id%300 keeps every event
                    # inside one RANGE_WINDOW_SEC bucket with <=300 distinct s
                    "cast(timestamp_micros((1717243200 + id % 300) * 1000000)"
                    " as timestamp_ntz) AS ts",
                    f"cast({HOT_USER} as bigint) AS user_id",
                    f"'{etype}' AS event_type",
                    "cast(null as double) AS value",
                    "cast(null as string) AS props",
                )

            base.unionByName(hot(HOT_CLICKS, 2 * 10**9, "click")).unionByName(
                hot(hot_err, 3 * 10**9, "error")
            ).repartition(8).write.mode("overwrite").parquet(f"{tmp}/events.parquet")

            range_s = _median(
                _run_samples(lambda: tp.range_join_errors_near_clicks(spark, tmp), spark)
            )

            ev = load_table(spark, tmp, "events")
            sec = F.col("ts").cast("timestamp").cast("long")
            dsec = (
                ev.filter(F.col("event_type") == "error")
                .select("user_id", sec.alias("s"))
                .distinct()
                .count()
            )
            n_err = ev.filter(F.col("event_type") == "error").count()
            hot_cell = (
                tp.range_join_errors_near_clicks(spark, tmp)
                .filter(F.col("user_id") == HOT_USER)
                .agg(F.max("n_errors_5min"))
                .first()[0]
            )

            asof_s = _median(
                _run_samples(lambda: tp.asof_last_purchase_before_click(spark, tmp), spark)
            )
            rows.append((tier, hot_err, n_err, dsec, hot_cell, range_s, asof_s))

    lines = [
        "",
        "## Adversarial hot-user skew (interval joins: one user, 1,000 clicks + HOT_ERR errors in ONE ±300 s window)",
        "",
        "| tier | hot errors | error events | distinct (user,s) rows into join (x3 buckets) | max n_errors_5min | range-join s | as-of s |",
        "|---|---|---|---|---|---|---|",
    ]
    for tier, hot_err, n_err, dsec, hot_cell, range_s, asof_s in rows:
        lines.append(
            f"| {tier} | {hot_err} | {n_err} | {dsec} | {hot_cell} | "
            f"{range_s:.3f} | {asof_s:.3f} |"
        )
    lines += [
        "",
        "The error side enters the join as per-second COUNTS: rows into the",
        "join stay ~flat while hot-cell error events grow 10x (the stock",
        "per-event plan's hot cell would be 1,000 x HOT_ERR pairs — 10^8 at",
        "the 10x tier). `max n_errors_5min` verifies the counts still SUM to",
        "every EVENT. The as-of join's hot user is one window partition —",
        "expect ~linear time in the hot event count, never quadratic",
        "(`test_range_join_counts_events_not_seconds_under_duplicates`,",
        "`test_range_join_is_equi_hash_not_nested_loop` pin the plan/sum).",
    ]
    return lines


def drift_skew_lines(spark, sf_dir: str) -> list[str]:
    """Skewed-source regime for the keyed drift check (r11): ONE source
    owns 90% of the corpus. The claim to verify is the docstring's — a
    hot source concentrates mass in its own key's <= metrics x DRIFT_BINS
    counter rows via map-side partial aggregation, never in a hot shuffle
    partition — so the shuffled record count must stay at the counter
    bound (sources x metrics x bins x tasks at worst) while the hot
    source's row share grows."""
    from pyspark.sql import functions as F

    from airdatapipeline_spark.io import load_table
    from airdatapipeline_spark.operators import drift as dr
    from airdatapipeline_spark.session import query_scope, scratch_dir
    from bench import _median, _run_samples

    with query_scope(spark):
        tmp = scratch_dir("driftskew_")
        (
            load_table(spark, sf_dir, "documents")
            .select(
                "doc_id",
                F.when(F.col("doc_id") % 10 < 9, F.lit("hot"))
                .otherwise(F.concat(F.lit("cold"), F.col("doc_id") % 5))
                .alias("source"),
                "text",
            )
            .repartition(8)
            .write.mode("overwrite")
            .parquet(f"{tmp}/documents.parquet")
        )
        took = _median(_run_samples(lambda: dr.snapshot_drift_by_source(spark, tmp), spark))
        df = dr.snapshot_drift_by_source(spark, tmp)
        rows = df.collect()
        s = summarize(df)
        n_docs = load_table(spark, tmp, "documents").count()
        hot_rows = sum(1 for r in rows if r.source == "hot")
        bound = 6 * 2 * dr.DRIFT_BINS  # sources x metrics x bins
        return [
            "",
            "## Skewed-source drift (one source owns 90% of the corpus)",
            "",
            f"Corpus: {sf_dir} documents with source reassigned 90%-hot "
            f"({n_docs} docs, 6 sources). `text_snapshot_drift_by_source`: "
            f"{took:.3f}s, shuffle_records {s['shuffle_records']} "
            f"(counter bound: sources x metrics x {dr.DRIFT_BINS} bins = {bound} "
            f"final rows; map-side partial agg keeps the exchange at "
            f"per-task partials, never per-doc), hot source output "
            f"{hot_rows} of {len(rows)} rows — the hot key's mass lives in "
            f"its own <= {2 * dr.DRIFT_BINS} counter rows.",
        ]


def lifecycle_stress_lines(spark, sf_dir: str) -> list[str]:
    """Lifecycle writes under the 10x-DISTINCT corpus (VERDICT-r6 item 6):
    the bench writes tier's 10x replica multiplies rows but not the hash
    spread of distinct doc_ids the way real ingest does. Renders bench.py's
    `writes_distinct` tier for `sf_dir`: the full append(3 batches) →
    compact → delete → manifest+verify scenario on the token-rotated
    10x-distinct corpus (10x docs, 10x distinct ids, disjoint content
    hashes) and on the base corpus, interleaved, median of 3; wall-time
    ratios at or below the 10x data ratio mean the membership gates,
    fragment re-lays, and affected-shard rewrites stay IO-proportional
    when key cardinality actually grows. verify_shards must also come back
    all-OK on the distinct corpus — conservation under stress, not just
    speed."""
    from bench import _writes_distinct_tier

    ops = _writes_distinct_tier(spark, sf_dir)["ops"]
    return [
        "",
        "## lifecycle writes under 10x-DISTINCT ingest (token rotation)",
        "",
        "Full append(3 live-gated batches) -> compact -> delete -> verify",
        "scenario on the 10x-distinct corpus (10x docs AND 10x distinct",
        "doc_ids/content hashes — the bench replica's rows-only growth",
        "understresses the membership gates). verify_shards asserted all-OK",
        "on both corpora. bench.py's `writes_distinct` tier, median of 3.",
        "",
        "| op | base s | 10x-distinct s | ratio (data 10x) |",
        "|---|---|---|---|",
        *[
            f"| {op} | {e['base']['med']:.2f} | {e['big']['med']:.2f} | "
            f"{e.get('ratio')} |"
            for op, e in ops.items()
        ],
        "",
        "Ratios <= the 10x data ratio mean every mutation stays IO-",
        "proportional to its delta/fragments/affected-shards when distinct-",
        "key cardinality grows with the data, not just row count.",
    ]


def sf1_stress_lines(spark, sf_dir: str) -> list[str]:
    """sf1-equivalent stress (VERDICT-r5 item 8): the bench's 10x replica
    multiplies ROWS but its copies are near-dups of each other, so
    distinct-value cardinality (paragraph hashes, span postings, shingles)
    barely grows — the quantity that actually drives the dedup shuffles.
    Here each of the 10 copies gets a DIFFERENT token rotation of the text
    (same token multiset, disjoint shingles/spans/paragraphs), so distinct
    keys grow ~10x like a real sf1 corpus. Reports wall-time ratios
    (bench's median of 3) of the heaviest corpus-prep plans; near-linear
    (ratio ~10 or less) means the skew guards and candidate bounds hold
    another decade of scale."""
    from airdatapipeline_spark.io import load_table
    from airdatapipeline_spark.session import query_scope
    from bench import _build_distinct_10x, _median, _run_samples, query_fn

    heavy = [
        "dedup_exact_substring_pairs",
        "dedup_paragraph_rebuild",
        "curation_pipeline",
        "training_data_build",
    ]
    rows = []
    with query_scope(spark):
        big = _build_distinct_10x(spark, sf_dir)
        for name in heavy:
            base_s = _median(_run_samples(query_fn(spark, name, sf_dir), spark))
            big_s = _median(_run_samples(query_fn(spark, name, big), spark))
            rows.append((name, base_s, big_s, big_s / base_s if base_s > 0 else float("nan")))
        base_docs = load_table(spark, sf_dir, "documents").count()
    return [
        "",
        "## sf1-equivalent stress (10x docs, DISTINCT content per copy — token rotation)",
        "",
        f"Corpus: {sf_dir} documents x10 = {base_docs * 10} docs; unlike the bench",
        "replica, every copy's shingles/spans/paragraph hashes are distinct, so",
        "key cardinality scales with the data (the honest sf1 shape). Times are",
        "bench.py's median of 3 noop-forced runs.",
        "",
        "| query | base s | 10x-distinct s | ratio (data 10x) |",
        "|---|---|---|---|",
        *[
            f"| {n} | {b:.2f} | {g:.2f} | {r:.2f} |"
            for n, b, g, r in rows
        ],
        "",
        "Ratios at-or-below the 10x data ratio mean no quadratic key blowup:",
        "the posting caps, map-side combines, and doc-level splits bound the",
        "work per distinct key even when the key population itself grows 10x.",
    ]


def recall_scenario_lines(spark, sf_dir: str) -> list[str]:
    """IVF recall vs scanned-fraction in BOTH embedding regimes: the
    near-isotropic embeddings table (ANN's honest worst case — recall
    tracks the scanned fraction) and the clustered seeded-md5 mixture
    (the case IVF is FOR)."""
    from pyspark.sql import functions as F

    from airdatapipeline_spark.operators import similarity as sim
    from airdatapipeline_spark.registry.simsearch import RPQ_RERANK
    from airdatapipeline_spark.session import query_scope

    with query_scope(spark):
        iso = sim.recall_at_k(spark, sf_dir).agg(
            F.avg(F.col("ivf_hits") / 5.0).alias("r")
        ).first()
        clu = (
            sim.clustered_recall_panel(spark, sf_dir)
            .agg(F.avg("ivf_recall").alias("r"), F.avg("scanned_frac").alias("f"))
            .first()
        )
        iso_frac = sim.TRAINED_N_PROBE / sim.N_CENTROIDS
        tiers = (
            sim.clustered_tier_recall(spark, sf_dir)
            .agg(
                F.avg("ivf_recall").alias("ivf"),
                F.avg("bq_recall").alias("bq"),
                F.avg("pq_recall").alias("pq"),
            )
            .first()
        )
        rpq = (
            sim.clustered_residual_ivfpq_recall(spark, sf_dir)
            .agg(F.avg("rpq_recall").alias("r"))
            .first()
        )
        rrq = (
            sim.clustered_residual_ivfpq_recall(spark, sf_dir, rerank=RPQ_RERANK)
            .agg(F.avg("rpq_recall").alias("r"))
            .first()
        )
        rp = (
            sim.rp_recall(spark, sf_dir)
            .agg(F.avg("rp_recall").alias("raw"), F.avg("rp_rerank_recall").alias("rr"))
            .first()
        )
    return [
        "",
        "## IVF recall vs scanned fraction, by embedding regime",
        "",
        "| corpus | lists probed | mean recall@5 | scanned fraction |",
        "|---|---|---|---|",
        f"| near-isotropic (embeddings table — ANN worst case) | {sim.N_PROBE} of {sim.N_CENTROIDS} (deterministic centroids) | {float(iso['r']):.2f} | ~{sim.N_PROBE / sim.N_CENTROIDS:.2f} |",
        f"| clustered md5-mixture (`simsearch_recall_clustered`) | {sim.CLU_N_PROBE} of {sim.CLU_K} (true generating centers) | {float(clu['r']):.2f} | {float(clu['f']):.3f} |",
        "",
        "On isotropic data no centroid source can prune and keep recall (the",
        f"trained tier needs nprobe={sim.TRAINED_N_PROBE}/8 ≈ {iso_frac:.0%} scanned to hold the 0.9",
        "floor); on clustered data the same plan holds recall 1.0 scanning ~12%",
        "— the dial (`recall_at_k`) is what retunes nprobe per corpus.",
        "",
        "## All-tier recall@5, both regimes (r9, `simsearch_clustered_tier_recall`)",
        "",
        "The clustered column runs the PRODUCTION codecs unchanged on the",
        "64-dim md5-mixture corpus (16 well-separated clusters, noise ±0.15",
        "vs ~1.6 inter-center gap); clustered numbers below are measured",
        "LIVE by this generator. Isotropic columns cite the per-tier queries",
        "at the same dials (r8/r9 measurements; the corpus is static).",
        "",
        "| tier (dial) | isotropic (worst case) | clustered (honest case) |",
        "|---|---|---|",
        f"| IVF, deterministic/true centers (nprobe 3/8 iso, 2/16 clu) | 0.46 | **{float(tiers['ivf']):.2f}** |",
        f"| BQ 1-bit sign codes (rerank=40) | 0.58–0.64 | **{float(tiers['bq']):.2f}** |",
        f"| PQ-ADC, sampled-row codebooks (8×16) | 0.08 | **{float(tiers['pq']):.2f}** |",
        f"| residual IVFPQ, same code budget (r9 fix) | — | **{float(rpq['r']):.2f}** |",
        f"| residual IVFPQ + exact refine, rerank=40 (full serve) | — | **{float(rrq['r']):.2f}** |",
        "| multi-probe LSH (radius 1) | 0.30 | — |",
        f"| JL random projection 64→16, raw 16-dim ranking | {float(rp['raw']):.2f} | — |",
        f"| JL projection + exact refine, rerank=40 | {float(rp['rr']):.2f} | — |",
        "",
        "Two confirmations and one measured weakness: IVF and BQ reach exact",
        "recall on clusterable data at the same dials that struggled on the",
        "isotropic regime (the nprobe/rerank dials dominate, as the r8",
        "docstrings predicted). PQ-ADC with UNTRAINED sampled-row codebooks",
        "is weak on BOTH regimes — on clustered data ~1 codebook entry per",
        "cluster per subspace makes ALL vectors of a cluster quantize to the",
        "SAME 8-byte code, ADC ties across the whole cluster, and the top-k",
        "degenerates to id order (recall ≈ 5/cluster-size). The r9 fix,",
        "`simsearch_clustered_residual_ivfpq`, PQ-codes the RESIDUAL",
        "x − centroid[assign(x)] — the between-cluster structure rides the",
        "coarse centroid exactly and the codes span only the residual space:",
        "recall recovers ~4x at the same 4-byte code budget. The remaining",
        "gap is quantization-RANKING noise, which the full production",
        "serve closes: `simsearch_clustered_rpq_rerank` (FAISS's refine",
        "composition — ADC proposes 40 candidates, exact cosine re-ranks",
        "only those) reads recall 1.00; a trained-codebook experiment",
        "(k-means per residual subspace) reads the SAME recall as sampled",
        "rows here because the synthetic residual space is structureless",
        "uniform noise — training helps only when residuals have structure",
        "(real embeddings), an honest negative worth recording. All",
        "deterministic steps value-hash-verified in both engines —",
        "structural, not flaky.",
        "",
        "Continuation-r9 JL rows: the 64→16 random projection keeps 128-byte",
        "vectors (vs BQ's 8-byte codes) yet ranks WORSE raw on this corpus —",
        "isotropic near-zero cosines are the JL lemma's hardest ranking case",
        "(absolute-distance distortion ~1/√16 swamps the tiny true gaps),",
        "while BQ keeps one bit of ALL 64 dims and preserves sign structure.",
        "The two-stage serve recovers most of the gap at the same rerank=40",
        "dial; width reduction pays off composed (project THEN quantize), not",
        "as a lone codec on isotropic data — measured, not assumed.",
    ]


def sketch_lines(spark, sf_dir: str) -> list[str]:
    """Mergeable-sketch accuracy (continuation r9): live-measured HLL and
    KMV error against their in-plan exact verifiers."""
    from airdatapipeline_spark.operators import sketches as sk
    from airdatapipeline_spark.session import query_scope

    with query_scope(spark):
        hll = sk.hll_shingle_cardinality(spark, sf_dir).toPandas()
        kmv = sk.kmv_source_overlap(spark, sf_dir).toPandas()
    all_row = hll[hll.scope == sk.ALL_SCOPE].iloc[0]
    src = hll[hll.scope != sk.ALL_SCOPE]
    return [
        "",
        "## Mergeable-sketch accuracy (continuation r9)",
        "",
        "| sketch | state | measured error |",
        "|---|---|---|",
        f"| HLL m=64, global (`__ALL__` = max-merge of per-source registers) | 64 registers | rel_error {float(all_row.rel_error):+.3f} (exact {int(all_row.exact_distinct)}) |",
        f"| HLL m=64, per-source (20 scopes) | 64 registers/scope | mean abs rel_error {src.rel_error.abs().mean():.3f}, worst {src.rel_error.abs().max():.3f} |",
        f"| KMV k=64 pairwise Jaccard (190 source pairs) | 64 hashes/source | mean abs_err {kmv.abs_err.mean():.3f}, worst {kmv.abs_err.max():.3f} |",
        "",
        "Both sit within ~1.5σ of their theory bands (HLL σ≈1.04/√64≈13%; KMV",
        "Jaccard σ≤1/√(4·64)≈6.3%) — the register/bottom-k state is the WHOLE shuffle",
        "at any corpus size, which is the family's 100 TB story; the exact",
        "columns are in-plan verifiers you only run at test scale or on",
        "samples. The register count / k are the accuracy dials (p=14 →",
        "0.8% at 16 K registers, same plan shape).",
    ]


# Point-in-time measurement history (not re-measurable by regeneration):
# appended verbatim by main() so regenerating MEASURED.md preserves the
# round-level findings the numbers above build on.
ROUND_NOTES = [
    '',
    '## r12: beyond 10x — 30x/100x replica rows (VERDICT-r11 item 6)',
    '',
    "The per-round bench's scaling tier stops at 10x; `tools/scale_probe.py`",
    'extends the same replica methodology (sources/scale.py key-offset',
    'copies; only the scanned tables — events, documents — replicated, so',
    'the 100x build stays cheap) to 30x and 100x for the two shapes',
    'VERDICT-r11 named riskiest. sf0.1 base, noop-forced median-of-3,',
    'ascending tiers in one warm session:',
    '',
    '| query | x1 | x10 | x30 | x100 | t(100x)/t(1x) |',
    '|---|---|---|---|---|---|',
    '| ev_range_errors_near_clicks (interval join, r11 skew bound) | 1.579s | 2.268s (1.44x) | 4.643s (2.94x) | 15.992s (10.1x) | **10.1x at 100x data** |',
    '| text_snapshot_drift_by_source (keyed drift, 16-bin counters) | 1.185s | 1.355s (1.14x) | 2.278s (1.92x) | 5.471s (4.62x) | **4.6x at 100x data** |',
    '',
    '(run spreads tight: drift x100 [5.373, 5.471, 5.476]; range x100',
    '[14.695, 15.992, 17.652].)',
    '',
    'Reading: both stay at-or-under linear through two orders of magnitude.',
    "The range join's curve bends toward linear (1.44x -> 2.94x -> 10.1x as",
    'the data term overtakes fixed overhead) exactly as the io-tier',
    'bytes/row predicted; the per-(user, bucket) hot-cell bound means the',
    'quadratic term never appears even at 10M events. Keyed drift stays far',
    'under linear (4.6x at 100x) because the plan is one partial-aggregated',
    'scan into FIXED sources x metrics x 16-bin counter state — the scan',
    'grows, the shuffle does not (state was 218 rows at every tier).',
    '',
    'The probe also caught a REAL at-scale bug before it could ship: the r12',
    'striping-independent drift flag multiplied raw doc_id by 2654435761,',
    'which overflows BIGINT (ANSI ArithmeticException, job killed) once ids',
    "pass ~3.4e9 — the x100 replica's key offsets (copy x 1e8) reached that",
    'range on the first run. Fixed by masking doc_id to 31 bits before the',
    'multiply (identical flag values for all real ids, overflow-free for',
    'any id); the failing tier now passes. That is the argument for',
    'measuring beyond 10x rather than extrapolating: the failure was a',
    'VALUE-RANGE cliff, invisible to any time-vs-data curve fit.',
    '',
    '## r12: the simsearch_bq_topk clean-window flag — CLOSED as dispersion',
    '',
    'VERDICT-r11 item 2 (watch flag: 2.36s r11 clean-window median vs',
    "r10's 1.61s, +47%, with similarity.py changed in r11 — candidate:",
    'the zero-norm with_norm filter). Interleaved A/B per the committed',
    'protocol — `python tools/ab_interleaved.py e2fa703 HEAD',
    'simsearch_bq_topk /root/testdata/sf0.1 5` (e2fa703 = pre-zero-norm',
    'r10 code; HEAD = r12 with the total= refactor), fresh',
    'subprocess+JVM per trial, 1 warm lap + median-of-3, strict A/B',
    'alternation: **ratio HEAD/r10 = 0.926** (medians 2.746 vs 2.966) —',
    'HEAD at-or-below the pre-change code in 3 of 5 pairs (pairwise',
    '1.30, 1.33, 0.90, 0.81, 1.53 against per-pair medians that',
    'themselves swing 1.87→3.22 on the A side). The regression does NOT',
    'reproduce under interleaving; both revisions read ~1.5-1.8x the r10',
    "clean-window absolute value on today's host (shared-host ambient,",
    'which the alternation cancels out of the ratio). Mechanism check',
    "agrees: with_norm's filter adds one codegen'd `norm > 0` predicate",
    'on a 2 000-row corpus scan — nanoseconds, not 0.75s. Flag dropped;',
    "the r12 `total=` refactor (ADVICE-r11) leaves the serving path's",
    'plan unchanged (same filter, now explicit at call sites).',
    "",
    "## r11: the text_bpe_train_merges timing flag — CLOSED as dispersion",
    "",
    "VERDICT-r10 item 2 (watch flag: 2.46s vs r9's 1.418s clean-window",
    "medians, +73%, inert diff). Interleaved A/B per the committed",
    "protocol — `python tools/ab_interleaved.py 7847b62 7a58497",
    "text_bpe_train_merges /root/testdata/sf0.1 5`, fresh subprocess+JVM",
    "per trial, 1 warm lap + median-of-3, strict A/B alternation so",
    "ambient drift cancels out of the ratio: **ratio r10/r9 = 0.813**",
    "(medians 3.031 vs 3.731), r10 at-or-below r9 in 4 of 5 pairs",
    "(pairwise ratios 0.89, 1.22, 0.56, 0.92, 0.63; the one >1 pair",
    "overlapped a concurrent measurement job). The regression does NOT",
    "reproduce — consistent with the diff-inertness argument (checkpoint",
    "cadence fires at rank%32, a no-op at K=4) and the wide [1.72, 3.54]",
    "spread in the original reading. Absolute medians here run ~1.3x the",
    "r10 clean-window value on BOTH revisions (shared-host ambient, which",
    "is exactly what the interleaving is for). Flag dropped; the",
    "instrument stays (`tools/ab_interleaved.py`) for future timing",
    "disputes.",
    "",
    "## r10 reference bench window + front-of-suite fix — history note",
    "",
    "Full exclusive `bench.py` run at sf0.1: **80.97s over 45 queries,",
    "`throttled: false`** (python probe 0.342 start / 0.349 end, py_drift",
    "1.02). VERDICT-r9 item 3 (the r9 window taxed its FIRST benched",
    "queries 1.45-1.79x normalized on residual JIT ramp) is fixed by two",
    "instrument changes: the calibration ramp now runs TO CONVERGENCE (two",
    "consecutive untimed jvm runs within 10%, cap 10 — two fixed ramp runs",
    "still left a 0.382s start probe on a window whose end probe read",
    "0.156s) and the front-of-suite warm-up runs TWO full untimed laps of",
    "the first six headline plans. Result: the cohort's r8-probe-normalized",
    "ratios are flagship 0.97x, a1 0.96x, a2_w1 0.87x, j1 1.03x, tpch_q1",
    "1.13x, d1_d2 0.98x, t3 1.03x — all within the +-15% done-bar — and the",
    "33-query common subset normalizes to 1.026x vs r8 (0.96x was r9's",
    "like-for-like; machine-for-machine the engine is flat across three",
    "rounds). Residual instrument finding: even a CONVERGED start probe",
    "(0.143s) reads 1.47x the suite-end value (0.097s) — the jvm probe",
    "keeps deepening with total JVM activity long past ramp convergence, so",
    "jvm_drift stays informational and the python probe keys `throttled`.",
    "",
    "New r10 tiers, same window: BPE production training (64 merges,",
    "checkpoints at 32/64) reads 12.0s total with per-merge flatness 0.96",
    "(median of last 8 iterations / first 8) — the vocab-bound per-iteration",
    "claim measured at a K that exercises the lineage-checkpoint cadence.",
    "Residual-IVFPQ build economics: codebook training 47.2s base /182.7s",
    "10x (ratio 3.9 — spark.ml KMeans fit scheduling amortizes), encode+",
    "write 2.9s/7.4s (ratio 2.5), beside the coarse IVF build's 1.0s/2.8s.",
    "New 10x scaling rows (VERDICT-r9 item 6): snapshot drift 4.48 (the",
    "scan is linear; the SHUFFLE is 36 records at sf0.1 — the fixed-bin",
    "counter state claim, measured), fuzzy decontamination FIXED-EVAL",
    "variant 4.48 (eval benchmark held at base cardinality while train",
    "grows 10x — candidates ∝ eval x dup-rate; the stock query on the",
    "replica is copies^2 by construction, a synthesis artifact, so it is",
    "excluded), cluster labels 3.31, k-means 2.78, quantile sketch 2.14,",
    "HLL 4.51, KMV 3.70 — all well under the 10x data ratio.",
    "",
    "## Calibration-probe instrument finding (continuation r9) — history note",
    "",
    "Four consecutive exclusive sf0.1 bench runs flagged `throttled: true`",
    "on the START jvm probe while their query medians were the fastest of",
    "the night; a controlled experiment (consecutive probes on one fresh",
    "session) read 5.2s → 0.62 → 0.41 → … → 0.073s by suite end: the JVM",
    "codegen range-sum keeps speeding up with JVM age (deeper JIT tiers via",
    "accumulated executor activity), so its start/end ratio is a",
    "JVM-maturity meter, not a host meter. The `throttled` flag now keys on",
    "the pure-Python loop probe — invocation-stable, same host/cgroup as",
    "the executors — which is also the probe that caught the ONE real",
    "contamination window of the night (py_drift 1.199 on a run whose tail",
    "queries read 3–7× slow while both jvm probes were fast; standalone",
    "re-timing confirmed the fast readings as the true ones). The jvm probe",
    "stays in the line as informational, now preceded by two untimed ramp",
    "runs. Earlier rounds' jvm-keyed flags remain valid signals for their",
    "purpose (r7's uniform ~1.3× host throttle showed in BOTH probes).",
    "",
    "## r9 reference bench window (VERDICT-r8 item 2) — history note",
    "",
    "Full exclusive `bench.py` run at sf0.1, **`throttled: false`** (jvm",
    "probe 0.421s start / 0.419s end, drift 1.005; python probe",
    "0.277/0.270) — the first clean calibration window since the flag",
    "shipped. Headline: 38.514s over 33 queries. Raw wall-clock is NOT",
    "comparable to r8's 32.362s: r8 ran `throttled: true` on a window",
    "whose START probe was 0.314s — the r9 window's multicore speed is",
    "1.34x slower (jvm probe ratio) while single-core python speed is",
    "identical (0.277 vs 0.278), so the drift is multicore",
    "frequency/contention, exactly what the probe pair exists to catch.",
    "Probe-normalized, the r9 suite reads ~0.89x r8 like-for-like (median",
    "per-query raw ratio 1.21 < probe ratio 1.34).",
    "",
    "The r8 `text_token_rarity_scores` +40% watch flag does NOT",
    "reproduce: probe-relative cost fell 5.09 -> 4.03 (raw 1.598s ->",
    "1.695s on the 1.34x-slower window). Code unchanged; closed as host",
    "noise, as the r8 diff analysis predicted.",
    "",
    "## ANN serving tiers under 10x data (r9 rotated-replica scaling rows)",
    "",
    "The replica builder rotates each copy's vectors, so distinct codes",
    "and buckets grow 10x with the data (verified: 500 -> 5000 distinct",
    "BQ codes at sf0.01). Medians at sf0.1, 10 queries, k=5 (from the r9",
    "clean-window BENCH_DETAIL scaling tier; re-measured every bench run):",
    "",
    "| tier | base s | 10x s | ratio (data 10x) |",
    "|---|---|---|---|",
    "| simsearch_lsh_topk | 1.79 | 1.78 | 1.00 |",
    "| simsearch_pq_adc_topk | 1.15 | 1.44 | 1.25 |",
    "| simsearch_ivfpq_topk | 2.68 | 3.98 | 1.49 |",
    "| simsearch_ivf_topk | 2.81 | 4.94 | 1.76 |",
    "| simsearch_bq_topk | 1.58 | 3.29 | 2.08 |",
    "",
    "All strongly sublinear (<= 2.1 at 10x): per-query planning overhead",
    "(centroid/codebook/dtab collects, broadcast builds) amortizes while",
    "the data-dependent term — the compressed-domain scan (BQ/PQ), the",
    "probed-list scan (IVF/IVFPQ), the bucket-join candidates (LSH) —",
    "grows linearly but from a small base. BQ's 2.08 is the most",
    "data-proportional, as expected: its stage 1 is the only full-corpus",
    "scan in the family (of 8-byte codes; the claim it exists to prove),",
    "and its ratio stays 5x under the data ratio.",
    "",
    "## Instrument reconciliation (r9, VERDICT-r8 item 1) — history note",
    "",
    "The r8 docs carried two disagreeing numbers for the 10x-distinct",
    "lifecycle scenario: this file's table (ratios 1.29–1.46) vs",
    "bench.py's `writes_distinct` tier (2.99–5.66 on a `throttled: true`",
    "window). Two causes, both now pinned with evidence:",
    "",
    "1. STATISTIC/PROTOCOL: this file used best-of-2 sequential passes,",
    "   bench median-of-3. A clean single-session experiment running both",
    "   INTERLEAVED at sf0.1 (calibration-bracketed, jvm probe 0.45/0.36)",
    "   read best-ratio 2.67–4.12 and median-ratio 2.63–3.42 — the two",
    "   statistics agree; both instruments now share interleaved",
    "   median-of-3.",
    "2. SCALE (the dominant cause): this file regenerates at sf0.01 while",
    "   bench runs at sf0.1. With the SAME unified protocol, sf0.01 reads",
    "   ratios ~1.3–1.8 (the table above) and sf0.1 reads ~2.6–4.7 (the",
    "   bench tier + the experiment): at sf0.01 the per-op fixed overhead",
    "   (job scheduling, layout setup, gate probes — ~1-2s) dominates the",
    "   10x-distinct delta and compresses ratios toward 1; at sf0.1 the",
    "   IO term dominates and the honest ratio is ~3x. Neither is wrong —",
    "   they sample different points on the overhead-amortization curve.",
    "",
    "Resolution: bench.py's `_writes_distinct_tier` at sf0.1 is CANONICAL",
    "for the scale claim (re-measured every round, calibration flagged",
    "in-band, the larger corpus is closer to the asymptote); the sf0.01",
    "table above is the small-scale point of the same curve, generated",
    "with the identical statistic so the instruments can never again",
    "disagree at the same scale. The scale claim is unchanged — every",
    "ratio at every scale is comfortably sublinear vs the 10x data ratio.",
]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from airdatapipeline_spark.registry import QUERIES
    from airdatapipeline_spark.session import get_spark, query_scope

    spark = get_spark("measured")
    out = [
        "# MEASURED — executed-plan metrics of the headline queries",
        "",
        f"Generated by `python tools/measured.py {sf_dir}`. Numbers are the",
        "SQLMetrics Spark itself collected from the FINAL adaptive plan of a",
        "real run (post-AQE) — the measured backing for DESIGN.md §2's",
        "shuffle-economics table. `shuffle_MB` is bytes written across all",
        "Exchange nodes; `scan_rows` is rows leaving parquet scans AFTER",
        "pushdown, so scan_rows ≪ table rows demonstrates pruning.",
        "",
        "Zero-scan rows (cluster assignments, the clustered ANN tiers) are queries",
        "whose sources sit behind a persist()/localCheckpoint() boundary — the",
        "scan happened once when the cached table materialized and the final",
        "plan reads InMemoryTableScan/checkpoint instead; their scan costs are",
        "visible in the un-cached queries sharing the same subtree.",
        "",
        "| query | scans | files | scan_MB | scan_rows | shuffles | shuffle_records | shuffle_MB | broadcasts | python_stages |",
        "|---|---|---|---|---|---|---|---|---|---|",
    ]
    for name in QUERIES_TO_MEASURE:
        with query_scope(spark):
            df = QUERIES[name](spark, sf_dir)
            df.collect()
            s = summarize(df)
        out.append(
            f"| {name} | {s['n_scans']} | {s['scan_files']} | "
            f"{s['scan_bytes'] / 1e6:.2f} | {s['scan_rows']} | {s['n_shuffles']} | "
            f"{s['shuffle_records']} | {s['shuffle_bytes'] / 1e6:.3f} | "
            f"{s['n_broadcasts']} | {s['python_stages']} |"
        )
        print(name, "ok", file=sys.stderr)
    out.extend(skew_lines(spark, sf_dir))
    out.extend(interval_skew_lines(spark, sf_dir))
    out.extend(drift_skew_lines(spark, sf_dir))
    out.extend(sf1_stress_lines(spark, sf_dir))
    out.extend(lifecycle_stress_lines(spark, sf_dir))
    out.extend(recall_scenario_lines(spark, sf_dir))
    out.extend(sketch_lines(spark, sf_dir))
    out.extend(ROUND_NOTES)
    with open(os.path.join(ROOT, "MEASURED.md"), "w") as f:
        f.write("\n".join(out) + "\n")
    print(f"MEASURED.md written ({len(QUERIES_TO_MEASURE)} queries)")


if __name__ == "__main__":
    main()
