"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
COMPACT JSON line (the driver's contract — r3's inlined detail overflowed
the driver's tail window and produced "parsed": null):
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {name: sec},
"sf": ...}. The verifier/scaling sections and notes go to the sidecar
BENCH_DETAIL.json next to this script instead of stdout.

Timing statistic: MEDIAN of 3 noop-forced runs per query (r6; best-of-2
before), with the sorted per-run times recorded in BENCH_DETAIL's
`dispersion` section so a noisy reading is distinguishable from a plan
regression. Sections:

- queries/value — the HEADLINE tier: only plans whose shape survives a
  100x scale-up (equi-join candidate generation, pushed filters, partial
  aggs). This is the number to compare across rounds. It runs once; a
  window whose start->post-headline python probe drifts past 1.15 is
  reported as is, with `throttled: true`. Per-query claims are settled
  by the interleaved A/B (tools/ab_interleaved.py), not by this line.
- verifier — the quadratic-by-design audit tier (exact brute-force ANN:
  O(N*Q) full-precision scan). It exists to grade the approximate tiers'
  recall, never to run at corpus scale, so its time is reported separately
  and excluded from the headline total.
- writes — the I/O lifecycle WRITE paths (shard layout write, parquet
  compaction, IVF index build, r12: the versioned-table commit chain)
  timed at base and on the 10x replica
  (VERDICT-r5 item 6); detail-only, excluded from the headline total.
- io — per-headline-query layer record of the last timed run: its
  build_s/exec_s split, the Catalyst phase times of the built frame, the
  run times in run order, and the job, stage, task, input and shuffle
  counters read through its job group (perfbench/layers.py, UI off): the
  measured form of the plan-shape claims (broadcasts don't shuffle,
  compressed tiers shuffle codes not arrays, filters reach the scan).
  `_run_samples` is the one timing loop: tools/ab_interleaved.py,
  tools/measured.py and tools/scale_probe.py time through it too.
- scaling — every scale-eligible headline query re-measured on a 10x
  replica warehouse (sources/scale.py): empirical time ratios next to the
  10x data ratio, catching any operator whose constant factors hide
  super-linear behavior at the base scale. Near-dup/ANN families are
  excluded there because replica-scaling makes THEIR OUTPUT quadratic by
  construction (an artifact of synthesis, not of the plans — see
  sources/scale.py); their scale posture is plan-asserted in
  tests/test_plans.py instead.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from airdatapipeline_spark.session import query_scope  # noqa: E402
from perfbench import layers  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SCALE_COPIES = int(os.environ.get("SPARK_GRAFT_SCALE_COPIES", "10"))
SCALE_DIR = os.environ.get(
    "SPARK_GRAFT_SCALE_DIR",
    os.path.join(os.path.dirname(os.path.abspath(__file__)), ".benchscale", f"x{SCALE_COPIES}"),
)

# Headline set: the flagship E2E pipeline + the heaviest representative
# queries per operator family. Kept deliberately small so per-round numbers
# are comparable; every other registered query is exercised by the
# correctness gate instead. Scale-safe plans only (see module docstring).
HEADLINE = [
    "flagship_pipeline",
    "a1_daily_sentiment_gold",
    "a2_w1_daily_category_gold",
    "j1_pending_antijoin",
    "d1_d2_dedup_headlines",
    "t3_recent_headlines_topk",
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_regional_revenue",
    "events_sessionization",
    "dedup_minhash_lsh_candidates",
    "simsearch_lsh_topk",
    "simsearch_ivf_topk",
    "ev_asof_last_purchase",
    "ev_range_errors_near_clicks",
    "bucketed_order_revenue",
    "curation_pipeline",
    # r2: map-heavy text/multimodal family now measured too (these were the
    # queries most under-counted by the old count() forcing)
    "text_quality_scores",
    "text_token_stats_by_source",
    "text_fingerprint_clusters",
    "mm_decode_features",
    # r2 additions: heaviest of the new operators
    "dedup_exact_substring_pairs",
    "text_repetition_filters",
    # r2: compressed-domain ANN tiers (wide codegen expressions — the
    # families most sensitive to the noop full-plan forcing). PQ-ADC is the
    # compressed-domain SCAN serving tier (linear per query batch, 64x less
    # IO than floats) — a real deployment mode, unlike the full-precision
    # brute force in the verifier tier.
    "simsearch_pq_adc_topk",
    "simsearch_ivfpq_topk",
    # r8: 1-bit binary-quantization tier (Hamming scan over packed sign
    # words + broadcast re-rank) — the cheapest compressed-domain scan
    "simsearch_bq_topk",
    # r8: retrieval + sketch additions — BM25 scoring over the postings
    # (two agg shuffles + broadcast query) and the MG heavy-hitters
    # two-scan pattern (its mapInPandas phase is the one deliberate
    # Python-loop sketch in the suite; its cost is the honest price of
    # bounded state, worth tracking per round)
    "text_bm25_topk",
    "text_heavy_hitters",
    # r9: the CCNet-style bigram-LM quality filter (two count shuffles +
    # stream equi-joins + position-ordered fold) and the full ANN serve
    # (residual ADC + exact refine — the FAISS composition at recall 1.00)
    "text_lm_perplexity_filter",
    "simsearch_clustered_rpq_rerank",
    # late r9: distributed BPE tokenizer training — K vocab-proportional
    # pair-count shuffles over the persisted distinct-word table (the one
    # corpus scan is the word count itself)
    "text_bpe_train_merges",
    # late r9: exact integer-lattice k-means (2 Lloyd rounds) — per round
    # one codegen assignment scan + one 65-column partial-agg shuffle
    "emb_kmeans_sq8_stats",
    # continuation-r9: mergeable-sketch family — HLL register build (one
    # partial-agg shuffle of <= scopes x 64 register rows + the in-plan
    # merge) and the KMV bottom-k pairwise overlap (WindowGroupLimit-pruned
    # sketch build + pairs x k merge); both carry their exact verifiers
    # in-plan, which is most of their measured cost at test scale
    "text_hll_shingle_cardinality",
    "text_kmv_source_overlap",
    # continuation-r9: the JL random-projection two-stage serve (16-dim
    # stage-1 scan + broadcast full-precision rerank) graded vs exact truth
    "simsearch_rp_recall",
    # continuation-r9: z-order layout economics — two map-only integer
    # blockings of lineitem + a 2x16-row stats agg (the write-time
    # clustering decision, simulated deterministically)
    "snk_zorder_layout_stats",
    # continuation-r9: cluster labeling — k-means train+assign, doc join,
    # one vocab x k count shuffle, rank window over vocab x k rows
    "emb_cluster_labels",
    # continuation-r9: fuzzy decontamination — banded broadcast join for
    # candidates + exact Jaccard verify of candidates only (NOT
    # scale-eligible: replica copies near-dup the replicated eval slice by
    # construction, the same exclusion as the other near-dup text tiers)
    "dedup_fuzzy_decontamination",
    # continuation-r9: histogram quantile sketch — one partial-agg bin
    # count + cumulative/probe over types x 256 rows (its exact verifier
    # is the sort shuffle that dominates at test scale)
    "agg_quantile_histogram_sketch",
    # r10: snapshot drift — one documents scan (stack unpivot carries both
    # metrics), one partial-agg shuffle of <= metrics x bins x 2 counters,
    # exact-integer TVD over <= 32 rows
    "text_snapshot_drift",
    # r11: the keyed variant (WHICH upstream changed) — same one-scan
    # build with `source` threaded through the counter key, so the
    # shuffle is sources x metrics x bins rows (still sketch-sized)
    "text_snapshot_drift_by_source",
    # the end-to-end curate→chunk→split→pack composite (extension flagship)
    "training_data_build",
    # r4: window/events analytics family (heaviest two) so window-function
    # shuffles are perf-tracked in the headline too (VERDICT r3 item 8)
    "events_cohort_retention",
    "w_customer_rfm_segments",
    # r4 (late): corpus-preparation family — the global shard layout
    # (two-level prefix sum + 256-row window) and the Zipf-split
    # frequency join-back (subtract both for a like-for-like r3 compare)
    "text_shard_manifest",
    "text_token_rarity_scores",
]

# Quadratic-by-design audit tier: ground-truth generators for grading the
# approximate tiers. Timed for visibility, excluded from the headline total
# (r3 split — at 100x these are the plans you would NOT run).
VERIFIER = [
    "simsearch_bruteforce_topk",
]

# Scale-eligible headline subset re-run on the replica warehouse. Excluded:
# near-dup TEXT families (replica scaling makes their candidate sets
# quadratic by construction even with per-copy suffixes),
# bucketed_order_revenue (bucketed facts are an ingest-time layout;
# re-bucketing the replica measures ingest, not the join),
# mm_decode_features (synthetic binary payloads are derived, not
# replicated). The ANN family is IN since r9: per-copy vector rotation in
# the replica builder makes codes/buckets grow honestly with the data.
SCALING = [
    "flagship_pipeline",
    "a1_daily_sentiment_gold",
    "a2_w1_daily_category_gold",
    "j1_pending_antijoin",
    "t3_recent_headlines_topk",
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_regional_revenue",
    "events_sessionization",
    "ev_asof_last_purchase",
    "ev_range_errors_near_clicks",
    "curation_pipeline",
    "text_quality_scores",
    "text_token_stats_by_source",
    "text_repetition_filters",
    "training_data_build",
    "events_cohort_retention",
    "w_customer_rfm_segments",
    "text_shard_manifest",
    "text_token_rarity_scores",
    # r8: both scale-eligible (exact plans over the replicated corpus;
    # simsearch_bq stays out with the rest of the ANN family)
    "text_bm25_topk",
    "text_heavy_hitters",
    # r9 (VERDICT-r8 item 4): the ANN serving family is now scale-eligible —
    # the replica builder ROTATES each copy's vectors (distinct buckets/
    # codes grow with the data, no artifact duplicate code-sets), so these
    # rows measure the claims argued from plans: LSH/IVF candidates grow
    # with list size (~linear), BQ's stage 1 scans 8-byte codes with the
    # candidate window bounded pre-shuffle, PQ-ADC is the linear
    # compressed-domain scan, IVFPQ adds probe pruning on top.
    "simsearch_lsh_topk",
    "simsearch_ivf_topk",
    "simsearch_bq_topk",
    "simsearch_pq_adc_topk",
    "simsearch_ivfpq_topk",
    # r9: LM filter (bigram keys grow with the per-copy text suffixes) and
    # the refine serve (the clustered corpus derives from vec_ids, which
    # the replica offsets — lists genuinely grow 10x)
    "text_lm_perplexity_filter",
    "simsearch_clustered_rpq_rerank",
    # late r9: BPE training — ONLY the word-count scan is corpus-
    # proportional; every merge iteration is bound by the DISTINCT
    # vocabulary, which the replica barely grows (9 new "repN" words).
    # Expected ratio well under 10 with the gap = the iterations' share;
    # a ~10x reading here would falsify the vocab-bound design claim.
    "text_bpe_train_merges",
    # late r9: k-means on the rotated replica (codes genuinely differ per
    # copy) — rounds are scans + k-row aggs, expect ~linear in corpus
    "emb_kmeans_sq8_stats",
    # continuation r9: the sketch family under 10x-distinct text (token
    # rotation grows distinct shingles honestly). The SKETCH halves are
    # fixed-state by design (64 registers / k=64 bottom hashes per source —
    # the shuffle should NOT grow 10x); the in-plan exact verifiers DO grow
    # with the corpus, so the measured ratio is verifier-dominated — the
    # split is called out in MEASURED.md
    "text_hll_shingle_cardinality",
    "text_kmv_source_overlap",
    # continuation r9: JL projection serve on the rotated-replica vectors
    # (stage 1 linear in corpus at 4x-narrower width, stage 2 fixed
    # O(Q*rerank); truth is Q-bounded brute force like the other panels)
    "simsearch_rp_recall",
    # continuation r9: z-order economics — one scan + a 32-group agg;
    # expect ~linear in lineitem rows
    "snk_zorder_layout_stats",
    # continuation r9: quantile sketch — the SKETCH half is fixed-state
    # (types x 256 counters); the exact rank-select verifier's sort is
    # what grows with the replica, called out in MEASURED.md
    "agg_quantile_histogram_sketch",
    # r10: cluster labeling (train+assign on the rotated replica vectors,
    # doc join via the shared key offset, vocab x k count shuffle — vocab
    # grows by only the 9 repN suffix tokens, so expect ~linear-in-corpus
    # scan cost with the label window fixed)
    "emb_cluster_labels",
    # r10: snapshot drift — fixed-bin mergeable state; the scan grows
    # linearly, the shuffled counter state does not (the sketch contract)
    "text_snapshot_drift",
    # r11: keyed drift — the replica multiplies rows under the SAME 20
    # sources, so the counter state is fixed while the scan grows; a hot
    # source concentrates mass in its own key's <= metrics x bins rows
    "text_snapshot_drift_by_source",
    # dedup_fuzzy_decontamination is scale-tiered via a DEDICATED row (see
    # main()): on the replica every copy of an eval doc stays eval
    # (offsets are multiples of eval_mod) and all copies are near-dups, so
    # the stock query's candidates grow as copies^2 by construction — an
    # artifact of replication. The honest production scenario is a FIXED
    # eval benchmark against a growing train corpus, expressed by scaling
    # eval_mod with the copy count (same eval cardinality, 10x train).
]


N_RUNS = 3  # r6: median-of-3 (VERDICT-r5 item 2 — make regressions
# attributable: r5's +9% headline and a phantom 3.3x t3 reading were pure
# ambient noise that best-of-2 could not separate from a plan change).


def _run_samples(fn, spark, n: int = N_RUNS, io_sink=None, io_key=None) -> list[float]:
    """Force FULL execution of every projected column with a noop write —
    count() lets Catalyst prune projected expressions (map-heavy queries
    were under-measured); noop runs the whole plan and discards rows
    executor-side (r2 re-baseline). Returns the sorted per-run times; the
    first run pays one-time Janino codegen, so the MEDIAN (not min, not
    mean) is the headline statistic, robust to one slow outlier. Each run
    builds and forces the query in its own `query_scope`, so the next run
    reads nothing this one persisted.

    When `io_sink` is given, the LAST run (build included) runs under its
    own job group and io_sink[io_key] gets its layer record: that group's
    counters (`layers.group_counters`: jobs, stages, tasks, input and
    shuffle MB, ...), read from the status store with the UI off; the
    run's `build_s` (fn()) and `exec_s` (the noop write); the Catalyst
    phase times of the built frame (`analysis_ms`, `optimization_ms`,
    `planning_ms`); and `runs`, every run's time in run order. The record
    is read after the timer stops and the group is cleared, inside the
    run's scope."""
    sc = spark.sparkContext
    times = []
    for i in range(n):
        group = f"bench:{io_key}" if io_sink is not None and i == n - 1 else None
        layers.set_group(sc, group)
        with query_scope(spark):
            t0 = time.time()
            df = fn()
            t1 = time.time()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.time()
            times.append(round(t2 - t0, 3))
            layers.set_group(sc, None)
            if group:
                layers.drain(sc)
                rec = layers.group_counters(sc, group)
                rec.update(build_s=t1 - t0, exec_s=t2 - t1)
                phases = layers.plan_phases(df._jdf)[0]
                rec.update({f"{k}_ms": v for k, v in phases.items()})
                io_sink[io_key] = {k: round(v, 3) for k, v in rec.items()}
                io_sink[io_key]["runs"] = list(times)
    return sorted(times)


def _median(samples: list[float]) -> float:
    # lower median: the true median for odd run counts; for an even count
    # the SMALLER middle run (steady-state), so one cold outlier cannot
    # become the headline number
    return samples[(len(samples) - 1) // 2]


def query_fn(spark, name: str, sf_dir: str):
    """The zero-argument builder `_run_samples` times for headline query
    `name` over `sf_dir`: a `registry.QUERIES` entry, or the end-to-end
    flagship pipeline, which is not registered."""
    if name == "flagship_pipeline":
        from airdatapipeline_spark.pipeline import flagship

        return lambda: flagship(spark, sf_dir)
    from airdatapipeline_spark.registry import QUERIES

    return lambda: QUERIES[name](spark, sf_dir)


def warm_up(spark, sf_dir: str) -> None:
    """Warm the session before anything is timed: JVM codegen, parquet
    footers, the Python worker pool, the flagship shape at sf0.001 and the
    bucketed facts, so timings measure steady-state engine throughput, not
    process spin-up (a long-lived cluster is always warm)."""
    import __spark_entry__ as entrymod
    from airdatapipeline_spark.operators.bucketed import ensure_bucketed_facts

    spark.range(1000).selectExpr("sum(id)").collect()
    for t in ("lineitem", "orders", "customer", "documents", "embeddings", "events"):
        spark.read.parquet(f"{sf_dir}/{t}.parquet").limit(1).collect()
    spark.range(64).mapInPandas(
        lambda it: (pdf for pdf in it), schema="id long"
    ).count()
    with query_scope(spark):
        entrymod.entry(spark).count()  # full pipeline shape at sf0.001
    # bucketed facts are written once at ingest and queried many times —
    # creating them is warm-up (amortized), timing the join is the bench
    ensure_bucketed_facts(spark, sf_dir)

    # Untimed warm-up laps of the front-of-suite cohort (VERDICT-r9 item 3):
    # the r9 driver window showed the FIRST benched queries (flagship 1.57x,
    # tpch_q1 1.79x, a2_w1 1.51x, j1 1.45x normalized) taxed by residual
    # JIT ramp — their code had an empty diff and the rest of the suite sat
    # at ~1.0x. The generic range-sum/footer warm-up above matures the
    # interpreter tiers but not the join/agg/window codegen paths the first
    # real plans compile; untimed laps of the leading headline queries run
    # those exact shapes so the first timed queries read a warm JVM. TWO
    # laps (r10: C2 tiers need repetition, not just coverage).
    for _lap in range(2):
        for name in HEADLINE[:6]:
            _run_samples(query_fn(spark, name, sf_dir), spark, n=1)
    sys.stderr.write("[warmup] front-of-suite laps done\n")


def _calibrate() -> dict[str, float]:
    """Fixed-workload machine-speed probe: a pure-Python loop. It has no
    JIT, so its value is stable within one process, and it shares the
    host with the executors, so a start/end ratio away from 1 means the
    host got slower or faster mid-run."""
    t0 = time.time()
    _ = sum(i * i for i in range(5_000_000))
    return {"python_loop_s": round(time.time() - t0, 3)}


WRITE_RUNS = 3  # same median-of-3 + dispersion treatment as the headline
# tier (VERDICT-r6 item 3): the lifecycle ops are the newest code and the
# most likely to regress, so a real regression must be attributable
# against recorded per-run spread rather than hiding in a 2-run min


def _writes_tier(spark) -> dict:
    """Measure the I/O lifecycle WRITE paths (VERDICT-r5 item 6) at base
    and on the 10x replica warehouse: write_shards (the corpus-wide
    TeraSort-style layout), the r6 incremental ops (append_shards /
    compact_shards / delete_from_shards over a 90%-corpus layout — their
    claim is cost ∝ delta/fragments/affected, so compare their rows to
    write_shards' full re-lay at the same tier), compact_parquet
    (small-file maintenance over a 64-file fragmented documents table),
    and build_ivf_index (the ANN offline build). Staging dirs are cleaned
    between runs; setup (base layouts, fragmenting) is untimed."""
    import shutil
    import tempfile

    from airdatapipeline_spark.io import load_table
    from airdatapipeline_spark.operators import corpus, similarity
    from airdatapipeline_spark.sources import maintenance

    root = tempfile.mkdtemp(prefix="bench_writes_")
    tiers = [("base", SF_DIR)]
    if os.path.exists(os.path.join(SCALE_DIR, "documents.parquet")):
        tiers.append(("big", SCALE_DIR))

    def _base_layout(sf: str, workdir: str) -> str:
        """Untimed setup for the incremental ops: a layout holding 90% of
        the corpus (doc_id % 10 != 0), so the timed op works a 10% delta."""
        out = os.path.join(workdir, "layout")
        shutil.rmtree(out, ignore_errors=True)
        base_sf = os.path.join(workdir, "base_sf")
        if not os.path.exists(base_sf):
            from pyspark.sql import functions as F

            load_table(spark, sf, "documents").filter(
                F.col("doc_id") % 10 != 0
            ).write.mode("overwrite").parquet(
                os.path.join(base_sf, "documents.parquet")
            )
        corpus.write_shards(spark, base_sf, out)
        return out

    def run_once(op: str, sf: str, workdir: str) -> float:
        from pyspark.sql import functions as F

        if op == "write_shards":
            out = os.path.join(workdir, "shards")
            shutil.rmtree(out, ignore_errors=True)
            t0 = time.time()
            corpus.write_shards(spark, sf, out)
            return time.time() - t0
        if op == "append_shards":
            # the delta-vs-corpus claim: appending a 10% delta should cost
            # a fraction of write_shards' full re-lay at the same tier
            out = _base_layout(sf, workdir)
            t0 = time.time()
            corpus.append_shards(spark, sf, out)
            return time.time() - t0
        if op == "compact_shards":
            out = _base_layout(sf, workdir)
            corpus.append_shards(spark, sf, out)  # setup: 2nd generation
            t0 = time.time()
            corpus.compact_shards(spark, out, min_fill=0.85)
            return time.time() - t0
        if op == "delete_from_shards":
            out = _base_layout(sf, workdir)
            doomed = load_table(spark, sf, "documents").filter(
                F.col("doc_id") % 70 == 0
            ).select("doc_id")
            t0 = time.time()
            corpus.delete_from_shards(spark, doomed, out)
            return time.time() - t0
        if op == "compact_parquet":
            frag = os.path.join(workdir, "frag")
            shutil.rmtree(frag, ignore_errors=True)
            load_table(spark, sf, "documents").repartition(64).write.mode(
                "overwrite"
            ).parquet(frag)  # setup: the fragmented state, untimed
            t0 = time.time()
            maintenance.compact_parquet(spark, frag)
            return time.time() - t0
        if op == "build_ivf_index":
            out = os.path.join(workdir, "ivf")
            shutil.rmtree(out, ignore_errors=True)
            t0 = time.time()
            similarity.build_ivf_index(spark, sf, out)
            return time.time() - t0
        if op == "train_residual_pq":
            # the offline codebook-training half of the residual-IVFPQ
            # build economics (VERDICT-r9 item 8): 8 subspace KMeans fits
            # over the clustered corpus's residuals
            t0 = time.time()
            cbs = similarity.train_residual_codebooks(spark, sf)
            _trained_cbs[sf] = cbs  # reused untimed by the encode row
            return time.time() - t0
        if op == "build_residual_ivfpq":
            # the encode+write half, with training untimed (pretrained
            # codebooks — train cost has its own row above)
            if sf not in _trained_cbs:
                _trained_cbs[sf] = similarity.train_residual_codebooks(spark, sf)
            out = os.path.join(workdir, "rivfpq")
            shutil.rmtree(out, ignore_errors=True)
            t0 = time.time()
            similarity.build_residual_ivfpq_index(
                spark, sf, out, codebooks=_trained_cbs[sf]
            )
            return time.time() - t0
        if op == "vt_commit_chain":
            # the r12 versioned-table layer's write economics: create a
            # manifest table from documents, one append (10% delta), one
            # file-pruned COW delete — three atomic commits. The claim:
            # commit overhead is manifest JSON + link(2), so the chain's
            # cost is the DATA writes and scales with the delta/hit
            # files, not with the manifest history.
            from pyspark.sql import functions as F

            from airdatapipeline_spark.sources import versioned

            out = os.path.join(workdir, "vt")
            shutil.rmtree(out, ignore_errors=True)
            docs = load_table(spark, sf, "documents")
            base = docs.filter(F.col("doc_id") % 10 != 0)
            delta = docs.filter(F.col("doc_id") % 10 == 0)
            t0 = time.time()
            t = versioned.create_table(
                spark, out, base.repartition(8), stats_cols=("doc_id",)
            )
            t.append(delta.repartition(2))
            t.delete_where(F.col("doc_id") % 70 == 0)
            return time.time() - t0
        raise ValueError(op)

    result: dict[str, dict] = {}
    _trained_cbs: dict[str, list] = {}
    for op in (
        "write_shards",
        "append_shards",
        "compact_shards",
        "delete_from_shards",
        "compact_parquet",
        "build_ivf_index",
        "train_residual_pq",
        "build_residual_ivfpq",
        "vt_commit_chain",
    ):
        entry: dict = {}
        # the codebook-training row is an offline ECONOMICS number (8
        # spark.ml KMeans fits, ~36s even at base — scheduling-overhead
        # bound at test scale), not a regression-tracked hot path: one
        # run, or the tier pays ~4 min per bench for a coarse figure
        op_runs = 1 if op == "train_residual_pq" else WRITE_RUNS
        for tier, sf in tiers:
            workdir = os.path.join(root, f"{op}_{tier}")
            os.makedirs(workdir, exist_ok=True)
            runs = sorted(round(run_once(op, sf, workdir), 3) for _ in range(op_runs))
            entry[tier] = {"runs": runs, "med": _median(runs)}
            sys.stderr.write(f"[writes/{tier}] {op}: {entry[tier]['med']}s (runs {runs})\n")
        # ratio vs data_ratio: near-linear expected — the shard write's
        # single wide shuffle and the IVF assign+write are both O(corpus)
        if "big" in entry and entry["base"]["med"] > 0:
            entry["ratio"] = round(entry["big"]["med"] / entry["base"]["med"], 2)
        result[op] = entry
    shutil.rmtree(root, ignore_errors=True)
    return {"data_ratio": float(SCALE_COPIES), "ops": result}


def _build_distinct_10x(spark, sf_dir: str) -> str:
    """The honest sf1-shaped corpus: 10 copies of every document, each
    copy's token sequence ROTATED by a copy-specific amount — same token
    multiset (token stats preserved) but different shingle/span/paragraph
    keys AND distinct doc_ids per copy, so key cardinality scales with the
    data (the bench's plain replica multiplies rows only)."""
    from pyspark.sql import functions as F

    from airdatapipeline_spark.io import load_table
    from airdatapipeline_spark.session import scratch_dir

    tmp = scratch_dir("sf1corpus_")
    toks = "split(trim(text), '\\\\s+')"
    (
        load_table(spark, sf_dir, "documents")
        .withColumn("r", F.explode(F.sequence(F.lit(0), F.lit(9))))
        .select(
            (F.col("doc_id") * 16 + F.col("r")).alias("doc_id"),
            F.expr(
                # rotate the token sequence by r*17+1 positions: same
                # multiset (token stats preserved), different shingle/
                # span/paragraph keys per copy
                f"concat_ws(' ', flatten(array("
                f"slice({toks}, (r * 17 + 1) % size({toks}) + 1, size({toks})),"
                f"slice({toks}, 1, (r * 17 + 1) % size({toks})))))"
            ).alias("text"),
            "lang",
            "source",
            "n_chars",
        )
        .repartition(16)
        .write.mode("overwrite")
        .parquet(f"{tmp}/documents.parquet")
    )
    return tmp


def lifecycle_scenario(spark, corpus_dir: str) -> dict[str, float]:
    """One full lifecycle pass over corpus dir `corpus_dir`: untimed setup
    (base-layout write from the 90% slice), then timed append(3 live-gated
    batches) → compact → delete → manifest+verify. verify_shards is
    asserted all-OK — conservation under stress, not just speed. Timed by
    the writes_distinct tier, which MEASURED.md's stress section renders."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from airdatapipeline_spark.io import load_table
    from airdatapipeline_spark.operators import corpus

    work = tempfile.mkdtemp(prefix="lifecycle_stress_")
    docs = load_table(spark, corpus_dir, "documents")
    base_sf = f"{work}/base_sf"
    docs.filter(F.col("doc_id") % 10 != 0).write.mode("overwrite").parquet(
        f"{base_sf}/documents.parquet"
    )
    out = f"{work}/layout"
    corpus.write_shards(spark, base_sf, out)
    delta = docs.filter(F.col("doc_id") % 10 == 0)
    t: dict[str, float] = {}
    t0 = time.time()
    for k in range(3):  # K delta batches, each through the live gate
        corpus.append_docs(spark, delta.filter(F.pmod("doc_id", F.lit(30)) == 10 * k), out)
    t["append_3_batches"] = time.time() - t0
    t0 = time.time()
    corpus.compact_shards(spark, out, min_fill=0.85)
    t["compact_shards"] = time.time() - t0
    doomed = docs.filter(F.col("doc_id") % 70 == 0).select("doc_id")
    t0 = time.time()
    corpus.delete_from_shards(spark, doomed, out)
    t["delete_from_shards"] = time.time() - t0
    t0 = time.time()
    corpus.write_layout_manifest(spark, out)
    report = corpus.verify_shards(spark, out).collect()
    t["manifest_verify"] = time.time() - t0
    bad = [r for r in report if not r["shard_ok"]]
    assert not bad, f"verify_shards red under stress at {corpus_dir}: {bad[:3]}"
    shutil.rmtree(work, ignore_errors=True)
    return t


def _writes_distinct_tier(spark, sf_dir: str) -> dict:
    """The honest-cardinality lifecycle stress (VERDICT-r7 item 6): the
    `writes` tier's 10x replica multiplies ROWS but its copies share
    doc_ids' hash spread; real ingest grows distinct keys WITH the data.
    This tier runs `lifecycle_scenario` on the `sf_dir` corpus and on a
    token-rotated 10x-DISTINCT corpus (10x docs AND 10x distinct
    doc_ids/content hashes), median-of-3 with dispersion. Ratios at or
    below the 10x data ratio mean the membership gates, fragment re-lays,
    and affected-shard rewrites stay IO-proportional when key cardinality
    actually grows; verify_shards is asserted all-OK inside every scenario
    pass.

    This tier is the CANONICAL instrument for the scenario (r9
    reconciliation): base/big passes run INTERLEAVED so host/cache drift
    hits both corpora symmetrically, and tools/measured.py renders this
    tier's result. Expected ratios ~2.6-3.4 at sf0.1 (fixed per-op
    overhead amortizes; the IO term grows with the delta)."""
    import shutil

    big = _build_distinct_10x(spark, sf_dir)
    try:
        base_p: list[dict] = []
        big_p: list[dict] = []
        for _ in range(WRITE_RUNS):
            base_p.append(lifecycle_scenario(spark, sf_dir))
            big_p.append(lifecycle_scenario(spark, big))

        def tier(passes: list[dict]) -> dict[str, dict]:
            out: dict[str, dict] = {}
            for op in passes[0]:
                runs = sorted(round(p[op], 3) for p in passes)
                out[op] = {"runs": runs, "med": _median(runs)}
            return out

        base_t, big_t = tier(base_p), tier(big_p)
        ops: dict[str, dict] = {}
        for op in base_t:
            entry = {"base": base_t[op], "big": big_t[op]}
            if base_t[op]["med"] > 0:
                entry["ratio"] = round(big_t[op]["med"] / base_t[op]["med"], 2)
            ops[op] = entry
            sys.stderr.write(
                f"[writes_distinct] {op}: base {base_t[op]['med']}s, "
                f"10x-distinct {big_t[op]['med']}s (ratio {entry.get('ratio')})\n"
            )
        return {"data_ratio": 10.0, "distinct_ratio": 10.0, "ops": ops}
    finally:
        shutil.rmtree(big, ignore_errors=True)


BPE_PROD_MERGES = 64  # production-shaped merge count (VERDICT-r9 item 5);
# the registered query stays at K=4 for oracle unrollability — this tier
# exercises the documented scale story (checkpoint every 32 merges,
# vocab-proportional per-iteration cost) at a K that actually hits the
# checkpoint cadence, and records per-merge flatness


def _bpe_production_tier(spark) -> dict:
    """Train BPE_PROD_MERGES merges on the sf documents corpus with the
    production checkpoint cadence, recording each iteration's wall time.
    The design claim is per-iteration cost ∝ DISTINCT vocabulary (flat
    across merges — each iteration is one driver-side pass over the
    collected word table), NOT corpus- or rank-proportional; `flatness` is
    the measured form: median of the last 8 iterations over the first 8.
    The checkpoints fall in the application of the merges, after the
    timed iterations; their ranks are listed for reference."""
    from airdatapipeline_spark.io import load_table
    from airdatapipeline_spark.operators.text import (
        BPE_CHECKPOINT_EVERY,
        bpe_iterate,
        bpe_word_table,
    )

    times: list[float] = []
    t0 = time.time()
    merges, _seqs = bpe_iterate(
        bpe_word_table(load_table(spark, SF_DIR, "documents")),
        BPE_PROD_MERGES,
        merge_times=times,
    )
    total = round(time.time() - t0, 3)
    first8 = sorted(times[:8])
    last8 = sorted(times[-8:])
    return {
        "n_merges": len(merges),
        "checkpoint_every": BPE_CHECKPOINT_EVERY,
        "total_s": total,
        "per_merge_s": times,
        "first8_med": _median(first8) if first8 else None,
        "last8_med": _median(last8) if last8 else None,
        "flatness_last8_over_first8": (
            round(_median(last8) / _median(first8), 2)
            if first8 and last8 and _median(first8) > 0
            else None
        ),
        "checkpoint_iterations": [
            i + 1 for i in range(len(times)) if (i + 1) % BPE_CHECKPOINT_EVERY == 0
        ],
        "note": (
            "production-K BPE training: per-iteration cost is bound by the "
            "distinct vocabulary (flat across merges) — flatness ~1 is the "
            "measured claim; the K=4 registered query covers value "
            "correctness, this tier covers the scale story including the "
            "32-merge lineage checkpoint cadence"
        ),
    }


def main() -> None:
    from airdatapipeline_spark.session import get_spark

    spark = get_spark("bench")
    warm_up(spark, SF_DIR)

    # Machine-speed calibration (VERDICT-r7 item 1): identical-HEAD runs
    # have drifted uniformly ~1.3x under ambient host throttling (r7), so
    # the compact line carries a python-probe reading at suite start,
    # after the headline tier and at suite end. `throttled` (probe drift >
    # 1.15 in either direction) marks a reading as untrustworthy for
    # cross-round comparison.
    cal_start = _calibrate()
    sys.stderr.write(f"[calibration/start] {cal_start}\n")

    timings: dict[str, float] = {}
    dispersion: dict[str, list[float]] = {}
    io_by_query: dict[str, dict] = {}
    for name in HEADLINE:
        runs = _run_samples(
            query_fn(spark, name, SF_DIR), spark=spark, io_sink=io_by_query, io_key=name
        )
        dispersion[name] = runs
        timings[name] = _median(runs)
        sys.stderr.write(f"{name}: {timings[name]}s (runs {runs}) io {io_by_query.get(name)}\n")

    # post-headline probe (r11): the headline `throttled` flag keys on the
    # start -> post-headline bracket, the window the reported numbers ran
    # in. The suite-end probe ran after ~20 more minutes of replica/writes
    # churn and read a stable ~1.18x process-state tax on clean windows;
    # it stays recorded so contamination of the LATER tiers is visible.
    cal_headline = _calibrate()
    sys.stderr.write(f"[calibration/post-headline] {cal_headline}\n")

    verifier: dict[str, float] = {}
    for name in VERIFIER:
        runs = _run_samples(query_fn(spark, name, SF_DIR), spark)
        dispersion[name] = runs
        verifier[name] = _median(runs)
        sys.stderr.write(f"[verifier] {name}: {verifier[name]}s (runs {runs})\n")

    # --- scaling tier: same queries on the replica warehouse ----------------
    scaling: dict | None = None
    try:
        from airdatapipeline_spark.sources.scale import build_replica_warehouse

        build_replica_warehouse(spark, SF_DIR, SCALE_DIR, SCALE_COPIES)
        per_query: dict[str, dict] = {}
        for name in SCALING:
            if name not in timings:
                continue
            runs = _run_samples(query_fn(spark, name, SCALE_DIR), spark)
            big = _median(runs)
            ratio = round(big / timings[name], 2) if timings[name] > 0 else None
            per_query[name] = {
                "base": timings[name], "big": big, "ratio": ratio, "big_runs": runs,
            }
            sys.stderr.write(f"[x{SCALE_COPIES}] {name}: {big}s (ratio {ratio})\n")
        # fuzzy decontamination: fixed-eval-benchmark variant (VERDICT-r9
        # item 6). The stock query on the replica is quadratic BY
        # CONSTRUCTION (every copy of an eval doc stays eval — copy
        # offsets are multiples of eval_mod — and all copies of one
        # original are near-dups of each other), so the row would measure
        # the synthesis, not the plan. The production claim is "work ∝
        # candidates ∝ |eval| x dup-rate, never |train| x |eval|": hold
        # the eval benchmark at the BASE cardinality (eval_mod scaled by
        # the copy count selects the same NUMBER of eval docs from the
        # 10x corpus) and let only the train side grow.
        fd_name = "dedup_fuzzy_decontamination"
        if fd_name in timings:
            from airdatapipeline_spark.operators.dedup import fuzzy_decontamination

            runs = _run_samples(
                lambda: fuzzy_decontamination(
                    spark, SCALE_DIR, eval_mod=50 * SCALE_COPIES
                ),
                spark,
            )
            big = _median(runs)
            per_query[fd_name] = {
                "base": timings[fd_name],
                "big": big,
                "ratio": round(big / timings[fd_name], 2) if timings[fd_name] > 0 else None,
                "big_runs": runs,
                "note": (
                    "fixed-eval variant: eval_mod scaled by the copy count "
                    "(same eval-doc cardinality, 10x train corpus) — the "
                    "stock query on the replica is copies^2 by replication "
                    "artifact (all copies of an eval doc stay eval and are "
                    "mutual near-dups), see SCALING list comment"
                ),
            }
            sys.stderr.write(
                f"[x{SCALE_COPIES}] {fd_name} (fixed-eval): {big}s "
                f"(ratio {per_query[fd_name]['ratio']})\n"
            )
        scaling = {
            "data_ratio": float(SCALE_COPIES),
            "queries": per_query,
            "base_total": round(sum(v["base"] for v in per_query.values()), 3),
            "big_total": round(sum(v["big"] for v in per_query.values()), 3),
        }
    except Exception as exc:  # noqa: BLE001 - bench must still emit its line
        scaling = {"error": f"{type(exc).__name__}: {exc}"}

    # --- writes tier: the I/O lifecycle ops, base + replica (VERDICT-r5 #6) -
    writes: dict | None = None
    try:
        writes = _writes_tier(spark)
    except Exception as exc:  # noqa: BLE001 - bench must still emit its line
        writes = {"error": f"{type(exc).__name__}: {exc}"}

    # --- writes_distinct tier: the lifecycle scenario under 10x-DISTINCT
    # ingest (VERDICT-r7 item 6), re-measured every round, not once ------
    writes_distinct: dict | None = None
    try:
        writes_distinct = _writes_distinct_tier(spark, SF_DIR)
    except Exception as exc:  # noqa: BLE001 - bench must still emit its line
        writes_distinct = {"error": f"{type(exc).__name__}: {exc}"}

    # --- BPE production-merge-count tier (VERDICT-r9 item 5) ----------------
    bpe_production: dict | None = None
    try:
        bpe_production = _bpe_production_tier(spark)
        sys.stderr.write(
            f"[bpe_production] {bpe_production['n_merges']} merges in "
            f"{bpe_production['total_s']}s (flatness "
            f"{bpe_production['flatness_last8_over_first8']})\n"
        )
    except Exception as exc:  # noqa: BLE001 - bench must still emit its line
        bpe_production = {"error": f"{type(exc).__name__}: {exc}"}

    # end-of-suite probe: brackets the run so a mid-suite throttle window
    # is visible (a single start-of-run sample cannot attribute third-run
    # outliers in `dispersion` to host drift)
    cal_end = _calibrate()
    sys.stderr.write(f"[calibration/end] {cal_end}\n")

    def drift(cal_a: dict, cal_b: dict) -> float | None:
        lo, hi = sorted((cal_a["python_loop_s"], cal_b["python_loop_s"]))
        return round(hi / lo, 3) if lo > 0 else None

    py_drift = drift(cal_start, cal_headline)
    py_drift_full = drift(cal_start, cal_end)
    throttled = bool(py_drift and py_drift > 1.15)
    # throttled_late (ADVICE-r11): ambient throttling that begins AFTER
    # the headline bracket — during the verifier/scaling/writes tiers —
    # never trips `throttled`, so nothing downstream guarded the
    # non-headline comparisons. Flag the full start->end bracket
    # separately; the later tiers' sections quote per-run spreads, and
    # this flag says which rounds' spreads ran on a drifting host.
    throttled_late = bool(
        not throttled and py_drift_full and py_drift_full > 1.15
    )
    calibration_line = {
        "start": cal_start,
        "post_headline": cal_headline,
        "end": cal_end,
        "py_drift": py_drift,
        "py_drift_full": py_drift_full,
        "throttled": throttled,
        "throttled_late": throttled_late,
    }

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    detail = {
        "calibration": {
            "note": (
                "fixed-workload machine-speed reference (a pure-Python "
                "loop), probed at suite START, POST-HEADLINE and END — same "
                "dict as the compact line's `calibration` key. Compare two "
                "runs' query medians only after dividing by their probe "
                "ratio: identical-HEAD runs drift uniformly ~1.3x under "
                "ambient host throttling (observed r7). throttled = start/"
                "post-headline probe drift > 1.15 (either direction) — the "
                "bracket the reported headline numbers ran in; the headline "
                "tier runs once and a flagged window is reported as is. "
                "py_drift_full is the start/end drift, and throttled_late "
                "flags a run whose LATER tiers drifted past 1.15 even though "
                "the headline bracket was clean (ADVICE-r11)."
            ),
            **calibration_line,
        },
        "dispersion": {
            "note": (
                "sorted per-run times (3 runs) for every headline/verifier "
                "query; the compact line reports the MEDIAN. A wide spread "
                "marks a reading as ambient noise, not a plan change "
                "(r5's +9% headline drift was unattributable under "
                "best-of-2 — VERDICT-r5 item 2)."
            ),
            "runs": dispersion,
        },
        "verifier": {
            "note": (
                "quadratic-by-design ground-truth tier (exact brute-force "
                "ANN) — grades approximate-tier recall, excluded from the "
                "headline total because it is not a plan you run at 100x"
            ),
            "queries": verifier,
            "total": round(sum(verifier.values()), 3),
        },
        "io": {
            "note": (
                "per-headline-query counters of the final timed run, build "
                "included, summed over the stages of its job group "
                "(perfbench/layers.py group_counters, read from the status "
                "store with the UI off): jobs, stages, tasks, executor run/"
                "CPU/GC seconds, input MB at the sources, shuffle write/read "
                "MB between stages and spill MB; build_s (building the "
                "frame, build-time jobs included) + exec_s (the noop write) "
                "= the run's wall time; analysis_ms/optimization_ms/"
                "planning_ms are the Catalyst phases of the built frame, "
                "read after the timer stopped; runs = every run's time in "
                "run order. This is the measured form "
                "of the plan claims — a query whose shuffle_write_mb rivals "
                "its input_mb is reshuffling the input (candidate for "
                "broadcast/bucketing/pre-aggregation); compressed-domain "
                "tiers should shuffle codes, not arrays."
            ),
            "queries": io_by_query,
        },
        "scaling": scaling,
        "writes": writes,
        "writes_distinct": writes_distinct,
        "bpe_production": bpe_production,
        "note": (
            "headline contains scale-safe plans only (brute-force ANN "
            "lives in the verifier section); scaling re-measures the "
            "scale-eligible headline queries on a 10x replica warehouse — "
            "near-linear ratios expected (ratio << 10 means fixed "
            "per-stage overhead still dominates at base scale). writes "
            "measures the I/O lifecycle ops (shard layout write, "
            "compaction, IVF index build) base + 10x. Forcing unchanged "
            "since r2 (noop write); r6 switches best-of-2 -> median-of-3 "
            "with per-run dispersion recorded (expect a small uniform "
            "headline shift vs r5: median >= min by construction)."
        ),
    }
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    with open(detail_path, "w") as fh:
        json.dump(detail, fh, indent=1)
    sys.stderr.write(f"verifier/scaling detail written to {detail_path}\n")

    # The compact line is the LAST stdout line (driver parses the tail).
    # `calibration` rides in-band (VERDICT-r7 item 1) so BENCH_r0N.json is
    # self-normalizing: cross-round deltas divide by the python probe
    # ratio, and `throttled` flags a run whose start/post-headline probes
    # disagree (the bracket the reported numbers ran in; full-suite drift
    # stays visible as py_drift_full).
    print(
        json.dumps(
            {
                "metric": "headline_query_total",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "queries": timings,
                "sf": float(sf) if sf.replace(".", "").isdigit() else SF_DIR,
                "calibration": calibration_line,
            }
        )
    )


if __name__ == "__main__":
    main()
