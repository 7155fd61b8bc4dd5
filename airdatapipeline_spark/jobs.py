"""Operational entry points — the reference's two Airflow DAGs as runnable
jobs (orchestration stays out-of-engine per SURVEY §7.0: point Airflow's
SparkSubmitOperator, cron, or any scheduler at these).

    python -m airdatapipeline_spark.jobs scrape  --landing DIR --warehouse DIR
    python -m airdatapipeline_spark.jobs enrich  --sf-dir DIR [--batch N]
    python -m airdatapipeline_spark.jobs gold    --sf-dir DIR --out DIR
    python -m airdatapipeline_spark.jobs validate --sf-dir DIR
    python -m airdatapipeline_spark.jobs report  --sf-dir DIR
    python -m airdatapipeline_spark.jobs curate  --sf-dir DIR [--out DIR]
    python -m airdatapipeline_spark.jobs expectations --sf-dir DIR [--strict]
    python -m airdatapipeline_spark.jobs shards  ACTION --layout DIR [...]
        (ACTION: write | append | compact | delete | vacuum | manifest |
         verify | schedule | slice — the trainer shard-layout lifecycle;
         verify exits nonzero on any red shard, the pre-training
         integrity gate)

Task mapping to the reference (file:line in /root/reference/):
  scrape   = g1_scraping_pipeline (dags/g1_scraping_dag.py:86)
  enrich   = create_silver >> check_pending >> run_llm_enricher
             (dags/g1_enrichement_dag.py:264-271)
  gold     = dbt run (README.md:139-158)
  validate = validate_enriched_data (dags/g1_enrichement_dag.py:137-193)
  report   = generate_enrichment_report (dags/g1_enrichement_dag.py:197-262)
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="airdatapipeline_spark.jobs")
    sub = p.add_subparsers(dest="job", required=True)

    s = sub.add_parser("scrape")
    s.add_argument("--landing", required=True)
    s.add_argument("--warehouse", required=True)
    s.add_argument("--run-id", default="manual")
    s.add_argument(
        "--scraper",
        choices=["fake", "playwright"],
        default="fake",
        help="'fake' emits deterministic SYNTHETIC rows (and overwrites the "
        "warehouse Bronze with them) — only 'playwright' scrapes for real",
    )

    e = sub.add_parser("enrich")
    e.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    e.add_argument("--batch", type=int, default=None)
    e.add_argument(
        "--out", default=None, help="warehouse dir to persist the post-run silver table into"
    )

    g = sub.add_parser("gold")
    g.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    g.add_argument("--out", required=True)

    from .model import TODAY as _TODAY

    v = sub.add_parser("validate")
    v.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    v.add_argument("--today", default=_TODAY, help="gate date (default: the pinned test date)")

    r = sub.add_parser("report")
    r.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    r.add_argument("--today", default=_TODAY, help="report date (default: the pinned test date)")

    c = sub.add_parser(
        "curate",
        help="training-data curation: quality + language gates + near-dup "
        "removal over the documents corpus (the extension families' "
        "composite), optionally persisted as a parquet snapshot",
    )
    c.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    c.add_argument("--out", default=None, help="write curated docs here as parquet")
    c.add_argument("--min-quality", type=float, default=0.5)
    c.add_argument("--min-words", type=int, default=20)
    c.add_argument("--lang", default="en")

    sh = sub.add_parser(
        "shards",
        help="trainer shard-layout lifecycle: write a fresh layout, append "
        "a delta batch, compact fragment shards, delete doc ids "
        "(right-to-be-forgotten), or (re)build + verify the integrity "
        "manifest. Single-writer per layout, ENFORCED by an advisory "
        "flock on <layout>.__lock__ — a concurrent mutating op fails "
        "loud instead of interleaving staged swaps.",
    )
    sh.add_argument(
        "action",
        choices=[
            "write", "append", "compact", "delete", "vacuum", "manifest",
            "verify", "schedule", "slice",
        ],
    )
    sh.add_argument("--layout", required=True, help="shard layout root directory")
    sh.add_argument("--sf-dir", default="/root/testdata/sf0.01",
                    help="documents source (write/append)")
    sh.add_argument("--budget", type=int, default=None, help="tokens per shard")
    sh.add_argument("--min-fill", type=float, default=0.5,
                    help="compact shards below this fill fraction")
    sh.add_argument("--ids", default=None,
                    help="delete/vacuum: parquet path with a doc_id column")
    sh.add_argument("--no-tombstone", action="store_true",
                    help="delete: do NOT record the ids in the layout's "
                    "_deleted/ table (allows later re-admission; default "
                    "records every requested id so appends bar them)")
    sh.add_argument("--epochs", type=int, default=3,
                    help="schedule: number of training epochs to plan")
    sh.add_argument("--epoch", type=int, default=0,
                    help="slice: which epoch the resuming loader is in")
    sh.add_argument("--start-tok", type=int, default=0,
                    help="slice: epoch-local token offset to resume from")
    sh.add_argument("--end-tok", type=int, default=None,
                    help="slice: epoch-local token offset to read to "
                    "(default: start-tok + one shard budget)")
    sh.add_argument("--out", default=None,
                    help="schedule: also persist the schedule parquet here")

    se = sub.add_parser(
        "search",
        help="BM25-ranked retrieval over the documents corpus (Okapi "
        "k1=1.2 b=0.75 over the positional postings index; idf baked "
        "driver-side at query-planning time). Default query is the "
        "df-rank-10..12 demo triple the oracle checks; pass --terms "
        "for a real query.",
    )
    se.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    se.add_argument(
        "--terms", default=None,
        help="comma-separated query terms (default: data-derived demo query)",
    )
    se.add_argument("--topk", type=int, default=20)

    x = sub.add_parser(
        "expectations",
        help="data-quality gate: run the declarative expectations suite and "
        "exit nonzero if any rule fails (the dbt-test analog; --strict "
        "includes the deliberately-strict demo rules, default gates only "
        "on the rules the data is expected to satisfy)",
    )
    x.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    x.add_argument("--strict", action="store_true")

    args = p.parse_args(argv)

    from .session import get_spark, query_scope

    spark = get_spark(f"job-{args.job}")
    with query_scope(spark):
        return _run(p, args, spark)


def _run(p: argparse.ArgumentParser, args: argparse.Namespace, spark) -> int:
    """Run the parsed job; its exit code."""
    from . import model, pipeline
    from .operators import gold as gold_ops

    if args.job == "scrape":
        from .sources import scrape as scrape_mod

        scraper = (
            scrape_mod.PlaywrightScraper() if args.scraper == "playwright" else None
        )
        bronze = pipeline.run_scrape_job(
            spark, args.landing, args.warehouse, args.run_id, scraper=scraper
        )
        print(json.dumps({"job": "scrape", "bronze_rows": bronze.count()}))
    elif args.job == "enrich":
        from .sources import csv_io

        silver = pipeline.run_enrichment(spark, args.sf_dir, batch=args.batch)
        out = {"job": "enrich", "silver_rows": silver.count()}
        if args.out:
            out["path"] = csv_io.write_silver_partitioned(silver, args.out)
        print(json.dumps(out))
    elif args.job == "gold":
        pipeline.write_gold(spark, args.sf_dir, args.out)
        n = spark.read.parquet(f"{args.out}/daily_sentiment_analysis").count()
        print(json.dumps({"job": "gold", "sentiment_days": n, "out": args.out}))
    elif args.job == "validate":
        row = gold_ops.validation_gates(
            model.silver_enriched(spark, args.sf_dir), args.today
        ).collect()[0]
        # reference semantics: warnings, not failures (dags/g1_enrichement_dag.py:176-193)
        print(json.dumps({"job": "validate", **row.asDict()}, default=str))
    elif args.job == "report":
        from .operators import relational

        silver = model.silver_enriched(spark, args.sf_dir).cache()
        try:
            bronze_clean = relational.clean_headlines(
                model.bronze_headlines(spark, args.sf_dir)
            )
            totals = gold_ops.scalar_counts(bronze_clean, silver, args.today).collect()[0]
            top = [
                r.asDict()
                for r in gold_ops.top_categories_today(silver, args.today, 5).collect()
            ]
            avg_t = gold_ops.avg_processing_time_today(silver, args.today).collect()[0][0]
        finally:
            silver.unpersist()
        out = totals.asDict()
        out["pending"] = out["total_raw"] - out["total_processed"]
        print(
            json.dumps(
                {"job": "report", **out, "avg_processing_time": avg_t, "top_categories": top},
                default=str,
            )
        )
    elif args.job == "search":
        from .operators import text as text_ops

        terms = (
            [t.strip() for t in args.terms.split(",") if t.strip()]
            if args.terms
            else None
        )
        hits = [
            r.asDict()
            for r in text_ops.bm25_topk(
                spark, args.sf_dir, k=args.topk, terms=terms
            ).collect()
        ]
        print(json.dumps({"job": "search", "terms": terms, "hits": hits}))
    elif args.job == "expectations":
        from .operators import expectations as exp_ops

        demo_strict = {"orders_status_domain", "lineitem_discount_cap"}
        rows = [r.asDict() for r in exp_ops.tpch_quality_report(spark, args.sf_dir).collect()]
        gated = [r for r in rows if args.strict or r["rule_id"] not in demo_strict]
        failed = [r["rule_id"] for r in gated if not r["passed"]]
        print(json.dumps({"job": "expectations", "rules": rows, "failed": failed}))
        return 1 if failed else 0
    elif args.job == "shards":
        from .operators import corpus

        # `is not None`, not `or`: an explicit --budget 0 must error below,
        # not silently become the default (ADVICE-r7)
        budget = args.budget if args.budget is not None else corpus.SHARD_TOKENS
        if budget <= 0:
            p.error(f"--budget must be a positive token count, got {budget}")
        if args.action == "write":
            res = corpus.write_shards(spark, args.sf_dir, args.layout, budget)
        elif args.action == "append":
            res = corpus.append_shards(spark, args.sf_dir, args.layout, budget)
        elif args.action == "compact":
            res = corpus.compact_shards(
                spark, args.layout, budget, min_fill=args.min_fill
            )
        elif args.action == "delete":
            if not args.ids:
                p.error("shards delete requires --ids PARQUET_PATH")
            res = corpus.delete_from_shards(
                spark, spark.read.parquet(args.ids), args.layout,
                tombstone=not args.no_tombstone,
            )
        elif args.action == "vacuum":
            # the ONE sanctioned tombstone shrink: the operator attests the
            # ids can never be redelivered (see corpus.vacuum_tombstones)
            if not args.ids:
                p.error("shards vacuum requires --ids PARQUET_PATH")
            res = corpus.vacuum_tombstones(
                spark, spark.read.parquet(args.ids), args.layout
            )
        elif args.action == "manifest":
            res = {"manifest": corpus.write_layout_manifest(spark, args.layout)}
        elif args.action == "schedule":
            # the trainer-facing restart path: per-epoch shard reading
            # order over the WRITTEN artifact (generation-local ids,
            # post-compaction/deletion retirement included) — K rows per
            # epoch, never the corpus
            sched = corpus.epoch_schedule_for_layout(
                spark, args.layout, n_epochs=args.epochs
            )
            if args.out:
                sched.coalesce(1).write.mode("overwrite").parquet(args.out)
            agg = sched.groupBy("epoch").count().orderBy("epoch").collect()
            res = {
                "epochs": len(agg),
                "shards_per_epoch": {int(r["epoch"]): int(r["count"]) for r in agg},
            }
            if args.out:
                res["out"] = args.out
        elif args.action == "slice":
            end_tok = (
                args.end_tok if args.end_tok is not None else args.start_tok + budget
            )
            rows = corpus.epoch_token_slice_for_layout(
                spark, args.layout, args.epoch, args.start_tok, end_tok
            ).orderBy("order_rank").collect()
            res = {
                "epoch": args.epoch,
                "start_tok": args.start_tok,
                "end_tok": end_tok,
                "covering_shards": [r.asDict() for r in rows],
            }
        else:  # verify
            # collect the K-row report once — the verify plan re-fingerprints
            # every shard payload, so a second action would double the scan
            rows = corpus.verify_shards(spark, args.layout).collect()
            bad = [r.asDict() for r in rows if not r["shard_ok"]]
            res = {"shards": len(rows), "bad": bad}
            print(json.dumps({"job": "shards", "action": "verify", **res}, default=str))
            return 1 if bad else 0
        print(json.dumps({"job": "shards", "action": args.action, **res}))
    elif args.job == "curate":
        from .operators import text as text_ops

        curated = text_ops.curated_documents(
            spark,
            args.sf_dir,
            min_quality=args.min_quality,
            min_words=args.min_words,
            lang=args.lang,
        )
        if args.out:
            curated.write.mode("overwrite").parquet(args.out)
            curated = spark.read.parquet(args.out)
        n_total = spark.read.parquet(f"{args.sf_dir}/documents.parquet").count()
        n_kept = curated.count()
        print(
            json.dumps(
                {
                    "job": "curate",
                    "corpus_docs": n_total,
                    "curated_docs": n_kept,
                    "kept_pct": round(100.0 * n_kept / n_total, 2) if n_total else None,
                    **({"out": args.out} if args.out else {}),
                }
            )
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
