"""Split a query's wall time into DSL-build / plan (analyze+optimize+codegen
prep) / execute phases — the guide §1 'empirical vs first-principles' split
for a bench whose data is small enough that Catalyst and job-orchestration
overheads rival the actual data work.

For each query name (or --all-heavy for the round's shortlist):
  build_s    time to construct the DataFrame (Python DSL + any driver-side
             collects the operator performs while building, e.g. centroid
             tables — these run Spark jobs and are charged here on purpose:
             they are driver-side model/planning steps, not the main plan)
  plan_s     time for explain('formatted') on the built frame (analysis +
             optimization of the final plan, no execution)
  exec1_s    first noop-forced run (pays Janino codegen for this plan)
  exec2_s    second noop-forced run (steady state; codegen cache warm)

Each run builds and forces the query in its own `query_scope`, so run 2
reads nothing run 1 persisted.

Usage: python tools/phase_profile.py [sf_dir] q1 q2 ...
"""

from __future__ import annotations

import io
import json
import os
import sys
import time
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

HEAVY = [
    "simsearch_rp_recall",
    "simsearch_clustered_rpq_rerank",
    "emb_kmeans_sq8_stats",
    "training_data_build",
    "curation_pipeline",
    "simsearch_ivfpq_topk",
    "text_kmv_source_overlap",
    "emb_cluster_labels",
    "text_hll_shingle_cardinality",
    "text_lm_perplexity_filter",
    "simsearch_ivf_topk",
    "dedup_fuzzy_decontamination",
    "simsearch_bq_topk",
    "flagship_pipeline",
    "text_token_rarity_scores",
]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    names = sys.argv[2:] or HEAVY

    import __spark_entry__ as entrymod
    from airdatapipeline_spark.session import get_spark, query_scope

    spark = get_spark("phase_profile")
    queries = entrymod.queries()

    # warm the session the way bench.py does
    spark.range(1000).selectExpr("sum(id)").collect()
    for t in ("lineitem", "orders", "customer", "documents", "embeddings", "events"):
        spark.read.parquet(f"{sf_dir}/{t}.parquet").limit(1).collect()
    spark.range(64).mapInPandas(lambda it: (p for p in it), schema="id long").count()

    def fn(name):
        if name == "flagship_pipeline":
            from airdatapipeline_spark.pipeline import flagship

            return lambda: flagship(spark, sf_dir)
        return lambda: queries[name](spark, sf_dir)

    out = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"profile:{name}")
        with query_scope(spark):
            t0 = time.time()
            df = fn(name)()
            t1 = time.time()
            with redirect_stdout(io.StringIO()):
                df.explain("formatted")
            t2 = time.time()
            df.write.format("noop").mode("overwrite").save()
            t3 = time.time()
        with query_scope(spark):
            t3r = time.time()
            df2 = fn(name)()  # rebuild so run 2 matches bench methodology
            t4 = time.time()
            df2.write.format("noop").mode("overwrite").save()
            t5 = time.time()
        out[name] = {
            "build_s": round(t1 - t0, 3),
            "plan_s": round(t2 - t1, 3),
            "exec1_s": round(t3 - t2, 3),
            "rebuild_s": round(t4 - t3r, 3),
            "exec2_s": round(t5 - t4, 3),
        }
        sys.stderr.write(f"{name}: {out[name]}\n")
        spark.sparkContext.setJobDescription(None)
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
