"""Sources and sinks: scrape source tiers, CSV roundtrip, partitioned
silver writes, incremental/merge/CDC/targeted-delete/snapshot sinks, SCD2,
compaction roundtrip."""

from __future__ import annotations

from pyspark.sql import functions as F
from .. import model
from ..model import TODAY, URL_PREFIX, with_model_ctes
from ..operators import relational
from ..operators import scd
from ..operators import incremental
from ..operators import corpus
from ..sources import maintenance
from ..sources import csv_io
from ..sources import scrape
from ..session import scratch_dir
from .core import register
from ._shared import GOLD_S_CTE


_FAKE_SCRAPE_CTE = """
fake AS (
  SELECT i AS doc_id,
         CASE WHEN i % 13 = 0 THEN 'curta ' || CAST(i AS VARCHAR)
              ELSE 'Notícia de teste número ' || CAST(i AS VARCHAR)
                   || ' com título suficientemente longo' END AS title,
         CASE WHEN i % 11 = 0 THEN 'ftp://invalid.example/' || CAST(lid AS VARCHAR)
              WHEN i % 7 = 0 THEN '/noticia/' || CAST(lid AS VARCHAR)
              ELSE 'https://g1.globo.com/noticia/' || CAST(lid AS VARCHAR) END AS link,
         'G1' AS source,
         TIMESTAMP '2025-08-01 08:00:00' + (i % 10) * INTERVAL 1 DAY AS scraped_at
  FROM (SELECT i, CASE WHEN i % 10 = 9 THEN i - 1 ELSE i END AS lid
        FROM generate_series(0, 99) t(i))
)
""".strip()


@register(
    "src1_scrape_clean",
    "WITH "
    + _FAKE_SCRAPE_CTE
    + f"""
    SELECT doc_id, title, link, source, scraped_at FROM (
      SELECT *, row_number() OVER (PARTITION BY title ORDER BY doc_id) AS rn_t FROM (
        SELECT *, row_number() OVER (PARTITION BY link ORDER BY doc_id) AS rn_l FROM (
          SELECT doc_id, title,
                 CASE WHEN link LIKE '/%' THEN '{URL_PREFIX}' || link
                      WHEN link LIKE 'http%' THEN link END AS link,
                 source, scraped_at
          FROM fake WHERE length(title) >= 15
        ) WHERE link IS NOT NULL
      ) WHERE rn_l = 1
    ) WHERE rn_t = 1
    """,
)
def src1(spark, sf_dir):
    raw = scrape.scrape_to_dataframe(spark, scrape.FakeScraper(n_rows=100))
    return relational.clean_headlines(raw)


@register(
    "src_csv_roundtrip",
    with_model_ctes(
        """
        SELECT source, COUNT(*) AS n, MIN(scraped_at) AS first_scraped,
               MAX(scraped_at) AS last_scraped
        FROM bronze_clean GROUP BY 1
        """,
        bronze_clean=True,
    ),
)
def src_csv(spark, sf_dir):
    """Lossless CSV round-trip: clean bronze → CSV landing dir (explicit
    NTZ format) → schema-pinned read-back → aggregate. The oracle aggregates
    the pre-roundtrip frame, so a match proves no type/precision loss."""
    bronze_clean = relational.clean_headlines(model.bronze_headlines(spark, sf_dir))
    land = scratch_dir("csv_landing_")
    csv_io.write_headlines_csv(bronze_clean, land, "bench")
    back = csv_io.read_headlines_csv(spark, csv_io.latest_run_dir(land))
    return back.groupBy("source").agg(
        F.count("*").alias("n"),
        F.min("scraped_at").alias("first_scraped"),
        F.max("scraped_at").alias("last_scraped"),
    )


@register(
    "src_format_roundtrip",
    """
    WITH agg AS (
      SELECT source, COUNT(*) AS n,
             CAST(SUM(n_chars) AS BIGINT) AS chars,
             CAST(SUM(CAST(concat('0x', substr(md5(
                   CAST(doc_id AS VARCHAR) || '|' || lang || '|' || text
                 ), 1, 14)) AS BIGINT) % 1099511627776) AS BIGINT) AS fp
      FROM documents GROUP BY 1
    )
    SELECT f.format, a.source, a.n, a.chars, a.fp
    FROM agg a CROSS JOIN (VALUES ('json'), ('orc')) f(format)
    """,
)
def src_formats(spark, sf_dir):
    """Lossless JSON-lines and ORC round-trips of the documents corpus
    (format breadth beside CSV/parquet/JDBC): write each format to a temp
    landing dir, read back with the EXPLICIT schema (JSON is never
    inferred — inference is nondeterministic under partial scans), and
    fingerprint per source: row count, char mass, and a content-hash sum
    over (doc_id, lang, text). The oracle computes the same fingerprints
    ONCE from the parquet source and emits them under both format labels —
    format-independent by construction, so any row lost, duplicated, or
    textually mangled by either writer/reader reds exactly that format's
    rows. ORC additionally exercises the second columnar container Spark
    ships in-box (same pushdown/pruning machinery as parquet)."""
    import os

    from ..io import load_table

    docs = load_table(spark, sf_dir, "documents")
    root = scratch_dir("fmt_roundtrip_")
    schema = "doc_id bigint, text string, lang string, source string, n_chars bigint"
    backs = []
    from ..operators.text import _hash_bucket

    for fmt in ("json", "orc"):
        path = os.path.join(root, fmt)
        docs.write.format(fmt).mode("overwrite").save(path)
        back = spark.read.format(fmt).schema(schema).load(path)
        # the repo's one content-hash idiom (operators/text._hash_bucket)
        # over the compound (doc_id, lang, text) key. F.concat (NOT
        # concat_ws) to mirror the oracle's '||': both propagate NULL, so a
        # NULL lang/text drops the SAME row from both engines' fingerprint
        # sums instead of silently fingerprinting different row sets
        # (ADVICE-r8).
        fp = _hash_bucket(
            1099511627776,
            key=F.concat(
                F.col("doc_id").cast("string"),
                F.lit("|"),
                F.col("lang"),
                F.lit("|"),
                F.col("text"),
            ),
        )
        backs.append(
            back.groupBy("source").agg(
                F.count("*").alias("n"),
                F.sum("n_chars").alias("chars"),
                F.sum(fp).alias("fp"),
            ).select(F.lit(fmt).alias("format"), "source", "n", "chars", "fp")
        )
    return backs[0].unionByName(backs[1])


@register(
    "snk_silver_partitioned_prune",
    with_model_ctes(
        f"""
        SELECT sentiment, COUNT(*) AS n FROM silver
        WHERE CAST(processed_at AS DATE) = DATE '{TODAY}' GROUP BY 1
        """,
        silver=True,
    ),
)
def snk_silver(spark, sf_dir):
    """Date-partitioned silver write → read-back → today filter: the filter
    hits the partition column, so the scan prunes to one directory (the
    Spark replacement for the reference's processed_at index)."""
    silver = model.silver_enriched(spark, sf_dir)
    wh = scratch_dir("warehouse_")
    path = csv_io.write_silver_partitioned(silver, wh)
    back = spark.read.parquet(path)
    return (
        back.filter(F.col("processed_date") == F.lit(TODAY).cast("date"))
        .groupBy("sentiment")
        .agg(F.count("*").alias("n"))
    )

_FAKE_SCRAPE_200_CTE = _FAKE_SCRAPE_CTE.replace("generate_series(0, 99)", "generate_series(0, 199)")


@register(
    "src1_datasource_scrape",
    "WITH " + _FAKE_SCRAPE_200_CTE + """
    SELECT doc_id, title, link, source, scraped_at FROM fake
    """,
)
def src1_ds(spark, sf_dir):
    """SRC1 scale path: executor-side scraping via a registered Python
    DataSource (each partition scrapes its shard)."""
    from ..sources.scrape_datasource import HeadlineScrapeDataSource

    try:
        spark.dataSource.register(HeadlineScrapeDataSource)
    except Exception:
        pass  # already registered in this session
    return (
        spark.read.format("headline_scrape")
        .option("n_rows", 200)
        .option("n_partitions", 4)
        .load()
    )


@register(
    "scd2_customer_dim",
    f"""
    WITH dim AS (
      SELECT c_custkey, c_name, c_mktsegment, c_acctbal,
             DATE '{scd.DIM_BASE_DATE}' AS valid_from,
             CAST(NULL AS DATE) AS valid_to, TRUE AS is_current
      FROM customer
    ),
    upd AS (
      SELECT c_custkey, c_name,
             CASE WHEN c_custkey % 7 = 3 THEN 'MOVED' ELSE c_mktsegment END AS c_mktsegment,
             CASE WHEN c_custkey % 7 = 3 THEN c_acctbal + 100.0 ELSE c_acctbal END AS c_acctbal
      FROM customer WHERE c_custkey % 7 IN (3, 5)
    ),
    chg AS (
      SELECT u.* FROM upd u JOIN dim d USING (c_custkey)
      WHERE d.c_name IS DISTINCT FROM u.c_name
         OR d.c_mktsegment IS DISTINCT FROM u.c_mktsegment
         OR d.c_acctbal IS DISTINCT FROM u.c_acctbal
    )
    SELECT d.c_custkey, d.c_name, d.c_mktsegment, d.c_acctbal, d.valid_from,
           CASE WHEN c.c_custkey IS NOT NULL THEN DATE '{scd.UPDATE_EFF_DATE}' END AS valid_to,
           c.c_custkey IS NULL AS is_current
    FROM dim d LEFT JOIN chg c ON d.c_custkey = c.c_custkey
    UNION ALL
    SELECT c_custkey, c_name, c_mktsegment, c_acctbal,
           DATE '{scd.UPDATE_EFF_DATE}' AS valid_from,
           CAST(NULL AS DATE) AS valid_to, TRUE AS is_current
    FROM chg
    """,
)
def q_scd2_customer(spark, sf_dir):
    """SCD2 dimension merge: changed keys close + reopen, no-op update rows
    pass through untouched (idempotent under redelivery)."""
    return scd.scd2_customer_dim(spark, sf_dir)


@register(
    "snk_incremental_gold",
    with_model_ctes("SELECT * FROM gold_s", stg=True, extra=[GOLD_S_CTE]),
)
def q_incremental_gold(spark, sf_dir):
    """Incremental Gold maintenance: initial historical build + one arrived
    batch (containing late data for an old date) folded in via dynamic
    partition overwrite of ONLY the affected date partitions. The oracle is
    the from-scratch full recompute — the maintained table must be
    indistinguishable from it."""
    gold_dir = scratch_dir("gold_incr_")
    return incremental.maintained_daily_sentiment(spark, sf_dir, gold_dir)


@register(
    "snk_compaction_roundtrip",
    f"""
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars,
           CAST(SUM(CAST(concat('0x', substr(md5(text), 1, 14)) AS BIGINT))
                % {corpus.HASH_SUM_MOD} AS BIGINT)
             AS content_hash_sum
    FROM documents GROUP BY 1
    """,
)
def q_compaction(spark, sf_dir):
    """Small-file compaction (sources/maintenance.compact_parquet): the
    documents table fragmented into 64 tiny files — the accreted-sink
    state — then bin-packed in place via the staged-swap rewrite, which
    now also count-verifies the staging dir before the swap. The returned
    fingerprint is computed from the SOURCE table (deterministic under
    any session config) and every output column is guarded in-plan by
    equality with the same aggregate over the compacted read-back, via
    raise_error — so a lost/duplicated file surfaces as a loud error,
    never a silent value drift (the r3 driver failure mode). File-count
    collapse and the swap's crash recovery are asserted in
    tests/test_sources.py."""
    from ..io import load_table

    frag = scratch_dir("frag_")
    docs = load_table(spark, sf_dir, "documents")
    docs.repartition(64).write.mode("overwrite").parquet(frag)
    maintenance.compact_parquet(spark, frag)
    back = spark.read.parquet(frag)

    def agg_of(df):
        # mod-prime fingerprint: exact at any group size (corpus.py ADVICE-r5)
        return df.groupBy("source").agg(
            F.count("*").alias("n_docs"),
            F.sum(F.length("text")).alias("total_chars"),
            corpus.content_hash_sum().alias("content_hash_sum"),
        )

    pre, post = agg_of(docs).alias("pre"), agg_of(back).alias("post")

    def guarded(col):
        # when() keeps the post-side comparison in the plan (unprunable),
        # so the compaction roundtrip is value-verified inside the query
        ok = F.col(f"pre.{col}") == F.col(f"post.{col}")
        return F.when(ok, F.col(f"pre.{col}")).otherwise(
            F.raise_error(
                F.format_string(
                    f"compaction roundtrip corrupted %s.{col}: pre=%s post=%s",
                    F.col("pre.source").cast("string"),
                    F.col(f"pre.{col}").cast("string"),
                    F.col(f"post.{col}").cast("string"),
                )
            )
        ).alias(col)

    return pre.join(post, F.col("pre.source") == F.col("post.source"), "full_outer").select(
        F.coalesce(F.col("pre.source"), F.col("post.source")).alias("source"),
        guarded("n_docs"),
        guarded("total_chars"),
        guarded("content_hash_sum"),
    )


@register(
    "snk_merge_upsert_delete",
    """
    WITH src AS (
      SELECT c_custkey, c_name,
             CASE WHEN c_custkey % 7 = 3 THEN 'MOVED' ELSE c_mktsegment END AS c_mktsegment,
             c_acctbal + 100.0 AS c_acctbal
      FROM customer WHERE c_custkey % 7 IN (3, 5)
      UNION ALL
      SELECT c_custkey + 10000000,
             'NEW ' || CAST(c_custkey + 10000000 AS VARCHAR), 'FRESH', 0.0
      FROM customer WHERE c_custkey % 11 = 0
    )
    SELECT t.c_custkey,
           CASE WHEN s.c_custkey IS NOT NULL THEN s.c_name ELSE t.c_name END AS c_name,
           CASE WHEN s.c_custkey IS NOT NULL THEN s.c_mktsegment ELSE t.c_mktsegment END
             AS c_mktsegment,
           CASE WHEN s.c_custkey IS NOT NULL THEN s.c_acctbal ELSE t.c_acctbal END
             AS c_acctbal
    FROM customer t LEFT JOIN src s ON t.c_custkey = s.c_custkey
    WHERE NOT (s.c_custkey IS NOT NULL AND s.c_acctbal > 9000.0)
    UNION ALL
    SELECT s.c_custkey, s.c_name, s.c_mktsegment, s.c_acctbal
    FROM src s LEFT JOIN customer t ON s.c_custkey = t.c_custkey
    WHERE t.c_custkey IS NULL
    """,
)
def q_merge_scenario(spark, sf_dir):
    """Generalized MERGE INTO (operators/merge.py): one batch exercises all
    three arms against the customer dim — matched UPDATE (acctbal +100,
    segment rewrite for %7==3), matched DELETE (updated balance > 9000),
    and NOT MATCHED INSERT (fresh 10M-offset keys). One full-outer key
    join — the plan a warehouse MERGE compiles to."""
    from ..io import load_table
    from ..operators.merge import merge_into

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment", "c_acctbal"
    )
    updates = cust.filter(F.col("c_custkey") % 7 == 3).select(
        "c_custkey",
        "c_name",
        F.lit("MOVED").alias("c_mktsegment"),
        (F.col("c_acctbal") + 100.0).alias("c_acctbal"),
    ).unionByName(
        cust.filter(F.col("c_custkey") % 7 == 5).select(
            "c_custkey",
            "c_name",
            "c_mktsegment",
            (F.col("c_acctbal") + 100.0).alias("c_acctbal"),
        )
    )
    inserts = cust.filter(F.col("c_custkey") % 11 == 0).select(
        (F.col("c_custkey") + 10000000).alias("c_custkey"),
        F.concat(F.lit("NEW "), (F.col("c_custkey") + 10000000).cast("string")).alias(
            "c_name"
        ),
        F.lit("FRESH").alias("c_mktsegment"),
        F.lit(0.0).alias("c_acctbal"),
    )
    source = updates.unionByName(inserts)
    return merge_into(
        cust,
        source,
        on=["c_custkey"],
        matched_delete=lambda t, s: s["c_acctbal"] > 9000.0,
    )


@register(
    "snk_snapshot_diff",
    """
    WITH src AS (
      SELECT c_custkey, c_name,
             CASE WHEN c_custkey % 7 = 3 THEN 'MOVED' ELSE c_mktsegment END AS c_mktsegment,
             c_acctbal + 100.0 AS c_acctbal
      FROM customer WHERE c_custkey % 7 IN (3, 5)
      UNION ALL
      SELECT c_custkey + 10000000,
             'NEW ' || CAST(c_custkey + 10000000 AS VARCHAR), 'FRESH', 0.0
      FROM customer WHERE c_custkey % 11 = 0
    )
    SELECT c_custkey,
           CASE WHEN c_custkey % 7 IN (3, 5) AND c_acctbal + 100.0 > 9000.0 THEN 'removed'
                WHEN c_custkey % 7 IN (3, 5) THEN 'changed'
                ELSE 'unchanged' END AS change
    FROM customer
    UNION ALL
    SELECT c_custkey, 'added' FROM src WHERE c_custkey >= 10000000
    """,
)
def q_snapshot_diff(spark, sf_dir):
    """Snapshot reconciliation: diff(customer, merge(customer, src)) —
    every key classified added/removed/changed/unchanged. Circular
    validation: the diff must report exactly the MERGE scenario's effects
    (updates → changed unless +100 kept the balance identical — it can't —
    deletes → removed, inserts → added), which is what the oracle derives
    arithmetically from the same source definition."""
    from ..io import load_table
    from ..operators.merge import merge_into, snapshot_diff

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment", "c_acctbal"
    )
    updates = cust.filter(F.col("c_custkey") % 7 == 3).select(
        "c_custkey",
        "c_name",
        F.lit("MOVED").alias("c_mktsegment"),
        (F.col("c_acctbal") + 100.0).alias("c_acctbal"),
    ).unionByName(
        cust.filter(F.col("c_custkey") % 7 == 5).select(
            "c_custkey",
            "c_name",
            "c_mktsegment",
            (F.col("c_acctbal") + 100.0).alias("c_acctbal"),
        )
    )
    inserts = cust.filter(F.col("c_custkey") % 11 == 0).select(
        (F.col("c_custkey") + 10000000).alias("c_custkey"),
        F.concat(F.lit("NEW "), (F.col("c_custkey") + 10000000).cast("string")).alias(
            "c_name"
        ),
        F.lit("FRESH").alias("c_mktsegment"),
        F.lit(0.0).alias("c_acctbal"),
    )
    source = updates.unionByName(inserts)
    merged = merge_into(
        cust,
        source,
        on=["c_custkey"],
        matched_delete=lambda t, s: s["c_acctbal"] > 9000.0,
    )
    return snapshot_diff(cust, merged, on=["c_custkey"])


@register(
    "snk_cdc_apply_changes",
    """
    SELECT c_custkey, c_name,
           CASE WHEN c_custkey % 7 = 3 THEN 'MOVED' ELSE c_mktsegment END AS c_mktsegment,
           CASE WHEN c_custkey % 7 = 3 THEN c_acctbal + 100.0 ELSE c_acctbal END AS c_acctbal
    FROM customer WHERE c_custkey % 7 <> 5
    UNION ALL
    SELECT c_custkey + 10000000,
           'NEW ' || CAST(c_custkey + 10000000 AS VARCHAR), 'FRESH', 0.0
    FROM customer WHERE c_custkey % 11 = 0
    """,
)
def q_cdc_apply(spark, sf_dir):
    """Ordered CDC changelog applied to the customer snapshot: per-key
    latest-wins resolution (seq window) then merge. Keys %7==3 see U@1
    then U@2 (second update wins: +100/MOVED), %7==5 see U@1 then D@2
    (delete wins), %11==0 arrive as inserts at offset keys. The oracle is
    the expected FINAL state — the resolution logic itself is what's
    under test."""
    from ..io import load_table
    from ..operators.merge import apply_changes

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment", "c_acctbal"
    )
    u1 = cust.filter((F.col("c_custkey") % 7).isin(3, 5)).select(
        "c_custkey",
        "c_name",
        "c_mktsegment",
        (F.col("c_acctbal") + 50.0).alias("c_acctbal"),
        F.lit("U").alias("op"),
        F.lit(1).alias("seq"),
    )
    u2 = cust.filter(F.col("c_custkey") % 7 == 3).select(
        "c_custkey",
        "c_name",
        F.lit("MOVED").alias("c_mktsegment"),
        (F.col("c_acctbal") + 100.0).alias("c_acctbal"),
        F.lit("U").alias("op"),
        F.lit(2).alias("seq"),
    )
    d2 = cust.filter(F.col("c_custkey") % 7 == 5).select(
        "c_custkey",
        "c_name",
        "c_mktsegment",
        "c_acctbal",
        F.lit("D").alias("op"),
        F.lit(2).alias("seq"),
    )
    ins = cust.filter(F.col("c_custkey") % 11 == 0).select(
        (F.col("c_custkey") + 10000000).alias("c_custkey"),
        F.concat(F.lit("NEW "), (F.col("c_custkey") + 10000000).cast("string")).alias(
            "c_name"
        ),
        F.lit("FRESH").alias("c_mktsegment"),
        F.lit(0.0).alias("c_acctbal"),
        F.lit("I").alias("op"),
        F.lit(1).alias("seq"),
    )
    changes = u1.unionByName(u2).unionByName(d2).unionByName(ins)
    return apply_changes(cust, changes, on=["c_custkey"])


@register(
    "snk_targeted_delete",
    """
    SELECT CAST(user_id % 8 AS BIGINT) AS bucket, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total_value
    FROM events WHERE user_id NOT IN (3, 11, 42) GROUP BY 1
    """,
)
def q_targeted_delete(spark, sf_dir):
    """Right-to-be-forgotten: events staged partitioned by a user-derived
    bucket; deleting 3 users rewrites ONLY the partitions their buckets
    map to (dynamic overwrite — untouched-partition file lists asserted in
    tests). Oracle = the table minus those users."""
    from ..io import load_table

    staged = scratch_dir("gdpr_")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value", (F.col("user_id") % 8).alias("bucket")
    )
    ev.write.mode("overwrite").partitionBy("bucket").parquet(staged)
    maintenance.delete_keys_partitioned(
        spark, staged, "bucket", "user_id", [3, 11, 42], key_to_part=lambda u: u % 8
    )
    back = spark.read.parquet(staged)
    return back.groupBy(F.col("bucket").cast("long").alias("bucket")).agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(28,6)")).cast("double").alias("total_value"),
    )


# --- z-order layout simulation (operators/layout.py) -------------------------

from ..operators import layout as _layout  # noqa: E402


@register(
    "snk_zorder_layout_stats",
    f"""
    WITH src AS (
      SELECT date_diff('day', DATE '{_layout.SHIP_EPOCH}', l_shipdate)
               // {_layout.D1_DIV} AS d1,
             l_partkey % {_layout.D2_RANGE} AS d2
      FROM lineitem),
    z AS (SELECT d1, d2, {_layout.z_value_sql()} AS z FROM src),
    stats AS (
      SELECT 'zorder' AS layout, z // {_layout.Z_BLOCK} AS file_id,
             COUNT(*) AS n_rows, MIN(d1) AS d1_min, MAX(d1) AS d1_max,
             MIN(d2) AS d2_min, MAX(d2) AS d2_max
      FROM z GROUP BY 2
      UNION ALL
      SELECT 'linear_d1', d1 // {_layout.LIN_BLOCK},
             COUNT(*), MIN(d1), MAX(d1), MIN(d2), MAX(d2)
      FROM z GROUP BY 2),
    touch AS (
      SELECT layout,
             CAST(SUM(d1_max - d1_min + 1) AS DOUBLE)
               / CAST(COUNT(*) * {_layout.D1_RANGE} AS DOUBLE)
               AS expected_touch_d1,
             CAST(SUM(d2_max - d2_min + 1) AS DOUBLE)
               / CAST(COUNT(*) * {_layout.D2_RANGE} AS DOUBLE)
               AS expected_touch_d2
      FROM stats GROUP BY 1)
    SELECT s.layout, CAST(s.file_id AS BIGINT) AS file_id, s.n_rows,
           s.d1_min, s.d1_max, s.d2_min, s.d2_max,
           t.expected_touch_d1, t.expected_touch_d2
    FROM stats s JOIN touch t USING (layout)
    ORDER BY s.layout, s.file_id
    """,
)
def snk_zorder(spark, sf_dir):
    """Z-order vs single-column-sort layout economics over lineitem
    (operators/layout.py module docstring): per-file min/max spans of both
    clustered dimensions + the expected fraction of files a uniform point
    filter touches on each — value-hashed; the physical parquet write +
    SQLMetrics pruning proof lives in tests/test_layout.py."""
    return _layout.zorder_layout_stats(spark, sf_dir)


# --- versioned table layer (r12: manifest log, time travel, change feed) ------

_VT_CHAIN_CTES = """
v1 AS (
  SELECT c_custkey AS k, c_name AS name, c_mktsegment AS seg, c_acctbal AS bal
  FROM customer
),
v2 AS (
  SELECT k, name,
         CASE WHEN k % 7 = 3 THEN 'MOVED' ELSE seg END AS seg,
         CASE WHEN k % 7 = 3 THEN bal + 100.0 ELSE bal END AS bal
  FROM v1
  UNION ALL
  SELECT k + 50000000, name, 'NEW', bal FROM v1 WHERE k % 11 = 0
),
v3 AS (SELECT * FROM v2 WHERE bal <= 9000.0)
""".strip()


def _vt_build_chain(spark, sf_dir):
    """The deterministic 3-version chain both vt_* queries replay:
    v1 create (customer projection) -> v2 MERGE (keys %7=3 change
    segment+balance, %7=5 arrive identical — the no-op idempotence arm —
    and %11=0 insert under offset keys) -> v3 DELETE (bal > 9000).
    Built fresh in a temp dir per call (same pattern as the snk_* sink
    scenarios); file-granular COW and the atomic manifest protocol are
    exercised on every oracle run."""
    from ..io import load_table
    from ..sources import versioned

    base = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"),
        F.col("c_name").alias("name"),
        F.col("c_mktsegment").alias("seg"),
        F.col("c_acctbal").alias("bal"),
    )
    t = versioned.create_table(
        spark, scratch_dir("vt_"), base.repartition(8)
    )
    mod7 = F.col("k") % 7
    src = (
        base.filter(mod7.isin(3, 5))
        .select(
            "k",
            "name",
            F.when(mod7 == 3, F.lit("MOVED")).otherwise(F.col("seg")).alias("seg"),
            F.when(mod7 == 3, F.col("bal") + 100.0).otherwise(F.col("bal")).alias("bal"),
        )
        .unionByName(
            base.filter(F.col("k") % 11 == 0).select(
                (F.col("k") + 50_000_000).alias("k"),
                "name",
                F.lit("NEW").alias("seg"),
                "bal",
            )
        )
    )
    t.merge(src, on=["k"])
    t.delete_where(F.col("bal") > 9000.0)
    return t


@register(
    "vt_time_travel_chain",
    f"""
    WITH {_VT_CHAIN_CTES}
    SELECT 1 AS version, * FROM v1
    UNION ALL SELECT 2, * FROM v2
    UNION ALL SELECT 3, * FROM v3
    """,
)
def q_vt_time_travel(spark, sf_dir):
    """Time travel over the versioned table (sources/versioned.py): every
    row of every committed version, read back through the manifest log —
    create, file-pruned COW merge, COW delete. Proves snapshot isolation
    at the value level: the v1 read after two mutations still hashes to
    the original projection."""
    t = _vt_build_chain(spark, sf_dir)
    out = None
    for v in (1, 2, 3):
        part = t.read(v).select(F.lit(v).cast("int").alias("version"), "*")
        out = part if out is None else out.unionByName(part)
    return out


@register(
    "vt_change_feed_versions",
    f"""
    WITH {_VT_CHAIN_CTES}
    SELECT COALESCE(a.k, b.k) AS k,
           CASE WHEN a.k IS NULL THEN 'added'
                WHEN b.k IS NULL THEN 'removed'
                WHEN a.name IS NOT DISTINCT FROM b.name
                 AND a.seg  IS NOT DISTINCT FROM b.seg
                 AND a.bal  IS NOT DISTINCT FROM b.bal THEN 'unchanged'
                ELSE 'changed' END AS change
    FROM v1 a FULL OUTER JOIN v3 b ON a.k = b.k
    """,
)
def q_vt_change_feed(spark, sf_dir):
    """Change feed between table versions: per-key added / removed /
    changed / unchanged from v1 to v3 (snapshot_diff over two manifest
    reads) — the CDC-out counterpart of snk_cdc_apply_changes' CDC-in."""
    t = _vt_build_chain(spark, sf_dir)
    return t.changes(["k"], 1, 3)
