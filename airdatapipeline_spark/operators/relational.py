"""Relational operators from the reference pipeline (SURVEY.md §2.2/§2.3/§2.7/§2.8).

Every function is a pure DataFrame → DataFrame transform built exclusively
from Catalyst-optimizable primitives: filters/projections push down to the
parquet scan, dedup is a hash aggregate (window variant only where a
deterministic winner is required), and the incremental anti-join lets
Catalyst pick broadcast-hash (small silver) or sort-merge (large silver)
automatically — on a 100 TB bronze the anti-join shuffles only the join key
columns thanks to column pruning.

Reference citations (into /root/reference/) are per-function.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..model import CATEGORIES, SENTIMENTS, URL_PREFIX

VALID_SENTIMENTS = list(SENTIMENTS)
VALID_CATEGORIES = list(CATEGORIES)


def filter_min_title_length(df: DataFrame, min_len: int = 15) -> DataFrame:
    """P2 — drop short titles (scripts/scraper.py:104-106)."""
    return df.filter(F.length("title") >= min_len)


def normalize_links(df: DataFrame, base_url: str = URL_PREFIX) -> DataFrame:
    """P3 — relative→absolute URLs, drop non-http (scripts/scraper.py:149-153)."""
    link = (
        F.when(F.col("link").startswith("/"), F.concat(F.lit(base_url), F.col("link")))
        .when(F.col("link").startswith("http"), F.col("link"))
        .otherwise(F.lit(None).cast("string"))
    )
    return df.withColumn("link", link).filter(F.col("link").isNotNull())


def dedup_first_by(df: DataFrame, key: str, order: str) -> DataFrame:
    """D1/D2 — keep the first row per key, deterministically (first = min
    `order`), mirroring the scraper's first-wins `seen` set
    (scripts/scraper.py:155-160). Window + row_number rather than
    dropDuplicates so the winner is stable under Spark partitioning."""
    w = Window.partitionBy(key).orderBy(F.col(order).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def clean_headlines(bronze: DataFrame) -> DataFrame:
    """Full scraper-side cleaning chain: P2 length filter → P3 URL
    normalization → D1 dedup-by-link → D2 dedup-by-title (first-wins order
    keyed on doc_id, the deterministic stand-in for scrape order)."""
    df = filter_min_title_length(bronze)
    df = normalize_links(df)
    df = dedup_first_by(df, "link", "doc_id")
    df = dedup_first_by(df, "title", "doc_id")
    return df


def validate_domains(df: DataFrame) -> DataFrame:
    """P10 — domain validation + clamp (scripts/llm_enricher.py:184-195):
    invalid sentiment/category → 'Erro', confidence outside [0,1] → 0.0."""
    sentiment = F.when(F.col("sentiment").isin(VALID_SENTIMENTS), F.col("sentiment")).otherwise(
        F.lit("Erro")
    )
    category = F.when(F.col("category").isin(VALID_CATEGORIES), F.col("category")).otherwise(
        F.lit("Erro")
    )
    conf = F.col("confidence_score")
    confidence = F.when((conf >= 0.0) & (conf <= 1.0), conf).otherwise(F.lit(0.0))
    return (
        df.withColumn("sentiment", sentiment)
        .withColumn("category", category)
        .withColumn("confidence_score", confidence)
    )


def today_filter(df: DataFrame, ts_col: str, today: str) -> DataFrame:
    """P5 — DATE(ts) = 'today' (scripts/llm_enricher.py:337-352); `today` is a
    pinned literal so runs are reproducible (reference uses CURRENT_DATE)."""
    return df.filter(F.to_date(ts_col) == F.lit(today).cast("date"))


def pending_headlines(bronze_clean: DataFrame, silver: DataFrame, batch: int | None = None) -> DataFrame:
    """J1 — incremental anti-join: unprocessed = bronze ⟕ silver WHERE
    silver.raw_link IS NULL (scripts/llm_enricher.py:97-103). `left_anti`
    keeps only bronze columns; Catalyst broadcasts silver's key column when
    it fits, else sort-merge with both sides pruned to the key."""
    out = bronze_clean.join(
        silver.select(F.col("raw_link").alias("link")), on="link", how="left_anti"
    )
    # `is not None`, not truthiness: batch=0 must mean zero rows, not no limit
    return out.limit(batch) if batch is not None else out


def pending_count(bronze_clean: DataFrame, silver: DataFrame) -> DataFrame:
    """J2 — the anti-join as a pending-gate count (dags/g1_enrichement_dag.py:92-100)."""
    return pending_headlines(bronze_clean, silver).agg(F.count("*").alias("pending_count"))


def pending_arithmetic(bronze_clean: DataFrame, silver: DataFrame) -> DataFrame:
    """J3 — pending = total_raw − total_processed (scripts/llm_enricher.py:329-334)."""
    raw = bronze_clean.agg(F.count("*").alias("total_raw"))
    proc = silver.agg(F.count("*").alias("total_processed"))
    return raw.crossJoin(proc).select(
        "total_raw",
        "total_processed",
        (F.col("total_raw") - F.col("total_processed")).alias("pending"),
    )


def union_dedup(dfs: list[DataFrame], key: str, order: str) -> DataFrame:
    """U1 — multi-source union then first-wins dedup (scripts/scraper.py:84-95)."""
    from functools import reduce

    return dedup_first_by(reduce(DataFrame.unionByName, dfs), key, order)


def salted_join(
    big: DataFrame, small: DataFrame, key: str, n_salts: int = 8
) -> DataFrame:
    """Skew-mitigation pattern: explode the small side n_salts ways and salt
    the big side's key, so one hot key spreads over n_salts shuffle
    partitions. AQE's skew-join handles most cases automatically; this is
    the manual tool for extreme single-key skew (e.g. a null-ish default
    key holding 10% of 100 TB). Inner equi-join semantics preserved."""
    from pyspark.sql import functions as F

    salted_big = big.withColumn("__salt", (F.pmod(F.hash(F.monotonically_increasing_id()), F.lit(n_salts))))
    salted_small = small.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    out = salted_big.join(salted_small, on=[key, "__salt"], how="inner")
    return out.drop("__salt")
