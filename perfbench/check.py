"""Value check of one operation's output against its DuckDB oracle.

The comparison is order-insensitive and strict: same row count, same
column names, integer columns stay integer, and every value is equal
(floats bit-equal). Dates and timestamps compare as datetime64[ns].

A write operation is read back table by table (`write_checks`) and each
table is compared with the oracle of the model it holds. The oracles of
the post-enrichment silver table and the category Gold model are written
here, in SQL over the engine's derived-model CTEs, because the registry
holds oracles only for the pre-enrichment models and the sentiment Gold.
"""

from __future__ import annotations

import datetime
import os

import duckdb
import pandas as pd


def oracle_connection(input_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB connection with one view per generated table."""
    con = duckdb.connect()
    for f in sorted(os.listdir(input_dir)):
        if f.endswith(".parquet"):
            path = os.path.join(input_dir, f)
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{path}')")
    return con


def _after_enrichment(body: str) -> str:
    """`body` over `silver_after`, the silver table after one enrichment run
    (existing rows plus the classified pending rows), and `stg` over it."""
    from airdatapipeline_spark import model

    return model.with_model_ctes(
        body,
        bronze_clean=True,
        silver=True,
        extra=[
            """
            pend AS (
              SELECT bc.* FROM bronze_clean bc
              LEFT JOIN (SELECT raw_link FROM silver) s ON bc.link = s.raw_link
              WHERE s.raw_link IS NULL
            )
            """.strip(),
            f"""
            silver_after AS (
              SELECT id, raw_link, title, link, source, scraped_at, sentiment, category,
                     confidence_score, processed_at, model_used
              FROM silver
              UNION ALL
              SELECT doc_id, link, title, link, source, scraped_at,
                     {model._sentiment_sql("doc_id")},
                     coalesce({model._category_sql("doc_id")}, 'Erro'),
                     CASE WHEN doc_id % 17 = 0 THEN 0.0 ELSE 0.5 + (doc_id % 50) / 100.0 END,
                     scraped_at, '{model.MODEL_TAG}'
              FROM pend
            )
            """.strip(),
            """
            stg AS (
              SELECT link AS headline_link, category, processed_at AS processed_timestamp
              FROM silver_after
            )
            """.strip(),
        ],
    )


# Columns left out of a read-back comparison: the enrichment writes the
# classifier's measured seconds per row into new silver rows.
UNCHECKED = {"processing_time_seconds"}


def write_checks(oracles: dict[str, str]) -> dict[str, list[tuple[str, str]]]:
    """write operation -> [(table path under its output dir, oracle SQL)]."""
    return {
        "write_gold": [
            ("daily_sentiment_analysis", oracles["flagship_enrichment_gold"]),
            (
                "daily_category_analysis",
                _after_enrichment(
                    """
                    SELECT analysis_date, category, category_count,
                           category_count
                             / CAST(SUM(category_count) OVER (PARTITION BY analysis_date) AS BIGINT)
                             AS category_percentage
                    FROM (
                      SELECT CAST(processed_timestamp AS DATE) AS analysis_date, category,
                             COUNT(headline_link) AS category_count
                      FROM stg WHERE category IS NOT NULL GROUP BY 1, 2
                    )
                    """
                ),
            ),
        ],
        "write_silver_partitioned": [
            (
                "silver/silver_enriched_headlines",
                _after_enrichment(
                    "SELECT *, CAST(processed_at AS DATE) AS processed_date FROM silver_after"
                ),
            ),
        ],
        "write_curated_corpus": [("", oracles["curation_pipeline"])],
    }


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        col = df[c]
        if pd.api.types.is_datetime64_any_dtype(col):
            df[c] = col.astype("datetime64[ns]")
        elif col.dtype == object:
            sample = col.dropna()
            if len(sample) and isinstance(sample.iloc[0], (datetime.date, datetime.datetime)):
                df[c] = pd.to_datetime(col).astype("datetime64[ns]")
            else:
                df[c] = col.astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when `got` equals `want` as a multiset of rows, else the first
    difference found."""
    if len(got) != len(want):
        return f"rows {len(got)} != oracle {len(want)}"
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != oracle {sorted(want.columns)}"
    g, w = _canon(got), _canon(want)
    for c in g.columns:
        gc, wc = g[c], w[c]
        if (gc.dtype.kind in "iu") != (wc.dtype.kind in "iu") and {gc.dtype.kind, wc.dtype.kind} <= set("iuf"):
            return f"column {c}: dtype {gc.dtype} != oracle {wc.dtype}"
        if gc.dtype.kind == "f" or wc.dtype.kind == "f":
            gf, wf = pd.to_numeric(gc, errors="coerce"), pd.to_numeric(wc, errors="coerce")
            same = (gf == wf) | (gf.isna() & wf.isna())
        else:
            same = (gc == wc) | (gc.isna() & wc.isna())
        if not same.all():
            i = int((~same).to_numpy().argmax())
            return f"column {c}: {int((~same).sum())} values differ, e.g. {gc.iloc[i]!r} != {wc.iloc[i]!r}"
    return None
