"""Shared oracle-SQL fragments and helpers used by more than one
family module."""

from __future__ import annotations

from ..operators import dedup
from ..operators import similarity
from ..operators import text



# --- shared oracle CTE fragments over the derived model ---------------------

GOLD_S_CTE = """
gold_s AS (
  SELECT CAST(processed_timestamp AS DATE) AS analysis_date,
         COUNT(CASE WHEN sentiment = 'Positiva' THEN 1 END) AS positive_headlines,
         COUNT(CASE WHEN sentiment = 'Negativa' THEN 1 END) AS negative_headlines,
         COUNT(CASE WHEN sentiment = 'Neutra' THEN 1 END) AS neutral_headlines,
         COUNT(headline_link) AS total_headlines
  FROM stg GROUP BY 1
)
""".strip()

_DECSUM = "CAST(SUM(CAST({expr} AS DECIMAL(28,6))) AS DOUBLE)"

_TOKS = r"regexp_split_to_array(trim(text), '\s+')"
_SQL_LIST = lambda words: "[" + ",".join(f"'{w}'" for w in words) + "]"  # noqa: E731


def _langid_case() -> str:
    langs = text.LANG_PRIORITY
    whens = []
    for i, lg in enumerate(langs[:-1]):
        conds = " AND ".join(f"hits_{lg} >= hits_{o}" for o in langs[i + 1 :])
        whens.append(f"WHEN {conds} THEN '{lg}'")
    return "CASE " + " ".join(whens) + f" ELSE '{langs[-1]}' END"


_SHINGLES_CTE = f"""
sh AS (
  SELECT doc_id, unnest(list_distinct(
           CASE WHEN len(t) >= 3
                THEN list_transform(generate_series(1, len(t) - 2),
                                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
                ELSE []::VARCHAR[] END)) AS shingle
  FROM (SELECT doc_id, {_TOKS} AS t FROM {{src}})
)
""".strip()


_MINHASH_AGGS = ", ".join(
    f"MIN(({dedup.MINHASH_A[j]} * h + {dedup.MINHASH_B[j]}) % {dedup.MINHASH_P}) AS h{j}"
    for j in range(dedup.N_MINHASH)
)
_BAND_SELECTS = "\n      UNION ALL ".join(
    f"SELECT doc_id, {b} AS band, h{2*b} AS bx, h{2*b+1} AS by FROM sig"
    for b in range(dedup.N_MINHASH // 2)
)


# WHERE norm > 0: the oracle twin of operators/similarity.with_norm's
# zero-norm exclusion — a zero-norm vector has no direction, and under
# ANSI Spark its 0/0 cosine is a job-killing DIVIDE_BY_ZERO (r11 fuzz).
# The synthetic corpora contain none, so the filter is vacuous at sf;
# it pins the contract, not the data.
_EMB_CTE = """
e AS (
  SELECT * FROM (
    SELECT vec_id, embedding::DOUBLE[] AS emb,
           sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
    FROM embeddings)
  WHERE norm > 0
)
""".strip()

# The unfiltered twin for TOTAL-coverage paths (the SQ8 storage audit):
# one row per stored embedding, zero-norm included — mirrors
# with_norm(..., total=True). Vacuous difference on the synthetic
# corpora (they contain no zero-norm rows); it pins the coverage
# contract, not the data (ADVICE-r11).
_EMB_CTE_TOTAL = """
e AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
  FROM embeddings
)
""".strip()

_SQ8_COSINE = (
    "CAST(list_dot_product(a.q, b.q) AS DOUBLE)"
    " / sqrt(CAST(list_dot_product(a.q, a.q) AS DOUBLE))"
    " / sqrt(CAST(list_dot_product(b.q, b.q) AS DOUBLE))"
)


_IVF_ASSIGN_SQL = """
  SELECT vec_id, emb, norm, centroid_id FROM (
    SELECT v.vec_id, v.emb, v.norm, k.centroid_id,
           row_number() OVER (
             PARTITION BY v.vec_id
             ORDER BY list_dot_product(v.emb, k.emb) / (v.norm * k.norm) DESC,
                      k.centroid_id
           ) AS crank
    FROM {src} v CROSS JOIN cent k
  ) WHERE crank <= {n}
"""


# dot-form subdistance (‖x‖² − 2·x·c) + ‖c‖², every fold left-to-right —
# mirrors similarity.pq_encode's numpy per-dimension accumulation and
# _pq_dtab_py's python fold exactly (the (x−c)² unroll is equal
# mathematically but NOT bit-wise; all engines must share one form)
_PQ_X2 = "CAST(0.0 AS DOUBLE) + " + " + ".join(
    f"list_extract({{v}}.emb, g.m*{similarity.PQ_SUBDIM}+{i + 1})"
    f" * list_extract({{v}}.emb, g.m*{similarity.PQ_SUBDIM}+{i + 1})"
    for i in range(similarity.PQ_SUBDIM)
)
_PQ_XDOT = "CAST(0.0 AS DOUBLE) + " + " + ".join(
    f"list_extract(e.emb, g.m*{similarity.PQ_SUBDIM}+{i + 1})"
    f" * list_extract(cb.emb, g.m*{similarity.PQ_SUBDIM}+{i + 1})"
    for i in range(similarity.PQ_SUBDIM)
)
