"""Similarity search: brute-force verifier, LSH, IVF (inline + persisted
index), SQ8/PQ-ADC/IVFPQ compressed tiers, recall scenarios."""

from __future__ import annotations

from pyspark.sql import functions as F
from ..operators import similarity
from ..operators import corpus
from .core import register
from ._shared import (
    _EMB_CTE,
    _EMB_CTE_TOTAL,
    _IVF_ASSIGN_SQL,
    _PQ_X2,
    _PQ_XDOT,
    _SQ8_COSINE,
)


# SQ8 quantization fragments shared by emb_quantize_sq8, simsearch_sq8_topk
# and simsearch_recall — single source of truth for the quantization formula
# and the quantized ranking (expects the `e` CTE in scope).
_SQ8_Q_CTE = """
sq8 AS (
      SELECT vec_id, emb, scale,
             list_transform(emb, x -> CAST(round(x * scale) AS INT)) AS q
      FROM (SELECT vec_id, emb,
                   CASE WHEN list_max(list_transform(emb, x -> abs(x))) > 0
                        THEN 127.0 / list_max(list_transform(emb, x -> abs(x)))
                        ELSE 1.0 END AS scale
            FROM e)
    )
""".strip()

_SQ8_RANKED = f"""
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               {_SQ8_COSINE} AS q_cosine,
               row_number() OVER (
                 PARTITION BY a.vec_id
                 ORDER BY {_SQ8_COSINE} DESC, b.vec_id
               ) AS rank
        FROM sq8 b JOIN (SELECT * FROM sq8 WHERE vec_id < 10) a
          ON a.vec_id <> b.vec_id
""".strip()


@register(
    "simsearch_bruteforce_topk",
    f"""
    WITH {_EMB_CTE}
    SELECT query_id, neighbor_id, cosine, CAST(rank AS INTEGER) AS rank FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             list_dot_product(q.emb, c.emb) / (q.norm * c.norm) AS cosine,
             row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY list_dot_product(q.emb, c.emb) / (q.norm * c.norm) DESC, c.vec_id
             ) AS rank
      FROM e c, (SELECT * FROM e WHERE vec_id < 10) q
      WHERE c.vec_id <> q.vec_id
    ) WHERE rank <= 10
    """,
)
def ss_brute(spark, sf_dir):
    return similarity.brute_force_topk(spark, sf_dir)


_BUCKET_SQL = "concat(" + ", ".join(
    f"CASE WHEN list_dot_product(embedding::DOUBLE[], {similarity.lsh_plane_sql(p)}) > 0 "
    "THEN '1' ELSE '0' END"
    for p in similarity.PLANES
) + ")"


_PROBE_FLIPS_SQL = "[bucket, " + ", ".join(
    f"substr(bucket, 1, {i}) || "
    f"(CASE WHEN substr(bucket, {i + 1}, 1) = '1' THEN '0' ELSE '1' END) || "
    f"substr(bucket, {i + 2})"
    for i in range(similarity.N_PLANES)
) + "]"


@register(
    "simsearch_lsh_topk",
    f"""
    WITH e AS (
      SELECT * FROM (
        SELECT vec_id, embedding::DOUBLE[] AS emb,
               sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm,
               {_BUCKET_SQL} AS bucket
        FROM embeddings)
      WHERE norm > 0
    ),
    q AS (
      SELECT vec_id, emb, norm, unnest({_PROBE_FLIPS_SQL}) AS bucket
      FROM e WHERE vec_id < 10
    )
    SELECT query_id, neighbor_id, cosine, CAST(rank AS INTEGER) AS rank FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             list_dot_product(q.emb, c.emb) / (q.norm * c.norm) AS cosine,
             row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY list_dot_product(q.emb, c.emb) / (q.norm * c.norm) DESC, c.vec_id
             ) AS rank
      FROM e c JOIN q
        ON c.bucket = q.bucket AND c.vec_id <> q.vec_id
    ) WHERE rank <= 5
    """,
)
def ss_lsh(spark, sf_dir):
    return similarity.lsh_bucketed_topk(spark, sf_dir)


# BQ sign-code pack: one packed 32-bit word per CASE-sum; replays
# similarity._bq_word_expr bit-for-bit (integer arithmetic end to end).
def _bq_word_duck(lo: int) -> str:
    terms = " + ".join(
        f"CASE WHEN emb[{i}] > 0 THEN {1 << (i - lo)} ELSE 0 END" for i in range(lo, lo + 32)
    )
    return f"CAST({terms} AS BIGINT)"


_BQ_HAMMING = (
    "bit_count(xor(a.code_lo, b.code_lo)) + bit_count(xor(a.code_hi, b.code_hi))"
)


@register(
    "simsearch_bq_topk",
    f"""
    WITH {_EMB_CTE},
    bq AS (
      SELECT vec_id, emb, norm,
             {_bq_word_duck(1)} AS code_lo,
             {_bq_word_duck(33)} AS code_hi
      FROM e
    ),
    cand AS (
      SELECT query_id, neighbor_id, hamming FROM (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               CAST({_BQ_HAMMING} AS INTEGER) AS hamming,
               row_number() OVER (
                 PARTITION BY a.vec_id
                 ORDER BY {_BQ_HAMMING}, b.vec_id
               ) AS crank
        FROM bq b JOIN (SELECT * FROM bq WHERE vec_id < 10) a
          ON a.vec_id <> b.vec_id
      ) WHERE crank <= {similarity.BQ_RERANK}
    )
    SELECT query_id, neighbor_id, hamming, cosine, CAST(rank AS INTEGER) AS rank FROM (
      SELECT c.query_id, c.neighbor_id, c.hamming,
             list_dot_product(qe.emb, ne.emb) / (qe.norm * ne.norm) AS cosine,
             row_number() OVER (
               PARTITION BY c.query_id
               ORDER BY list_dot_product(qe.emb, ne.emb) / (qe.norm * ne.norm) DESC,
                        c.neighbor_id
             ) AS rank
      FROM cand c
      JOIN e qe ON qe.vec_id = c.query_id
      JOIN e ne ON ne.vec_id = c.neighbor_id
    ) WHERE rank <= 5
    """,
)
def ss_bq(spark, sf_dir):
    return similarity.bq_topk(spark, sf_dir)


@register(
    "simsearch_ivf_topk",
    f"""
    WITH {_EMB_CTE},
    cent AS (
      SELECT vec_id AS centroid_id, emb, norm FROM e
      WHERE vec_id >= {similarity.CENTROID_ID_LO}
        AND vec_id < {similarity.CENTROID_ID_LO + similarity.N_CENTROIDS}
    ),
    assigned AS ({_IVF_ASSIGN_SQL.format(src="e", n=1)}),
    probes AS (
      SELECT vec_id AS query_id, emb AS q_emb, norm AS q_norm, centroid_id
      FROM ({_IVF_ASSIGN_SQL.format(src="(SELECT * FROM e WHERE vec_id < 10)", n=similarity.N_PROBE)})
    )
    SELECT query_id, neighbor_id, cosine, CAST(rank AS INTEGER) AS rank FROM (
      SELECT p.query_id, a.vec_id AS neighbor_id,
             list_dot_product(p.q_emb, a.emb) / (p.q_norm * a.norm) AS cosine,
             row_number() OVER (
               PARTITION BY p.query_id
               ORDER BY list_dot_product(p.q_emb, a.emb) / (p.q_norm * a.norm) DESC,
                        a.vec_id
             ) AS rank
      FROM assigned a
      JOIN probes p ON a.centroid_id = p.centroid_id AND a.vec_id <> p.query_id
    ) WHERE rank <= 5
    """,
)
def ss_ivf(spark, sf_dir):
    return similarity.ivf_topk(spark, sf_dir)


_TOPK_RANK = """
    SELECT query_id, neighbor_id FROM (
      SELECT {q}.vec_id AS query_id, {c}.vec_id AS neighbor_id,
             row_number() OVER (
               PARTITION BY {q}.vec_id
               ORDER BY list_dot_product({q}.emb, {c}.emb) / ({q}.norm * {c}.norm) DESC,
                        {c}.vec_id
             ) AS rank
      {from_clause}
    ) WHERE rank <= 5
"""


@register(
    "simsearch_recall",
    f"""
    WITH eb AS (
      SELECT * FROM (
        SELECT vec_id, embedding::DOUBLE[] AS emb,
               sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm,
               {_BUCKET_SQL} AS bucket
        FROM embeddings)
      WHERE norm > 0
    ),
    e AS (SELECT vec_id, emb, norm FROM eb),
    cent AS (
      SELECT vec_id AS centroid_id, emb, norm FROM e
      WHERE vec_id >= {similarity.CENTROID_ID_LO}
        AND vec_id < {similarity.CENTROID_ID_LO + similarity.N_CENTROIDS}
    ),
    assigned AS ({_IVF_ASSIGN_SQL.format(src="e", n=1)}),
    probes AS (
      SELECT vec_id AS query_id, emb AS q_emb, norm AS q_norm, centroid_id
      FROM ({_IVF_ASSIGN_SQL.format(src="(SELECT * FROM e WHERE vec_id < 10)", n=similarity.N_PROBE)})
    ),
    truth AS ({_TOPK_RANK.format(q="q", c="c", from_clause=
        "FROM e c, (SELECT * FROM e WHERE vec_id < 10) q WHERE c.vec_id <> q.vec_id")}),
    qprobe AS (
      SELECT vec_id, emb, norm, unnest({_PROBE_FLIPS_SQL}) AS bucket
      FROM eb WHERE vec_id < 10
    ),
    lshk AS ({_TOPK_RANK.format(q="q", c="c", from_clause=
        "FROM eb c JOIN qprobe q "
        "ON c.bucket = q.bucket AND c.vec_id <> q.vec_id")}),
    ivfk AS (
      SELECT query_id, neighbor_id FROM (
        SELECT p.query_id, a.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY p.query_id
                 ORDER BY list_dot_product(p.q_emb, a.emb) / (p.q_norm * a.norm) DESC, a.vec_id
               ) AS rank
        FROM assigned a JOIN probes p ON a.centroid_id = p.centroid_id AND a.vec_id <> p.query_id
      ) WHERE rank <= 5
    ),
    {_SQ8_Q_CTE},
    sq8k AS (
      SELECT query_id, neighbor_id FROM ({_SQ8_RANKED}) WHERE rank <= 5
    ),
    hl AS (SELECT t.query_id, COUNT(*) AS lsh_hits FROM truth t JOIN lshk l
           ON t.query_id = l.query_id AND t.neighbor_id = l.neighbor_id GROUP BY 1),
    hi AS (SELECT t.query_id, COUNT(*) AS ivf_hits FROM truth t JOIN ivfk i
           ON t.query_id = i.query_id AND t.neighbor_id = i.neighbor_id GROUP BY 1),
    hq AS (SELECT t.query_id, COUNT(*) AS sq8_hits FROM truth t JOIN sq8k s
           ON t.query_id = s.query_id AND t.neighbor_id = s.neighbor_id GROUP BY 1)
    SELECT q.query_id,
           CAST(COALESCE(hl.lsh_hits, 0) AS BIGINT) AS lsh_hits,
           CAST(COALESCE(hi.ivf_hits, 0) AS BIGINT) AS ivf_hits,
           CAST(COALESCE(hq.sq8_hits, 0) AS BIGINT) AS sq8_hits,
           CAST(COALESCE(hl.lsh_hits, 0) AS BIGINT) / 5.0 AS lsh_recall,
           CAST(COALESCE(hi.ivf_hits, 0) AS BIGINT) / 5.0 AS ivf_recall,
           CAST(COALESCE(hq.sq8_hits, 0) AS BIGINT) / 5.0 AS sq8_recall,
           -- trained-k-means IVF tier: k-means is not replayable in DuckDB,
           -- so the oracle pins the CONTRACT — panel-mean recall@5 must meet
           -- RECALL_FLOOR (0.9). Spark computes the recall honestly against
           -- in-plan brute-force truth; a floor miss turns this row red.
           TRUE AS ivf_trained_floor_met
    FROM (SELECT DISTINCT query_id FROM truth) q
    LEFT JOIN hl ON q.query_id = hl.query_id
    LEFT JOIN hi ON q.query_id = hi.query_id
    LEFT JOIN hq ON q.query_id = hq.query_id
    """,
)
def ss_recall(spark, sf_dir):
    """recall@5 of the LSH, IVF, SQ8 and trained-k-means-IVF tiers vs exact
    brute force — makes the ANN family self-grading (tune N_PLANES / N_PROBE
    against a measured number, assert the trained tier's 0.9 recall floor)."""
    return similarity.recall_at_k(spark, sf_dir)


def _clu_emb_list(id_expr: str, c_expr: str, dim: int = similarity.CLU_DIM) -> str:
    return (
        "["
        + ", ".join(
            f"{similarity.clu_center_coord_duck(c_expr, j)} + "
            f"{similarity.clu_noise_coord_duck(id_expr, j)}"
            for j in range(dim)
        )
        + "]::DOUBLE[]"
    )


def _clu_center_list(c_expr: str, dim: int = similarity.CLU_DIM) -> str:
    return (
        "["
        + ", ".join(
            similarity.clu_center_coord_duck(c_expr, j) for j in range(dim)
        )
        + "]::DOUBLE[]"
    )


_CLU_ASSIGN = """
  SELECT vec_id, emb, norm, centroid_id FROM (
    SELECT v.vec_id, v.emb, v.norm, k.centroid_id,
           row_number() OVER (
             PARTITION BY v.vec_id
             ORDER BY list_dot_product(v.emb, k.emb) / (v.norm * k.norm) DESC,
                      k.centroid_id
           ) AS crank
    FROM {src} v CROSS JOIN centn k
  ) WHERE crank <= {n}
"""


@register(
    "simsearch_recall_clustered",
    f"""
    WITH ec AS (
      SELECT vec_id, {similarity.clu_cluster_duck("vec_id")} AS c FROM embeddings
    ),
    en AS (
      SELECT vec_id, emb, sqrt(list_dot_product(emb, emb)) AS norm FROM (
        SELECT vec_id, {_clu_emb_list("vec_id", "c")} AS emb FROM ec
      )
    ),
    centn AS (
      SELECT centroid_id, emb, sqrt(list_dot_product(emb, emb)) AS norm FROM (
        SELECT c AS centroid_id, {_clu_center_list("c")} AS emb
        FROM range({similarity.CLU_K}) t(c)
      )
    ),
    assigned AS ({_CLU_ASSIGN.format(src="en", n=1)}),
    probes AS (
      SELECT vec_id AS query_id, emb AS q_emb, norm AS q_norm, centroid_id
      FROM ({_CLU_ASSIGN.format(src="(SELECT * FROM en WHERE vec_id < 10)", n=similarity.CLU_N_PROBE)})
    ),
    ivfk AS (
      SELECT query_id, neighbor_id FROM (
        SELECT p.query_id, a.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY p.query_id
                 ORDER BY list_dot_product(p.q_emb, a.emb) / (p.q_norm * a.norm) DESC,
                          a.vec_id
               ) AS rank
        FROM assigned a JOIN probes p
          ON a.centroid_id = p.centroid_id AND a.vec_id <> p.query_id
      ) WHERE rank <= 5
    ),
    truth AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY list_dot_product(q.emb, c.emb) / (q.norm * c.norm) DESC,
                          c.vec_id
               ) AS rank
        FROM en c, (SELECT * FROM en WHERE vec_id < 10) q
        WHERE c.vec_id <> q.vec_id
      ) WHERE rank <= 5
    ),
    h AS (
      SELECT t.query_id, COUNT(*) AS ivf_hits FROM truth t
      JOIN ivfk i ON t.query_id = i.query_id AND t.neighbor_id = i.neighbor_id
      GROUP BY 1
    ),
    lists AS (SELECT centroid_id, COUNT(*) AS list_n FROM assigned GROUP BY 1),
    s AS (
      SELECT p.query_id, CAST(SUM(l.list_n) AS BIGINT) AS scanned_rows
      FROM probes p JOIN lists l ON p.centroid_id = l.centroid_id GROUP BY 1
    ),
    nc AS (SELECT COUNT(*) AS n FROM en)
    SELECT q.query_id,
           CAST(COALESCE(h.ivf_hits, 0) AS BIGINT) AS ivf_hits,
           CAST(COALESCE(h.ivf_hits, 0) AS BIGINT) / 5.0 AS ivf_recall,
           CAST(COALESCE(s.scanned_rows, 0) AS BIGINT) AS scanned_rows,
           CAST(COALESCE(s.scanned_rows, 0) AS BIGINT) / CAST(nc.n AS DOUBLE) AS scanned_frac
    FROM (SELECT DISTINCT query_id FROM truth) q CROSS JOIN nc
    LEFT JOIN h ON q.query_id = h.query_id
    LEFT JOIN s ON q.query_id = s.query_id
    """,
)
def ss_recall_clustered(spark, sf_dir):
    """Clustered-corpus IVF recall + scanned fraction (VERDICT-r4 item 8):
    the near-isotropic embeddings table is IVF's honest worst case (recall
    tracks scanned fraction ~linearly; nprobe=7/8 to meet the floor); this
    scenario is the case IVF is FOR — a seeded-md5 mixture of 16
    well-separated clusters, where probing 2 of 16 lists holds recall@5 at
    1.0 while scanning ~12% of the corpus. Centroids are the TRUE
    generating centers, so the WHOLE pipeline (corpus, assignment, truth,
    recall, scanned fraction) is deterministic and fully value-hashed by
    the oracle — no trained-tier floor boolean. Plan shape is the
    production serve: broadcast 16-row centroid attach (zero-shuffle
    assignment), candidate step = equi-join on centroid_id."""
    return similarity.clustered_recall_panel(spark, sf_dir)


@register(
    "emb_quantize_sq8",
    # _EMB_CTE_TOTAL, not _EMB_CTE: the storage audit covers every stored
    # vector, zero-norm included (ADVICE-r11) — serving queries keep the
    # filtered CTE.
    f"""
    WITH {_EMB_CTE_TOTAL},
    {_SQ8_Q_CTE}
    SELECT vec_id, scale,
           md5(array_to_string(q, ',')) AS codes_md5,
           list_max(list_transform(range(1, {similarity.EMB_DIM + 1}),
                    i -> abs(emb[i] - q[i] / scale))) AS max_abs_err
    FROM sq8
    """,
)
def emb_sq8(spark, sf_dir):
    """Int8 scalar quantization audit (TOTAL: one row per stored
    embedding) — codes hash-verified byte-for-byte."""
    return similarity.quantize_sq8(spark, sf_dir)


@register(
    "simsearch_sq8_topk",
    f"""
    WITH {_EMB_CTE},
    {_SQ8_Q_CTE}
    SELECT query_id, neighbor_id, q_cosine, CAST(rank AS INTEGER) AS rank
    FROM ({_SQ8_RANKED}) WHERE rank <= 5
    """,
)
def sq8_topk_q(spark, sf_dir):
    """Top-k over the 4×-compressed int8 corpus (exact integer dots)."""
    return similarity.sq8_topk(spark, sf_dir)
_PQ_SUBDIST_SQL = (
    f"(({_PQ_X2.format(v='e')}) - 2.0 * ({_PQ_XDOT})) + ({_PQ_X2.format(v='cb')})"
)

_PQ_DIST_PIVOT = "CAST(0.0 AS DOUBLE) + " + " + ".join(
    f"MAX(CASE WHEN m = {m} THEN d END)" for m in range(similarity.PQ_M)
)


@register(
    "simsearch_pq_adc_topk",
    f"""
    WITH {_EMB_CTE},
    cb AS (
      SELECT vec_id - {similarity.PQ_CB_LO} AS k, emb FROM e
      WHERE vec_id >= {similarity.PQ_CB_LO}
        AND vec_id < {similarity.PQ_CB_LO + similarity.PQ_K}
    ),
    g AS (SELECT unnest(generate_series(0, {similarity.PQ_M - 1})) AS m),
    sub AS (
      SELECT e.vec_id, g.m, cb.k, {_PQ_SUBDIST_SQL} AS d
      FROM e CROSS JOIN cb CROSS JOIN g
    ),
    codes AS (
      SELECT vec_id, m, k AS code FROM (
        SELECT vec_id, m, k,
               row_number() OVER (PARTITION BY vec_id, m ORDER BY d, k) AS rn
        FROM sub
      ) WHERE rn = 1
    ),
    pair AS (
      SELECT s.vec_id AS query_id, c.vec_id AS neighbor_id, c.m, s.d
      FROM codes c JOIN sub s ON s.m = c.m AND s.k = c.code
      WHERE s.vec_id < 10 AND c.vec_id <> s.vec_id
    ),
    dists AS (
      SELECT query_id, neighbor_id, {_PQ_DIST_PIVOT} AS adc_dist
      FROM pair GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id, adc_dist, CAST(rank AS INTEGER) AS rank FROM (
      SELECT query_id, neighbor_id, adc_dist,
             row_number() OVER (PARTITION BY query_id ORDER BY adc_dist, neighbor_id)
               AS rank
      FROM dists
    ) WHERE rank <= 5
    """,
)
def q_pq_adc(spark, sf_dir):
    """Product-quantization ADC top-k: corpus scanned as 4-byte codes
    (64× compression), per-query M×K distance table, candidate distance =
    M lookups summed in fixed order — exact arithmetic, hash-matched."""
    return similarity.pq_adc_topk(spark, sf_dir)


@register(
    "simsearch_ivfpq_topk",
    f"""
    WITH {_EMB_CTE},
    cent AS (
      SELECT vec_id AS centroid_id, emb, norm FROM e
      WHERE vec_id >= {similarity.CENTROID_ID_LO}
        AND vec_id < {similarity.CENTROID_ID_LO + similarity.N_CENTROIDS}
    ),
    cb AS (
      SELECT vec_id - {similarity.PQ_CB_LO} AS k, emb FROM e
      WHERE vec_id >= {similarity.PQ_CB_LO}
        AND vec_id < {similarity.PQ_CB_LO + similarity.PQ_K}
    ),
    g AS (SELECT unnest(generate_series(0, {similarity.PQ_M - 1})) AS m),
    sub AS (
      SELECT e.vec_id, g.m, cb.k, {_PQ_SUBDIST_SQL} AS d
      FROM e CROSS JOIN cb CROSS JOIN g
    ),
    codes AS (
      SELECT vec_id, m, k AS code FROM (
        SELECT vec_id, m, k,
               row_number() OVER (PARTITION BY vec_id, m ORDER BY d, k) AS rn
        FROM sub
      ) WHERE rn = 1
    ),
    assigned AS ({_IVF_ASSIGN_SQL.format(src="e", n=1)}),
    probes AS (
      SELECT vec_id AS query_id, centroid_id
      FROM ({_IVF_ASSIGN_SQL.format(
          src="(SELECT * FROM e WHERE vec_id < 10)", n=similarity.N_PROBE
      )})
    ),
    cand AS (
      SELECT p.query_id, a.vec_id AS neighbor_id
      FROM assigned a JOIN probes p ON a.centroid_id = p.centroid_id
      WHERE a.vec_id <> p.query_id
    ),
    pair AS (
      SELECT cand.query_id, cand.neighbor_id, c.m, s.d
      FROM cand
      JOIN codes c ON c.vec_id = cand.neighbor_id
      JOIN sub s ON s.vec_id = cand.query_id AND s.m = c.m AND s.k = c.code
    ),
    dists AS (
      SELECT query_id, neighbor_id, {_PQ_DIST_PIVOT} AS adc_dist
      FROM pair GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id, adc_dist, CAST(rank AS INTEGER) AS rank FROM (
      SELECT query_id, neighbor_id, adc_dist,
             row_number() OVER (PARTITION BY query_id ORDER BY adc_dist, neighbor_id)
               AS rank
      FROM dists
    ) WHERE rank <= 5
    """,
)
def q_ivfpq(spark, sf_dir):
    """Full IVFPQ (FAISS-style): IVF probe pruning (nprobe/K of the corpus
    touched, equi-join on centroid_id) × PQ 4-byte-code ADC ranking within
    the probed lists."""
    return similarity.ivfpq_topk(spark, sf_dir)


@register(
    "simsearch_ivf_list_stats",
    f"""
    WITH {_EMB_CTE},
    cent AS (
      SELECT vec_id AS centroid_id, emb, norm FROM e
      WHERE vec_id >= {similarity.CENTROID_ID_LO}
        AND vec_id < {similarity.CENTROID_ID_LO + similarity.N_CENTROIDS}
    ),
    assigned AS ({_IVF_ASSIGN_SQL.format(src="e", n=1)})
    SELECT centroid_id, COUNT(*) AS n_vectors,
           COUNT(*) / CAST((SELECT COUNT(*) FROM assigned) AS DOUBLE) AS share
    FROM assigned GROUP BY 1
    """,
)
def q_ivf_list_stats(spark, sf_dir):
    """IVF index observability: per-inverted-list sizes and corpus share —
    the imbalance dial that triggers re-clustering (a list holding far
    more than 1/K of the corpus means probes scan too much and the
    centroids no longer fit the data). One assignment map + one agg."""
    from ..io import load_table

    corpus = similarity.with_norm(
        load_table(spark, sf_dir, "embeddings")
    ).select("vec_id", "emb", "norm")
    assigned = similarity._ivf_assign(corpus, similarity._slice_centroids(corpus), 1)
    total = assigned.count()
    return assigned.groupBy(
        F.col("centroid_id").cast("long").alias("centroid_id")
    ).agg(
        F.count("*").alias("n_vectors"),
        (F.count("*") / F.lit(float(total))).alias("share"),
    )


# --- clustered-regime tier recall (VERDICT-r8 item 5) -------------------------
# The generated corpus CTE is named `e` on purpose: the PQ fragments
# (_PQ_SUBDIST_SQL / _PQ_DIST_PIVOT) and _bq_word_duck are written against a
# CTE of that name, so the clustered oracle reuses the EXACT SQL the
# isotropic pq_adc/bq oracles hash-matched with — only the corpus differs.

_CTR_TOPK = """
      SELECT {q}.vec_id AS query_id, {c}.vec_id AS neighbor_id,
             row_number() OVER (
               PARTITION BY {q}.vec_id
               ORDER BY list_dot_product({q}.emb, {c}.emb)
                        / ({q}.norm * {c}.norm) DESC, {c}.vec_id
             ) AS rank
"""


# Shared 64-dim clustered-corpus oracle prologue (corpus, query panel,
# brute-force truth, true generating centers, 1-NN assignment) — ONE
# definition used by BOTH the tier-recall oracle and the residual-IVFPQ
# template, so the two value-hash oracles can never grade different
# corpora (r9 review finding).
_CLU64_PROLOGUE = f"""
    WITH ec AS (
      SELECT vec_id, {similarity.clu_cluster_duck("vec_id")} AS c FROM embeddings
    ),
    e AS (
      SELECT vec_id, emb, sqrt(list_dot_product(emb, emb)) AS norm FROM (
        SELECT vec_id, {_clu_emb_list("vec_id", "c", similarity.EMB_DIM)} AS emb
        FROM ec
      )
    ),
    qrows AS (SELECT * FROM e WHERE vec_id < 10),
    truth AS (
      SELECT query_id, neighbor_id FROM (
        {_CTR_TOPK.format(q="q", c="cc")}
        FROM e cc, qrows q WHERE cc.vec_id <> q.vec_id
      ) WHERE rank <= 5
    ),
    centn AS (
      SELECT centroid_id, emb, sqrt(list_dot_product(emb, emb)) AS norm FROM (
        SELECT c AS centroid_id, {_clu_center_list("c", similarity.EMB_DIM)} AS emb
        FROM range({similarity.CLU_K}) t(c)
      )
    ),
    assigned AS ({_CLU_ASSIGN.format(src="e", n=1)})
"""


@register(
    "simsearch_clustered_tier_recall",
    _CLU64_PROLOGUE + f""",
    probes AS (
      SELECT vec_id AS query_id, emb AS q_emb, norm AS q_norm, centroid_id
      FROM ({_CLU_ASSIGN.format(src="qrows", n=similarity.CLU_N_PROBE)})
    ),
    ivfk AS (
      SELECT query_id, neighbor_id FROM (
        SELECT p.query_id, a.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY p.query_id
                 ORDER BY list_dot_product(p.q_emb, a.emb) / (p.q_norm * a.norm) DESC,
                          a.vec_id
               ) AS rank
        FROM assigned a JOIN probes p
          ON a.centroid_id = p.centroid_id AND a.vec_id <> p.query_id
      ) WHERE rank <= 5
    ),
    bq AS (
      SELECT vec_id, emb, norm,
             {_bq_word_duck(1)} AS code_lo,
             {_bq_word_duck(33)} AS code_hi
      FROM e
    ),
    bqcand AS (
      SELECT query_id, neighbor_id FROM (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY a.vec_id
                 ORDER BY {_BQ_HAMMING}, b.vec_id
               ) AS crank
        FROM bq b JOIN (SELECT * FROM bq WHERE vec_id < 10) a
          ON a.vec_id <> b.vec_id
      ) WHERE crank <= {similarity.BQ_RERANK}
    ),
    bqk AS (
      SELECT query_id, neighbor_id FROM (
        SELECT c.query_id, c.neighbor_id,
               row_number() OVER (
                 PARTITION BY c.query_id
                 ORDER BY list_dot_product(qe.emb, ne.emb) / (qe.norm * ne.norm) DESC,
                          c.neighbor_id
               ) AS rank
        FROM bqcand c
        JOIN e qe ON qe.vec_id = c.query_id
        JOIN e ne ON ne.vec_id = c.neighbor_id
      ) WHERE rank <= 5
    ),
    cb AS (
      SELECT vec_id - {similarity.PQ_CB_LO} AS k, emb FROM e
      WHERE vec_id >= {similarity.PQ_CB_LO}
        AND vec_id < {similarity.PQ_CB_LO + similarity.PQ_K}
    ),
    g AS (SELECT unnest(generate_series(0, {similarity.PQ_M - 1})) AS m),
    sub AS (
      SELECT e.vec_id, g.m, cb.k, {_PQ_SUBDIST_SQL} AS d
      FROM e CROSS JOIN cb CROSS JOIN g
    ),
    codes AS (
      SELECT vec_id, m, k AS code FROM (
        SELECT vec_id, m, k,
               row_number() OVER (PARTITION BY vec_id, m ORDER BY d, k) AS rn
        FROM sub
      ) WHERE rn = 1
    ),
    pair AS (
      SELECT s.vec_id AS query_id, c.vec_id AS neighbor_id, c.m, s.d
      FROM codes c JOIN sub s ON s.m = c.m AND s.k = c.code
      WHERE s.vec_id < 10 AND c.vec_id <> s.vec_id
    ),
    dists AS (
      SELECT query_id, neighbor_id, {_PQ_DIST_PIVOT} AS adc_dist
      FROM pair GROUP BY 1, 2
    ),
    pqk AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id ORDER BY adc_dist, neighbor_id)
                 AS rank
        FROM dists
      ) WHERE rank <= 5
    ),
    hi AS (
      SELECT t.query_id, COUNT(*) AS ivf_hits FROM truth t
      JOIN ivfk x ON t.query_id = x.query_id AND t.neighbor_id = x.neighbor_id
      GROUP BY 1
    ),
    hb AS (
      SELECT t.query_id, COUNT(*) AS bq_hits FROM truth t
      JOIN bqk x ON t.query_id = x.query_id AND t.neighbor_id = x.neighbor_id
      GROUP BY 1
    ),
    hp AS (
      SELECT t.query_id, COUNT(*) AS pq_hits FROM truth t
      JOIN pqk x ON t.query_id = x.query_id AND t.neighbor_id = x.neighbor_id
      GROUP BY 1
    )
    SELECT q.query_id,
           CAST(COALESCE(hi.ivf_hits, 0) AS BIGINT) AS ivf_hits,
           CAST(COALESCE(hi.ivf_hits, 0) AS BIGINT) / 5.0 AS ivf_recall,
           CAST(COALESCE(hb.bq_hits, 0) AS BIGINT) AS bq_hits,
           CAST(COALESCE(hb.bq_hits, 0) AS BIGINT) / 5.0 AS bq_recall,
           CAST(COALESCE(hp.pq_hits, 0) AS BIGINT) AS pq_hits,
           CAST(COALESCE(hp.pq_hits, 0) AS BIGINT) / 5.0 AS pq_recall
    FROM (SELECT DISTINCT query_id FROM truth) q
    LEFT JOIN hi ON q.query_id = hi.query_id
    LEFT JOIN hb ON q.query_id = hb.query_id
    LEFT JOIN hp ON q.query_id = hp.query_id
    """,
)
def ss_clustered_tiers(spark, sf_dir):
    """Recall@5 of the production IVF (true centers, nprobe=2/16), BQ
    (sign codes, rerank=40) and PQ-ADC (8×16 codebooks) tiers on the
    64-dim clustered mixture — the regime the codecs are FOR. Completes
    the two-regime recall table (MEASURED.md): the parquet embeddings
    grade the isotropic worst case, this grades honest clusterable data.
    Fully value-hashed: corpus, centers, codes and candidates are all
    deterministic integer-hash arithmetic in both engines."""
    return similarity.clustered_tier_recall(spark, sf_dir)


# --- residual IVFPQ on the clustered regime (the r9 PQ-collapse fix) ---------

def _pq_subdist_between(a: str, b: str) -> str:
    """The dot-form subdistance (‖x‖² − 2·x·c) + ‖c‖² between subvector m
    of `a`.emb and `b`.emb — _PQ_SUBDIST_SQL generalized to arbitrary
    aliases (the residual oracle needs it between qres/cb and res/cb)."""
    x2a = "CAST(0.0 AS DOUBLE) + " + " + ".join(
        f"list_extract({a}.emb, g.m*{similarity.PQ_SUBDIM}+{i + 1})"
        f" * list_extract({a}.emb, g.m*{similarity.PQ_SUBDIM}+{i + 1})"
        for i in range(similarity.PQ_SUBDIM)
    )
    xdot = "CAST(0.0 AS DOUBLE) + " + " + ".join(
        f"list_extract({a}.emb, g.m*{similarity.PQ_SUBDIM}+{i + 1})"
        f" * list_extract({b}.emb, g.m*{similarity.PQ_SUBDIM}+{i + 1})"
        for i in range(similarity.PQ_SUBDIM)
    )
    x2b = "CAST(0.0 AS DOUBLE) + " + " + ".join(
        f"list_extract({b}.emb, g.m*{similarity.PQ_SUBDIM}+{i + 1})"
        f" * list_extract({b}.emb, g.m*{similarity.PQ_SUBDIM}+{i + 1})"
        for i in range(similarity.PQ_SUBDIM)
    )
    return f"(({x2a}) - 2.0 * ({xdot})) + ({x2b})"


_RESID_LIST = (
    "list_transform(generate_series(1, "
    f"{similarity.EMB_DIM}), i -> {{v}}.emb[i] - {{c}}.emb[i])"
)


_RPQ_PURE_PQK = """
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id ORDER BY adc_dist, neighbor_id)
                 AS rank
        FROM dists
      ) WHERE rank <= 5
"""

_RPQ_RERANK_PQK = """
      SELECT query_id, neighbor_id FROM (
        SELECT c.query_id, c.neighbor_id,
               row_number() OVER (
                 PARTITION BY c.query_id
                 ORDER BY list_dot_product(qe.emb, ne.emb) / (qe.norm * ne.norm) DESC,
                          c.neighbor_id
               ) AS rank
        FROM (
          SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id ORDER BY adc_dist, neighbor_id)
                     AS crank
            FROM dists
          ) WHERE crank <= {RERANK}
        ) c
        JOIN e qe ON qe.vec_id = c.query_id
        JOIN e ne ON ne.vec_id = c.neighbor_id
      ) WHERE rank <= 5
"""


_RPQ_ORACLE_TEMPLATE = _CLU64_PROLOGUE + f""",
    probes AS (
      SELECT vec_id AS query_id, emb AS q_emb, centroid_id
      FROM ({_CLU_ASSIGN.format(src="qrows", n=similarity.CLU_N_PROBE)})
    ),
    res AS (
      SELECT a.vec_id, a.centroid_id,
             {_RESID_LIST.format(v="a", c="k")} AS emb
      FROM assigned a JOIN centn k ON a.centroid_id = k.centroid_id
    ),
    cb AS (
      SELECT vec_id - {similarity.PQ_CB_LO} AS k, emb FROM res
      WHERE vec_id >= {similarity.PQ_CB_LO}
        AND vec_id < {similarity.PQ_CB_LO + similarity.PQ_K}
    ),
    g AS (SELECT unnest(generate_series(0, {similarity.PQ_M - 1})) AS m),
    sub AS (
      SELECT e.vec_id, e.centroid_id, g.m, cb.k, {_pq_subdist_between("e", "cb")} AS d
      FROM res e CROSS JOIN cb CROSS JOIN g
    ),
    codes AS (
      SELECT vec_id, centroid_id, m, k AS code FROM (
        SELECT vec_id, centroid_id, m, k,
               row_number() OVER (PARTITION BY vec_id, m ORDER BY d, k) AS rn
        FROM sub
      ) WHERE rn = 1
    ),
    qres AS (
      SELECT p.query_id, p.centroid_id,
             list_transform(generate_series(1, {similarity.EMB_DIM}),
                            i -> p.q_emb[i] - k.emb[i]) AS emb
      FROM probes p JOIN centn k ON p.centroid_id = k.centroid_id
    ),
    qsub AS (
      SELECT q.query_id, q.centroid_id, g.m, cb.k, {_pq_subdist_between("q", "cb")} AS d
      FROM qres q CROSS JOIN cb CROSS JOIN g
    ),
    pair AS (
      SELECT s.query_id, c.vec_id AS neighbor_id, c.m, s.d
      FROM codes c
      JOIN qsub s ON s.centroid_id = c.centroid_id AND s.m = c.m AND s.k = c.code
      WHERE c.vec_id <> s.query_id
    ),
    dists AS (
      SELECT query_id, neighbor_id, {_PQ_DIST_PIVOT} AS adc_dist
      FROM pair GROUP BY 1, 2
    ),
    pqk AS ({{PQK}})
    ,
    h AS (
      SELECT t.query_id, COUNT(*) AS rpq_hits FROM truth t
      JOIN pqk x ON t.query_id = x.query_id AND t.neighbor_id = x.neighbor_id
      GROUP BY 1
    )
    SELECT q.query_id,
           CAST(COALESCE(h.rpq_hits, 0) AS BIGINT) AS rpq_hits,
           CAST(COALESCE(h.rpq_hits, 0) AS BIGINT) / 5.0 AS rpq_recall
    FROM (SELECT DISTINCT query_id FROM truth) q
    LEFT JOIN h ON q.query_id = h.query_id
    """


@register(
    "simsearch_clustered_residual_ivfpq",
    _RPQ_ORACLE_TEMPLATE.replace("{PQK}", _RPQ_PURE_PQK),
)
def ss_residual_ivfpq(spark, sf_dir):
    """Residual IVFPQ recall on the clustered regime — the measured fix
    for the r9 PQ-collapse finding: PQ-coding x − centroid[assign(x)]
    instead of x lifts recall@5 from 0.12 to 0.52 at the SAME 4-byte
    code budget (the remaining gap is quantization-ranking noise over
    the uniform residual space — 16 entries per 8-dim subspace — plus
    the L2-ADC vs cosine-truth mismatch; trained codebooks close it
    further). Per-probed-list query distance tables, candidates pruned
    by the centroid equi-join."""
    return similarity.clustered_residual_ivfpq_recall(spark, sf_dir)


RPQ_RERANK = 40  # refine depth: ADC proposes 40, exact cosine re-ranks


@register(
    "simsearch_clustered_rpq_rerank",
    _RPQ_ORACLE_TEMPLATE.replace(
        "{PQK}", _RPQ_RERANK_PQK.replace("{RERANK}", str(RPQ_RERANK))
    ),
)
def ss_residual_ivfpq_rerank(spark, sf_dir):
    """Residual IVFPQ + exact refine — the FULL production serve (FAISS's
    IndexRefineFlat composition): ADC over residual codes proposes
    RPQ_RERANK candidates per query (probe-pruned, 4-byte scans), the
    full-precision vectors re-rank only those O(Q·rerank) ids via
    broadcast join-backs. Measured recall@5 on the clustered corpus:
    0.52 (pure ADC) → 1.00 at rerank=40 — ADC's quantization-ranking
    noise only needs the true neighbors INSIDE the candidate window, not
    at its top. Completes the measured arc: plain PQ 0.12 → residual
    0.52 → residual+refine 1.00, each step value-hash-verified."""
    return similarity.clustered_residual_ivfpq_recall(
        spark, sf_dir, rerank=RPQ_RERANK
    )


# --- exact k-means over the SQ8 lattice (late r9) -----------------------------


def _km_assign_cte(name: str, cents: str, dim: int) -> str:
    """One Lloyd assignment stage: CROSS JOIN against the k-row centroid
    CTE (the oracle twin of Spark's unrolled literal arithmetic — values,
    not plans, are the contract), argmin by (dist, cid) row_number —
    the same total order as the Spark side's least/first-WHEN."""
    return f"""{name} AS MATERIALIZED (
      SELECT vec_id, q, cid, dist FROM (
        SELECT vec_id, q, cid, dist,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
        FROM (SELECT s.vec_id, s.q, c.cid,
                     CAST(list_sum(list_transform(range(1, {dim + 1}),
                          i -> CAST((s.q[i] - c.c[i]) * (s.q[i] - c.c[i]) AS BIGINT)))
                       AS BIGINT) AS dist
              FROM sq8 s CROSS JOIN {cents} c)
      ) WHERE rn = 1
    )"""


def _km_update_cte(name: str, prev: str, assigned: str, dim: int) -> str:
    """One centroid update: per-cluster count + per-dim sums, new
    coordinate = floor(mean) via the portable pmod floor-div (the literal
    formula in operators/similarity._km_fdiv); empty clusters keep the
    previous centroid through the LEFT JOIN fallback."""
    sums = ", ".join(
        f"CAST(SUM(q[{i + 1}]) AS BIGINT) AS s{i}" for i in range(dim)
    )
    fdivs = ", ".join(
        f"CAST((s{i} - ((s{i} % n) + n) % n) // n AS INT)" for i in range(dim)
    )
    return f"""{name} AS MATERIALIZED (
      SELECT p.cid, CASE WHEN s.n IS NULL THEN p.c ELSE [{fdivs}] END AS c
      FROM {prev} p LEFT JOIN (
        SELECT cid, CAST(COUNT(*) AS BIGINT) AS n, {sums}
        FROM {assigned} GROUP BY 1
      ) s USING (cid)
    )"""


def _km_chain_body(k: int, iters: int, dim: int) -> str:
    """The ONE Lloyd CTE chain (e -> sq8 -> c0 -> (a_t, c_t) x iters ->
    af) both k-means oracles are built on — the batch stats rollup and
    the streaming ingest gate differ only in their final SELECT, and the
    streaming contract (committed set == batch assignment) holds exactly
    because they cannot drift (r9 review: the chain had been duplicated
    verbatim in both builders)."""
    parts = [
        _EMB_CTE,
        _SQ8_Q_CTE,
        f"""c0 AS MATERIALIZED (
      SELECT CAST(row_number() OVER (ORDER BY h, vec_id) AS INTEGER) AS cid, q AS c
      FROM (SELECT vec_id, q, md5(CAST(vec_id AS VARCHAR)) AS h
            FROM sq8 ORDER BY h, vec_id LIMIT {k})
    )""",
    ]
    for t in range(1, iters + 1):
        parts.append(_km_assign_cte(f"a{t}", f"c{t - 1}", dim))
        parts.append(_km_update_cte(f"c{t}", f"c{t - 1}", f"a{t}", dim))
    parts.append(_km_assign_cte("af", f"c{iters}", dim))
    return ",\n    ".join(parts)


def _km_oracle_sql(k: int, iters: int, dim: int) -> str:
    body = _km_chain_body(k, iters, dim)
    return f"""
    WITH {body}
    SELECT CAST(g.cid AS INTEGER) AS centroid_id,
           CAST(g.n AS BIGINT) AS n_vectors,
           CAST(g.td AS BIGINT) AS total_sq_dist,
           CAST(list_sum(list_transform(c.c, x -> abs(x))) AS BIGINT)
             AS centroid_l1
    FROM (SELECT cid, COUNT(*) AS n, SUM(dist) AS td FROM af GROUP BY 1) g
    JOIN c{iters} c USING (cid)
    """


@register(
    "emb_kmeans_sq8_stats",
    _km_oracle_sql(similarity.KM_K, similarity.KM_ITERS, similarity.EMB_DIM),
)
def s_kmeans_sq8(spark, sf_dir):
    """Exact distributed k-means (2 Lloyd rounds, k=8) over the SQ8 code
    lattice: integer coordinates + floor-of-mean integer centroids +
    lowest-cid tie-break make every assignment bit-reproducible across
    engines and partitionings (float-mean k-means flaps on summation
    order). Each round = one codegen assignment scan + one partial-agg
    shuffle of (count, 64 dim-sums); the k-row per-round collects are
    scalar model parameters (the IVF-centroid justification — this is
    spark.ml KMeans' own per-iteration collectAsMap contract)."""
    return similarity.kmeans_sq8_stats(spark, sf_dir)


def km_assignment_oracle_sql(k: int, iters: int, dim: int) -> str:
    """The FINAL per-vector assignment under the trained centroids — the
    oracle both emb_kmeans_sq8_stats' cluster rollup and the streaming
    ingest gate (stream_kmeans_assign_ingest) derive from; the ingest
    gate's committed set must equal exactly this table."""
    body = _km_chain_body(k, iters, dim)
    return f"""
    WITH {body}
    SELECT CAST(vec_id AS BIGINT) AS vec_id,
           CAST(cid AS INTEGER) AS centroid_id,
           CAST(dist AS BIGINT) AS sq_dist
    FROM af
    """


# --- random-projection (JL) tier ---------------------------------------------

_RP_LIST_SQL = "[" + ", ".join(
    "(CAST(0.0 AS DOUBLE) "
    + " ".join(f"{'+' if s > 0 else '-'} emb[{j + 1}]" for j, s in enumerate(row))
    + f") * {similarity.RP_SCALE!r}"
    for row in similarity.RP_SIGNS
) + "]::DOUBLE[]"


# Oracle constants bound to the Spark callables' OWN defaults (inspect, not
# re-typed literals) so a changed default cannot silently desync engine and
# oracle (ADVICE-r9: these two oracles hardcoded n_queries/k/top_n/min_tf
# while the Spark side took them as function defaults).
import inspect as _inspect  # noqa: E402

_RP_SIG = _inspect.signature(similarity.rp_recall).parameters
_RP_NQ = _RP_SIG["n_queries"].default
_RP_K = _RP_SIG["k"].default
_CL_SIG = _inspect.signature(similarity.cluster_labels).parameters
_CL_TOP_N = _CL_SIG["top_n"].default
_CL_MIN_TF = _CL_SIG["min_tf"].default

@register(
    "simsearch_rp_recall",
    f"""
    WITH {_EMB_CTE},
    rp AS (SELECT vec_id, r AS rp, sqrt(list_dot_product(r, r)) AS rp_norm
           FROM (SELECT vec_id, {_RP_LIST_SQL} AS r FROM e)),
    truth AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY list_dot_product(q.emb, c.emb) / (q.norm * c.norm) DESC,
                          c.vec_id
               ) AS rank
        FROM e c, (SELECT * FROM e WHERE vec_id < {_RP_NQ}) q
        WHERE c.vec_id <> q.vec_id
      ) WHERE rank <= {_RP_K}),
    rpranked AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY list_dot_product(q.rp, c.rp) / (q.rp_norm * c.rp_norm) DESC,
                          c.vec_id
               ) AS rank
        FROM rp c, (SELECT * FROM rp WHERE vec_id < {_RP_NQ}) q
        WHERE c.vec_id <> q.vec_id),
    rptop AS (SELECT query_id, neighbor_id FROM rpranked WHERE rank <= {_RP_K}),
    cand AS (SELECT query_id, neighbor_id FROM rpranked
             WHERE rank <= {similarity.RP_RERANK}),
    rr AS (
      SELECT query_id, neighbor_id FROM (
        SELECT c.query_id, c.neighbor_id,
               row_number() OVER (
                 PARTITION BY c.query_id
                 ORDER BY list_dot_product(qe.emb, ne.emb) / (qe.norm * ne.norm) DESC,
                          c.neighbor_id
               ) AS rank
        FROM cand c
        JOIN e qe ON qe.vec_id = c.query_id
        JOIN e ne ON ne.vec_id = c.neighbor_id
      ) WHERE rank <= {_RP_K}),
    hits AS (SELECT t.query_id, COUNT(*) AS rp_hits
             FROM truth t JOIN rptop r
               ON r.query_id = t.query_id AND r.neighbor_id = t.neighbor_id
             GROUP BY 1),
    rrhits AS (SELECT t.query_id, COUNT(*) AS rp_rerank_hits
               FROM truth t JOIN rr r
                 ON r.query_id = t.query_id AND r.neighbor_id = t.neighbor_id
               GROUP BY 1),
    outq AS (SELECT s.query_id,
                    CAST(COALESCE(h.rp_hits, 0) AS BIGINT) AS rp_hits,
                    CAST(COALESCE(rh.rp_rerank_hits, 0) AS BIGINT) AS rp_rerank_hits
             FROM (SELECT DISTINCT query_id FROM truth) s
             LEFT JOIN hits h ON h.query_id = s.query_id
             LEFT JOIN rrhits rh ON rh.query_id = s.query_id)
    SELECT query_id, rp_hits, rp_rerank_hits,
           rp_hits / CAST({_RP_K} AS DOUBLE) AS rp_recall,
           rp_rerank_hits / CAST({_RP_K} AS DOUBLE) AS rp_rerank_recall,
           (SELECT CAST(SUM(rp_hits) AS DOUBLE) / ({_RP_NQ} * {_RP_K}) FROM outq) AS panel_rp_recall,
           (SELECT CAST(SUM(rp_rerank_hits) AS DOUBLE) / ({_RP_NQ} * {_RP_K}) FROM outq)
             AS panel_rp_rerank_recall
    FROM outq ORDER BY query_id
    """,
)
def ss_rp_recall(spark, sf_dir):
    """recall@5 of the 16-dim Johnson–Lindenstrauss projection (Achlioptas
    ±1 sign matrix, md5-derived — a shared model constant) against the
    exact 64-dim truth, for BOTH the raw projected ranking (the measured
    JL distortion) and the production two-stage serve (stage-1 top-40 in
    projected space, stage-2 full-precision rerank of O(Q·rerank) ids —
    the BQ tier's shape with width reduction instead of quantization).
    Graded on the near-isotropic worst case like the other ANN tiers
    (similarity.rp_recall docstring)."""
    return similarity.rp_recall(spark, sf_dir)


# --- cluster labeling (c-TF-IDF shape over the trained k-means) --------------


@register(
    "emb_cluster_labels",
    f"""
    WITH assign AS MATERIALIZED ({km_assignment_oracle_sql(similarity.KM_K, similarity.KM_ITERS, similarity.EMB_DIM)}),
    toks AS (
      SELECT a.centroid_id AS cluster_id,
             unnest(regexp_split_to_array(trim(d.text), '\\s+')) AS token
      FROM documents d JOIN assign a ON a.vec_id = d.doc_id),
    tfc AS (SELECT cluster_id, token, COUNT(*) AS tf_in_cluster
            FROM toks GROUP BY 1, 2),
    nc AS (SELECT cluster_id, CAST(SUM(tf_in_cluster) AS BIGINT) AS cluster_tokens
           FROM tfc GROUP BY 1),
    tg AS (SELECT token, CAST(SUM(tf_in_cluster) AS BIGINT) AS tf_corpus
           FROM tfc GROUP BY 1),
    tot AS (SELECT CAST(SUM(tf_in_cluster) AS BIGINT) AS total_tokens FROM tfc),
    scored AS (
      SELECT f.cluster_id, f.token, f.tf_in_cluster, n.cluster_tokens,
             g.tf_corpus, t.total_tokens,
             CAST(f.tf_in_cluster * t.total_tokens AS DOUBLE)
               / CAST(n.cluster_tokens * g.tf_corpus AS DOUBLE)
               AS distinctiveness
      FROM tfc f
      JOIN nc n ON n.cluster_id = f.cluster_id
      JOIN tg g ON g.token = f.token
      CROSS JOIN tot t
      WHERE f.tf_in_cluster >= {_CL_MIN_TF}),
    ranked AS (
      SELECT *, row_number() OVER (
               PARTITION BY cluster_id
               ORDER BY distinctiveness DESC, token) AS rank
      FROM scored)
    SELECT cluster_id, CAST(rank AS INTEGER) AS rank, token, tf_in_cluster,
           cluster_tokens, tf_corpus, total_tokens, distinctiveness
    FROM ranked WHERE rank <= {_CL_TOP_N}
    ORDER BY cluster_id, rank
    """,
)
def ss_cluster_labels(spark, sf_dir):
    """c-TF-IDF-style labels for the trained k-means clusters: top-3 tokens
    per cluster by exact relative-frequency lift over the documents each
    cluster embeds (similarity.cluster_labels docstring) — the
    human-readable face of the clustering arc (train → assign → serve →
    LABEL), fully value-hashed through the unrolled k-means oracle chain."""
    return similarity.cluster_labels(spark, sf_dir)
