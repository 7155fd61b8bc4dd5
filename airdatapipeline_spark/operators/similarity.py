"""Similarity search over the embeddings table (array<float> column).

The first two tiers:

- brute_force_topk: exact cosine top-k. The corpus-side scan is linear and
  the small query set is broadcast, so the plan is a broadcast
  nested-loop + per-query TakeOrdered — correct at any scale but O(Q·N);
  it is the baseline/verifier.
- lsh_bucketed_topk: sign-LSH (random-hyperplane) bucketing. Hyperplanes
  are ±1 vectors derived deterministically from md5 at module import and
  inlined as literals in BOTH engines, so the oracle reproduces them. The
  candidate search is an EQUI-join on the bucket key — the shape that
  scales to 100 TB (shuffle by bucket, no cross join). Recall < 1 by
  construction; the brute-force tier is the ground truth to measure it.

Every tier (also IVF, SQ8, BQ, PQ/IVFPQ and random projection) serves the
same way: candidates, a score, then `_topk`, the one per-query ranking
rule; two-stage tiers re-rank through `_rerank`, and the recall panels
grade through `_recall` against `_brute_force_over`, the one exact truth.

All vector math is done in double after an explicit float→double cast, with
a left-fold accumulation order mirrored by DuckDB's list_dot_product —
verified bit-identical (see tools/check_oracle.py runs).
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load_table, local_table
from ..streaming.events import _drain

N_PLANES = 6  # 2^6 = 64 buckets


def _plane_sign(j: int, i: int) -> int:
    return 1 if int(hashlib.md5(f"{j}:{i}".encode()).hexdigest()[:2], 16) % 2 == 0 else -1


PLANES: list[list[int]] = [[_plane_sign(j, i) for i in range(64)] for j in range(N_PLANES)]


EMB_DIM = 64  # pinned by the embeddings table schema (array<float>[64])


def _dot(a: str, b: str, dim: int = EMB_DIM) -> Column:
    """Sequential left-fold dot product, unrolled over the fixed dim so
    the whole expression is flat codegen arithmetic instead of an
    interpreted higher-order `aggregate` lambda (~64 closure calls per
    pair — the HOF version dominated the similarity family's runtime).
    `0.0 + p1 + p2 + ...` evaluates left-to-right, which is bit-identical
    to the fold and to DuckDB's list_dot_product accumulation order."""
    terms = " + ".join(f"element_at({a}, {i}) * element_at({b}, {i})" for i in range(1, dim + 1))
    return F.expr(f"cast(0.0 as double) + {terms}")


def with_norm(embeddings: DataFrame, total: bool = False) -> DataFrame:
    """Add emb (double[]) and norm columns; by default EXCLUDE zero-norm
    vectors, with ``total=True`` keeping every row.

    A zero-norm embedding has no direction, so every cosine against it is
    0/0 — which under ANSI (Spark 4's default) is not NaN but a
    DIVIDE_BY_ZERO crash that kills the whole job the moment one
    null-ish vector lands in a 100 TB corpus (found by the r11
    similarity differential fuzz). The contract, pinned in BOTH engines
    at this single edge (the oracle twin is _EMB_CTE's WHERE norm > 0,
    the NULL-key-sketch precedent): zero-norm vectors are outside the
    SERVING surface — never a query, never a neighbor, never a
    dedup-pair member. Audit/codec paths that must cover every stored
    vector (quantize_sq8's per-row audit; with_sq8's scale guard keeps
    the codec itself total) pass ``total=True`` so coverage loss is a
    visible per-call-site choice, not a silent default (ADVICE-r11)."""
    e = embeddings.withColumn("emb", F.expr("transform(embedding, x -> cast(x as double))"))
    e = e.withColumn("norm", F.sqrt(_dot("emb", "emb")))
    return e if total else e.filter(F.col("norm") > 0)


def cosine_expr(a_alias: str, b_alias: str) -> Column:
    dot = _dot(f"{a_alias}.emb", f"{b_alias}.emb")
    return dot / (F.col(f"{a_alias}.norm") * F.col(f"{b_alias}.norm"))


# --- the ANN serve skeleton (module docstring) --------------------------------


def _query_cols(*extra) -> list:
    """The query-side projection of a (vec_id, emb, norm) frame:
    (query_id, q_emb, q_norm) plus `extra` columns."""
    return [
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("q_emb"),
        F.col("norm").alias("q_norm"),
        *extra,
    ]


def _cosine(dim: int = EMB_DIM) -> Column:
    """Exact cosine of a query row (q_emb, q_norm) against a corpus row
    (emb, norm)."""
    return _dot("q_emb", "emb", dim) / (F.col("q_norm") * F.col("norm"))


def _topk(scored: DataFrame, score: str, k: int, desc: bool = True) -> DataFrame:
    """The one ANN ranking rule: within each query_id, the k best rows by
    `score` (descending for similarities, ascending for distances), ties
    to the lower neighbor_id. The DuckDB oracles replay this order. Keeps
    the carried columns and adds an int `rank`."""
    order = F.desc(score) if desc else F.asc(score)
    w = Window.partitionBy("query_id").orderBy(order, F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .withColumn("rank", F.col("rank").cast("int"))
    )


def _rerank(corpus: DataFrame, cand: DataFrame, n_queries: int, k: int) -> DataFrame:
    """Full-precision stage 2 of a two-stage serve: join the (query_id,
    neighbor_id, ...) candidates back to both vectors of the (vec_id, emb,
    norm) corpus and keep the exact-cosine top-k. Both join-backs broadcast
    the O(Q·rerank) side, so the stage is corpus-size-independent."""
    n = corpus.select(F.col("vec_id").alias("neighbor_id"), "emb", "norm")
    q = corpus.filter(F.col("vec_id") < n_queries).select(*_query_cols())
    pairs = n.join(F.broadcast(cand), "neighbor_id").join(F.broadcast(q), "query_id")
    return _topk(pairs.select(*cand.columns, _cosine().alias("cosine")), "cosine", k)


def _ivf_serve(lists: DataFrame, probes: DataFrame, k: int, dim: int = EMB_DIM) -> DataFrame:
    """IVF candidates and exact re-rank: the (centroid_id, vec_id, emb,
    norm) inverted lists equi-join the broadcast (query_id, q_emb, q_norm,
    centroid_id) probes, self excluded, and the exact-cosine top-k is kept."""
    cand = lists.join(F.broadcast(probes), "centroid_id").filter(
        F.col("vec_id") != F.col("query_id")
    )
    scored = cand.select(
        "query_id", F.col("vec_id").alias("neighbor_id"), _cosine(dim).alias("cosine")
    )
    return _topk(scored, "cosine", k)


def _recall(truth: DataFrame, k: int, **tiers: DataFrame) -> DataFrame:
    """Per-query `<tier>_hits` and `<tier>_recall` (recall@k) of each
    (query_id, neighbor_id) tier against the exact `truth`, one row per
    truth query (0 hits where a tier found none). Every side is at most
    Q·k rows, so each hit join and count is broadcast."""
    out = truth.select("query_id").distinct()
    cols = ["query_id"]
    for name, ann in tiers.items():
        pairs = ann.select("query_id", "neighbor_id")
        hits = (
            truth.join(F.broadcast(pairs), ["query_id", "neighbor_id"])
            .groupBy("query_id")
            .agg(F.count("*").alias(f"{name}_hits"))
        )
        out = out.join(F.broadcast(hits), "query_id", "left")
        h = F.coalesce(F.col(f"{name}_hits"), F.lit(0)).cast("long")
        cols += [h.alias(f"{name}_hits"), (h / F.lit(float(k))).alias(f"{name}_recall")]
    return out.select(*cols)


def brute_force_topk(
    spark: SparkSession, sf_dir: str, n_queries: int = 10, k: int = 10
) -> DataFrame:
    """Exact cosine top-k for the first `n_queries` vectors (self excluded).
    Query side broadcast; ties broken by neighbor id."""
    corpus = with_norm(load_table(spark, sf_dir, "embeddings")).select("vec_id", "emb", "norm")
    return _brute_force_over(corpus, n_queries, k)


def _brute_force_over(
    corpus: DataFrame, n_queries: int, k: int, dim: int = EMB_DIM
) -> DataFrame:
    """The exact serve over any (vec_id, emb, norm) corpus of width `dim`
    — the one exact truth: brute_force_topk (parquet embeddings), the
    clustered recall panels and the r11 differential fuzz (adversarial
    generated corpora: duplicates, ties, zero-norm rows)."""
    q = F.broadcast(corpus.filter(F.col("vec_id") < n_queries).select(*_query_cols()))
    scored = corpus.join(q, F.col("vec_id") != F.col("query_id")).select(
        "query_id", F.col("vec_id").alias("neighbor_id"), _cosine(dim).alias("cosine")
    )
    return _topk(scored, "cosine", k)


def _bucket_col() -> Column:
    """Sign-LSH bucket: one bit per hyperplane, concatenated to a string
    key. Projections are unrolled ±element_at terms (x * 1.0 == x and
    x * -1.0 == -x bitwise, and a + (-b) == a - b, so this is bit-identical
    to the folded multiply-accumulate the oracle replays)."""
    bits = []
    for plane in PLANES:
        terms = " ".join(
            f"{'+' if s > 0 else '-'} element_at(emb, {i + 1})" for i, s in enumerate(plane)
        )
        proj = F.expr(f"cast(0.0 as double) {terms}")
        bits.append(F.when(proj > 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


PROBE_RADIUS = 1  # multi-probe: query bucket + every Hamming-1 bit flip


def _probe_buckets() -> Column:
    """Multi-probe bucket set for the query side: the exact bucket plus its
    PROBE_RADIUS=1 neighborhood (each of the N_PLANES bits flipped once).
    Near neighbors that land one hyperplane away — the dominant LSH miss
    mode — become reachable while the candidate step stays an EQUI-join;
    measured on this corpus it lifts recall@5 from 0.02 to 0.30 while
    scanning ~(1+N_PLANES)/2^N_PLANES ≈ 11% of the corpus (see
    `recall_at_k`). Expects a `bucket` column in scope."""
    probes = [F.col("bucket")]
    for i in range(N_PLANES):
        cur = F.substring("bucket", i + 1, 1)
        flipped = F.when(cur == "1", F.lit("0")).otherwise(F.lit("1"))
        probes.append(
            F.concat(
                F.substring("bucket", 1, i),
                flipped,
                F.substring("bucket", i + 2, N_PLANES - i - 1),
            )
        )
    return F.array(*probes)


def lsh_bucketed_topk(
    spark: SparkSession, sf_dir: str, n_queries: int = 10, k: int = 5
) -> DataFrame:
    """ANN: candidates = corpus vectors in the query's LSH bucket plus its
    Hamming-1 probe buckets (multi-probe; an equi-join on the bucket key
    either way — the scan/shuffle shape that survives 100 TB), then exact
    cosine re-rank within the candidate set. Each corpus vector lives in
    exactly one bucket and probe buckets are distinct, so no candidate
    dedup is needed."""
    corpus = with_norm(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", "emb", "norm", _bucket_col().alias("bucket")
    )
    q = F.broadcast(
        corpus.filter(F.col("vec_id") < n_queries).select(
            *_query_cols(F.explode(_probe_buckets()).alias("bucket"))
        )
    )
    cand = corpus.join(q, on="bucket", how="inner").filter(
        F.col("vec_id") != F.col("query_id")
    )
    scored = cand.select(
        "query_id", F.col("vec_id").alias("neighbor_id"), _cosine().alias("cosine")
    )
    return _topk(scored, "cosine", k)


# Trained (pyspark.ml k-means) IVF serving configuration. The synthetic
# embeddings are ISOTROPIC (within-label cosine == cross-label cosine, both
# ~0 — measured in round 3), so recall tracks the scanned fraction almost
# linearly: no centroid source can prune random data and keep recall. On
# this corpus the floor-meeting dial is nprobe=7 of K=8 lists (~7/8 of the
# corpus scanned → recall@5 = 0.94-0.96 across sf0.001/0.01/0.1). On real
# clustered embeddings the same plan prunes aggressively at low nprobe —
# the dial, the plan shape and the floor assertion are what carry to 100 TB,
# and `recall_at_k` is the instrument that retunes nprobe per corpus.
TRAINED_N_PROBE = 7
RECALL_FLOOR = 0.9


def trained_ivf_topk(
    spark: SparkSession, sf_dir: str, n_queries: int = 10, k: int = 5
) -> DataFrame:
    """IVF-Flat top-k over TRAINED k-means centroids (the production
    centroid source) at the floor-meeting nprobe. Identical plan to
    `ivf_topk` — only the K-row centroid table differs — so everything
    plan-asserted for the deterministic tier holds here too."""
    return ivf_topk(
        spark,
        sf_dir,
        n_queries,
        k,
        centroids=kmeans_centroids(spark, sf_dir),
        n_probe=TRAINED_N_PROBE,
    )


def recall_at_k(
    spark: SparkSession, sf_dir: str, n_queries: int = 10, k: int = 5
) -> DataFrame:
    """recall@k of the approximate tiers (sign-LSH, IVF) against the exact
    brute-force top-k, per query — the self-grading dial for the ANN family:
    tune N_PLANES / N_PROBE against a measured number instead of a blind
    knob. Ground truth is recomputed here (not read from a prior run) so the
    query is a single self-contained plan, graded by `_recall`. The
    expensive side (brute force) is O(Q·N) but Q is the small probe set —
    at 100 TB this is exactly how recall is audited: a sampled query panel,
    never the full corpus."""
    truth = brute_force_topk(spark, sf_dir, n_queries, k).select("query_id", "neighbor_id")
    lsh = lsh_bucketed_topk(spark, sf_dir, n_queries, k).select("query_id", "neighbor_id")
    ivf = ivf_topk(spark, sf_dir, n_queries, k).select("query_id", "neighbor_id")
    sq8 = sq8_topk(spark, sf_dir, n_queries, k).select("query_id", "neighbor_id")
    trained = trained_ivf_topk(spark, sf_dir, n_queries, k).select("query_id", "neighbor_id")
    out = _recall(truth, k, lsh=lsh, ivf=ivf, sq8=sq8, trained=trained)
    # Panel-level floor assertion for the trained tier. The exact trained
    # hit counts are NOT emitted: pyspark.ml k-means is not reproducible in
    # the DuckDB oracle, so the contract the oracle checks is the floor
    # (mean recall over the panel >= RECALL_FLOOR → constant TRUE), while
    # the exact-hash check for the IVF plan itself lives in the
    # deterministic-centroid columns/rows of this query and ivf_topk.
    # Broadcast 1-row scalar join (not a global window — no single-partition
    # shuffle of the panel). `out` is cached once (Q rows — the panel)
    # before the scalar agg re-reads it; without this the brute-force truth
    # and all four ANN tiers would execute twice, once under the panel agg
    # and once under the final select. Lazy: the panel-agg broadcast build
    # materializes the shared RDD and the final select reuses it — one job
    # fewer than the eager form (CC-loop precedent).
    out = out.localCheckpoint(eager=False)
    panel = out.agg(
        (F.sum("trained_hits") / (F.count(F.lit(1)) * F.lit(float(k))) >= F.lit(RECALL_FLOOR))
        .alias("ivf_trained_floor_met")
    )
    return out.crossJoin(F.broadcast(panel)).select(
        "query_id", "lsh_hits", "ivf_hits", "sq8_hits",
        "lsh_recall", "ivf_recall", "sq8_recall", "ivf_trained_floor_met",
    )


def lsh_plane_sql(plane: list[int]) -> str:
    """The same hyperplane as a DuckDB DOUBLE[] literal (for oracle SQL)."""
    return "[" + ",".join(str(s) for s in plane) + "]::DOUBLE[]"


# --- clustered-embedding recall scenario (VERDICT-r4 item 8) -----------------
#
# The synthetic embeddings table is near-ISOTROPIC — the honest worst case
# for IVF, where recall tracks the scanned fraction almost linearly and the
# floor-meeting dial is nprobe=7 of 8 (see recall_at_k). This second
# scenario is the case IVF is FOR: a mixture of well-separated clusters,
# where probing 2 of 16 lists keeps recall ~1 while scanning ~1/8 of the
# corpus. The mixture is generated with the repo's seeded-md5 arithmetic
# (integer hash -> single division), so corpus, centroids (= the TRUE
# generating centers — no k-means needed), assignment, truth, recall AND
# scanned fraction are all bit-replayable in DuckDB: the oracle is a full
# value-hash, no floor boolean.
CLU_K = 16  # mixture components == IVF lists
CLU_DIM = 8  # small dim keeps the unrolled oracle SQL tractable
CLU_N_PROBE = 2


def _h56_sql(s: str) -> str:
    """Spark-side 56-bit md5 hash of a SQL string expression (the repo's
    content-addressed idiom; DuckDB twin: CAST(concat('0x', substr(md5(s),
    1, 14)) AS BIGINT))."""
    return f"cast(conv(substring(md5({s}), 1, 14), 16, 10) as bigint)"


def _clu_center_coord(c_expr: str, j: int) -> str:
    """Coordinate j of the mixture center for cluster expression `c_expr`:
    integer hash mod 2001 mapped to [-1, 1] by ONE double division (1e3 is
    a DOUBLE literal in both engines; 1000.0 would parse as DECIMAL)."""
    key = f"concat('cctr:', cast({c_expr} as string), ':{j}')"
    return f"(({_h56_sql(key)} % 2001 - 1000) / 1e3)"


def _clu_noise_coord(id_expr: str, j: int) -> str:
    """Coordinate j of the per-vector noise: same hash map scaled to
    [-0.15, 0.15] (integer *3, one division by 2e4) — small vs the ~1.6
    expected inter-center coordinate gap, so clusters are well separated."""
    key = f"concat('cnoi:', cast({id_expr} as string), ':{j}')"
    return f"(({_h56_sql(key)} % 2001 - 1000) * 3 / 2e4)"


def clu_cluster_expr(id_expr: str = "vec_id") -> str:
    key = f"concat('cclu:', cast({id_expr} as string))"
    return f"({_h56_sql(key)} % {CLU_K})"


# DuckDB twins of the three generator expressions — kept adjacent so the
# formulas cannot drift (same policy as text._hash_bucket / registry _TOKS).
def _h56_duck(s: str) -> str:
    return f"CAST(concat('0x', substr(md5({s}), 1, 14)) AS BIGINT)"


def clu_center_coord_duck(c_expr: str, j: int) -> str:
    key = f"concat('cctr:', CAST({c_expr} AS VARCHAR), ':{j}')"
    return f"(({_h56_duck(key)} % 2001 - 1000) / 1e3)"


def clu_noise_coord_duck(id_expr: str, j: int) -> str:
    key = f"concat('cnoi:', CAST({id_expr} AS VARCHAR), ':{j}')"
    return f"(({_h56_duck(key)} % 2001 - 1000) * 3 / 2e4)"


def clu_cluster_duck(id_expr: str = "vec_id") -> str:
    key = f"concat('cclu:', CAST({id_expr} AS VARCHAR))"
    return f"({_h56_duck(key)} % {CLU_K})"


# Python twins of the generator expressions (r12, guide §1.2): every model
# parameter of the clustered scenario — centers, probe assignments,
# residual codebooks, ADC distance tables — is a K/Q-bounded pure function
# of these md5 hashes, so the serve paths compute them DRIVER-side instead
# of paying one Spark job per panel. Bit-equality with the Spark
# expressions is asserted in tests/test_extensions.py (python ints/floats
# follow the identical IEEE op order; md5 is md5).


def _h56_py(s: str) -> int:
    """Python twin of _h56_sql/_h56_duck: the same 56-bit md5 integer."""
    return int(hashlib.md5(s.encode()).hexdigest()[:14], 16)


def _fold_norm_py(emb: list) -> float:
    """sqrt of the left-fold self-dot — IEEE-identical to
    F.sqrt(_dot(e, e)): same accumulation order, and sqrt is the
    correctly-rounded IEEE operation in both engines."""
    acc = 0.0
    for v in emb:
        acc = acc + v * v
    return math.sqrt(acc)


def _dot_py(a: list, b: list) -> float:
    """Left-fold dot — the python twin of _dot's `0.0 + t0 + t1 + ...`."""
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + x * y
    return acc


def _clu_center_emb_py(c: int, dim: int) -> list:
    """Python twin of the _clu_center_coord expression column list."""
    return [(_h56_py(f"cctr:{c}:{j}") % 2001 - 1000) / 1e3 for j in range(dim)]


def _clu_cent_rows(dim: int) -> list:
    """The CLU_K true generating centers as (centroid_id, emb) rows: the
    driver-side centroid table of the clustered IVF panels."""
    from pyspark.sql import Row

    return [Row(centroid_id=c, emb=_clu_center_emb_py(c, dim)) for c in range(CLU_K)]


def _clu_emb_py(vid: int, centers: list, dim: int) -> list:
    """Python twin of one clustered_embeddings row:
    center[cluster(id)][j] + noise(id, j), same IEEE order per
    coordinate."""
    ce = centers[_h56_py(f"cclu:{vid}") % CLU_K]
    return [
        ce[j] + (_h56_py(f"cnoi:{vid}:{j}") % 2001 - 1000) * 3 / 2e4
        for j in range(dim)
    ]


def _assign_top_py(emb: list, norm: float, cent_rows: list, n_keep: int) -> list:
    """Python twin of _ivf_assign's ranked pick for ONE row: centroid ids
    ordered by (cosine desc, centroid_id asc), top n_keep. `cent_rows`
    are (centroid_id, emb) rows; the cosine uses the identical left-fold
    dot, python-float centroid norm and `dot / (norm * cnorm)` grouping
    as the expression form."""
    scored = []
    for r in cent_rows:
        acc = 0.0
        for v in r.emb:
            acc = acc + float(v) * float(v)
        cnorm = math.sqrt(acc)
        cos = _dot_py(emb, [float(v) for v in r.emb]) / (norm * cnorm)
        scored.append((cos, int(r.centroid_id)))
    scored.sort(key=lambda t: (-t[0], t[1]))
    return [cid for _, cid in scored[:n_keep]]


def _present_ids(spark: SparkSession, sf_dir: str, pred_sql: str) -> list:
    """The vec_ids actually present in the embeddings table matching a
    pushed-down id predicate — ONE pruned parquet scan carrying no vector
    math. The python twins generate model rows for exactly these ids, so
    'the panel derives from the table' is preserved without a generation
    pass per panel."""
    rows = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id")
        .filter(pred_sql)
        .collect()
    )
    return sorted(int(r.vec_id) for r in rows)


def clustered_embeddings(spark: SparkSession, sf_dir: str, dim: int = CLU_DIM) -> DataFrame:
    """(vec_id, emb double[dim], norm): the embeddings table's ids with
    mixture-of-clusters vectors — center[cluster(id)] + noise(id). Scales
    with the SF like every other query input. dim=CLU_DIM (8) keeps the
    unrolled oracle SQL short for the IVF-only panel; dim=EMB_DIM (64)
    generates the full-width corpus the production BQ/PQ codecs run on
    unchanged (clustered_tier_recall).

    r12: the center half of each coordinate depends only on (cluster, j)
    — 16 x dim distinct doubles — so the centers are generated ONCE as a
    16-row table (clu_centroids, the same _clu_center_coord expressions)
    and broadcast-joined on the cluster id, instead of re-evaluating a
    per-row md5 chain for every coordinate of every row. That halves the
    per-row hash work (64 noise md5s remain; 64 center md5s drop to an
    element_at) and the added double is the SAME value, so emb/norm are
    bit-identical."""
    ids = load_table(spark, sf_dir, "embeddings").select("vec_id")
    with_c = ids.withColumn("__c", F.expr(clu_cluster_expr()))
    cent = F.broadcast(
        clu_centroids(spark, dim).select(
            F.col("centroid_id").alias("__c"), F.col("emb").alias("__cemb")
        )
    )
    coords = [
        F.expr(f"element_at(__cemb, {j + 1}) + {_clu_noise_coord('vec_id', j)}")
        for j in range(dim)
    ]
    e = with_c.join(cent, "__c").select("vec_id", F.array(*coords).alias("emb"))
    return e.withColumn("norm", F.sqrt(_dot("emb", "emb", dim)))


def clu_centroids(spark: SparkSession, dim: int = CLU_DIM) -> DataFrame:
    """The TRUE generating centers as the IVF coarse centroids (16 rows) —
    deterministic, so the whole scenario value-hashes against DuckDB.

    r12: built driver-side from the python twins of the SAME md5
    expressions and shipped as a 16-row JVM local relation
    (`io.local_table`, no Python worker) — the expression
    form made every consumer's plan re-evaluate 16·dim md5 chains and pay
    a broadcast-build of that subtree on the serve path. Bit-equality of
    twin vs expression rows is pinned in tests/test_extensions.py."""
    rows = []
    for c in range(CLU_K):
        emb = _clu_center_emb_py(c, dim)
        rows.append((c, emb, _fold_norm_py(emb)))
    return local_table(spark, rows, "centroid_id bigint, emb array<double>, norm double")


def clustered_recall_panel(
    spark: SparkSession, sf_dir: str, n_queries: int = 10, k: int = 5
) -> DataFrame:
    """Per-query IVF recall@k AND scanned fraction on the clustered corpus,
    probing CLU_N_PROBE of CLU_K lists. Plan shape is the production IVF
    serve: broadcast 16-row centroid attach for zero-shuffle assignment,
    candidate step = equi-join on centroid_id, plus one K-row list-size
    aggregate for the scanned-rows accounting. Output columns (hits,
    recall, scanned_rows, scanned_frac) are all exact integer / single-
    division arithmetic — full value-hash oracle."""
    corpus = clustered_embeddings(spark, sf_dir)
    # r12 (guide §2.4): assignment was a crossJoin(16-row cent) +
    # row_number window partitioned by vec_id — TWO full-corpus shuffles
    # just to rank 16 scores per row. _ivf_assign's zero-shuffle in-row
    # fold picks the identical lists (same cosine grouping, same
    # (desc cos, asc centroid_id) order; centers twin-computed bit-equal
    # to clu_centroids — tests/test_extensions.py), so both assignment
    # passes are now shuffle-free map projections.
    cent_rows = _clu_cent_rows(CLU_DIM)

    assigned = _ivf_assign(corpus, cent_rows, 1)
    queries = corpus.filter(F.col("vec_id") < n_queries)
    probes = _ivf_assign(queries, cent_rows, CLU_N_PROBE).select(*_query_cols("centroid_id"))
    ivfk = _ivf_serve(assigned, probes, k, CLU_DIM).select("query_id", "neighbor_id")
    truth = _brute_force_over(corpus, n_queries, k, CLU_DIM).select("query_id", "neighbor_id")
    # scanned-rows accounting: list sizes of the probed centroids (Q rows,
    # broadcast into the graded panel like _recall's sides)
    lists = assigned.groupBy("centroid_id").agg(F.count("*").alias("list_n"))
    scanned = (
        probes.join(F.broadcast(lists), "centroid_id")
        .groupBy("query_id")
        .agg(F.sum("list_n").alias("scanned_rows"))
    )
    # r12: the corpus count joins the plan as a broadcast 1-row scalar
    # instead of a separate driver count() job — same long value, same
    # IEEE division (long / double), so scanned_frac is bit-identical.
    ncnt = F.broadcast(
        corpus.groupBy().agg(F.count(F.lit(1)).cast("double").alias("__n_corpus"))
    )
    return (
        _recall(truth, k, ivf=ivfk)
        .join(F.broadcast(scanned), "query_id", "left")
        .crossJoin(ncnt)
        .select(
            "query_id",
            "ivf_hits",
            "ivf_recall",
            F.coalesce("scanned_rows", F.lit(0)).cast("long").alias("scanned_rows"),
            (
                F.coalesce("scanned_rows", F.lit(0)).cast("long")
                / F.col("__n_corpus")
            ).alias("scanned_frac"),
        )
    )


def _clustered_truth(corpus: DataFrame, n_queries: int, k: int) -> DataFrame:
    """Exact brute-force cosine top-k truth over a (vec_id, emb, norm)
    corpus for queries vec_id < n_queries — SHARED by the two clustered
    recall panels so their ground-truth definitions can never drift, and
    MATERIALIZED once (localCheckpoint, ≤ Q·k rows): the recall panels
    reference truth 2-4 times (per-tier hit joins + the query spine), and
    without the checkpoint each reference re-executes the corpus-wide
    scoring pass — 3 redundant full scans inside the very queries the
    bench times (r9 review finding). LAZY (r12 merge pass): nothing
    overlaps this materialization — eager just serializes a separate
    driver job before the serve job; lazy, the truth branch runs as
    independent stages of the final job (computed once, block-level
    get-or-compute) concurrently with the candidate branches."""
    truth = _brute_force_over(corpus, n_queries, k).select("query_id", "neighbor_id")
    return truth.localCheckpoint(eager=False)


def _clustered_panel(spark: SparkSession, sf_dir: str, n_queries: int) -> tuple:
    """Driver-side inputs of the full-width clustered panels (r12, guide
    §1.2): the CLU_K true generating centers as (centroid_id, emb) rows,
    and {vec_id: emb} for the query panel and the PQ codebook rows
    [PQ_CB_LO, +PQ_K) present in the table, twin-computed (bit-equal,
    tests/test_extensions.py) in vec_id order. Its one Spark job is the
    pruned id scan that finds which panel ids exist (was: three serial
    collect jobs, each generating over the corpus)."""
    cent_rows = _clu_cent_rows(EMB_DIM)
    centers = [r.emb for r in cent_rows]
    ids = _present_ids(
        spark,
        sf_dir,
        f"vec_id < {n_queries} OR (vec_id >= {PQ_CB_LO} AND vec_id < {PQ_CB_LO + PQ_K})",
    )
    return cent_rows, {i: _clu_emb_py(i, centers, EMB_DIM) for i in ids}


def clustered_tier_recall(
    spark: SparkSession, sf_dir: str, n_queries: int = 10, k: int = 5
) -> DataFrame:
    """Per-query recall@k of the PRODUCTION IVF / BQ / PQ-ADC tiers on the
    CLUSTERED regime (VERDICT-r8 item 5): the same deterministic
    16-cluster mixture as clustered_recall_panel but generated at full
    EMB_DIM=64 width, so the production codecs run UNCHANGED — with_bq's
    two 32-bit sign words, pq_encode's 8×16 codebooks from corpus rows
    [200,216), and the zero-shuffle literal-inlined centroid assignment
    (_ivf_assign) with the TRUE generating centers. Every tier's recall is
    graded against in-plan brute-force truth over the same corpus, and the
    whole scenario — corpus, centers, codes, candidates, recalls — is
    integer/single-division arithmetic, so the DuckDB oracle value-hashes
    it end to end (no trained-tier floor boolean needed).

    This closes the recall table's missing half: the parquet embeddings
    are near-isotropic (the documented hard case — BQ 0.58-0.64, IVF
    recall ∝ scanned fraction), while here pruning and sign codes are
    honest: the rerank/nprobe dials should dominate. MEASURED.md carries
    the two-regime comparison."""
    # the truth and the IVF, BQ and PQ tiers all read the full-width
    # corpus: a lazy localCheckpoint generates it once inside the query
    corpus = clustered_embeddings(spark, sf_dir, dim=EMB_DIM).localCheckpoint(eager=False)
    queries = corpus.filter(F.col("vec_id") < n_queries)
    truth = _clustered_truth(corpus, n_queries, k)
    cent_rows, emb_of = _clustered_panel(spark, sf_dir, n_queries)

    # IVF tier: true generating centers, zero-shuffle inline assignment
    probes = _ivf_assign(queries, cent_rows, CLU_N_PROBE).select(*_query_cols("centroid_id"))
    ivfk = _ivf_serve(_ivf_assign(corpus, cent_rows, 1), probes, k)

    # BQ tier: identical serve to bq_topk, over the clustered corpus
    bqk = _bq_topk_over(
        with_bq(corpus).select("vec_id", "emb", "norm", "code_lo", "code_hi"),
        n_queries,
        k,
    )

    # PQ-ADC tier: codebooks from the same deterministic corpus rows
    # (twin-computed from the present ids — identical python floats)
    cbs = _pq_split([e for i, e in emb_of.items() if i >= PQ_CB_LO])
    codes = pq_encode(corpus.select("vec_id", "emb"), cbs)
    qrows = [(i, e) for i, e in emb_of.items() if i < n_queries]
    dtabs = F.broadcast(_pq_dtabs_from_rows(spark, qrows, cbs))
    pqk = _topk(
        codes.join(dtabs, F.col("vec_id") != F.col("query_id")).select(
            "query_id", F.col("vec_id").alias("neighbor_id"), _pq_adc_dist().alias("adc_dist")
        ),
        "adc_dist",
        k,
        desc=False,
    )
    return _recall(truth, k, ivf=ivfk, bq=bqk, pq=pqk)


def clustered_residual_ivfpq_recall(
    spark: SparkSession,
    sf_dir: str,
    n_queries: int = 10,
    k: int = 5,
    codebooks: list | None = None,
    rerank: int | None = None,
) -> DataFrame:
    """Residual IVFPQ graded on the clustered regime — the fix for the
    r9 measured finding that plain PQ-ADC collapses to recall 0.12 on
    clustered data (MEASURED.md: untrained codebooks give ~1 entry per
    cluster per subspace, so every vector in a cluster quantizes to one
    code and ADC ties degenerate to id order). True IVFPQ (Jégou et al.)
    PQ-codes the RESIDUAL x − centroid[assign(x)] instead of x: the
    between-cluster structure is carried exactly by the coarse centroid
    and the codes only need to span the within-cluster residual space —
    which the same 16 sampled-row codebook entries can now actually
    resolve. Serving shape: probe CLU_N_PROBE lists; the query builds one
    ADC distance table PER PROBED LIST over its list-specific residual
    q − centroid_c (Q×nprobe tables, driver-side like _pq_dtab_py);
    candidates join on centroid_id (the probe pruning) and pay M lookups
    each. Per-query recall vs in-plan brute-force truth; deterministic
    end to end, fully value-hashed by the DuckDB oracle."""
    # the truth, the residual codes and the refine stage all read the
    # full-width corpus: a lazy localCheckpoint generates it once
    corpus = clustered_embeddings(spark, sf_dir, dim=EMB_DIM).localCheckpoint(eager=False)
    # r12 (guide §1.2): probe assignments, residual codebooks and the
    # per-(query, list) distance tables are K/Q-bounded pure functions of
    # the generator hashes, computed driver-side from the panel's twins.
    cent_rows, emb_of = _clustered_panel(spark, sf_dir, n_queries)
    centers = [r.emb for r in cent_rows]
    assigned = _ivf_assign(corpus, cent_rows, 1)
    cdf = F.broadcast(
        local_table(
            spark,
            [(c, centers[c]) for c in range(CLU_K)],
            "centroid_id bigint, c_emb array<double>",
        )
    )
    resid = assigned.join(cdf, "centroid_id").select(
        "vec_id",
        "centroid_id",
        F.expr("zip_with(emb, c_emb, (a, b) -> a - b)").alias("emb"),
    )
    norm_of = {i: _fold_norm_py(e) for i, e in emb_of.items()}
    if codebooks is None:
        # default: deterministic sampled-row residual codebooks via the
        # SAME derivation as the plain PQ tier (_pq_codebooks' rows
        # [PQ_CB_LO, PQ_CB_LO+PQ_K) sorted by vec_id, here over the
        # residual corpus — twin-computed); tests pass k-means-TRAINED
        # residual codebooks here to measure how much training closes
        # the gap
        cb_rows = []
        for i, e in emb_of.items():
            if i >= PQ_CB_LO:
                c = _assign_top_py(e, norm_of[i], cent_rows, 1)[0]
                cb_rows.append([a - b for a, b in zip(e, centers[c])])
        codebooks = _pq_split(cb_rows)
    cbs = codebooks
    codes = pq_encode(resid, cbs, keep=("centroid_id",))

    # per-(query, probed-list) residual distance tables, driver-side
    data = []
    for vid in (i for i in emb_of if i < n_queries):
        for cid in _assign_top_py(emb_of[vid], norm_of[vid], cent_rows, CLU_N_PROBE):
            c = centers[cid]
            rq = [float(a) - c[i2] for i2, a in enumerate(emb_of[vid])]
            data.append((vid, cid, _pq_dtab_py(rq, cbs)))
    data.sort(key=lambda t: (t[0], t[1]))
    dtabs = F.broadcast(
        local_table(
            spark, data, "query_id bigint, centroid_id bigint, dtab array<array<double>>"
        )
    )
    cand = codes.join(dtabs, "centroid_id").filter(
        F.col("vec_id") != F.col("query_id")
    )
    scored = cand.select(
        "query_id", F.col("vec_id").alias("neighbor_id"), _pq_adc_dist().alias("adc_dist")
    )
    # FAISS's refine stage: ADC proposes `rerank` candidates, the
    # full-precision vectors re-rank ONLY those ids (the BQ stage-2 shape).
    # Measured on this corpus: recall@5 0.52 (pure ADC) → 0.98 at rerank=20
    # → 1.00 at rerank=40, because ADC's quantization-ranking noise only
    # needs the true neighbor INSIDE the candidate window, not at its top.
    pqk = _topk(scored, "adc_dist", k if rerank is None else rerank, desc=False)
    if rerank is not None:
        pqk = _rerank(corpus, pqk.select("query_id", "neighbor_id"), n_queries, k)
    return _recall(_clustered_truth(corpus, n_queries, k), k, rpq=pqk)


def train_residual_codebooks(
    spark: SparkSession, sf_dir: str, seed: int = 20260815, max_iter: int = 10
) -> list:
    """k-means-TRAINED residual PQ codebooks — the production codebook
    source (FAISS trains exactly this way): one KMeans(k=PQ_K) fit per
    subspace over the clustered corpus's residual subvectors. Training is
    offline by nature and pyspark.ml k-means is not DuckDB-replayable, so
    the trained tier is graded by a recall-comparison pytest (mirroring
    trained_ivf_topk's floor contract) rather than a value-hash oracle;
    the SERVING plan — pq_encode + broadcast dtabs + centroid-pruned ADC —
    is byte-identical to the sampled-codebook tier."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    from pyspark import StorageLevel

    corpus = clustered_embeddings(spark, sf_dir, dim=EMB_DIM)
    cent = clu_centroids(spark, dim=EMB_DIM)
    cent_rows = cent.select("centroid_id", "emb").collect()
    assigned = _ivf_assign(corpus, cent_rows, 1)
    cdf = F.broadcast(cent.select("centroid_id", F.col("emb").alias("c_emb")))
    # PQ_M KMeans fits each run ~a dozen init/iteration jobs over this
    # frame — unpersisted, every one of those jobs re-derives the
    # generated corpus, the assignment fold and the residual zip_with
    # (measured 5.4x the whole training time at bench scale). Cache the
    # residuals once for the duration of the fits (guide §5: cache the
    # many-consumer intermediate inside the computation, never across
    # runs); values are unchanged, so the trained codebooks are too.
    resid = (
        assigned.join(cdf, "centroid_id")
        .select(F.expr("zip_with(emb, c_emb, (a, b) -> a - b)").alias("emb"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        cbs = []
        for m in range(PQ_M):
            feats = resid.select(
                array_to_vector(
                    F.expr(f"slice(emb, {m * PQ_SUBDIM + 1}, {PQ_SUBDIM})")
                ).alias("features")
            )
            model = KMeans(k=PQ_K, seed=seed + m, maxIter=max_iter).fit(feats)
            cbs.append([[float(v) for v in c] for c in model.clusterCenters()])
    finally:
        resid.unpersist()
    return cbs


# --- persisted IVF index (offline build / online partition-pruned serve) -----


def build_ivf_index(
    spark: SparkSession,
    sf_dir: str,
    index_dir: str,
    centroids: DataFrame | None = None,
) -> str:
    """Offline IVF index build: assign every corpus vector to its nearest
    coarse centroid and persist the inverted lists as parquet PARTITIONED BY
    centroid_id. This is the production offline/online split the inline
    `ivf_topk` plan folds together: the build runs once per corpus
    snapshot; serving then reads ONLY the probed list directories —
    `centroid_id IN (...)` prunes partitions at file-listing time, so query
    IO is nprobe/K of the corpus no matter how large the corpus grows
    (plan-asserted in tests/test_plans.py)."""
    corpus = with_norm(load_table(spark, sf_dir, "embeddings")).select("vec_id", "emb", "norm")
    if centroids is None:
        centroids = _slice_centroids(corpus)
    assigned = _ivf_assign(corpus, centroids, 1)
    (
        assigned.select("centroid_id", "vec_id", "emb", "norm")
        .write.mode("overwrite")
        .partitionBy("centroid_id")
        .parquet(index_dir)
    )
    return index_dir


def build_residual_ivfpq_index(
    spark: SparkSession,
    sf_dir: str,
    index_dir: str,
    codebooks: list | None = None,
) -> str:
    """Offline residual-IVFPQ ENCODE+WRITE (VERDICT-r9 item 8: the serve
    path was measured, the build economics were not): assign every
    clustered-corpus vector to its coarse centroid, subtract the centroid
    (the residual-coding step that fixed the measured PQ collapse on
    clustered data), PQ-encode the residuals through the shared
    `pq_encode` map (4-byte codes), and persist the code lists parquet-
    PARTITIONED BY centroid_id — the same offline/online split as
    `build_ivf_index`, but landing 64x-smaller code rows. Pass pretrained
    `codebooks` (train_residual_codebooks) to measure encode alone; the
    bench writes tier records train and encode as separate rows so the
    index-build economics (train + encode) are both visible."""
    corpus = clustered_embeddings(spark, sf_dir, dim=EMB_DIM)
    cent = clu_centroids(spark, dim=EMB_DIM)
    cent_rows = cent.select("centroid_id", "emb").collect()
    if codebooks is None:
        codebooks = train_residual_codebooks(spark, sf_dir)
    assigned = _ivf_assign(corpus, cent_rows, 1)
    cdf = F.broadcast(cent.select("centroid_id", F.col("emb").alias("c_emb")))
    resid = assigned.join(cdf, "centroid_id").select(
        "vec_id",
        "centroid_id",
        F.expr("zip_with(emb, c_emb, (a, b) -> a - b)").alias("emb"),
    )
    codes = pq_encode(resid, codebooks, keep=("centroid_id",))
    codes.write.mode("overwrite").partitionBy("centroid_id").parquet(index_dir)
    return index_dir


def ivf_topk_from_index(
    spark: SparkSession,
    sf_dir: str,
    index_dir: str,
    n_queries: int = 10,
    k: int = 5,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Online IVF serving from the persisted index: score the query panel
    against the K-row centroid table, then scan only the probed partitions
    of the index (partition pruning on centroid_id) and re-rank exactly.
    Same output contract as `ivf_topk`."""
    corpus = with_norm(load_table(spark, sf_dir, "embeddings")).select("vec_id", "emb", "norm")
    if centroids is None:
        centroids = _slice_centroids(corpus)
    probes = _ivf_assign(corpus.filter(F.col("vec_id") < n_queries), centroids, N_PROBE).select(
        *_query_cols("centroid_id")
    )
    # the probed list ids are a tiny driver-side set (n_queries * nprobe);
    # inlining them as a literal IN-filter is what turns the scan into a
    # partition-pruned read of nprobe/K of the index
    probe_ids = sorted({r.centroid_id for r in probes.select("centroid_id").distinct().collect()})
    index = spark.read.parquet(index_dir).filter(F.col("centroid_id").isin(probe_ids))
    return _ivf_serve(index, probes, k)


def _index_exists(spark: SparkSession, index_dir: str) -> bool:
    """True if the index has COMMITTED data — the _SUCCESS marker, not mere
    directory existence: a crashed first write leaves the dir with only
    _temporary droppings, and treating that as 'index present' would make
    the redelivered batch fail on an unreadable read forever instead of
    writing fresh. Uses the Hadoop FileSystem API (local, HDFS and S3A
    alike), so 'missing index' stays distinguished from transient read
    errors — which must propagate."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    marker = jvm.org.apache.hadoop.fs.Path(index_dir.rstrip("/") + "/_SUCCESS")
    return marker.getFileSystem(conf).exists(marker)


def streaming_index_ingest(
    spark: SparkSession,
    landing_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    centroids: DataFrame,
) -> None:
    """Continuous IVF index maintenance: new embedding files landing in
    `landing_dir` stream in, get assigned to their nearest coarse centroid,
    and append to the persisted index — completing the index lifecycle
    (offline `build_ivf_index` → online `ivf_topk_from_index` → streaming
    ingest for the vectors that arrive after the snapshot).

    Idempotent per batch: a retried micro-batch anti-joins against the
    vec_ids already in the index — and reads ONLY the partitions this
    batch's assignments touch (the same centroid_id pruning the serve path
    uses), so the dedup probe is O(batch's lists), not O(index). At larger
    scale the anti-join+append upgrades to a Delta/Iceberg MERGE, exactly
    like the SNK2 silver sink."""
    schema = "vec_id bigint, embedding array<float>"
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(
        landing_dir
    )
    # K rows, collected ONCE before the stream starts — never per batch
    cent_rows = centroids.select("centroid_id", "emb").collect()

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        prep = with_norm(batch_df).select("vec_id", "emb", "norm")
        assigned = (
            _ivf_assign(prep, cent_rows, 1)
            .select("centroid_id", "vec_id", "emb", "norm")
            .persist()  # scored once; serves both the touched probe and the write
        )
        try:
            touched = sorted(
                {r.centroid_id for r in assigned.select("centroid_id").distinct().collect()}
            )
            # existence probed explicitly: a TRANSIENT read failure must
            # surface (and the batch retry), never silently skip the dedup
            # anti-join — that would let a redelivered batch duplicate rows
            fresh = assigned
            if _index_exists(spark, index_dir):
                existing = (
                    spark.read.parquet(index_dir)
                    .filter(F.col("centroid_id").isin(touched))
                    .select("vec_id")
                )
                fresh = assigned.join(existing, "vec_id", "left_anti")
            fresh.write.mode("append").partitionBy("centroid_id").parquet(index_dir)
        finally:
            assigned.unpersist()

    _drain(stream.writeStream.foreachBatch(ingest), checkpoint_dir)


# --- SQ8 scalar quantization tier --------------------------------------------


def with_sq8(embeddings: DataFrame) -> DataFrame:
    """Per-vector symmetric int8 scalar quantization (SQ8): scale =
    127 / max|x|, q_i = round(x_i * scale). 4× smaller than float32 — at
    100 TB the quantized corpus is what stays hot; full-precision vectors
    page in only for final re-ranking. Adds `scale` (double) and `q`
    (int array) columns."""
    e = embeddings
    if "emb" not in e.columns:
        e = e.withColumn("emb", F.expr("transform(embedding, x -> cast(x as double))"))
    # the all-zero vector would make scale 127/0 — a DIVIDE_BY_ZERO crash
    # under ANSI (r11 fuzz finding). It has an exact int8 representation:
    # scale 1, all-zero codes, zero reconstruction error — so the codec is
    # total even though the serving paths exclude zero-norm vectors at the
    # with_norm edge. Mirrored as CASE WHEN in the oracle's sq8 CTE.
    e = e.withColumn(
        "scale",
        F.when(
            F.expr("array_max(transform(emb, x -> abs(x)))") > 0,
            F.lit(127.0) / F.expr("array_max(transform(emb, x -> abs(x)))"),
        ).otherwise(F.lit(1.0)),
    )
    # zip_with over a repeated scale, not transform(emb, x -> x * scale):
    # where `scale` is read once the optimizer inlines its expression, and
    # inside a lambda that re-evaluates the O(dim) max per element
    return e.withColumn(
        "q",
        F.expr(
            "zip_with(emb, array_repeat(scale, size(emb)),"
            " (x, s) -> cast(round(x * s) as int))"
        ),
    )


def quantize_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantization audit: per-vector scale, an md5 fingerprint of the int8
    codes (hash-verifies the full quantization byte-for-byte against the
    oracle) and the max absolute reconstruction error. The audit is
    TOTAL — one row per stored embedding, zero-norm included (with_sq8
    represents the zero vector exactly: scale 1, all-zero codes), so a
    storage-coverage consumer never silently loses rows; only SERVING
    paths exclude zero-norm at the with_norm edge (ADVICE-r11). The
    oracle's `e` CTE is the unfiltered twin (_EMB_CTE_TOTAL)."""
    e = with_sq8(with_norm(load_table(spark, sf_dir, "embeddings"), total=True))
    return e.select(
        "vec_id",
        "scale",
        F.md5(F.concat_ws(",", F.col("q"))).alias("codes_md5"),
        F.expr("array_max(zip_with(emb, q, (x, c) -> abs(x - c / scale)))").alias(
            "max_abs_err"
        ),
    )


def sq8_topk(
    spark: SparkSession, sf_dir: str, n_queries: int = 10, k: int = 5
) -> DataFrame:
    """Brute-force top-k in the QUANTIZED domain: candidates are ranked by
    the int8 cosine (integer dot products — exact arithmetic, so the
    ranking is order-independent and bit-identical across engines by
    construction; the only floats are two final single divisions). The
    production pattern this models: scan the 4×-compressed corpus, take
    top-k' by quantized score, re-rank the short list at full precision
    (recall loss of SQ8 at this k is near zero — measurable with the
    recall_at_k pattern)."""
    base = with_sq8(with_norm(load_table(spark, sf_dir, "embeddings"))).select(
        "vec_id", "scale", "q"
    )
    return _sq8_topk_over(base, n_queries, k)


def _sq8_topk_over(base: DataFrame, n_queries: int, k: int) -> DataFrame:
    """The quantized-domain serve over any (vec_id, scale, q) corpus —
    shared by sq8_topk (parquet embeddings) and the r11 differential
    fuzz."""
    qdot = " + ".join(
        f"element_at(a.q, {i}) * element_at(b.q, {i})" for i in range(1, EMB_DIM + 1)
    )
    qnorm_a = " + ".join(f"element_at(a.q, {i}) * element_at(a.q, {i})" for i in range(1, EMB_DIM + 1))
    qnorm_b = " + ".join(f"element_at(b.q, {i}) * element_at(b.q, {i})" for i in range(1, EMB_DIM + 1))
    a = F.broadcast(base.filter(F.col("vec_id") < n_queries)).alias("a")
    b = base.alias("b")
    scored = (
        b.join(a, F.col("a.vec_id") != F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("query_id"),
            F.col("b.vec_id").alias("neighbor_id"),
            (
                F.expr(f"cast({qdot} as long)").cast("double")
                / F.sqrt(F.expr(f"cast({qnorm_a} as long)").cast("double"))
                / F.sqrt(F.expr(f"cast({qnorm_b} as long)").cast("double"))
            ).alias("q_cosine"),
        )
    )
    return _topk(scored, "q_cosine", k)


# --- BQ (1-bit binary quantization) tier -------------------------------------

BQ_RERANK = 40  # stage-1 Hamming candidate depth re-ranked at full precision


def _bq_word_expr(col: str, lo: int) -> str:
    """SQL for one packed 32-bit sign word of `col` (double array): bit
    (i - lo) is set iff dimension i is > 0. Unrolled literal powers of two
    so the whole pack is flat codegen integer arithmetic."""
    terms = " + ".join(
        f"if(element_at({col}, {i}) > 0, {1 << (i - lo)}L, 0L)" for i in range(lo, lo + 32)
    )
    return f"cast({terms} as long)"


def with_bq(embeddings: DataFrame) -> DataFrame:
    """1-bit binary quantization: each dimension's SIGN packed into two
    32-bit words (`code_lo` = dims 1–32, `code_hi` = dims 33–64) — 8 bytes
    per vector, a 32× compression over float32 (the step past SQ8's 4× on
    the memory-hierarchy curve). For mean-centered embeddings the sign
    pattern preserves angular locality (it IS the sign-LSH bucket key at
    64 planes = the identity basis), so Hamming distance over the codes is
    a cheap angular-distance surrogate: 2 XOR + 2 popcount per pair versus
    64 multiply-adds. At 100 TB the packed codes for a billion vectors are
    ~8 GB — small enough to stay in executor memory corpus-wide while the
    float vectors page in only for re-ranking. Adds `emb` (double[]) only
    if absent (reusing with_norm's when composed) plus the two code
    words. All-integer arithmetic: the codes are bit-identical across
    engines by construction."""
    # The two code columns cover dims [1,32] and [33,64] — exactly
    # EMB_DIM=64 dims. The assert ties the pack to the schema constant so
    # a dimension change fails HERE, loudly, instead of silently packing
    # only the first 64 dims (ADVICE-r8); generalizing means extending the
    # code columns AND both engines' Hamming expressions together, so the
    # literals stay honest literals rather than a half-derived loop that
    # cannot actually run at any other width (r9 review finding).
    assert EMB_DIM == 64, (
        f"with_bq packs exactly two 32-bit sign words (code_lo/code_hi) "
        f"covering 64 dims; EMB_DIM={EMB_DIM} requires extending the code "
        f"columns and the Hamming expressions together"
    )
    e = embeddings
    if "emb" not in e.columns:
        e = e.withColumn("emb", F.expr("transform(embedding, x -> cast(x as double))"))
    return e.withColumn("code_lo", F.expr(_bq_word_expr("emb", 1))).withColumn(
        "code_hi", F.expr(_bq_word_expr("emb", 33))
    )


def bq_topk(
    spark: SparkSession, sf_dir: str, n_queries: int = 10, k: int = 5, rerank: int = BQ_RERANK
) -> DataFrame:
    """Two-stage ANN over the 1-bit codes — the RaBitQ/binary-hashing
    serving shape: stage 1 ranks the corpus per query by Hamming distance
    over the packed sign words (XOR + bit_count — exact integers, ties by
    neighbor id, so the candidate set is deterministic) and keeps the top
    `rerank`; stage 2 joins ONLY those candidate ids back to the
    full-precision vectors and re-ranks by true cosine. The candidate scan
    carries 8-byte codes instead of 256-byte arrays — the stage-1 shuffle
    is ~32× narrower than brute force — and stage 2's work is
    O(n_queries × rerank), independent of corpus size. Both join-backs are
    broadcast (Q·rerank rows). Measured on this corpus at rerank=40:
    recall@5 vs exact brute force = 0.58 (sf0.001) / 0.64 (sf0.01) —
    between multi-probe LSH (0.30) and exact, on near-isotropic synthetic
    embeddings (the hard case for sign codes, as for LSH above; `rerank`
    is the recall dial and costs only stage-2 rows, so real clustered
    embeddings run far higher at the same depth)."""
    base = with_bq(with_norm(load_table(spark, sf_dir, "embeddings"))).select(
        "vec_id", "emb", "norm", "code_lo", "code_hi"
    )
    return _bq_topk_over(base, n_queries, k, rerank)


def _bq_topk_over(
    base: DataFrame, n_queries: int, k: int, rerank: int = BQ_RERANK
) -> DataFrame:
    """The BQ two-stage serve over any (vec_id, emb, norm, code_lo,
    code_hi) corpus — shared by bq_topk (parquet embeddings) and
    clustered_tier_recall (generated clustered corpus), so the isotropic
    and clustered regimes grade the IDENTICAL plan."""
    codes = base.select("vec_id", "code_lo", "code_hi")
    a = F.broadcast(codes.filter(F.col("vec_id") < n_queries)).alias("a")
    b = codes.alias("b")
    ham = F.expr("bit_count(a.code_lo ^ b.code_lo) + bit_count(a.code_hi ^ b.code_hi)")
    scored = b.join(a, F.col("a.vec_id") != F.col("b.vec_id")).select(
        F.col("a.vec_id").alias("query_id"),
        F.col("b.vec_id").alias("neighbor_id"),
        ham.cast("int").alias("hamming"),
    )
    cand = _topk(scored, "hamming", rerank, desc=False).drop("rank")
    return _rerank(base, cand, n_queries, k)


# --- IVF (inverted-file) tier -------------------------------------------------

N_CENTROIDS = 8
CENTROID_ID_LO = 100  # deterministic coarse centroids: vec_ids [100, 108)
# nprobe tuned with the recall_at_k dial: 2 → 3 lifts recall@5 0.26 → 0.46
# on this corpus (near-isotropic synthetic embeddings, top-1 cosine ≈ 0.4 —
# the hard case: recall costs candidates; clustered real embeddings give far
# more recall per probed list)
N_PROBE = 3


def _slice_centroids(corpus: DataFrame) -> DataFrame:
    """The deterministic coarse centroids, (centroid_id, emb, norm): the
    (vec_id, emb, norm) corpus rows [CENTROID_ID_LO, +N_CENTROIDS), which
    the DuckDB oracles derive the same way."""
    return corpus.filter(
        (F.col("vec_id") >= CENTROID_ID_LO) & (F.col("vec_id") < CENTROID_ID_LO + N_CENTROIDS)
    ).select(F.col("vec_id").alias("centroid_id"), "emb", "norm")


def _ivf_assign(corpus: DataFrame, centroids: DataFrame | list, n_keep: int) -> DataFrame:
    """Keep each vector's `n_keep` nearest centroid lists (1 for corpus
    assignment, N_PROBE for queries) — as a ZERO-SHUFFLE map: the K
    centroids are collected (K ~ sqrt(N), a driver-side table by nature)
    and inlined as expression literals, so every row scores, sorts and
    picks its lists inside one projection. The previous formulation
    (cross-join + row_number window) shuffled the whole corpus WITH its
    embedding arrays just to rank 8 scores per row — at 100 TB that
    shuffle dwarfs the actual math. Ordering matches the oracle exactly:
    cosine desc (NULLs last, matching the window/oracle DESC semantics),
    centroid_id asc; the python-side centroid norm is the same left-fold +
    sqrt the engines compute, so values are bit-equal.

    `centroids` may be a DataFrame or an already-collected row list —
    callers that assign repeatedly (both sides of a top-k plan, every
    streaming micro-batch) collect the K rows ONCE and pass the list, so
    the centroid source isn't re-scanned per call."""
    import math

    if isinstance(centroids, DataFrame):
        centroids = centroids.select("centroid_id", "emb").collect()
    rows = sorted(centroids, key=lambda r: r.centroid_id)
    picks = []
    for r in rows:
        terms = " + ".join(
            f"element_at(emb, {i + 1}) * cast({float(v)!r} as double)"
            for i, v in enumerate(r.emb)
        )
        dot = F.expr(f"cast(0.0 as double) + {terms}")
        acc = 0.0
        for v in r.emb:
            acc += float(v) * float(v)
        cnorm = math.sqrt(acc)
        cos = dot / (F.col("norm") * F.lit(cnorm))
        picks.append(
            F.struct(cos.alias("c_cos"), F.lit(int(r.centroid_id)).alias("centroid_id"))
        )

    def cmp(a, b):
        # explicit NULL branches: a NULL cosine (zero-norm centroid) must
        # sort LAST like the window's ORDER BY DESC / the oracle, not fall
        # through to the id tie-break
        return (
            F.when(a["c_cos"].isNull() & b["c_cos"].isNotNull(), F.lit(1))
            .when(a["c_cos"].isNotNull() & b["c_cos"].isNull(), F.lit(-1))
            .when(a["c_cos"] > b["c_cos"], F.lit(-1))
            .when(a["c_cos"] < b["c_cos"], F.lit(1))
            .when(a["centroid_id"] < b["centroid_id"], F.lit(-1))
            .when(a["centroid_id"] > b["centroid_id"], F.lit(1))
            .otherwise(F.lit(0))
        )

    ranked = F.slice(F.array_sort(F.array(*picks), cmp), 1, n_keep)
    return corpus.select(
        "vec_id", "emb", "norm", F.explode(ranked).alias("pick")
    ).select("vec_id", "emb", "norm", F.col("pick.centroid_id").alias("centroid_id"))


def kmeans_centroids(
    spark: SparkSession,
    sf_dir: str,
    k: int = N_CENTROIDS,
    seed: int = 20260813,
    max_iter: int = 20,
) -> DataFrame:
    """Trained IVF coarse centroids via pyspark.ml KMeans (k-means|| init,
    pinned seed so a rebuild on the same corpus + partitioning reproduces
    the same lists). This is the production centroid source: the offline
    training pass runs once per corpus snapshot, and only the K-row
    centroid table it emits feeds the probe join — the query plan is
    byte-identical to the corpus-slice fallback (asserted in
    tests/test_plans.py). The registered oracle query keeps the
    deterministic corpus-slice centroids because k-means is not
    reproducible inside DuckDB; recall of either source is measured by
    `recall_at_k`."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    corpus = with_norm(load_table(spark, sf_dir, "embeddings"))
    feats = corpus.select(array_to_vector("emb").alias("features"))
    model = KMeans(k=k, seed=seed, maxIter=max_iter).fit(feats)
    # K rows total (K ~ sqrt(N) even at scale) — a driver-side list by nature
    rows = [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())]
    cent = local_table(spark, rows, "centroid_id int, emb array<double>")
    return cent.withColumn("norm", F.sqrt(_dot("emb", "emb")))


def ivf_topk(
    spark: SparkSession,
    sf_dir: str,
    n_queries: int = 10,
    k: int = 5,
    centroids: DataFrame | None = None,
    n_probe: int = N_PROBE,
) -> DataFrame:
    """IVF-Flat ANN: corpus vectors are inverted-listed under their nearest
    coarse centroid; queries probe their N_PROBE nearest lists and re-rank
    exactly inside them. The candidate step is an EQUI-join on centroid_id
    (shuffle by list — the 100 TB shape; each list is ~N/K vectors, and
    skewed lists fall to AQE). The default centroid source is a
    deterministic corpus subset (vec_ids 100..107) so the DuckDB oracle can
    reproduce the lists; pass `centroids=kmeans_centroids(...)` for trained
    lists — only the centroid table changes, not this plan."""
    corpus = with_norm(load_table(spark, sf_dir, "embeddings")).select("vec_id", "emb", "norm")
    if centroids is None:
        centroids = _slice_centroids(corpus)

    cent_rows = centroids.select("centroid_id", "emb").collect()  # K rows, once
    probes = _ivf_assign(corpus.filter(F.col("vec_id") < n_queries), cent_rows, n_probe).select(
        *_query_cols("centroid_id")
    )
    return _ivf_serve(_ivf_assign(corpus, cent_rows, 1), probes, k)


# --- Product Quantization (PQ) tier ------------------------------------------

PQ_M = 8  # subspaces
PQ_SUBDIM = EMB_DIM // PQ_M  # 8 dims per subspace
PQ_K = 16  # codes per subspace → 8 × 4 bits = 4 bytes/vector (64× smaller)
PQ_CB_LO = 200  # deterministic codebook rows: vec_ids [200, 216)


def _pq_codebooks(corpus) -> list[list[list[float]]]:
    """codebooks[m][k] = the m-th subvector of deterministic corpus row
    PQ_CB_LO+k. Like the IVF fallback centroids: a reproducible stand-in
    for k-means-trained codebooks (training is offline; the serving shape
    below is identical either way), chosen so the DuckDB oracle can derive
    the same codebooks from the table. K·M rows collected once — driver
    -side by nature, exactly like IVF's K centroids."""
    rows = sorted(
        corpus.filter(
            (F.col("vec_id") >= PQ_CB_LO) & (F.col("vec_id") < PQ_CB_LO + PQ_K)
        )
        .select("vec_id", "emb")
        .collect(),
        key=lambda r: r.vec_id,
    )
    return _pq_split([r.emb for r in rows])


def _pq_split(rows: list) -> list[list[list[float]]]:
    """codebooks[m][k] = the m-th PQ_SUBDIM-wide subvector of codebook
    vector rows[k]."""
    return [
        [[float(v) for v in r[m * PQ_SUBDIM : (m + 1) * PQ_SUBDIM]] for r in rows]
        for m in range(PQ_M)
    ]


def _pq_dtab_py(x: list, codebooks: list) -> list:
    """One M×K ADC distance table for query vector `x` — the python-float
    left-fold `(‖x‖² − 2·x·c) + ‖c‖²` shared by every dtab builder."""
    dtab = []
    for m in range(PQ_M):
        xm = x[m * PQ_SUBDIM : (m + 1) * PQ_SUBDIM]
        row_k = []
        for kk in range(len(codebooks[m])):
            c = codebooks[m][kk]
            x2 = 0.0
            dot = 0.0
            c2 = 0.0
            for i in range(PQ_SUBDIM):
                x2 = x2 + xm[i] * xm[i]
                dot = dot + xm[i] * float(c[i])
                c2 = c2 + float(c[i]) * float(c[i])
            row_k.append((x2 - 2.0 * dot) + c2)
        dtab.append(row_k)
    return dtab


def _pq_dtabs_from_rows(spark: SparkSession, rows: list, codebooks: list) -> DataFrame:
    """(query_id, dtab) table from already-materialized (vec_id, emb)
    python rows — callers that obtained the query panel without a
    dedicated collect job (the r12 single-scan/python-twin paths) build
    the identical table here."""
    data = [(vid, _pq_dtab_py(x, codebooks)) for vid, x in rows]
    return local_table(spark, data, "query_id bigint, dtab array<array<double>>")


def _pq_adc_dist() -> Column:
    """ADC distance from a materialized `dtab` column and code columns
    c0..c{M-1}: M two-level lookups summed in fixed order."""
    dist = F.lit(0.0).cast("double")
    for m in range(PQ_M):
        dist = dist + F.element_at(
            F.element_at(F.col("dtab"), m + 1), F.col(f"c{m}") + 1
        )
    return dist


def pq_encode(corpus: DataFrame, codebooks: list, keep: tuple = ()) -> DataFrame:
    """Encode each vector as PQ_M argmin code ids (ties → min code id):
    columns vec_id, *keep, c0..c{M-1}. Pure map over the corpus scan — no
    shuffle; the 4-byte codes are what lands in fast storage.

    This is the repo's documented when-Python-wins case: the built-in
    expression formulation needs M×K unrolled subdistance trees
    (~25k nodes) that blow past the codegen size limit and run
    INTERPRETED — measured ~1.4 ms/row. Here the same arithmetic runs as
    an Arrow-batched mapInPandas with numpy vectorized ACROSS ROWS while
    the accumulation over dimensions stays an explicit left-fold loop —
    so every distance is bit-identical to the oracle's
    `(‖x‖² − 2·x·c) + ‖c‖²` fold (elementwise IEEE ops in the same
    order), and np.argmin's first-min matches the min-k tie-break."""
    import numpy as np
    import pandas as pd

    out_fields = [corpus.schema["vec_id"]] + [corpus.schema[c] for c in keep]
    from pyspark.sql import types as T

    schema = T.StructType(
        out_fields + [T.StructField(f"c{m}", T.IntegerType()) for m in range(PQ_M)]
    )
    cb_sub = [np.array(codebooks[m], dtype=np.float64) for m in range(PQ_M)]  # K×SUBDIM
    c2s = []
    for m in range(PQ_M):
        # per-center ‖c‖² as a PYTHON left-fold (same IEEE order as the
        # SQL oracle's CAST(0.0)+c1*c1+... expression)
        row = []
        for k in range(PQ_K):
            acc = 0.0
            for v in codebooks[m][k]:
                acc = acc + float(v) * float(v)
            row.append(acc)
        c2s.append(np.array(row, dtype=np.float64))

    cols_in = ["vec_id", *keep]

    def encode(batches):
        for pdf in batches:
            X = np.array(pdf["emb"].tolist(), dtype=np.float64)  # n×EMB_DIM
            out = {c: pdf[c] for c in cols_in}
            for m in range(PQ_M):
                Xm = X[:, m * PQ_SUBDIM : (m + 1) * PQ_SUBDIM]
                Cm = cb_sub[m]
                x2 = np.zeros(len(pdf), dtype=np.float64)
                dot = np.zeros((len(pdf), PQ_K), dtype=np.float64)
                for i in range(PQ_SUBDIM):  # explicit left-fold over dims
                    xi = Xm[:, i]
                    x2 = x2 + xi * xi
                    dot = dot + xi[:, None] * Cm[None, :, i]
                d = (x2[:, None] - 2.0 * dot) + c2s[m][None, :]
                out[f"c{m}"] = np.argmin(d, axis=1).astype("int32")
            yield pd.DataFrame(out)

    return corpus.select(*cols_in, "emb").mapInPandas(encode, schema=schema)


def pq_adc_topk(
    spark: SparkSession, sf_dir: str, n_queries: int = 10, k: int = 5
) -> DataFrame:
    """PQ asymmetric-distance top-k (Jégou et al. TPAMI'11 serving shape):
    the corpus is scanned as 4-byte CODES (64× less IO than raw floats);
    each query computes an M×K distance table against the codebooks and a
    candidate's distance is M table lookups summed in fixed order — exact
    same arithmetic as the oracle, so results hash-match. The scan is
    ADC's defining cost model: compressed-domain brute force; compose with
    the IVF partition pruning for the full IVFPQ when the corpus outgrows
    a single scan tier."""
    e = load_table(spark, sf_dir, "embeddings").withColumn(
        "emb", F.expr("transform(embedding, x -> cast(x as double))")
    )
    # r12 (guide §1.2): codebook rows + query panel in ONE pruned collect
    # job instead of two serial ones — identical rows, split driver-side.
    panel = sorted(
        e.select("vec_id", "emb")
        .filter(
            (F.col("vec_id") < n_queries)
            | ((F.col("vec_id") >= PQ_CB_LO) & (F.col("vec_id") < PQ_CB_LO + PQ_K))
        )
        .collect(),
        key=lambda r: r.vec_id,
    )
    cbs = _pq_split([r.emb for r in panel if PQ_CB_LO <= r.vec_id < PQ_CB_LO + PQ_K])
    codes = pq_encode(e, cbs)
    # The distance TABLE is materialized per QUERY before the join (PQ's
    # defining trick) — as driver-computed DATA, not an expression tree:
    # each of the N candidates pays only M array lookups, and the plan
    # carries no M×K arithmetic at all.
    qrows = [
        (int(r.vec_id), [float(v) for v in r.emb]) for r in panel if r.vec_id < n_queries
    ]
    queries = F.broadcast(_pq_dtabs_from_rows(spark, qrows, cbs))
    pair = codes.join(queries, F.col("vec_id") != F.col("query_id"))
    scored = pair.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        _pq_adc_dist().alias("adc_dist"),
    )
    return _topk(scored, "adc_dist", k, desc=False)


def ivfpq_topk(
    spark: SparkSession, sf_dir: str, n_queries: int = 10, k: int = 5
) -> DataFrame:
    """Full IVFPQ: IVF coarse quantization prunes the search to N_PROBE
    inverted lists (an equi-join on centroid_id — nprobe/K of the corpus
    touched), and WITHIN the probed lists candidates are ranked by PQ
    asymmetric distance over 4-byte codes. This is the composition every
    billion-scale vector store ships (FAISS IVFPQ): IO bounded by the
    probe pruning × 64 by the code compression. Same deterministic
    centroid/codebook sources as the component tiers, so the DuckDB
    oracle reproduces the exact candidate sets and distances."""
    from pyspark.sql import Row

    corpus = with_norm(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", "emb", "norm"
    )
    # r12 (guide §1.2): the three driver-side model panels — PQ codebook
    # rows [PQ_CB_LO, PQ_CB_LO+PQ_K), IVF coarse centroids
    # [CENTROID_ID_LO, +N_CENTROIDS), and the query panel [0, n_queries) —
    # previously ran one pruned collect job EACH, serially. One scan with
    # the union predicate fetches all three (the filter still pushes to
    # parquet); values are the identical collected rows, split driver-side.
    panel = sorted(
        corpus.select("vec_id", "emb")
        .filter(
            (F.col("vec_id") < n_queries)
            | (
                (F.col("vec_id") >= CENTROID_ID_LO)
                & (F.col("vec_id") < CENTROID_ID_LO + N_CENTROIDS)
            )
            | ((F.col("vec_id") >= PQ_CB_LO) & (F.col("vec_id") < PQ_CB_LO + PQ_K))
        )
        .collect(),
        key=lambda r: r.vec_id,
    )
    cbs = _pq_split([r.emb for r in panel if PQ_CB_LO <= r.vec_id < PQ_CB_LO + PQ_K])
    cent_rows = [
        Row(centroid_id=int(r.vec_id), emb=r.emb)
        for r in panel
        if CENTROID_ID_LO <= r.vec_id < CENTROID_ID_LO + N_CENTROIDS
    ]

    assigned = _ivf_assign(corpus, cent_rows, 1)
    codes = pq_encode(assigned, cbs, keep=("centroid_id",))
    qrows = [
        (int(r.vec_id), [float(v) for v in r.emb]) for r in panel if r.vec_id < n_queries
    ]
    probes = (
        _ivf_assign(corpus.filter(F.col("vec_id") < n_queries), cent_rows, N_PROBE)
        .select(F.col("vec_id").alias("query_id"), "centroid_id")
        .join(_pq_dtabs_from_rows(spark, qrows, cbs), on="query_id")
    )
    cand = codes.join(F.broadcast(probes), on="centroid_id").filter(
        F.col("vec_id") != F.col("query_id")
    )
    scored = cand.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        _pq_adc_dist().alias("adc_dist"),
    )
    return _topk(scored, "adc_dist", k, desc=False)


# --- exact distributed k-means over the SQ8 lattice (Lloyd's, late r9) --------

KM_K = 8  # clusters
KM_ITERS = 2  # Lloyd rounds, fixed so the SQL oracle can unroll them


def _km_fdiv(s: int, n: int) -> int:
    """Portable floor division (s - pmod(s, n)) / n — written out instead
    of python's // so the formula is LITERALLY the one the DuckDB oracle
    evaluates (engine '%' sign semantics differ; the pmod normalization
    makes both floor for n > 0)."""
    return (s - ((s % n) + n) % n) // n


def _km_score_expr(cent: list[int]) -> str:
    """Unrolled DOT-FORM score against a LITERAL centroid: ||q - c||² =
    ||q||² - 2·q·c + ||c||², and ||q||² is constant per row, so the argmin
    only needs score = -2·q·c + ||c||² — 64 literal-coefficient
    multiply-adds per centroid instead of 128 element_at's of the naive
    (q-c)² form (the first cut of this operator spent ~12 s per run in
    plan compilation at ANY data size — the expression tree, not the
    data, was the cost; measured sf0.001 == sf0.1). All integers, exact;
    the true distance is recovered as score + ||q||²."""
    terms = " + ".join(
        f"({-2 * c}) * element_at(q, {i + 1})" for i, c in enumerate(cent) if c
    )
    cc = sum(c * c for c in cent)
    return f"CAST({terms or '0'} + ({cc}) AS BIGINT)"


def _km_qq_expr(dim: int = EMB_DIM) -> str:
    """||q||² unrolled over `dim` — derived from EMB_DIM like every
    sibling (score expr, oracle builders), not a hardcoded 64 (r9 review:
    a dim change would silently skew dist while assignments still
    'work')."""
    return "CAST(" + " + ".join(
        f"element_at(q, {i + 1}) * element_at(q, {i + 1})" for i in range(dim)
    ) + " AS BIGINT)"


def _km_assign(e: DataFrame, cents: list[list[int]]) -> DataFrame:
    """(vec_id, q, cid, dist) under the given literal centroids. The score
    array is built ONCE and folded by a single `aggregate` lambda into
    (min, argmin) — strict '<' keeps the FIRST minimal index, i.e. lowest
    centroid id, the same total order as the oracle's ORDER BY dist, cid.
    Two earlier shapes of this argmin failed structurally: a least()+WHEN
    chain re-inlines every distance tree into every arm after projection
    collapse (OOMed a 1g driver), and array_position(ds, array_min(ds))
    duplicates ds per reference; the fold references the array exactly
    once. The 8-element fold lambda is interpreted, but over k elements,
    not dims — the unrolled dot products stay in codegen."""
    k = len(cents)
    ds = ", ".join(_km_score_expr(c) for c in cents)
    fold = (
        f"aggregate(array({ds}),"
        " named_struct('m', CAST(NULL AS BIGINT), 'i', 0, 'pos', 0),"
        " (acc, x) -> named_struct("
        "   'm', CASE WHEN acc.m IS NULL OR x < acc.m THEN x ELSE acc.m END,"
        "   'i', acc.i + 1,"
        "   'pos', CASE WHEN acc.m IS NULL OR x < acc.m THEN acc.i + 1 ELSE acc.pos END))"
    )
    assert k >= 1
    return e.select(
        "vec_id",
        "q",
        F.expr(fold).alias("am"),
        F.expr(_km_qq_expr()).alias("qq"),
    ).select(
        "vec_id",
        "q",
        F.col("am.pos").cast("int").alias("cid"),
        (F.col("am.m") + F.col("qq")).alias("dist"),
    )


def kmeans_train(e: DataFrame, k: int = KM_K, iters: int = KM_ITERS) -> list[list[int]]:
    """Train the integer-lattice k-means model over the SQ8 table `e`
    (vec_id, q): `iters` Lloyd rounds from the content-addressed md5
    seeds. Returns the k×dim integer centroid list — the DEPLOYABLE model
    artifact the batch stats and the streaming ingest gate both score
    against (the lm_model_tables contract). `e` is cached while the
    rounds read it and released before returning, so the caller gets its
    lazy frame back."""
    from pyspark import StorageLevel

    dim = EMB_DIM
    e.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        seed_rows = (
            e.select("vec_id", "q", F.md5(F.col("vec_id").cast("string")).alias("h"))
            .orderBy("h", "vec_id")
            .limit(k)
            .collect()
        )
        cents = [[int(v) for v in r.q] for r in seed_rows]  # k×dim model params
        if not cents:
            raise ValueError("kmeans_train: embeddings table is empty")
        k = len(cents)  # a corpus smaller than k seeds fewer clusters (r9
        # review: the update comprehension indexed cents[j] for j < k and
        # crashed; the oracle's c0 simply has fewer rows — now both engines
        # train the same seeded count)
        for _ in range(iters):
            sums = (
                _km_assign(e, cents)
                .groupBy("cid")
                .agg(
                    F.count("*").alias("n"),
                    *[
                        F.sum(F.element_at("q", i + 1)).alias(f"s{i}")
                        for i in range(dim)
                    ],
                )
                .collect()
            )
            got = {
                int(r["cid"]): [
                    _km_fdiv(int(r[f"s{i}"]), int(r["n"])) for i in range(dim)
                ]
                for r in sums
            }
            cents = [got.get(j + 1, cents[j]) for j in range(k)]
    finally:
        e.unpersist()
    return cents


def kmeans_sq8_stats(
    spark: SparkSession,
    sf_dir: str,
    k: int = KM_K,
    iters: int = KM_ITERS,
) -> DataFrame:
    """Exact distributed k-means (Lloyd's) over the SQ8-quantized embedding
    lattice — the clustering step an embedding-curation pipeline runs
    (topic balancing, SemDeDup's cluster stage, IVF codebook training),
    made ENGINE-EXACT: all coordinates are int8 codes (with_sq8 — the
    established quantized serving domain), centroids live on the integer
    lattice (floor of the per-dim mean via the portable pmod floor-div),
    distances are exact integer sums, and ties break by lowest centroid
    id — so the assignment after any number of rounds is bit-reproducible
    across engines AND partitionings, where float-mean k-means flaps on
    summation order.

    Seeds: the k vectors with smallest md5(vec_id) (content-addressed —
    reproducible without a seeded RNG). Empty clusters keep their previous
    centroid. Output after `iters` rounds: one row per cluster of the
    FINAL assignment — (centroid_id, n_vectors, total_sq_dist,
    centroid_l1).

    Scale shape: each round is one codegen scan (unrolled k×dim literal
    arithmetic, no join for assignment) + one partial-agg shuffle of
    (count, 64 dim-sums) per cluster; driver state is k×64 ints per round
    (the spark.ml KMeans contract — its per-iteration collectAsMap of
    cluster sums is this exact pattern). The k-row per-round collects are
    scalar model parameters, the IVF-centroid justification."""
    e = with_sq8(load_table(spark, sf_dir, "embeddings")).select("vec_id", "q")
    cents = kmeans_train(e, k=k, iters=iters)
    final = _km_assign(e, cents)
    l1 = local_table(
        spark,
        [(j + 1, sum(abs(v) for v in c)) for j, c in enumerate(cents)],
        "cid int, centroid_l1 bigint",
    )
    return (
        final.groupBy("cid")
        .agg(
            F.count("*").alias("n_vectors"),
            F.sum("dist").alias("total_sq_dist"),
        )
        # left, not inner: every cid is in l1, and an inner join would infer
        # isnotnull(cid) and push it through the lazy SQ8 projection into
        # the scan, inlining the whole argmin fold per row
        .join(F.broadcast(l1), "cid", "left")
        .select(
            F.col("cid").alias("centroid_id"),
            "n_vectors",
            "total_sq_dist",
            "centroid_l1",
        )
    )


# --- random-projection (Johnson–Lindenstrauss) dimensionality reduction -----
#
# The remaining classic ANN scale lever the family lacked: REDUCE the vector
# width before the expensive stage, instead of quantizing it (SQ8/BQ/PQ).
# A deterministic Achlioptas ±1 sign matrix (Achlioptas, JCSS 2003: ±1
# entries satisfy the JL lemma with the same guarantees as Gaussian
# projections) maps 64 dims -> 16 dims, so a stage-1 scan/shuffle carries
# 128-byte vectors instead of 512-byte ones (4x), composable with every
# other tier (project THEN quantize). The matrix is derived from md5 like
# the LSH hyperplanes — a model constant both engines share verbatim — and
# the projection is a fixed-order fold, so projected vectors, distances and
# recall are all bit-reproducible in DuckDB.

RP_OUT_DIM = 16
RP_SCALE = 0.25  # 1/sqrt(RP_OUT_DIM) — an exact power of two, bit-safe


def _rp_sign(d: int, j: int) -> int:
    return (
        1
        if int(hashlib.md5(f"rp:{d}:{j}".encode()).hexdigest()[:14], 16) % 2 == 0
        else -1
    )


RP_SIGNS: list[list[int]] = [
    [_rp_sign(d, j) for j in range(EMB_DIM)] for d in range(RP_OUT_DIM)
]


def with_rp(embeddings: DataFrame) -> DataFrame:
    """Add the 16-dim projected vector `rp` (double[]) and its norm.
    Each output dim is the signed sum of the 64 inputs (x * ±1 folded as
    ± element_at — bitwise equal to the multiply-accumulate, the
    _bucket_col identity) scaled by the exact dyadic 1/sqrt(16)."""
    e = embeddings.withColumn(
        "emb", F.expr("transform(embedding, x -> cast(x as double))")
    )
    projs = []
    for row in RP_SIGNS:
        terms = " ".join(
            f"{'+' if s > 0 else '-'} element_at(emb, {j + 1})"
            for j, s in enumerate(row)
        )
        projs.append(F.expr(f"(cast(0.0 as double) {terms}) * {RP_SCALE!r}"))
    out = e.withColumn("rp", F.array(*projs))
    return out.withColumn("rp_norm", F.sqrt(_dot("rp", "rp", dim=RP_OUT_DIM)))


def rp_topk(
    spark: SparkSession, sf_dir: str, n_queries: int = 10, k: int = 5
) -> DataFrame:
    """Brute-force cosine top-k in the PROJECTED 16-dim space (`cosine`
    is the projected-space cosine) — the brute_force_topk plan with 4x
    narrower vectors and a 16-term score
    fold instead of 64 (at 100 TB: 4x less scan/shuffle volume and 4x
    less score arithmetic for stage 1; re-rank survivors at full
    precision exactly like the BQ tier if exactness matters)."""
    corpus = with_rp(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("rp").alias("emb"), F.col("rp_norm").alias("norm")
    )
    return _brute_force_over(corpus, n_queries, k, RP_OUT_DIM)


RP_RERANK = 40  # stage-1 candidate depth for the full-precision rerank


def rp_rerank_topk(
    spark: SparkSession,
    sf_dir: str,
    n_queries: int = 10,
    k: int = 5,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """The PRODUCTION RP serve (the BQ tier's two-stage shape): stage 1
    ranks in the 16-dim projected space and keeps top-RP_RERANK candidates
    per query (4x narrower scan/shuffle); stage 2 re-ranks ONLY those
    O(Q·rerank) ids by true 64-dim cosine. The BROADCAST side of stage 2
    is the Q·rerank candidate table (with its query vectors attached) —
    the corpus streams through one scan against it, so the broadcast is
    corpus-size-independent, not just the output row count (ADVICE-r9:
    the first cut broadcast the full embeddings table, which OOMs at
    100 TB; broadcasting the small side keeps the identical join result).
    The stage-2 corpus scan carries only (vec_id, embedding); the 64-term
    dot/norm arithmetic runs AFTER the broadcast join, on the O(Q·rerank)
    surviving rows instead of every corpus row (r12: the join is an inner
    equi-join on ids, so filtering/row math commutes with it — identical
    rows, 64 multiply-adds per corpus row removed from the scan).

    `candidates` lets a caller that already ranked the projected space
    (rp_recall shares ONE stage-1 scan between the raw-ranking panel and
    this serve) pass the (query_id, neighbor_id) stage-1 survivors
    directly; default rebuilds them with rp_topk."""
    cand = (
        candidates
        if candidates is not None
        else rp_topk(spark, sf_dir, n_queries, RP_RERANK)
    ).select("query_id", "neighbor_id")
    raw = load_table(spark, sf_dir, "embeddings")
    qside = with_norm(raw.filter(F.col("vec_id") < n_queries)).select(*_query_cols())
    pairs = with_norm(
        raw.select(F.col("vec_id").alias("neighbor_id"), "embedding").join(
            F.broadcast(cand.join(qside, on="query_id", how="inner")),
            on="neighbor_id",
            how="inner",
        )
    )
    return _topk(pairs.select("query_id", "neighbor_id", _cosine().alias("cosine")), "cosine", k)


def rp_recall(
    spark: SparkSession, sf_dir: str, n_queries: int = 10, k: int = 5
) -> DataFrame:
    """recall@k of (a) the raw 16-dim projected ranking — the measured JL
    distortion on the near-isotropic corpus, the documented hard case
    where every true cosine sits near 0 and rank inversions are maximally
    likely — and (b) the production rerank serve (stage-1 top-RP_RERANK in
    projected space, stage-2 full-precision re-rank), against the exact
    64-dim brute-force truth, per query + both panel means. Truth is
    materialized once (≤ Q·k rows) before the hit joins and the query
    spine read it.

    One projected-space scan serves BOTH graded tiers (r12): the raw
    ranking at depth k is the first k rows of the SAME deterministic
    row_number order that yields the stage-1 rerank candidates at depth
    RP_RERANK, so stage 1 runs once at the deeper cut, materializes
    ≤ Q·RP_RERANK rows, and the rp panel is a rank filter over that table
    — previously rp_topk and rp_rerank_topk each re-scanned and re-ranked
    the projected corpus (two identical Exchange+Window passes). Truth and
    stage 1 are independent, so their materializations run CONCURRENTLY
    (operators/concurrency.py, guide §2.6) instead of serializing two job
    latencies."""
    from .concurrency import parallel_checkpoints

    assert k <= RP_RERANK
    truth, stage1 = parallel_checkpoints(
        brute_force_topk(spark, sf_dir, n_queries, k).select(
            "query_id", "neighbor_id"
        ),
        rp_topk(spark, sf_dir, n_queries, RP_RERANK).select(
            "query_id", "neighbor_id", "rank"
        ),
    )
    rp = stage1.filter(F.col("rank") <= k).select("query_id", "neighbor_id")
    rr = rp_rerank_topk(
        spark,
        sf_dir,
        n_queries,
        k,
        candidates=stage1.select("query_id", "neighbor_id"),
    ).select("query_id", "neighbor_id")
    out_rows = _recall(truth, k, rp=rp, rp_rerank=rr).collect()
    # The panel is ≤ n_queries scalar report rows — the established K-row
    # driver-side posture (IVF centroids, PQ dtabs, BM25 query terms).
    # Collecting it replaces a localCheckpoint + aggregate job + crossJoin
    # with ONE action; the panel means are exact-integer sums divided once
    # (python float division == SQL double division, bit-identical).
    denom = float(n_queries * k)
    sum_rp = float(sum(int(r.rp_hits) for r in out_rows))
    sum_rr = float(sum(int(r.rp_rerank_hits) for r in out_rows))
    panel_rp, panel_rr = sum_rp / denom, sum_rr / denom
    data = [
        (
            int(r.query_id),
            int(r.rp_hits),
            int(r.rp_rerank_hits),
            int(r.rp_hits) / float(k),
            int(r.rp_rerank_hits) / float(k),
            panel_rp,
            panel_rr,
        )
        for r in sorted(out_rows, key=lambda r: r.query_id)
    ]
    return local_table(
        spark,
        data,
        "query_id bigint, rp_hits bigint, rp_rerank_hits bigint, "
        "rp_recall double, rp_rerank_recall double, "
        "panel_rp_recall double, panel_rp_rerank_recall double",
    )


def cluster_labels(
    spark: SparkSession, sf_dir: str, top_n: int = 3, min_tf: int = 5
) -> DataFrame:
    """c-TF-IDF-style cluster labeling (the BERTopic topic-labeling shape,
    ln-free): join the trained k-means assignment back to the documents it
    embeds (vec_id IS the producing doc_id — the embedding pipeline's
    output key; at sf0.1 the embeddings cover a prefix of the corpus, so
    this labels the embedded subset) and rank each cluster's tokens by
    relative-frequency lift (tf_c/total_c)/(tf_g/total_g) — computed as
    ONE exact-integer cross-multiplied division
    (tf_c·total_g)/(total_c·tf_g) so both engines divide the same two
    BIGINTs (at extreme corpus sizes the cross-product would overflow
    int64 and a two-division float form takes over; exactness is worth
    keeping while it is free). A min_tf floor keeps one-off tokens from
    topping the lift ranking — the standard c-TF-IDF smoothing concern,
    solved exactly instead of with +1 noise.

    Plan: assignment scan (codegen dot-form argmin) → equi-join to
    documents → one (cluster, token) count whose partial aggregation
    collapses map-side to vocab×k rows; the cluster/corpus totals are
    derived from THAT table, not rescans (localCheckpoint, vocab-sized —
    the BPE word-table precedent). Top-n per cluster is a rank window
    over vocab×k rows."""
    from .text import tokens_col

    q = with_sq8(load_table(spark, sf_dir, "embeddings")).select("vec_id", "q")
    cents = kmeans_train(q)
    assign = _km_assign(q, cents).select(
        F.col("vec_id").alias("doc_id"), F.col("cid").alias("cluster_id")
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens_col().alias("t")
    )
    toks = docs.join(assign, on="doc_id", how="inner").select(
        "cluster_id", F.explode("t").alias("token")
    )
    tf_c = (
        toks.groupBy("cluster_id", "token")
        .agg(F.count(F.lit(1)).alias("tf_in_cluster"))
        # lazy: all four readers (n_c, t_g, tot, scored) share this RDD,
        # so the vocab×k aggregate is one shared stage of the final job
        # instead of a separate serial driver job (CC-loop precedent)
        .localCheckpoint(eager=False)
    )
    n_c = tf_c.groupBy("cluster_id").agg(
        F.sum("tf_in_cluster").alias("cluster_tokens")
    )
    t_g = tf_c.groupBy("token").agg(F.sum("tf_in_cluster").alias("tf_corpus"))
    tot = tf_c.agg(F.sum("tf_in_cluster").alias("total_tokens"))
    scored = (
        tf_c.join(n_c, on="cluster_id", how="inner")
        .join(t_g, on="token", how="inner")
        .crossJoin(F.broadcast(tot))
        .filter(F.col("tf_in_cluster") >= min_tf)
        .select(
            "cluster_id",
            "token",
            "tf_in_cluster",
            "cluster_tokens",
            "tf_corpus",
            "total_tokens",
            (
                (F.col("tf_in_cluster") * F.col("total_tokens")).cast("double")
                / (F.col("cluster_tokens") * F.col("tf_corpus")).cast("double")
            ).alias("distinctiveness"),
        )
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("distinctiveness"), F.asc("token")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_n)
        .select(
            "cluster_id",
            F.col("rank").cast("int").alias("rank"),
            "token",
            "tf_in_cluster",
            "cluster_tokens",
            "tf_corpus",
            "total_tokens",
            "distinctiveness",
        )
        .orderBy("cluster_id", "rank")
    )
