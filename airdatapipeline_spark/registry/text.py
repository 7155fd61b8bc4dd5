"""LLM corpus preparation: token/quality stats, chunking, packing, splits,
decontamination, mixes, shard layout/write/append lifecycle, rarity scores."""

from __future__ import annotations

from pyspark.sql import functions as F
from ..operators import dedup
from ..operators import text
from ..operators import corpus
from ..session import scratch_dir
from .core import register
from ._shared import _BAND_SELECTS, _MINHASH_AGGS, _SHINGLES_CTE, _SQL_LIST, _TOKS, _langid_case



@register(
    "text_token_stats_by_source",
    f"""
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(len({_TOKS})) AS BIGINT) AS total_ws_tokens,
           CAST(SUM(len(regexp_extract_all(text, '{text.BPE_ISH_PATTERN}'))) AS BIGINT)
             AS total_bpe_tokens,
           AVG(len({_TOKS})) AS avg_ws_tokens,
           CAST(SUM(length(text)) AS BIGINT) AS total_chars
    FROM documents GROUP BY 1
    """,
)
def t_tokstats(spark, sf_dir):
    return text.token_stats_by_source(spark, sf_dir)


@register(
    "text_quality_scores",
    f"""
    SELECT doc_id, source, word_count, char_count, punct_count,
           stop_hits / word_count AS stopword_ratio,
           char_count / word_count AS avg_word_len,
           least(word_count / 100.0, 1.0) * 0.4 + (stop_hits / word_count) * 0.4
             + least((char_count / word_count) / 8.0, 1.0) * 0.2 AS quality_score
    FROM (
      SELECT doc_id, source, len(t) AS word_count, length(text) AS char_count,
             len(list_filter(t, x -> list_contains({_SQL_LIST(text.LANG_STOPWORDS['en'])}, x)))
               AS stop_hits,
             length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS punct_count
      FROM (SELECT doc_id, source, text, {_TOKS} AS t FROM documents)
    )
    """,
)
def t_quality(spark, sf_dir):
    return text.quality_scores(spark, sf_dir)


@register(
    "text_langid_confusion",
    f"""
    SELECT lang, {_langid_case()} AS predicted_lang, COUNT(*) AS n
    FROM (
      SELECT lang,
             {", ".join(
                 f"len(list_filter(t, x -> list_contains({_SQL_LIST(text.LANG_STOPWORDS[lg])}, x))) AS hits_{lg}"
                 for lg in text.LANG_PRIORITY
             )}
      FROM (SELECT lang, {_TOKS} AS t FROM documents)
    ) GROUP BY 1, 2
    """,
)
def t_langid(spark, sf_dir):
    return text.langid_confusion(spark, sf_dir)


@register(
    "text_fingerprint_clusters",
    f"""
    SELECT md5(array_to_string(list_sort(list_distinct({_TOKS})), ' ')) AS fingerprint,
           COUNT(*) AS n_docs, MIN(doc_id) AS keeper_id
    FROM documents GROUP BY 1 HAVING COUNT(*) > 1
    """,
)
def t_fingerprint(spark, sf_dir):
    return text.fingerprint_clusters(spark, sf_dir)


_CC_CTES = f"""{_SHINGLES_CTE.format(src="documents")},
    hashed AS (
      SELECT doc_id,
             CAST(concat('0x', substr(md5(shingle), 1, 14)) AS BIGINT) % 1073741824 AS h
      FROM sh
    ),
    sig AS (SELECT doc_id, {_MINHASH_AGGS} FROM hashed GROUP BY 1),
    bands AS (
      {_BAND_SELECTS}
    ),
    pairs AS (
      SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
      FROM bands x JOIN bands y
        ON x.band = y.band AND x.bx = y.bx AND x.by = y.by AND x.doc_id < y.doc_id
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL
      SELECT id_b, id_a FROM pairs
    ),
    reach(src, node) AS (
      SELECT DISTINCT src, src FROM edges
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.node = e.src
    )"""


# curation CTE chain (requires the RECURSIVE _CC_CTES in scope) — shared by
# curation_pipeline and training_data_build so the filter chain has one
# source of truth
_CURATED_CTES = f"""
losers AS (
      SELECT src AS doc_id FROM (
        SELECT src, MIN(node) AS cluster_id FROM reach GROUP BY 1
      ) WHERE cluster_id <> src
    ),
    scored AS (
      SELECT doc_id, source, len(t) AS word_count, length(text) AS char_count,
             {", ".join(
                 f"len(list_filter(t, x -> list_contains({_SQL_LIST(text.LANG_STOPWORDS[lg])}, x))) AS hits_{lg}"
                 for lg in text.LANG_PRIORITY
             )}
      FROM (SELECT doc_id, source, text, {_TOKS} AS t FROM documents)
    ),
    final AS (
      SELECT doc_id, source, word_count,
             least(word_count / 100.0, 1.0) * 0.4 + (hits_en / word_count) * 0.4
               + least((char_count / word_count) / 8.0, 1.0) * 0.2 AS quality_score,
             {_langid_case()} AS predicted_lang
      FROM scored
    ),
    curated AS (
      SELECT doc_id, source, word_count, quality_score, predicted_lang
      FROM final
      WHERE doc_id NOT IN (SELECT doc_id FROM losers)
        AND quality_score >= 0.5 AND predicted_lang = 'en' AND word_count >= 20
    )
""".strip()


@register(
    "curation_pipeline",
    f"""
    WITH RECURSIVE {_CC_CTES},
    {_CURATED_CTES}
    SELECT doc_id, source, word_count, quality_score, predicted_lang FROM curated
    """,
)
def curation(spark, sf_dir):
    return text.curated_documents(spark, sf_dir)


@register(
    "text_train_val_split",
    f"""
    SELECT source,
           CASE WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 14)) AS BIGINT)
                     % 100 < 90
                THEN 'train' ELSE 'val' END AS split,
           COUNT(*) AS n_docs,
           CAST(SUM(len({_TOKS})) AS BIGINT) AS total_tokens
    FROM documents GROUP BY 1, 2
    """,
)
def t_split(spark, sf_dir):
    return text.train_val_split_counts(spark, sf_dir)


@register(
    "text_decontamination",
    f"""
    WITH {_SHINGLES_CTE.format(src="documents")},
    freq AS (SELECT shingle, COUNT(DISTINCT doc_id) AS df FROM sh GROUP BY 1),
    rare AS (SELECT shingle FROM freq WHERE df <= 20),
    g AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
    ev AS (SELECT doc_id AS eval_id, shingle FROM g WHERE doc_id % 50 = 0),
    tr AS (SELECT doc_id, shingle FROM g WHERE doc_id % 50 <> 0)
    SELECT tr.doc_id AS doc_id,
           COUNT(DISTINCT tr.shingle) AS n_shared_grams,
           COUNT(DISTINCT ev.eval_id) AS n_eval_docs
    FROM tr JOIN ev USING (shingle)
    GROUP BY 1
    """,
)
def t_decontam(spark, sf_dir):
    return dedup.decontamination_report(spark, sf_dir)


@register(
    "text_decontamination_bloom",
    f"""
    WITH {_SHINGLES_CTE.format(src="documents")},
    freq AS (SELECT shingle, COUNT(DISTINCT doc_id) AS df FROM sh GROUP BY 1),
    rare AS (SELECT shingle FROM freq WHERE df <= 20),
    g AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
    ev AS (SELECT doc_id AS eval_id, shingle FROM g WHERE doc_id % 50 = 0),
    tr AS (SELECT doc_id, shingle FROM g WHERE doc_id % 50 <> 0)
    SELECT tr.doc_id AS doc_id,
           COUNT(DISTINCT tr.shingle) AS n_shared_grams,
           COUNT(DISTINCT ev.eval_id) AS n_eval_docs
    FROM tr JOIN ev USING (shingle)
    GROUP BY 1
    """,
)
def t_decontam_bloom(spark, sf_dir):
    """Decontamination in the BIG-BIG regime (VERDICT-unprompted r5 scale
    tier): at 100 TB a full benchmark-suite eval side is too large to
    broadcast, so the gram equi-join pays a full shuffle of the training
    gram stream. Under `bloom_runtime_filter_scope`, Catalyst builds a
    runtime Bloom filter from the eval (creation) side and injects
    might_contain() above the training side, dropping non-leaking grams
    BEFORE the shuffle. The bloom is a pure pre-filter — false positives
    still meet the exact join — so results are IDENTICAL to
    text_decontamination (same oracle SQL, hash-checked), while the
    shuffle carries only candidate grams. Materialized inside the conf
    scope so the executed plan carries the filter (same pattern as
    j_bloom_pruned_urgent_revenue); might_contain injection is
    plan-asserted in tests."""
    from ..operators.tpch import bloom_runtime_filter_scope

    out_dir = scratch_dir("decon_bloom_")
    with bloom_runtime_filter_scope(spark):
        dedup.decontamination_report(spark, sf_dir).write.mode("overwrite").parquet(out_dir)
    return spark.read.parquet(out_dir)


@register(
    "text_training_mix_sample",
    f"""
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(keep) AS BIGINT) AS n_sampled,
           CAST(SUM(keep * n_tok) AS BIGINT) AS sampled_tokens
    FROM (
      SELECT source,
             CASE WHEN CAST(concat('0x', substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 14))
                            AS BIGINT) % 100
                       < 100 - 4 * CAST(substr(source, 4) AS INT)
                  THEN 1 ELSE 0 END AS keep,
             len({_TOKS}) AS n_tok
      FROM documents
    ) GROUP BY 1
    """,
)
def t_mix(spark, sf_dir):
    return text.training_mix_sample(spark, sf_dir)


@register(
    "text_repetition_filters",
    f"""
    WITH tok AS (SELECT doc_id, source, {_TOKS} AS t FROM documents),
    g AS (
      SELECT doc_id, source,
             list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1]) AS bg,
             list_transform(range(1, len(t) - 1),
                            i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]) AS tg
      FROM tok
    ),
    top AS (
      SELECT doc_id, MAX(c) AS top_bigram_n FROM (
        SELECT doc_id, b, COUNT(*) AS c
        FROM (SELECT doc_id, unnest(bg) AS b FROM g) GROUP BY 1, 2
      ) GROUP BY 1
    )
    SELECT g.doc_id, source,
           CAST(len(bg) AS BIGINT) AS n_bigrams,
           CAST(COALESCE(top.top_bigram_n, 0) AS BIGINT) AS top_bigram_n,
           CASE WHEN len(bg) > 0
                THEN COALESCE(top.top_bigram_n, 0) / len(bg) END AS top_bigram_frac,
           CAST(len(tg) AS BIGINT) AS n_trigrams,
           CAST(len(tg) - len(list_distinct(tg)) AS BIGINT) AS dup_trigram_n,
           CASE WHEN len(tg) > 0
                THEN (len(tg) - len(list_distinct(tg))) / len(tg) END AS dup_trigram_frac,
           COALESCE(CASE WHEN len(bg) > 0
                         THEN COALESCE(top.top_bigram_n, 0) / len(bg) END <= 0.18, TRUE)
             AND COALESCE(CASE WHEN len(tg) > 0
                               THEN (len(tg) - len(list_distinct(tg))) / len(tg)
                          END <= 0.30, TRUE) AS keep
    FROM g LEFT JOIN top ON g.doc_id = top.doc_id
    """,
)
def t_repetition(spark, sf_dir):
    """Gopher-style repetition filters; Spark side is a zero-shuffle
    higher-order-function fold, oracle is the set-based unnest+GROUP BY."""
    return text.repetition_scores(spark, sf_dir)


@register(
    "text_pii_redaction",
    f"""
    SELECT doc_id, source,
           CAST(len(regexp_extract_all(blob, '{text.PII_EMAIL}')) AS BIGINT) AS n_email,
           CAST(len(regexp_extract_all(blob, '{text.PII_IPV4}')) AS BIGINT) AS n_ip,
           CAST(len(regexp_extract_all(blob, '{text.PII_PHONE}')) AS BIGINT) AS n_phone,
           md5(regexp_replace(regexp_replace(regexp_replace(
               blob, '{text.PII_EMAIL}', '<EMAIL>', 'g'),
               '{text.PII_IPV4}', '<IP>', 'g'),
               '{text.PII_PHONE}', '<PHONE>', 'g')) AS redacted_md5,
           CAST(length(blob) - length(regexp_replace(regexp_replace(regexp_replace(
               blob, '{text.PII_EMAIL}', '<EMAIL>', 'g'),
               '{text.PII_IPV4}', '<IP>', 'g'),
               '{text.PII_PHONE}', '<PHONE>', 'g')) AS BIGINT) AS chars_removed
    FROM (
      SELECT doc_id, source,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com ip 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                  || '.1 phone 555-01' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') AS blob
      FROM documents
    )
    """,
)
def t_pii(spark, sf_dir):
    """PII detect/redact chain, hash-verified byte-for-byte via the
    redacted-text md5 (patterns restricted to the Java-regex ∩ RE2 dialect)."""
    return text.pii_redaction(spark, sf_dir)


_PACK_TOKS_CTE = f"""
toks AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 14)) AS BIGINT)
           % {text.PACK_BUCKETS} AS bucket,
         CAST(len({_TOKS}) AS BIGINT) AS n_tok
  FROM documents
)
""".strip()


@register(
    "text_sequence_packing",
    f"""
    WITH {_PACK_TOKS_CTE},
    off AS (
      SELECT bucket, doc_id, n_tok,
             SUM(n_tok) OVER (PARTITION BY bucket ORDER BY doc_id) - n_tok AS start
      FROM toks
    )
    SELECT bucket, CAST(FLOOR(start / {text.PACK_BUDGET}) AS BIGINT) AS pack_id,
           COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS pack_tokens,
           MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
    FROM off GROUP BY 1, 2
    """,
)
def t_packing(spark, sf_dir):
    """Concatenate-and-split sequence packing (one window pass per bucket)."""
    return text.sequence_packing(spark, sf_dir)


@register(
    "text_pack_greedy",
    f"""
    WITH RECURSIVE {_PACK_TOKS_CTE},
    seq AS (
      SELECT bucket, doc_id, n_tok,
             ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY doc_id) AS rn
      FROM toks
    ),
    rec(bucket, rn, doc_id, n_tok, pack_id, running) AS (
      SELECT bucket, rn, doc_id, n_tok, CAST(0 AS BIGINT), n_tok
      FROM seq WHERE rn = 1
      UNION ALL
      SELECT t.bucket, t.rn, t.doc_id, t.n_tok,
             CASE WHEN r.running + t.n_tok > {text.PACK_BUDGET}
                  THEN r.pack_id + 1 ELSE r.pack_id END,
             CASE WHEN r.running + t.n_tok > {text.PACK_BUDGET}
                  THEN t.n_tok ELSE r.running + t.n_tok END
      FROM rec r JOIN seq t ON t.bucket = r.bucket AND t.rn = r.rn + 1
    )
    SELECT bucket, doc_id, n_tok, pack_id FROM rec
    """,
)
def t_pack_greedy(spark, sf_dir):
    """First-fit greedy packing: stateful applyInPandas per bucket on the
    Spark side, verified against a row-at-a-time recursive-CTE replay of
    the same greedy scan in DuckDB (depth = docs per bucket — an oracle
    device, not a scale path; the Spark side IS the scale path)."""
    return text.pack_greedy(spark, sf_dir)


@register(
    "training_data_build",
    f"""
    WITH RECURSIVE {_CC_CTES},
    {_CURATED_CTES},
    ctok AS (
      SELECT d.doc_id, {_TOKS} AS t
      FROM documents d JOIN curated c ON d.doc_id = c.doc_id
    ),
    cch AS (
      SELECT doc_id, t,
             unnest(range(0, 1 + (greatest(len(t) - {text.CHUNK_TOKENS}, 0)
                                   + {text.CHUNK_STRIDE - 1}) // {text.CHUNK_STRIDE}))
               AS chunk_id
      FROM ctok
    ),
    cchunks AS (
      SELECT doc_id, chunk_id,
             CAST(len(t[chunk_id * {text.CHUNK_STRIDE} + 1
                        : chunk_id * {text.CHUNK_STRIDE} + {text.CHUNK_TOKENS}]) AS BIGINT)
               AS chunk_tokens
      FROM cch
    ),
    keyed AS (
      SELECT CASE WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 14)) AS BIGINT)
                       % 100 < 90
                  THEN 'train' ELSE 'val' END AS split,
             CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 14)) AS BIGINT)
               % {text.PACK_BUCKETS} AS bucket,
             doc_id, chunk_id, chunk_tokens
      FROM cchunks
    ),
    off AS (
      SELECT split, bucket, chunk_tokens,
             SUM(chunk_tokens) OVER (PARTITION BY split, bucket ORDER BY doc_id, chunk_id)
               - chunk_tokens AS start
      FROM keyed
    )
    SELECT split, bucket, CAST(FLOOR(start / {text.PACK_BUDGET}) AS BIGINT) AS pack_id,
           COUNT(*) AS n_chunks, CAST(SUM(chunk_tokens) AS BIGINT) AS pack_tokens
    FROM off GROUP BY 1, 2, 3
    """,
)
def t_training_build(spark, sf_dir):
    """curate → chunk → doc-level split → pack, one declarative plan."""
    return text.training_data_build(spark, sf_dir)


@register(
    "text_chunking",
    f"""
    WITH tok AS (
      SELECT doc_id, source, {_TOKS} AS t FROM documents
    ),
    ch AS (
      SELECT doc_id, source, CAST(len(t) AS BIGINT) AS n_tokens, t,
             unnest(range(0, 1 + (greatest(len(t) - {text.CHUNK_TOKENS}, 0)
                                   + {text.CHUNK_STRIDE - 1}) // {text.CHUNK_STRIDE}))
               AS chunk_id
      FROM tok
    )
    SELECT doc_id, source, n_tokens, CAST(chunk_id AS INTEGER) AS chunk_id,
           CAST(len(t[chunk_id * {text.CHUNK_STRIDE} + 1
                      : chunk_id * {text.CHUNK_STRIDE} + {text.CHUNK_TOKENS}]) AS BIGINT)
             AS chunk_tokens,
           md5(array_to_string(t[chunk_id * {text.CHUNK_STRIDE} + 1
                                 : chunk_id * {text.CHUNK_STRIDE} + {text.CHUNK_TOKENS}], ' '))
             AS chunk_md5
    FROM ch
    """,
)
def t_chunking(spark, sf_dir):
    """Overlapping fixed-size token chunks (pretraining/RAG chunker)."""
    return text.chunk_documents(spark, sf_dir)

_QUALITY_AGG_SCORE = """
    least((sum_wc / n_docs) / 100.0, 1.0) * 0.4
      + (sum_sh / sum_wc) * 0.4
      + least((sum_cc / sum_wc) / 8.0, 1.0) * 0.2
""".strip()


@register(
    "text_source_quality_report",
    f"""
    WITH per_doc AS (
      SELECT source, text, len(t) AS wc, length(text) AS cc,
             len(list_filter(t, x -> list_contains({_SQL_LIST(text.LANG_STOPWORDS['en'])}, x)))
               AS sh
      FROM (SELECT source, text, {_TOKS} AS t FROM documents)
    ),
    agg AS (
      SELECT source, COUNT(*) AS n_docs,
             COUNT(*) - COUNT(DISTINCT text) AS n_dup_excess,
             CAST(SUM(CASE WHEN
                 least(wc / 100.0, 1.0) * 0.4 + (sh / wc) * 0.4
                   + least((cc / wc) / 8.0, 1.0) * 0.2 < 0.5
               THEN 1 ELSE 0 END) AS BIGINT) AS n_low_quality,
             CAST(SUM(wc) AS BIGINT) AS sum_wc, CAST(SUM(cc) AS BIGINT) AS sum_cc,
             CAST(SUM(sh) AS BIGINT) AS sum_sh
      FROM per_doc GROUP BY 1
    )
    SELECT source, n_docs, n_dup_excess, n_low_quality,
           n_dup_excess / n_docs AS dup_rate,
           n_low_quality / n_docs AS low_quality_rate,
           {_QUALITY_AGG_SCORE} AS source_quality,
           (n_dup_excess / n_docs > 0.05) OR ({_QUALITY_AGG_SCORE} < 0.5) AS flagged
    FROM agg
    """,
)
def t_source_report(spark, sf_dir):
    """Per-source curation triage: dup burden + low-quality share + an
    aggregate-ratio quality score -> keep/flag decision per source."""
    return text.source_quality_report(spark, sf_dir)


_MODEL_W_SQL = str(text.MODEL_WEIGHTS)


@register(
    "text_quality_model_scores",
    f"""
    WITH tok AS (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents),
    h AS (
      SELECT doc_id,
             CAST(concat('0x', substr(md5(tok), 1, 4)) AS INT) % {text.MODEL_HASH_DIM} AS j
      FROM tok
    ),
    s AS (
      SELECT doc_id, COUNT(*) AS n_tok,
             CAST(SUM(list_extract({_MODEL_W_SQL}, j + 1)) AS BIGINT) AS score_sum
      FROM h GROUP BY 1
    )
    SELECT doc_id, n_tok, score_sum,
           CAST(score_sum AS DOUBLE) / n_tok AS mean_weight,
           CAST(score_sum AS DOUBLE) / n_tok >= 0.0 AS keep
    FROM s
    """,
)
def q_quality_model(spark, sf_dir):
    """Hashed-bag-of-words linear quality model scored JVM-side: integer
    weight sums (exact, partitioning-independent) + one final division."""
    return text.quality_model_scores(spark, sf_dir)


@register(
    "text_length_quantiles_by_lang",
    """
    SELECT lang,
           COUNT(*) AS n_docs,
           quantile_cont(n_chars, 0.25) AS p25_chars,
           quantile_cont(n_chars, 0.5) AS median_chars,
           quantile_cont(n_chars, 0.95) AS p95_chars,
           MAX(n_chars) AS max_chars
    FROM documents GROUP BY 1
    """,
)
def q_length_quantiles(spark, sf_dir):
    """Per-language document-length distribution — the cut-point source
    for length filters (exact interpolated quantiles; the integral n_chars
    domain keeps the interpolation arithmetic engine-identical, same
    posture as agg_quantiles_quantity)."""
    from ..io import load_table

    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.expr("percentile(n_chars, 0.25)").alias("p25_chars"),
        F.expr("percentile(n_chars, 0.5)").alias("median_chars"),
        F.expr("percentile(n_chars, 0.95)").alias("p95_chars"),
        F.max("n_chars").alias("max_chars"),
    )


@register(
    "text_postings_phrase_search",
    f"""
    WITH p AS (
      SELECT doc_id, unnest(t) AS term, generate_subscripts(t, 1) - 1 AS pos
      FROM (SELECT doc_id, {_TOKS} AS t FROM documents)
    ),
    dfc AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM p GROUP BY 1),
    top2 AS (
      SELECT term, row_number() OVER (ORDER BY df DESC, term) AS qrank
      FROM dfc ORDER BY df DESC, term LIMIT 2
    ),
    t1 AS (SELECT p.doc_id, p.pos FROM p JOIN top2 ON p.term = top2.term AND qrank = 1),
    t2 AS (SELECT p.doc_id, p.pos FROM p JOIN top2 ON p.term = top2.term AND qrank = 2),
    counts AS (
      SELECT c1.doc_id, n_t1, n_t2
      FROM (SELECT doc_id, COUNT(*) AS n_t1 FROM t1 GROUP BY 1) c1
      JOIN (SELECT doc_id, COUNT(*) AS n_t2 FROM t2 GROUP BY 1) c2 USING (doc_id)
    ),
    ph AS (
      SELECT t1.doc_id, COUNT(*) AS n_phrase
      FROM t1 JOIN t2 ON t1.doc_id = t2.doc_id AND t2.pos = t1.pos + 1
      GROUP BY 1
    )
    SELECT counts.doc_id, n_t1, n_t2,
           CAST(COALESCE(n_phrase, 0) AS BIGINT) AS n_phrase
    FROM counts LEFT JOIN ph ON counts.doc_id = ph.doc_id
    """,
)
def q_postings_search(spark, sf_dir):
    """Inverted-index retrieval: positional postings → two-term AND via
    postings intersection (equi-join on the index's partitioning key) →
    adjacent-phrase hits via pos+1 — integer joins end to end. Query terms
    are the corpus's top-2 df terms so the oracle derives the same query."""
    return text.conjunctive_phrase_search(spark, sf_dir)


@register(
    "text_heavy_hitters",
    f"""
    WITH tok AS (
      SELECT unnest({{toks}}) AS term FROM documents
    ),
    c AS (SELECT term, COUNT(*) AS freq FROM tok GROUP BY 1)
    SELECT term, freq,
           CAST(row_number() OVER (ORDER BY freq DESC, term) AS INTEGER) AS rank
    FROM c ORDER BY freq DESC, term LIMIT {text.HH_TOPK}
    """.replace("{toks}", _TOKS),
)
def q_heavy_hitters(spark, sf_dir):
    """Exact top-k tokens via bounded-state Misra-Gries prefilter + exact
    recount of candidates only (in-plan integer guard proves the sketch
    could not have missed a reported hitter). Oracle is the plain global
    count — the phase structure is Spark-side, the result must coincide."""
    return text.heavy_hitter_tokens(spark, sf_dir)


# Per-qrank score pivot generated from BM25_N_TERMS exactly like the Spark
# side does, so changing the term count can never desync the oracle
# (ADVICE-r8): every qrank counted in `hits` is also summed into `bm25`.
_BM25_SUM = "\n             + ".join(
    f"COALESCE(MAX(CASE WHEN qrank = {i} THEN score_t END), 0.0)"
    for i in range(1, text.BM25_N_TERMS + 1)
)


@register(
    "text_bm25_topk",
    f"""
    WITH p AS (
      SELECT doc_id, unnest(t) AS term
      FROM (SELECT doc_id, {{toks}} AS t FROM documents)
    ),
    tf AS (SELECT term, doc_id, COUNT(*) AS tf FROM p GROUP BY 1, 2),
    dfc AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
    dl AS (SELECT doc_id, len({{toks}}) AS dl FROM documents),
    stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS total_dl FROM dl),
    q AS (
      SELECT term, df, dfrank - {text.BM25_QRANK_LO - 1} AS qrank FROM (
        SELECT term, df, row_number() OVER (ORDER BY df DESC, term) AS dfrank
        FROM dfc
      ) WHERE dfrank >= {text.BM25_QRANK_LO}
          AND dfrank < {text.BM25_QRANK_LO + text.BM25_N_TERMS}
    ),
    sc AS (
      SELECT tf.doc_id, q.qrank,
             ln(1.0 + ((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE)) + 0.5)
                / (CAST(df AS DOUBLE) + 0.5))
             * ((CAST(tf AS DOUBLE) * 2.2)
                / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75
                   * (CAST(dl AS DOUBLE)
                      / (CAST(total_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))))
               AS score_t
      FROM tf JOIN q USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
    ),
    agg AS (
      SELECT doc_id, CAST(COUNT(*) AS INTEGER) AS hits,
             {_BM25_SUM} AS bm25
      FROM sc GROUP BY 1
    )
    SELECT doc_id, hits, bm25,
           CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS INTEGER) AS rank
    FROM agg ORDER BY bm25 DESC, doc_id LIMIT {text.BM25_TOPK}
    """.replace("{toks}", _TOKS),
)
def q_bm25(spark, sf_dir):
    """BM25-ranked retrieval over the postings index (scoring layer above
    the boolean phrase search): Robertson idf × tf saturation, per-doc sum
    pivoted to fixed addition order, top-20 via TakeOrdered. Query = df
    ranks 10-12 so the oracle derives the same query. See
    operators/text.py:bm25_topk for the cross-engine numerics contract."""
    return text.bm25_topk(spark, sf_dir)


@register(
    "text_adaptive_source_filter",
    f"""
    WITH feat AS (
      SELECT doc_id, source, len(t) AS word_count, length(text) AS char_count,
             len(list_filter(t, x -> list_contains({_SQL_LIST(text.LANG_STOPWORDS['en'])}, x)))
               AS stop_hits
      FROM (SELECT doc_id, source, text, {_TOKS} AS t FROM documents)
    ),
    scored AS (
      SELECT doc_id, source,
             least(word_count / 100.0, 1.0) * 0.4 + (stop_hits / word_count) * 0.4
               + least((char_count / word_count) / 8.0, 1.0) * 0.2 AS quality_score
      FROM feat
    )
    SELECT doc_id, source, quality_score,
           row_number() OVER (
             PARTITION BY source ORDER BY quality_score DESC, doc_id
           ) * 2 <= COUNT(*) OVER (PARTITION BY source) + 1 AS is_kept
    FROM scored
    """,
)
def q_adaptive_source_filter(spark, sf_dir):
    """Per-source adaptive quality cutoff: each source keeps its own top
    half by composite quality — rank-based (exactly deterministic), not an
    interpolated percentile threshold."""
    return text.adaptive_source_filter(spark, sf_dir)


# --- corpus preparation: sharding / temperature mix / token rarity (r4) -----

@register(
    "text_shard_manifest",
    f"""
    WITH per AS (
      SELECT doc_id, source,
             CAST(concat('0x', substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 14))
                  AS BIGINT) AS hkey,
             CAST(len({_TOKS}) AS BIGINT) AS n_tok
      FROM documents
    ),
    off AS (
      SELECT *, SUM(n_tok) OVER (ORDER BY hkey, doc_id) - n_tok AS start_off FROM per
    )
    SELECT CAST(start_off // {corpus.SHARD_TOKENS} AS BIGINT) AS shard_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS shard_tokens,
           COUNT(DISTINCT source) AS n_sources,
           MIN(hkey) AS shard_min_hkey,
           MAX(hkey) AS shard_max_hkey
    FROM off GROUP BY 1
    """,
)
def t_shards(spark, sf_dir):
    """Global hash-shuffled shard layout; the oracle replays the two-level
    distributed prefix sum as one flat cumulative SUM (same order: the
    bucket is the hash's top byte, so (bucket, hkey) ≡ hkey)."""
    return corpus.shard_manifest(spark, sf_dir)


@register(
    "text_shard_write_conservation",
    f"""
    WITH per AS (
      SELECT doc_id, source,
             CAST(concat('0x', substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 14))
                  AS BIGINT) AS hkey,
             CAST(len({_TOKS}) AS BIGINT) AS n_tok,
             CAST(concat('0x', substr(md5(text), 1, 14)) AS BIGINT) AS chash
      FROM documents
    ),
    off AS (
      SELECT *, SUM(n_tok) OVER (ORDER BY hkey, doc_id) - n_tok AS start_off FROM per
    )
    SELECT CAST(start_off // {corpus.SHARD_TOKENS} AS BIGINT) AS shard_id,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT doc_id) AS n_unique_docs,
           CAST(SUM(n_tok) AS BIGINT) AS shard_tokens,
           COUNT(DISTINCT source) AS n_sources,
           MIN(hkey) AS shard_min_hkey,
           MAX(hkey) AS shard_max_hkey,
           CAST(SUM(chash) % {corpus.HASH_SUM_MOD} AS BIGINT) AS content_hash_sum
    FROM off GROUP BY 1
    """,
)
def t_shard_write(spark, sf_dir):
    """Shard WRITE lifecycle (corpus.write_shards): materialize the global
    hash-shuffled layout to `shard_id=K/` parquet dirs (repartitionByRange
    aligns output tasks with shard boundaries — ~one file per shard), then
    audit the READ-BACK: every per-shard fingerprint (doc counts, token
    mass recomputed from the written text, hash span, content-hash sum) is
    recomputed from the written payload only and compared by the oracle
    against the manifest recomputed from the source table — a lost,
    duplicated, or misplaced document reds the driver row. Completes the
    plan→persisted-artifact lifecycle the way build_ivf_index did for ANN
    (trainer-facing: a data loader consumes these dirs one shard at a
    time, pruned to one directory per read)."""
    out = scratch_dir("shards_")
    corpus.write_shards(spark, sf_dir, out)
    return corpus.shard_readback_audit(spark, out)


@register(
    "text_shard_append_conservation",
    f"""
    WITH per AS (
      SELECT doc_id, source,
             CAST(concat('0x', substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 14))
                  AS BIGINT) AS hkey,
             CAST(len({_TOKS}) AS BIGINT) AS n_tok,
             CAST(concat('0x', substr(md5(text), 1, 14)) AS BIGINT) AS chash
      FROM documents
    ),
    boff AS (
      SELECT *, SUM(n_tok) OVER (ORDER BY hkey, doc_id) - n_tok AS start_off
      FROM per WHERE doc_id % 3 <> 0
    ),
    bmax AS (
      SELECT CAST(MAX(start_off // {corpus.SHARD_TOKENS}) AS BIGINT) AS last_shard
      FROM boff
    ),
    doff AS (
      SELECT *, SUM(n_tok) OVER (ORDER BY hkey, doc_id) - n_tok AS local_off
      FROM per WHERE doc_id % 3 = 0
    ),
    placed AS (
      SELECT doc_id, source, hkey, n_tok, chash,
             CAST(start_off // {corpus.SHARD_TOKENS} AS BIGINT) AS shard_id
      FROM boff
      UNION ALL
      SELECT doc_id, source, hkey, n_tok, chash,
             CAST(bmax.last_shard + 1 + (local_off // {corpus.SHARD_TOKENS})
                  AS BIGINT) AS shard_id
      FROM doff, bmax
    )
    SELECT shard_id, COUNT(*) AS n_docs, COUNT(DISTINCT doc_id) AS n_unique_docs,
           CAST(SUM(n_tok) AS BIGINT) AS shard_tokens,
           COUNT(DISTINCT source) AS n_sources,
           MIN(hkey) AS shard_min_hkey, MAX(hkey) AS shard_max_hkey,
           CAST(SUM(chash) % {corpus.HASH_SUM_MOD} AS BIGINT) AS content_hash_sum
    FROM placed GROUP BY 1
    """,
)
def t_shard_append(spark, sf_dir):
    """Incremental shard APPEND lifecycle (corpus.append_shards — the r6
    feature VERDICT-r5 item 5): write a base layout from two thirds of the
    corpus (doc_id % 3 != 0), then APPEND the remaining third as a delta
    batch — only NEW `shard_id=K/` dirs after the last base shard, existing
    dirs untouched, offsets contiguous across the boundary, redelivered
    docs skipped by the anti-join membership gate. The audit recomputes
    every per-shard fingerprint from the WRITTEN payload only; the oracle
    replays base layout + delta placement policy from the source table, so
    a delta doc landed in a base shard, a mutated base shard, or a
    dropped/duplicated delta doc all red the row. Old-dir immutability at
    the file level and idempotency under redelivery are pytest-asserted
    (tests/test_corpus_ops.py)."""
    import os

    from ..io import load_table

    root = scratch_dir("shards_append_")
    base_sf = os.path.join(root, "base_sf")
    out = os.path.join(root, "layout")
    docs = load_table(spark, sf_dir, "documents")
    docs.filter(F.col("doc_id") % 3 != 0).write.mode("overwrite").parquet(
        os.path.join(base_sf, "documents.parquet")
    )
    corpus.write_shards(spark, base_sf, out)
    corpus.append_shards(spark, sf_dir, out)
    return corpus.shard_readback_audit(spark, out)


@register(
    "text_temperature_mix_weights",
    f"""
    WITH per_src AS (
      SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(len({_TOKS})) AS BIGINT) AS src_tokens,
             CAST(FLOOR(SQRT(CAST(SUM(len({_TOKS})) AS DOUBLE))) AS BIGINT) AS weight
      FROM documents GROUP BY 1
    ),
    tot AS (
      SELECT CAST(SUM(src_tokens) AS BIGINT) AS corpus_tokens,
             CAST(SUM(weight) AS BIGINT) AS weight_denom
      FROM per_src
    )
    SELECT source, n_docs, src_tokens,
           src_tokens / corpus_tokens AS token_share,
           weight,
           weight / weight_denom AS sample_prob,
           (weight / weight_denom) * corpus_tokens AS target_tokens,
           ((weight / weight_denom) * corpus_tokens) / src_tokens AS epochs
    FROM per_src, tot
    """,
)
def t_mix_weights(spark, sf_dir):
    """τ=0.5 temperature sampling plan — integer sqrt weights so the
    normalizer stays in exact arithmetic (see corpus.py docstring)."""
    return corpus.temperature_mix_weights(spark, sf_dir)


@register(
    "text_token_rarity_scores",
    f"""
    WITH tok AS (
      SELECT doc_id, source, unnest({_TOKS}) AS token FROM documents
    ),
    v AS (SELECT token, COUNT(*) AS tf FROM tok GROUP BY 1)
    SELECT tok.doc_id, tok.source,
           COUNT(*) AS n_tok,
           CAST(SUM(tf) AS BIGINT) AS sum_tf,
           CAST(SUM(CASE WHEN tf <= {corpus.MIX_RARE_MAX} THEN 1 ELSE 0 END) AS BIGINT)
             AS rare_n,
           SUM(tf) / COUNT(*) AS mean_tok_freq,
           SUM(CASE WHEN tf <= {corpus.MIX_RARE_MAX} THEN 1 ELSE 0 END) / COUNT(*)
             AS rare_frac,
           SUM(CASE WHEN tf <= {corpus.MIX_RARE_MAX} THEN 1 ELSE 0 END) / COUNT(*) > 0.5
             AS rare_suspect
    FROM tok JOIN v USING (token)
    GROUP BY 1, 2
    """,
)
def t_rarity(spark, sf_dir):
    """Corpus-frequency join-back with the Zipf-head broadcast split; the
    oracle's plain join is value-identical (same frequency table)."""
    return corpus.token_rarity_scores(spark, sf_dir)


@register(
    "text_shard_compact_conservation",
    f"""
    WITH per AS (
      SELECT doc_id, source,
             CAST(concat('0x', substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 14))
                  AS BIGINT) AS hkey,
             CAST(len({_TOKS}) AS BIGINT) AS n_tok,
             CAST(concat('0x', substr(md5(text), 1, 14)) AS BIGINT) AS chash
      FROM documents
    ),
    boff AS (
      SELECT *, SUM(n_tok) OVER (ORDER BY hkey, doc_id) - n_tok AS start_off
      FROM per WHERE doc_id % 3 <> 0
    ),
    bmax AS (
      SELECT CAST(MAX(start_off // {corpus.SHARD_TOKENS}) AS BIGINT) AS last_shard
      FROM boff
    ),
    doff AS (
      SELECT *, SUM(n_tok) OVER (ORDER BY hkey, doc_id) - n_tok AS local_off
      FROM per WHERE doc_id % 3 = 0
    ),
    placed AS (
      SELECT doc_id, source, hkey, n_tok, chash,
             CAST(start_off // {corpus.SHARD_TOKENS} AS BIGINT) AS shard_id
      FROM boff
      UNION ALL
      SELECT doc_id, source, hkey, n_tok, chash,
             CAST(bmax.last_shard + 1 + (local_off // {corpus.SHARD_TOKENS})
                  AS BIGINT) AS shard_id
      FROM doff, bmax
    ),
    under AS (
      SELECT shard_id FROM placed GROUP BY 1
      HAVING SUM(n_tok) < {int(corpus.SHARD_TOKENS * 0.85)}
    ),
    ucount AS (SELECT COUNT(*) AS c FROM under),
    maxid AS (SELECT MAX(shard_id) AS m FROM placed),
    kept AS (
      SELECT p.* FROM placed p, ucount u
      WHERE u.c < 2 OR p.shard_id NOT IN (SELECT shard_id FROM under)
    ),
    moved AS (
      SELECT p.*, SUM(n_tok) OVER (ORDER BY hkey, doc_id) - n_tok AS local_off
      FROM placed p, ucount u
      WHERE u.c >= 2 AND p.shard_id IN (SELECT shard_id FROM under)
    ),
    final AS (
      SELECT doc_id, source, hkey, n_tok, chash, shard_id FROM kept
      UNION ALL
      SELECT doc_id, source, hkey, n_tok, chash,
             CAST(maxid.m + 1 + (local_off // {corpus.SHARD_TOKENS}) AS BIGINT)
      FROM moved, maxid
    )
    SELECT shard_id, COUNT(*) AS n_docs, COUNT(DISTINCT doc_id) AS n_unique_docs,
           CAST(SUM(n_tok) AS BIGINT) AS shard_tokens,
           COUNT(DISTINCT source) AS n_sources,
           MIN(hkey) AS shard_min_hkey, MAX(hkey) AS shard_max_hkey,
           CAST(SUM(chash) % {corpus.HASH_SUM_MOD} AS BIGINT) AS content_hash_sum
    FROM final GROUP BY 1
    """,
)
def t_shard_compact(spark, sf_dir):
    """Fragment-shard compaction (corpus.compact_shards — the lifecycle
    step after r6's append: every append generation leaves one under-full
    boundary shard, the small-file problem at shard granularity). Base
    layout from doc_id % 3 != 0, append the rest (two generations, two
    boundary fragments at min_fill=0.85), then compact: fragment docs
    re-lay into fresh full shards at the tail while every KEPT shard dir
    is hard-linked into the new snapshot root (metadata-only, Iceberg
    style) and one atomic root swap serves it. The audit recomputes every
    per-shard fingerprint from the written payload; the oracle replays
    base + delta + the gated compaction policy, so a doc lost/duplicated
    in the re-lay, a mutated kept shard, or a mis-gated no-op all red the
    row. Hard-link inode identity and the no-op gate are pytest-asserted."""
    import os

    root = scratch_dir("shards_compact_")
    base_sf = os.path.join(root, "base_sf")
    out = os.path.join(root, "layout")
    from ..io import load_table

    docs = load_table(spark, sf_dir, "documents")
    docs.filter(F.col("doc_id") % 3 != 0).write.mode("overwrite").parquet(
        os.path.join(base_sf, "documents.parquet")
    )
    corpus.write_shards(spark, base_sf, out)
    corpus.append_shards(spark, sf_dir, out)
    corpus.compact_shards(spark, out, min_fill=0.85)
    return corpus.shard_readback_audit(spark, out)


@register(
    "text_shard_delete_conservation",
    f"""
    WITH per AS (
      SELECT doc_id, source,
             CAST(concat('0x', substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 14))
                  AS BIGINT) AS hkey,
             CAST(len({_TOKS}) AS BIGINT) AS n_tok,
             CAST(concat('0x', substr(md5(text), 1, 14)) AS BIGINT) AS chash
      FROM documents
    ),
    boff AS (
      SELECT *, SUM(n_tok) OVER (ORDER BY hkey, doc_id) - n_tok AS start_off
      FROM per WHERE doc_id % 3 <> 0
    ),
    bmax AS (
      SELECT CAST(MAX(start_off // {corpus.SHARD_TOKENS}) AS BIGINT) AS last_shard
      FROM boff
    ),
    doff AS (
      SELECT *, SUM(n_tok) OVER (ORDER BY hkey, doc_id) - n_tok AS local_off
      FROM per WHERE doc_id % 3 = 0
    ),
    placed AS (
      SELECT doc_id, source, hkey, n_tok, chash,
             CAST(start_off // {corpus.SHARD_TOKENS} AS BIGINT) AS shard_id
      FROM boff
      UNION ALL
      SELECT doc_id, source, hkey, n_tok, chash,
             CAST(bmax.last_shard + 1 + (local_off // {corpus.SHARD_TOKENS})
                  AS BIGINT) AS shard_id
      FROM doff, bmax
    )
    SELECT shard_id, COUNT(*) AS n_docs, COUNT(DISTINCT doc_id) AS n_unique_docs,
           CAST(SUM(n_tok) AS BIGINT) AS shard_tokens,
           COUNT(DISTINCT source) AS n_sources,
           MIN(hkey) AS shard_min_hkey, MAX(hkey) AS shard_max_hkey,
           CAST(SUM(chash) % {corpus.HASH_SUM_MOD} AS BIGINT) AS content_hash_sum
    FROM placed
    WHERE doc_id % 7 <> 0
    GROUP BY 1
    """,
)
def t_shard_delete(spark, sf_dir):
    """Targeted deletion from the shard layout (corpus.delete_from_shards
    — right-to-be-forgotten on the trainer-facing artifact, completing
    the r6 lifecycle triple write→append→compact/delete). Base layout
    from doc_id % 3 != 0, append the rest, then delete every doc_id % 7
    == 0: only shards holding doomed docs are rewritten (survivors keep
    shard_id and offsets — deletion leaves offset holes by design),
    untouched dirs hard-link into the new snapshot root, emptied shards
    retire. The audit recomputes per-shard fingerprints from the written
    payload; the oracle replays base + delta placement minus the doomed
    set, so a surviving doomed doc, a dropped survivor, or a shard that
    moved all red the row. Inode identity, offset stability, and
    re-delete idempotency are pytest-asserted."""
    import os

    from ..io import load_table

    root = scratch_dir("shards_delete_")
    base_sf = os.path.join(root, "base_sf")
    out = os.path.join(root, "layout")
    docs = load_table(spark, sf_dir, "documents")
    docs.filter(F.col("doc_id") % 3 != 0).write.mode("overwrite").parquet(
        os.path.join(base_sf, "documents.parquet")
    )
    corpus.write_shards(spark, base_sf, out)
    corpus.append_shards(spark, sf_dir, out)
    corpus.delete_from_shards(
        spark, docs.filter(F.col("doc_id") % 7 == 0).select("doc_id"), out
    )
    return corpus.shard_readback_audit(spark, out)


@register(
    "text_shard_delete_tombstone",
    f"""
    WITH fin AS (
      SELECT doc_id,
             CAST(len({_TOKS}) AS BIGINT) AS n_tok,
             CAST(concat('0x', substr(md5(text), 1, 14)) AS BIGINT) AS chash
      FROM documents WHERE doc_id % 5 <> 0
    ),
    t AS (
      SELECT COUNT(DISTINCT doc_id) AS n_tombstones
      FROM documents WHERE doc_id % 5 = 0
    )
    SELECT COUNT(*) AS n_docs,
           COUNT(DISTINCT doc_id) AS n_unique_docs,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
           CAST(SUM(chash) % {corpus.HASH_SUM_MOD} AS BIGINT) AS content_hash_sum,
           t.n_tombstones,
           CAST(0 AS BIGINT) AS n_tombstoned_present
    FROM fin, t
    GROUP BY t.n_tombstones
    """,
)
def t_shard_delete_tombstone(spark, sf_dir):
    """The delete→append seam closed (VERDICT-r6 item 2): deletion with
    `tombstone=True` records EVERY requested id in the layout's append-only
    `_deleted/` table, and `append_docs`' membership gate consults it as a
    second broadcastable anti-join — so right-to-be-forgotten holds even
    when the ingest stream redelivers a deleted document.

    Scenario (closed form the oracle replays without simulating the
    lifecycle): base layout from doc_id % 3 != 0; delete ALL doc_id % 5 ==
    0 (including ids NOT in the layout — a takedown must bar ids that have
    not arrived yet); then append the FULL corpus. The layout gate blocks
    live members, the tombstone gate blocks every multiple of 5, so the
    final membership is exactly {{doc_id % 5 != 0}} — admitted delta =
    {{doc_id % 3 == 0 AND doc_id % 5 != 0}}. The audit row carries
    exactly-once membership counts, token mass and the mod-prime content
    fingerprint recomputed from the WRITTEN payload, the tombstone-table
    cardinality, and the count of tombstoned ids present in the layout
    (must be 0). Tombstone survival across compact/delete snapshot roots
    and the opt-out flag are pytest-asserted (tests/test_corpus_ops.py)."""
    import os

    from ..io import load_table
    from ..operators.text import tokens_col

    root = scratch_dir("shards_tomb_")
    base_sf = os.path.join(root, "base_sf")
    out = os.path.join(root, "layout")
    docs = load_table(spark, sf_dir, "documents")
    docs.filter(F.col("doc_id") % 3 != 0).write.mode("overwrite").parquet(
        os.path.join(base_sf, "documents.parquet")
    )
    corpus.write_shards(spark, base_sf, out)
    corpus.delete_from_shards(
        spark, docs.filter(F.col("doc_id") % 5 == 0).select("doc_id"), out
    )
    corpus.append_shards(spark, sf_dir, out)
    back = corpus.read_shards(spark, out)
    tombs = corpus.read_tombstones(spark, out)
    audit = back.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("doc_id").alias("n_unique_docs"),
        F.sum(F.size(tokens_col()).cast("long")).alias("total_tokens"),
        corpus.content_hash_sum().alias("content_hash_sum"),
    )
    n_t = tombs.agg(F.countDistinct("doc_id").alias("n_tombstones"))
    n_p = back.join(tombs, "doc_id", "left_semi").agg(
        F.count("*").alias("n_tombstoned_present")
    )
    return audit.crossJoin(n_t).crossJoin(n_p)


@register(
    "text_shard_vacuum_readmit",
    f"""
    WITH fin AS (
      SELECT doc_id,
             CAST(len({_TOKS}) AS BIGINT) AS n_tok,
             CAST(concat('0x', substr(md5(text), 1, 14)) AS BIGINT) AS chash
      FROM documents WHERE doc_id % 4 <> 0 OR doc_id % 8 = 0
    ),
    t AS (
      SELECT COUNT(DISTINCT doc_id) AS n_tombstones
      FROM documents WHERE doc_id % 4 = 0 AND doc_id % 8 <> 0
    ),
    r AS (
      SELECT COUNT(DISTINCT doc_id) AS n_readmitted
      FROM documents WHERE doc_id % 8 = 0
    )
    SELECT COUNT(*) AS n_docs,
           COUNT(DISTINCT doc_id) AS n_unique_docs,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
           CAST(SUM(chash) % {corpus.HASH_SUM_MOD} AS BIGINT) AS content_hash_sum,
           t.n_tombstones,
           r.n_readmitted,
           CAST(0 AS BIGINT) AS n_barred_present
    FROM fin, t, r
    GROUP BY t.n_tombstones, r.n_readmitted
    """,
)
def t_shard_vacuum_readmit(spark, sf_dir):
    """vacuum_tombstones — the ONE sanctioned tombstone shrink (r8;
    delete_from_shards documents the append-only growth contract it is
    the exception to). Scenario in closed form: base layout from doc_id %
    3 != 0; tombstone-delete all doc_id % 4 == 0; VACUUM the multiples of
    8 (caller attests they can never be redelivered — here, a reversed
    takedown); append the FULL corpus. Vacuumed ids re-admit, surviving
    tombstones still bar, so final membership is exactly {{doc_id % 4 !=
    0 OR doc_id % 8 == 0}}, the surviving bar is {{%4==0 AND %8!=0}}, and
    every multiple of 8 is back (n_readmitted). The audit row recomputes
    membership/token/fingerprint totals from the WRITTEN payload plus the
    barred-present count pinned 0 in-oracle; vacuum's monotone
    crash-safety (new file admitted before old files retire) and
    empty-bar idempotency are pytest-asserted
    (tests/test_corpus_ops.py::test_vacuum_tombstones_shrinks_bar_and_readmits)."""
    import os

    from ..io import load_table
    from ..operators.text import tokens_col

    root = scratch_dir("shards_vacuum_")
    base_sf = os.path.join(root, "base_sf")
    out = os.path.join(root, "layout")
    docs = load_table(spark, sf_dir, "documents")
    docs.filter(F.col("doc_id") % 3 != 0).write.mode("overwrite").parquet(
        os.path.join(base_sf, "documents.parquet")
    )
    corpus.write_shards(spark, base_sf, out)
    corpus.delete_from_shards(
        spark, docs.filter(F.col("doc_id") % 4 == 0).select("doc_id"), out
    )
    corpus.vacuum_tombstones(
        spark, docs.filter(F.col("doc_id") % 8 == 0).select("doc_id"), out
    )
    corpus.append_shards(spark, sf_dir, out)
    back = corpus.read_shards(spark, out)
    tombs = corpus.read_tombstones(spark, out)
    audit = back.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("doc_id").alias("n_unique_docs"),
        F.sum(F.size(tokens_col()).cast("long")).alias("total_tokens"),
        corpus.content_hash_sum().alias("content_hash_sum"),
    )
    n_t = tombs.agg(F.countDistinct("doc_id").alias("n_tombstones"))
    n_r = back.filter(F.col("doc_id") % 8 == 0).agg(
        F.countDistinct("doc_id").alias("n_readmitted")
    )
    n_b = back.join(tombs, "doc_id", "left_semi").agg(
        F.count("*").alias("n_barred_present")
    )
    return audit.crossJoin(n_t).crossJoin(n_r).crossJoin(n_b)


@register(
    "text_shard_verify_report",
    f"""
    WITH per AS (
      SELECT doc_id, source,
             CAST(concat('0x', substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 14))
                  AS BIGINT) AS hkey,
             CAST(len({_TOKS}) AS BIGINT) AS n_tok,
             CAST(concat('0x', substr(md5(text), 1, 14)) AS BIGINT) AS chash
      FROM documents
    ),
    boff AS (
      SELECT *, SUM(n_tok) OVER (ORDER BY hkey, doc_id) - n_tok AS start_off
      FROM per WHERE doc_id % 3 <> 0
    ),
    bmax AS (
      SELECT CAST(MAX(start_off // {corpus.SHARD_TOKENS}) AS BIGINT) AS last_shard
      FROM boff
    ),
    doff AS (
      SELECT *, SUM(n_tok) OVER (ORDER BY hkey, doc_id) - n_tok AS local_off
      FROM per WHERE doc_id % 3 = 0
    ),
    placed AS (
      SELECT doc_id, source, hkey, n_tok, chash,
             CAST(start_off // {corpus.SHARD_TOKENS} AS BIGINT) AS shard_id
      FROM boff
      UNION ALL
      SELECT doc_id, source, hkey, n_tok, chash,
             CAST(bmax.last_shard + 1 + (local_off // {corpus.SHARD_TOKENS})
                  AS BIGINT) AS shard_id
      FROM doff, bmax
    )
    SELECT shard_id, COUNT(*) AS n_docs, COUNT(DISTINCT doc_id) AS n_unique_docs,
           CAST(SUM(n_tok) AS BIGINT) AS shard_tokens,
           COUNT(DISTINCT source) AS n_sources,
           MIN(hkey) AS shard_min_hkey, MAX(hkey) AS shard_max_hkey,
           CAST(SUM(chash) % {corpus.HASH_SUM_MOD} AS BIGINT) AS content_hash_sum,
           TRUE AS shard_ok
    FROM placed GROUP BY 1
    """,
)
def t_shard_verify(spark, sf_dir):
    """Manifest + reader-side verification (corpus.write_layout_manifest /
    verify_shards): after base + append, persist the shard inventory as
    the in-layout `_manifest` and re-verify every shard's payload against
    it — the check a training job runs before trusting a layout it did
    not just write. The returned report carries the full recomputed
    fingerprints PLUS the verifier's verdict, so the oracle value-hashes
    the fingerprints (same strength as the conservation queries) and pins
    every verdict TRUE on an untampered layout; detection of a
    checksum-consistent file swap and manifest invalidation by mutating
    ops are pytest-asserted."""
    import os

    from ..io import load_table

    root = scratch_dir("shards_verify_")
    base_sf = os.path.join(root, "base_sf")
    out = os.path.join(root, "layout")
    docs = load_table(spark, sf_dir, "documents")
    docs.filter(F.col("doc_id") % 3 != 0).write.mode("overwrite").parquet(
        os.path.join(base_sf, "documents.parquet")
    )
    corpus.write_shards(spark, base_sf, out)
    corpus.append_shards(spark, sf_dir, out)
    corpus.write_layout_manifest(spark, out)
    rep = corpus.verify_shards(spark, out).select("shard_id", "shard_ok")
    return corpus.shard_readback_audit(spark, out).join(rep, "shard_id")


@register(
    "text_epoch_schedule",
    f"""
    WITH per AS (
      SELECT doc_id,
             CAST(concat('0x', substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 14))
                  AS BIGINT) AS hkey,
             CAST(len({_TOKS}) AS BIGINT) AS n_tok
      FROM documents
    ),
    off AS (
      SELECT *, SUM(n_tok) OVER (ORDER BY hkey, doc_id) - n_tok AS start_off FROM per
    ),
    shards AS (
      SELECT CAST(start_off // {corpus.SHARD_TOKENS} AS BIGINT) AS shard_id,
             CAST(SUM(n_tok) AS BIGINT) AS shard_tokens,
             COUNT(*) AS n_docs
      FROM off GROUP BY 1
    ),
    sched AS (
      SELECT e.epoch, s.shard_id, s.shard_tokens, s.n_docs,
             CAST(concat('0x', substr(md5('epoch:' || CAST(e.epoch AS VARCHAR) || ':'
                                          || CAST(s.shard_id AS VARCHAR)), 1, 14))
                  AS BIGINT) AS order_key
      FROM shards s, (SELECT UNNEST([0, 1, 2]) AS epoch) e
    )
    SELECT epoch, shard_id, shard_tokens, n_docs, order_key,
           CAST(ROW_NUMBER() OVER (PARTITION BY epoch ORDER BY order_key, shard_id)
                AS INT) AS order_rank,
           CAST(SUM(shard_tokens) OVER (PARTITION BY epoch ORDER BY order_key, shard_id)
                - shard_tokens AS BIGINT) AS epoch_start_off
    FROM sched
    """,
)
def t_epoch_schedule(spark, sf_dir):
    """Deterministic per-epoch shard reading order (corpus.epoch_schedule):
    every epoch permutes shard ORDER by a content-addressed hash — batch
    composition decorrelates across epochs without touching the shard
    payloads — with the epoch-local cumulative token offset a resuming
    loader seeks by. Operates on the K-row manifest, never the corpus."""
    return corpus.epoch_schedule(spark, sf_dir)


@register(
    "text_epoch_token_slice",
    f"""
    WITH per AS (
      SELECT doc_id,
             CAST(concat('0x', substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 14))
                  AS BIGINT) AS hkey,
             CAST(len({_TOKS}) AS BIGINT) AS n_tok
      FROM documents
    ),
    off AS (
      SELECT *, SUM(n_tok) OVER (ORDER BY hkey, doc_id) - n_tok AS start_off FROM per
    ),
    shards AS (
      SELECT CAST(start_off // {corpus.SHARD_TOKENS} AS BIGINT) AS shard_id,
             CAST(SUM(n_tok) AS BIGINT) AS shard_tokens,
             COUNT(*) AS n_docs
      FROM off GROUP BY 1
    ),
    sched AS (
      SELECT CAST(1 AS INT) AS epoch, shard_id, shard_tokens, n_docs,
             CAST(concat('0x', substr(md5('epoch:1:' || CAST(shard_id AS VARCHAR)), 1, 14))
                  AS BIGINT) AS order_key
      FROM shards
    ),
    ranked AS (
      SELECT epoch, shard_id, shard_tokens, n_docs,
             CAST(ROW_NUMBER() OVER (ORDER BY order_key, shard_id) AS INT) AS order_rank,
             CAST(SUM(shard_tokens) OVER (ORDER BY order_key, shard_id)
                  - shard_tokens AS BIGINT) AS epoch_start_off
      FROM sched
    )
    SELECT epoch, shard_id, order_rank, epoch_start_off, shard_tokens, n_docs
    FROM ranked
    WHERE epoch_start_off < 9000 AND epoch_start_off + shard_tokens > 1500
    """,
)
def t_epoch_slice(spark, sf_dir):
    """The resuming loader's seek (corpus.epoch_token_slice): epoch 1,
    token window [1500, 9000) — the ordered covering shards with their
    epoch-local offsets and doc counts, computed entirely on the K-row
    schedule (half-open interval overlap against the prefix sums). The
    covering shard_ids are what a restarted job prunes its reads to."""
    return corpus.epoch_token_slice(spark, sf_dir, epoch=1, start_tok=1500, end_tok=9000)


@register(
    "text_curated_append",
    f"""
    WITH {_SHINGLES_CTE.format(src="documents")},
    hashed AS (
      SELECT doc_id,
             CAST(concat('0x', substr(md5(shingle), 1, 14)) AS BIGINT) % 1073741824 AS h
      FROM sh
    ),
    sig AS (SELECT doc_id, {_MINHASH_AGGS} FROM hashed GROUP BY 1),
    bands AS (
      {_BAND_SELECTS}
    ),
    neardups AS (
      SELECT DISTINCT n.doc_id
      FROM bands n JOIN bands c
        ON n.band = c.band AND n.bx = c.bx AND n.by = c.by
      WHERE n.doc_id % 10 = 7 AND c.doc_id % 10 <> 7
    ),
    per AS (
      SELECT doc_id, source,
             CAST(concat('0x', substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 14))
                  AS BIGINT) AS hkey,
             CAST(len({_TOKS}) AS BIGINT) AS n_tok,
             CAST(concat('0x', substr(md5(text), 1, 14)) AS BIGINT) AS chash
      FROM documents
    ),
    boff AS (
      SELECT *, SUM(n_tok) OVER (ORDER BY hkey, doc_id) - n_tok AS start_off
      FROM per WHERE doc_id % 10 <> 7
    ),
    bmax AS (
      SELECT CAST(MAX(start_off // {corpus.SHARD_TOKENS}) AS BIGINT) AS last_shard
      FROM boff
    ),
    doff AS (
      SELECT *, SUM(n_tok) OVER (ORDER BY hkey, doc_id) - n_tok AS local_off
      FROM per
      WHERE doc_id % 10 = 7 AND doc_id NOT IN (SELECT doc_id FROM neardups)
    ),
    placed AS (
      SELECT doc_id, source, hkey, n_tok, chash,
             CAST(start_off // {corpus.SHARD_TOKENS} AS BIGINT) AS shard_id
      FROM boff
      UNION ALL
      SELECT doc_id, source, hkey, n_tok, chash,
             CAST(bmax.last_shard + 1 + (local_off // {corpus.SHARD_TOKENS})
                  AS BIGINT) AS shard_id
      FROM doff, bmax
    )
    SELECT shard_id, COUNT(*) AS n_docs, COUNT(DISTINCT doc_id) AS n_unique_docs,
           CAST(SUM(n_tok) AS BIGINT) AS shard_tokens,
           COUNT(DISTINCT source) AS n_sources,
           MIN(hkey) AS shard_min_hkey, MAX(hkey) AS shard_max_hkey,
           CAST(SUM(chash) % {corpus.HASH_SUM_MOD} AS BIGINT) AS content_hash_sum
    FROM placed GROUP BY 1
    """,
)
def t_curated_append(spark, sf_dir):
    """Curated ingest to the trainer artifact — the composition a crawl
    pipeline actually runs: today's batch (doc_id % 10 == 7) is first
    checked against the corpus with the INCREMENTAL MinHash tier (banded
    new x corpus join, work ∝ batch — dedup_incremental_candidates'
    operator), near-dups of existing content are dropped, and only the
    survivors append to the shard layout as new immutable shards. The
    audit fingerprints the final layout; the oracle replays LSH banding,
    the near-dup gate, and both layout generations — so an admitted
    near-dup, a lost survivor, or a misplaced shard all red the row."""
    import os

    from ..io import load_table

    root = scratch_dir("curated_append_")
    base_sf = os.path.join(root, "base_sf")
    out = os.path.join(root, "layout")
    docs = load_table(spark, sf_dir, "documents")
    docs.filter(F.col("doc_id") % 10 != 7).write.mode("overwrite").parquet(
        os.path.join(base_sf, "documents.parquet")
    )
    corpus.write_shards(spark, base_sf, out)
    neardups = (
        dedup.incremental_minhash_candidates(spark, sf_dir)
        .select(F.col("new_id").alias("doc_id"))
        .distinct()
    )
    survivors = docs.filter(F.col("doc_id") % 10 == 7).join(
        neardups, "doc_id", "left_anti"
    )
    corpus.append_docs(spark, survivors, out)
    return corpus.shard_readback_audit(spark, out)


_LM_SQL = f"""
    WITH tok AS (
      SELECT doc_id, source, {_TOKS} AS toks FROM documents
    ),
    u AS (SELECT unnest(toks) AS w FROM tok),
    uni AS (SELECT w, COUNT(*) AS cu FROM u GROUP BY 1),
    v AS (SELECT COUNT(*) AS vsz FROM uni),
    bg AS (
      SELECT doc_id, source, gs.i AS pos, toks[gs.i] AS prev, toks[gs.i + 1] AS cur
      FROM tok, unnest(generate_series(1, len(toks) - 1)) AS gs(i)
    ),
    bic AS (SELECT prev, cur, COUNT(*) AS cb FROM bg GROUP BY 1, 2),
    sc AS (
      SELECT bg.doc_id, bg.source, bg.pos,
             ln(CAST(cb + 1 AS DOUBLE)) - ln(CAST(cu + vsz AS DOUBLE)) AS logp,
             CASE WHEN cb = 1 THEN 1 ELSE 0 END AS hapax
      FROM bg JOIN bic USING (prev, cur) JOIN uni ON bg.prev = uni.w CROSS JOIN v
    ),
    per AS (
      SELECT doc_id, source, COUNT(*) AS n_bigrams,
             CAST(SUM(hapax) AS BIGINT) AS hapax_bigrams,
             list_reduce(list(logp ORDER BY pos), (a, b) -> a + b) AS ll
      FROM sc GROUP BY 1, 2
    )
    SELECT doc_id, source, n_bigrams, hapax_bigrams,
           -ll / n_bigrams AS cross_entropy,
           (-ll / n_bigrams) <= {text.LM_CE_KEEP} AS keep
    FROM per
    """


@register("text_lm_perplexity_filter", _LM_SQL)
def t_lm_perplexity(spark, sf_dir):
    """Bigram-LM cross-entropy quality filter (the CCNet/KenLM shape):
    add-one-smoothed bigram model trained on the corpus, per-doc
    cross-entropy + hapax-bigram novelty + keep flag. ln evaluated
    driver-side over the Zipf-collapsed distinct integer args (libm
    parity, the BM25 idf precedent); the per-doc float fold is
    position-ordered in BOTH engines (F.aggregate vs list_reduce over an
    ORDER BY pos list), so the totals are bit-equal and partitioning-
    independent."""
    return text.lm_perplexity_filter(spark, sf_dir)


def _bpe_oracle_ctes(n_merges: int) -> str:
    """Unrolled BPE iterations as DuckDB CTE stages — wf -> s0 -> (p_i,
    m_i, s_i) x K. The merge application mirrors _bpe_apply_merge's two
    literal replace passes exactly; the pair stream is a list_transform
    over 1-based indices (both engines 1-based here); tie-break ORDER BY
    pair_count DESC, l, r in both. chr(9) separates the pair halves —
    it cannot collide because symbols are [a-z]+ only. Every stage is AS
    MATERIALIZED: DuckDB inlines plain CTEs like views, and the s_i ->
    (p_i+1, s_i+1) double references plus the six scalar-subquery reads of
    each m_i would otherwise re-execute the whole prefix exponentially
    (observed: the un-materialized K=4 unroll did not finish in 120 s at
    sf0.001; materialized it is sub-second)."""
    parts = [
        "wf AS MATERIALIZED (SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS wcount"
        " FROM (SELECT unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS w"
        " FROM documents) WHERE length(w) >= 2 GROUP BY 1)",
        "s0 AS MATERIALIZED (SELECT word,"
        " ' ' || regexp_replace(word, '(.)', '\\1 ', 'g') AS seq,"
        " wcount FROM wf)",
    ]
    for i in range(1, n_merges + 1):
        prev = f"s{i - 1}"
        parts.append(
            f"""p{i} AS MATERIALIZED (
      SELECT split_part(pr, chr(9), 1) AS l, split_part(pr, chr(9), 2) AS r,
             CAST(SUM(wcount) AS BIGINT) AS pair_count
      FROM (SELECT wcount,
                   unnest(list_transform(generate_series(1, len(syms) - 1),
                          i -> syms[i] || chr(9) || syms[i + 1])) AS pr
            FROM (SELECT string_split(trim(seq), ' ') AS syms, wcount FROM {prev}))
      GROUP BY 1, 2)"""
        )
        parts.append(
            f"m{i} AS MATERIALIZED (SELECT l, r, pair_count FROM p{i}"
            " ORDER BY pair_count DESC, l, r LIMIT 1)"
        )
        pat = f"' ' || (SELECT l FROM m{i}) || ' ' || (SELECT r FROM m{i}) || ' '"
        rep = f"' ' || (SELECT l FROM m{i}) || (SELECT r FROM m{i}) || ' '"
        parts.append(
            f"s{i} AS MATERIALIZED (SELECT word,"
            f" replace(replace(seq, {pat}, {rep}), {pat}, {rep})"
            f" AS seq, wcount FROM {prev})"
        )
    return ",\n    ".join(parts)


_BPE_MERGES_SQL = f"""
    WITH
    {_bpe_oracle_ctes(text.BPE_N_MERGES)}
    SELECT * FROM (
      {" UNION ALL ".join(
          f"SELECT CAST({i} AS INTEGER) AS merge_rank, l AS left_sym,"
          f" r AS right_sym, l || r AS merged_sym, pair_count FROM m{i}"
          for i in range(1, text.BPE_N_MERGES + 1)
      )}
    ) ORDER BY merge_rank
    """


@register("text_bpe_train_merges", _BPE_MERGES_SQL)
def t_bpe_merges(spark, sf_dir):
    """BPE tokenizer training, first K=4 merge rules. Corpus scanned ONCE
    by Spark into the distinct-word frequency table, collected once; the
    merge loop runs driver-side over it (the HuggingFace-tokenizers
    trainer shape). Counts are exact integers, ties broken (l, r)
    ascending, so the rule sequence is partitioning-independent."""
    return text.bpe_train_merges(spark, sf_dir)


_BPE_VOCAB_SQL = f"""
    WITH
    {_bpe_oracle_ctes(text.BPE_N_MERGES)}
    SELECT sym AS symbol, CAST(SUM(wcount) AS BIGINT) AS sym_weight,
           CAST(COUNT(*) AS BIGINT) AS n_word_occurrences
    FROM (SELECT unnest(string_split(trim(seq), ' ')) AS sym, wcount
          FROM s{text.BPE_N_MERGES})
    GROUP BY 1 ORDER BY sym_weight DESC, symbol LIMIT {text.BPE_VOCAB_TOPK}
    """


@register("text_bpe_vocab_top", _BPE_VOCAB_SQL)
def t_bpe_vocab(spark, sf_dir):
    """Top-20 corpus symbols after the 4 trained merges are applied —
    end-to-end proof the merge APPLICATION evolves the symbol sequences
    bit-equally in both engines (the rule table alone wouldn't catch a
    replace-semantics divergence in the final state). TakeOrderedAndProject
    top-k, weighted by the word-frequency table."""
    return text.bpe_vocab_top(spark, sf_dir)


_OOV_SQL = f"""
    WITH toks AS MATERIALIZED (
      SELECT source, unnest({_TOKS}) AS w FROM documents
    ),
    vocab AS MATERIALIZED (
      SELECT w FROM (SELECT w, COUNT(*) AS n FROM toks GROUP BY 1)
      ORDER BY n DESC, w LIMIT {text.VOCAB_TOP_N}
    )
    SELECT source, CAST(COUNT(*) AS BIGINT) AS total_tokens,
           CAST(SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS oov_tokens,
           SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) / COUNT(*) AS oov_rate,
           CAST(COUNT(DISTINCT CASE WHEN v.w IS NULL THEN toks.w END) AS BIGINT)
             AS distinct_oov_words
    FROM toks LEFT JOIN vocab v USING (w)
    GROUP BY source
    """


@register("text_vocab_oov_rate", _OOV_SQL)
def t_vocab_oov(spark, sf_dir):
    """Tokenizer-vocabulary coverage per source: OOV token share against
    the top-16 corpus vocabulary (text.VOCAB_TOP_N — sized against the
    31-word synthetic pool; ties token-asc — a total order, where a
    frequency threshold flaps on boundary ties). Vocab is one partial-agg
    shuffle + TakeOrderedAndProject, then BROADCAST into the token stream:
    the coverage pass is scan + map-side join + per-source agg, no
    corpus-sized shuffle."""
    return text.vocab_oov_rate(spark, sf_dir)


_BPE_COMPRESSION_SQL = f"""
    WITH
    {_bpe_oracle_ctes(text.BPE_N_MERGES)},
    pw AS MATERIALIZED (
      SELECT word, CAST(length(word) AS BIGINT) AS chars,
             CAST(len(string_split(trim(seq), ' ')) AS BIGINT) AS syms
      FROM s{text.BPE_N_MERGES}
    ),
    stream AS (
      SELECT source, w AS word
      FROM (SELECT source,
                   unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS w
            FROM documents)
      WHERE length(w) >= 2
    )
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(chars) AS BIGINT) AS total_chars,
           CAST(SUM(syms) AS BIGINT) AS total_symbols,
           CAST(SUM(chars) AS BIGINT) / CAST(SUM(syms) AS BIGINT)
             AS chars_per_symbol
    FROM stream JOIN pw USING (word)
    GROUP BY source
    """


@register("text_bpe_compression_by_source", _BPE_COMPRESSION_SQL)
def t_bpe_compression(spark, sf_dir):
    """Chars-per-token of the trained BPE vocab, per source — encode rides
    the distinct-word table (symbols counted once per WORD, then the
    corpus token stream equi-joins back on the word key), so the encode
    cost is corpus-token-proportional with vocab-sized state. The ratio is
    one exact int/int IEEE division per source."""
    return text.bpe_compression_by_source(spark, sf_dir)


# --- mergeable cardinality sketches (operators/sketches.py) ------------------

from ..operators import sketches  # noqa: E402  (family tail-registered late)

_SKETCH_SHINGLE_CTES = f"""
    toks AS (SELECT source, {_TOKS} AS t FROM documents),
    sh AS (
      SELECT source, unnest(list_distinct(
               CASE WHEN len(t) >= 3
                    THEN list_transform(generate_series(1, len(t) - 2),
                                        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
                    ELSE []::VARCHAR[] END)) AS shingle
      FROM toks),
    hashed AS (SELECT source,
                      CAST(concat('0x', substr(md5(shingle), 1, 14)) AS BIGINT) AS h
               FROM sh)
""".strip()

_HLL_EST = f"{sketches.HLL_EST_NUM!r} / CAST(s.s_int AS DOUBLE)"


@register(
    "text_hll_shingle_cardinality",
    f"""
    WITH {_SKETCH_SHINGLE_CTES},
    rho AS (SELECT source, h % {sketches.HLL_M} AS j,
                   CASE WHEN h // {sketches.HLL_M} = 0 THEN {sketches.HLL_RHO_MAX}
                        ELSE {sketches.HLL_RHO_MAX} - length(bin(h // {sketches.HLL_M}))
                   END AS rho
            FROM hashed),
    regs_src AS (SELECT source AS scope, j, MAX(rho) AS m FROM rho GROUP BY 1, 2),
    regs AS (SELECT * FROM regs_src
             UNION ALL
             SELECT '{sketches.ALL_SCOPE}' AS scope, j, MAX(m) AS m
             FROM regs_src GROUP BY 2),
    stats AS (SELECT scope,
                     CAST(SUM(1::BIGINT << ({sketches.HLL_SCALE_BITS} - m)) AS BIGINT)
                       + ({sketches.HLL_M} - COUNT(*))
                         * (1::BIGINT << {sketches.HLL_SCALE_BITS}) AS s_int,
                     CAST({sketches.HLL_M} - COUNT(*) AS BIGINT) AS zero_registers
              FROM regs GROUP BY 1),
    exact AS (SELECT source AS scope, COUNT(DISTINCT shingle) AS exact_distinct
              FROM sh GROUP BY 1
              UNION ALL
              SELECT '{sketches.ALL_SCOPE}', COUNT(DISTINCT shingle) FROM sh)
    SELECT s.scope, e.exact_distinct,
           {_HLL_EST} AS hll_estimate,
           s.zero_registers,
           ({_HLL_EST} - e.exact_distinct) / e.exact_distinct AS rel_error,
           CASE WHEN {_HLL_EST} <= {sketches.HLL_LC_THRESHOLD!r}
                     AND s.zero_registers > 0
                THEN 'linear_counting_advised' ELSE 'raw' END AS regime
    FROM stats s JOIN exact e USING (scope) ORDER BY scope
    """,
)
def t_hll_shingles(spark, sf_dir):
    """64-register HyperLogLog distinct-shingle estimate per source + the
    merged '__ALL__' sketch — the bounded-state COUNT(DISTINCT) for 100 TB
    vocab/shingle cardinality (sketches.py module docstring). The harmonic
    sum is exact scaled-integer arithmetic, so the estimate is
    bit-reproducible in both engines from the same register state."""
    return sketches.hll_shingle_cardinality(spark, sf_dir)


# bottom-k build + pair merge CTE chain, shared VERBATIM by the batch
# oracle (which adds the exact-Jaccard verifier) and the streaming twin's
# oracle (stream_kmv_register_ingest in registry/streaming.py — the
# drained union re-cut equals the batch sketch, the Beyer et al. superset
# property)
KMV_SK_CTES = f"""
    bk AS (SELECT DISTINCT source, h FROM (
             SELECT source, h,
                    dense_rank() OVER (PARTITION BY source ORDER BY h) AS r
             FROM hashed)
           WHERE r <= {sketches.KMV_K}),
    srcs AS (SELECT DISTINCT source FROM bk),
    pairs AS (SELECT a.source AS source_a, b.source AS source_b
              FROM srcs a, srcs b WHERE a.source < b.source),
    u AS (SELECT source_a, source_b, h, MAX(in_a) AS in_a, MAX(in_b) AS in_b
          FROM (SELECT p.source_a, p.source_b, k.h, 1 AS in_a, 0 AS in_b
                FROM pairs p JOIN bk k ON k.source = p.source_a
                UNION ALL
                SELECT p.source_a, p.source_b, k.h, 0, 1
                FROM pairs p JOIN bk k ON k.source = p.source_b)
          GROUP BY 1, 2, 3),
    cut AS (SELECT * FROM (
              SELECT *, row_number() OVER (PARTITION BY source_a, source_b
                                           ORDER BY h) AS r
              FROM u) WHERE r <= {sketches.KMV_K}),
    sk AS (SELECT source_a, source_b,
                  CAST(COUNT(*) AS BIGINT) AS sketch_union_size,
                  CAST(SUM(in_a * in_b) AS BIGINT) AS sketch_overlap,
                  MAX(h) AS h_k
           FROM cut GROUP BY 1, 2)"""

# the sketch-column projection, shared by both oracles
KMV_SK_SELECT = f"""s.source_a, s.source_b, s.sketch_union_size, s.sketch_overlap,
           CAST(s.sketch_overlap AS DOUBLE) / s.sketch_union_size AS jaccard_est,
           CASE WHEN s.sketch_union_size < {sketches.KMV_K}
                THEN CAST(s.sketch_union_size AS DOUBLE)
                ELSE {sketches.KMV_EST_NUM!r} / CAST(s.h_k AS DOUBLE) END AS union_est"""


@register(
    "text_kmv_source_overlap",
    f"""
    WITH {_SKETCH_SHINGLE_CTES},
    {KMV_SK_CTES},
    ssets AS (SELECT DISTINCT source, shingle FROM sh),
    sizes AS (SELECT source, COUNT(DISTINCT shingle) AS n FROM ssets GROUP BY 1),
    inter AS (SELECT a.source AS source_a, b.source AS source_b,
                     COUNT(DISTINCT a.shingle) AS n_inter
              FROM ssets a JOIN ssets b
                ON a.shingle = b.shingle AND a.source < b.source
              GROUP BY 1, 2),
    exact AS (SELECT p.source_a, p.source_b,
                     CAST(COALESCE(i.n_inter, 0) AS DOUBLE)
                       / (sa.n + sb.n - COALESCE(i.n_inter, 0)) AS jaccard_exact
              FROM pairs p
              JOIN sizes sa ON sa.source = p.source_a
              JOIN sizes sb ON sb.source = p.source_b
              LEFT JOIN inter i ON i.source_a = p.source_a
                               AND i.source_b = p.source_b)
    SELECT {KMV_SK_SELECT},
           e.jaccard_exact,
           abs(CAST(s.sketch_overlap AS DOUBLE) / s.sketch_union_size
               - e.jaccard_exact) AS abs_err
    FROM sk s JOIN exact e ON e.source_a = s.source_a AND e.source_b = s.source_b
    ORDER BY s.source_a, s.source_b
    """,
)
def t_kmv_overlap(spark, sf_dir):
    """Pairwise cross-source Jaccard/union estimates from k=64 bottom-k
    (KMV) sketches, graded against the exact Jaccard — the pre-dedup
    overlap-planning query answered from k-sized per-source state
    (sketches.py module docstring). The bottom-k cut is rank-pushed below
    the exchange (InferWindowGroupLimit, plan-asserted)."""
    return sketches.kmv_source_overlap(spark, sf_dir)


# --- snapshot drift detection (r10) ------------------------------------------

from ..operators import drift as _drift  # noqa: E402


def _drift_sql(keys: tuple = (), is_a_sql: str = "doc_id % 2 = 0") -> str:
    """DuckDB twin of operators/drift's build+score path, parameterized
    on the grouping keys exactly as the Spark side threads them. Exact
    integer arithmetic runs in HUGEINT (int128 — the oracle counterpart
    of the Spark side's decimal(38,0); plain BIGINT numerators overflow
    past ~3e9 docs/side, ADVICE-r10), with `tvd_num` reported as one
    round-to-nearest cast to DOUBLE, bit-equal to Spark's decimal cast.
    The retrain_alert threshold is interpolated from the module constant
    so both engines run the same comparison on the same bit-equal tvd."""
    k = "".join(f"{c}, " for c in keys)  # "source, " or ""
    return f"""
    WITH per AS (
      SELECT {k}{is_a_sql} AS is_a,
             len({_TOKS}) AS n_tok,
             length(text) AS n_chr
      FROM documents),
    binned AS (
      SELECT {k}is_a, metric, bin FROM (
        SELECT {k}is_a, 'tokens' AS metric,
               GREATEST(LEAST(CAST(floor(n_tok / {_drift.DRIFT_TOKEN_WIDTH}) AS INTEGER),
                              {_drift.DRIFT_BINS - 1}), 0) AS bin
        FROM per
        UNION ALL
        SELECT {k}is_a, 'chars',
               GREATEST(LEAST(CAST(floor(n_chr / {_drift.DRIFT_CHAR_WIDTH}) AS INTEGER),
                              {_drift.DRIFT_BINS - 1}), 0)
        FROM per)),
    hist AS (
      SELECT {k}metric, bin,
             CAST(SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(SUM(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT) AS n_b
      FROM binned GROUP BY ALL),
    scored AS (
      SELECT *,
             CAST(SUM(n_a) OVER w AS BIGINT) AS tot_a,
             CAST(SUM(n_b) OVER w AS BIGINT) AS tot_b
      FROM hist WINDOW w AS (PARTITION BY {k}metric)),
    num AS (
      SELECT *,
             abs(CAST(n_a AS HUGEINT) * tot_b - CAST(n_b AS HUGEINT) * tot_a)
               AS tvd_num_x
      FROM scored),
    sel AS (
      SELECT {k}metric, bin, n_a, n_b,
             CASE WHEN tot_a > 0
                  THEN CAST(n_a AS DOUBLE) / CAST(tot_a AS DOUBLE) END AS p_a,
             CASE WHEN tot_b > 0
                  THEN CAST(n_b AS DOUBLE) / CAST(tot_b AS DOUBLE) END AS p_b,
             CAST(tvd_num_x AS DOUBLE) AS tvd_num,
             CASE WHEN tot_a > 0 AND tot_b > 0
                  THEN CAST(SUM(tvd_num_x) OVER (PARTITION BY {k}metric) AS DOUBLE)
                       / CAST(2 * CAST(tot_a AS HUGEINT) * tot_b AS DOUBLE) END AS tvd
      FROM num)
    SELECT *,
           CASE WHEN tvd IS NOT NULL
                THEN tvd > CAST({_drift.DRIFT_ALERT_TVD!r} AS DOUBLE)
                END AS retrain_alert
    FROM sel ORDER BY {k}metric, bin
    """


# shared verbatim with stream_drift_gate_ingest's oracle (the drained gate
# result equals the batch snapshot_drift over the same corpus)
_DRIFT_SQL = _drift_sql()


@register("text_snapshot_drift", _DRIFT_SQL)
def t_snapshot_drift(spark, sf_dir):
    """Distribution drift between two corpus snapshots (doc_id-parity
    halves standing in for two ingest partitions): fixed-bin mergeable
    histograms per metric (token count, char length) built in ONE scan /
    one partial-agg shuffle, with the drift statistic as EXACT-integer
    total variation distance (|cA*totB - cB*totA| summed in decimal(38,0)
    / HUGEINT — overflow-free past 1e18 docs/side — one final division)
    — the ln-free alternative to PSI, so no cross-engine libm hazard
    (operators/drift.py module docstring) — and the thresholded
    retrain_alert decision the gate acts on. The retrain-gate
    data-quality check every production training pipeline runs."""
    return _drift.snapshot_drift(spark, sf_dir)


@register(
    "text_snapshot_drift_by_source",
    # striping-independent snapshot flag (bit 16 of the Knuth
    # multiplicative hash): the synthetic corpora stripe source = doc_id
    # mod n_sources, so any pure-modulus flag is one-sided whenever its
    # modulus divides the stripe count — a mixed hash bit splits every
    # source (operators/drift.snapshot_drift_by_source; ADVICE-r11).
    # DuckDB // is floor-div = Spark's div for the non-negative ids here.
    # doc_id masked to 31 bits before the multiply: the raw product
    # overflows BIGINT past id ~3.4e9 (r12 beyond-10x probe finding).
    _drift_sql(
        keys=("source",),
        is_a_sql="(((doc_id % 2147483648) * 2654435761) // 65536) % 2 = 0",
    ),
)
def t_snapshot_drift_by_source(spark, sf_dir):
    """Per-source snapshot drift — WHICH upstream changed: the global TVD
    dilutes a single shifted crawler source under the stable majority,
    so production keys the same one-scan histogram build by `source`
    (state: sources x metrics x 16 integer counters, still a
    broadcast-sized probe; hot sources concentrate in their own key's
    rows, never a hot shuffle partition). Same decimal/HUGEINT
    exact-TVD arithmetic and retrain_alert threshold as the global
    check, value-hashed per (source, metric, bin)."""
    return _drift.snapshot_drift_by_source(spark, sf_dir)
