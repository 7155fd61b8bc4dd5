"""Deduplication operator family for training-data pipelines.

Four tiers, each with a different cost/recall point — all expressed as
compositions of built-in DataFrame ops (no Python UDFs anywhere):

- exact:      hash-groupBy on md5(text). One shuffle, linear. The 100 TB
              default first pass.
- MinHash+LSH: shingle → k minhash values → band buckets → candidate pairs
              via EQUI-join on (band, bucket). Linear in corpus + candidate
              pairs; never enumerates the quadratic pair space. The scale
              path for near-dup detection.
- SimHash:    60-bit signature from token hashes; banded (4×15-bit)
              equi-join candidates with a pigeonhole guarantee for
              Hamming ≤ 3 (the scale path), plus a sampled exhaustive
              pair search as the audit tier.
- n-gram Jaccard: exact shingle-overlap similarity via shared-shingle
              self-join — the quadratic verifier used on samples or as the
              LSH post-filter.

Hashes are md5 (identical across Spark/DuckDB, unlike engine-native hash()),
so every operator here is oracle-checkable bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..io import load_table
from .text import hash56, tokens_col

N_MINHASH = 8  # minhash functions; banded 2 per band → 4 LSH buckets

# Fixed affine-permutation constants for the minhash family
# g_j(h) = (A[j] * (h mod 2^30) + B[j]) mod P — independent orderings per j,
# overflow-safe in signed 64-bit in both engines (A < 2^31, h' < 2^30).
MINHASH_P = 2147483647  # 2^31 − 1 (Mersenne prime)
MINHASH_A = [1103515245, 1588635695, 1117695901, 213190001, 741103597, 887987685, 1431655765, 1540483477]
MINHASH_B = [12345, 98761, 55555, 777001, 31337, 271829, 918273, 424243]


def exact_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: md5(title) groups with more than one member, over the
    derived bronze headlines (which carry engineered duplicates — D1/D2).
    One hash-aggregate shuffle; at 100 TB identical shape."""
    from ..model import bronze_headlines

    d = bronze_headlines(spark, sf_dir)
    return (
        d.groupBy(F.md5("title").alias("text_hash"))
        .agg(F.count("*").alias("n_copies"), F.min("doc_id").alias("keeper_id"))
        .filter(F.col("n_copies") > 1)
    )


def _shingles(df: DataFrame, key: str) -> DataFrame:
    """(key, shingle): the distinct word 3-grams of each document in a
    documents frame, carrying the `key` column (doc_id, or source for the
    sketches)."""
    toks = df.select(key, tokens_col().alias("t"))
    sh = F.when(
        F.size("t") >= 3,
        F.expr(
            "transform(sequence(0, size(t) - 3), i -> concat_ws(' ', t[i], t[i+1], t[i+2]))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    return toks.select(key, F.explode(F.array_distinct(sh)).alias("shingle"))


def ngram_jaccard_pairs(
    spark: SparkSession, sf_dir: str, top_n: int = 20, sample_mod: int = 20
) -> DataFrame:
    """Top-N most-similar pairs by exact n-gram Jaccard over a deterministic
    sample (doc_id % sample_mod == 0). Shared-shingle self-join →
    intersection counts → |∩| / (|A| + |B| − |∩|). Quadratic in the
    candidate space, so at 100 TB this runs on samples / inside LSH
    buckets, never globally. (Top-N rather than a fixed threshold so the
    operator is informative on corpora with no true near-dups.)"""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % sample_mod == 0)
    sh = _shingles(d, "doc_id")
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = F.col("n_inter") / (F.col("sa.n") + F.col("sb.n") - F.col("n_inter"))
    return (
        inter.join(sa, F.col("id_a") == F.col("sa.doc_id"))
        .join(sb, F.col("id_b") == F.col("sb.doc_id"))
        .select("id_a", "id_b", jac.alias("jaccard"))
        .orderBy(F.desc("jaccard"), F.asc("id_a"), F.asc("id_b"))
        .limit(top_n)
    )


def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k=8 minhash values per doc: ONE md5 per shingle reduced to a 30-bit
    int, then 8 independent affine permutations g_j = (A_j·h + B_j) mod P —
    one string hash total, integer min-aggregation/shuffles, and (unlike
    naive h1 + j·h2 double hashing) per-j orderings that are actually
    independent, so band buckets don't correlate. Docs with <3 tokens have
    no shingles and drop out (nothing to near-dup on)."""
    return _signatures(load_table(spark, sf_dir, "documents"))


def _signatures(docs: DataFrame) -> DataFrame:
    """minhash_signatures over a documents frame."""
    sh = _shingles(docs, "doc_id")
    h = hash56("shingle") % F.lit(1073741824)
    aggs = [
        F.min((F.lit(MINHASH_A[j]) * h + F.lit(MINHASH_B[j])) % F.lit(MINHASH_P)).alias(
            f"h{j}"
        )
        for j in range(N_MINHASH)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def _minhash_bands(docs: DataFrame) -> DataFrame:
    """(doc_id, band, bx, by) — LSH banding of the minhash signatures
    (4 bands × 2 rows). Not persisted: a self-join of this table reads
    one signature aggregation through a ReusedExchange, and filtered
    views of it (incremental_minhash_candidates) push their doc_id filter
    below the aggregation, so each side aggregates only its own docs."""
    sig = _signatures(docs)
    # one posexplode pass, NOT a 4-way union of selects (a union would make
    # Catalyst recompute the signature aggregation once per band)
    band_structs = F.array(
        *[
            F.struct(
                F.col(f"h{2*b}").alias("bx"), F.col(f"h{2*b+1}").alias("by")
            )
            for b in range(N_MINHASH // 2)
        ]
    )
    bands = sig.select(
        "doc_id", F.posexplode(band_structs).alias("band", "bs")
    ).select("doc_id", "band", F.col("bs.bx").alias("bx"), F.col("bs.by").alias("by"))
    return bands


def minhash_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding (4 bands × 2 rows): docs sharing any band bucket are
    candidate near-dup pairs. The pair search is an equi-join on
    (band, bucket) — shuffle-partitioned by bucket, never quadratic."""
    return lsh_candidate_pairs(load_table(spark, sf_dir, "documents"))


def lsh_candidate_pairs(docs: DataFrame) -> DataFrame:
    """minhash_lsh_candidates over a documents frame."""
    bands = _minhash_bands(docs)
    x = bands.alias("x")
    y = bands.alias("y")
    return (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bx") == F.col("y.bx"))
            & (F.col("x.by") == F.col("y.by"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id").alias("id_a"), F.col("y.doc_id").alias("id_b"))
        .distinct()
    )


def incremental_minhash_candidates(
    spark: SparkSession, sf_dir: str, batch_mod: int = 10, batch_rem: int = 7
) -> DataFrame:
    """Incremental dedup — the production crawl-ingest pattern: instead of
    re-deduping the whole corpus, a new batch (here the deterministic
    doc_id % batch_mod == batch_rem slice standing in for today's arrivals)
    is checked ONLY against the existing corpus index. Both sides band
    identically, so the candidate search is the same (band, bucket)
    equi-join as minhash_lsh_candidates but new×corpus instead of
    corpus×corpus: work scales with |batch| + matched buckets, not corpus².
    At 100 TB the corpus bands live as a bucketed table keyed by
    (band, bx, by) and each day's batch joins against it shuffle-free on
    the corpus side."""
    bands = _minhash_bands(load_table(spark, sf_dir, "documents"))
    is_batch = (F.col("doc_id") % batch_mod) == batch_rem
    new = bands.filter(is_batch).alias("n")
    corpus = bands.filter(~is_batch).alias("c")
    return (
        new.join(
            corpus,
            (F.col("n.band") == F.col("c.band"))
            & (F.col("n.bx") == F.col("c.bx"))
            & (F.col("n.by") == F.col("c.by")),
        )
        .select(F.col("n.doc_id").alias("new_id"), F.col("c.doc_id").alias("dup_of"))
        .distinct()
    )


def decontamination_report(
    spark: SparkSession, sf_dir: str, eval_mod: int = 50, max_df: int = 20
) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing word n-grams
    with a held-out eval set (deterministic doc_id % eval_mod == 0 slice
    standing in for a benchmark suite). Per training doc: how many distinct
    grams leak and how many eval docs they touch.

    Scale shape: everything is an equi-join/agg on the gram key. Grams
    seen in more than `max_df` documents are dropped first — common
    phrases carry no contamination signal, and at corpus scale a hot gram
    would otherwise fan the join out quadratically (this is the skew guard,
    same role as stop-words in an inverted index). The eval side is tiny
    relative to the corpus, so Catalyst broadcasts it once the rare-gram
    filter has run. The gram frame is a lazy localCheckpoint: the rare-gram
    count and the gram join both read it, and as a plan leaf it gives the
    runtime Bloom filter (text_decontamination_bloom) a filter over a scan
    on the eval side to build from."""
    docs = load_table(spark, sf_dir, "documents")
    grams = _shingles(docs, "doc_id").localCheckpoint(eager=False)
    rare = (
        grams.groupBy("shingle")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") <= max_df)
        .select("shingle")
    )
    g = grams.join(rare, "shingle")
    is_eval = (F.col("doc_id") % eval_mod) == 0
    ev = g.filter(is_eval).select(F.col("shingle"), F.col("doc_id").alias("eval_id"))
    tr = g.filter(~is_eval)
    return (
        tr.join(ev, "shingle")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("shingle").alias("n_shared_grams"),
            F.countDistinct("eval_id").alias("n_eval_docs"),
        )
    )


SIMHASH_BITS = 60  # 15 hex chars of md5 → fits signed 64-bit in both engines
_PACK_LANE_BITS = 20  # 3 bit-counters per packed long; lane caps at 2^20-1
_PACK_LANES = 3


def simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash over tokens: per-bit majority vote of token hashes.
    token_hash = first 15 hex chars of md5(token) parsed as int; bit b of
    the signature is 1 iff more than half the tokens have bit b set.
    Entirely built-in expressions (explode → packed counts → bit OR).

    Shuffle-width optimization: instead of 60 independent SUM aggregates
    (60 longs = ~480 bytes per partial-agg row in the shuffle), each
    token's 60 bits are packed 3-per-long into 20-bit lanes and summed as
    20 longs — 3× fewer shuffle bytes, same counts. Lanes can't overflow
    below 2^20 (~1M) tokens per document, far above any real document;
    the map-side partial sum is per (doc_id, partition) so the bound is
    the document's own token count."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens_col()).alias("tok"))
    h = F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("long")
    packs = []
    for p in range(SIMHASH_BITS // _PACK_LANES):
        lanes = None
        for j in range(_PACK_LANES):
            b = p * _PACK_LANES + j
            lane = F.shiftright(h, b).bitwiseAND(F.lit(1)) * F.lit(
                1 << (_PACK_LANE_BITS * j)
            ).cast("long")
            lanes = lane if lanes is None else lanes + lane
        packs.append(F.sum(lanes).alias(f"p{p}"))
    per_bit = tok.groupBy("doc_id").agg(F.count("*").alias("n_tok"), *packs)
    lane_mask = F.lit((1 << _PACK_LANE_BITS) - 1)
    sig = None
    for b in range(SIMHASH_BITS):
        cnt = F.shiftright(
            F.col(f"p{b // _PACK_LANES}"), _PACK_LANE_BITS * (b % _PACK_LANES)
        ).bitwiseAND(lane_mask)
        term = F.when(cnt * 2 > F.col("n_tok"), F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        ) * F.lit(2**b).cast("long")
        sig = term if sig is None else (sig + term)
    return per_bit.select("doc_id", sig.alias("simhash"))


def simhash_near_pairs(
    spark: SparkSession, sf_dir: str, max_hamming: int = 8, sample_mod: int = 20
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance on a deterministic sample
    (pairwise XOR+popcount; at scale this runs banded like MinHash)."""
    sig = simhash_signatures(spark, sf_dir).filter(F.col("doc_id") % sample_mod == 0)
    a = sig.alias("a")
    b = sig.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def embedding_near_dup_pairs(
    spark: SparkSession, sf_dir: str, top_n: int = 20, sample_mod: int = 10
) -> DataFrame:
    """Top-N closest embedding pairs by exact cosine on a deterministic
    sample (the audit/verifier tier; the scale tier is the LSH bucket join
    in operators/similarity.py)."""
    from .similarity import cosine_expr, with_norm

    e = with_norm(
        load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") % sample_mod == 0)
    )
    a = e.alias("a")
    b = e.alias("b")
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            cosine_expr("a", "b").alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc("id_a"), F.asc("id_b"))
        .limit(top_n)
    )


SEMANTIC_THRESHOLD = 0.30  # within-cluster cosine above this ⇒ semantic dup


def semantic_dedup_decisions(
    spark: SparkSession, sf_dir: str, threshold: float = SEMANTIC_THRESHOLD
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023, public):
    bucket embeddings by nearest coarse centroid, then prune within each
    cluster any vector that has a LOWER-id near-duplicate (cosine >=
    threshold) in the same cluster — min-id-wins, the same deterministic
    representative rule as D1/D2 headline dedup, so the decision set needs
    no iteration and is exactly SQL-replayable.

    Scale shape: the only quadratic term is WITHIN a cluster (~N/K rows per
    list); K grows with the corpus at constant list size (same argument as
    the IVF inverted lists, which share this centroid assignment), so the
    per-cluster pair join is bounded and the whole plan is one zero-shuffle
    centroid assignment + one equi-join on centroid_id. Cross-cluster near
    dups are missed by construction — the documented recall trade of
    cluster-bucketed dedup; raise K's probe count or fall back to the LSH
    tier when that matters.

    Returns one decision row per vector: (vec_id, centroid_id, is_kept).
    """
    from .similarity import _ivf_assign, _slice_centroids, cosine_expr, with_norm

    corpus = with_norm(load_table(spark, sf_dir, "embeddings")).select("vec_id", "emb", "norm")
    # the same K-row centroid table IVF uses, collected once by _ivf_assign
    assigned = _ivf_assign(corpus, _slice_centroids(corpus), 1)
    a = assigned.alias("a")
    b = assigned.alias("b")
    pruned = (
        a.join(
            b,
            (F.col("a.centroid_id") == F.col("b.centroid_id"))
            & (F.col("b.vec_id") < F.col("a.vec_id")),
        )
        .filter(cosine_expr("a", "b") >= threshold)
        .select(F.col("a.vec_id").alias("vec_id"))
        .distinct()
    )
    return assigned.join(pruned.withColumn("__p", F.lit(1)), on="vec_id", how="left").select(
        "vec_id",
        F.col("centroid_id").cast("long").alias("centroid_id"),
        F.col("__p").isNull().alias("is_kept"),
    )


def simhash_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash at scale: split the 60-bit signature into 4 contiguous
    15-bit bands and equi-join on (band, band_value). Any pair within
    Hamming distance 3 differs in at most 3 bands, so by pigeonhole it
    shares at least one intact band → guaranteed candidate. Same
    linear-cost shape as MinHash banding; the quadratic Hamming check then
    runs only inside candidate groups."""
    sig = simhash_signatures(spark, sf_dir)
    n_bands, band_bits = 4, 15
    mask = (1 << band_bits) - 1
    band_structs = F.array(
        *[
            F.shiftright(F.col("simhash"), b * band_bits).bitwiseAND(F.lit(mask))
            for b in range(n_bands)
        ]
    )
    bands = sig.select(
        "doc_id", "simhash", F.posexplode(band_structs).alias("band", "bv")
    )
    # same self-join as minhash_lsh_candidates: both sides shuffle on
    # (band, bv), so the second reads the first's exchange (ReusedExchange)
    # instead of recomputing the packed bit-count aggregation
    x = bands.alias("x")
    y = bands.alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bv") == F.col("y.bv"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("id_a"),
            F.col("y.doc_id").alias("id_b"),
            F.bit_count(F.col("x.simhash").bitwiseXOR(F.col("y.simhash")))
            .cast("int")
            .alias("hamming"),
        )
        .distinct()
    )
    return cand.filter(F.col("hamming") <= 3)


def cluster_assignments(spark: SparkSession, sf_dir: str, max_iter: int = 20) -> DataFrame:
    """Connected components over the MinHash-LSH candidate graph — the step
    that turns near-dup PAIRS into dedup DECISIONS (every doc in a
    component keeps/points-to the component's min doc_id).

    Iterative HashMin label propagation: each round, every node takes the
    min label among itself and its neighbors; converges in O(component
    diameter) rounds (near-dup components are dense, so diameter is tiny —
    2-3 rounds in practice). Each round is one shuffle-join + one
    aggregate, all JVM-side. At extreme graph sizes the same loop upgrades
    to alternating large/small-star (O(log n) rounds) — the per-round
    dataflow is identical.

    Non-iterable SQL cannot express this; the DuckDB oracle uses a
    recursive CTE (min reachable id ≡ HashMin fixpoint).

    The labels are seeded with min(self, min neighbor) — the first round,
    computed in the aggregation that enumerates the nodes. Before each
    further round a probe asks whether the labels are already the fixpoint
    (see _hashmin_fixpoint); only then does the round run. What runs at
    build time, under AQE:

    - the candidate graph is a lazy localCheckpoint, read by every probe
      and round. Taking it runs the plan's shuffle-map and broadcast
      stages (signature aggregate, band join) as jobs, two at test scale;
      its last stage runs inside the first probe's job;
    - each probe is one limit-1 action. The checkpoint carries no size
      estimate, so it plans two sort-merge joins; AQE runs their
      shuffle-map stages and the label aggregate's as jobs before the
      result (five jobs at test scale);
    - a round that runs checkpoints the labels it reads (lazily, so again
      only the shuffle-map stages run when it is taken), which keeps the
      plan one join deep per round instead of doubling it.

    On corpora whose components are cliques (near-dup groups) the seed is
    already the fixpoint: one checkpoint and one probe, no round. The
    returned frame recomputes the last labels from the checkpoints inside
    the caller's query. On a cluster, swap for
    `spark.sparkContext.setCheckpointDir` + `checkpoint()` (reliable,
    executor-loss-safe); the loop is unchanged."""
    return hashmin_components(minhash_lsh_candidates(spark, sf_dir), max_iter)


def hashmin_components(pairs: DataFrame, max_iter: int = 20) -> DataFrame:
    """The HashMin loop of cluster_assignments over any undirected pair
    list (columns id_a, id_b) → (doc_id, cluster_id = component min)."""
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .localCheckpoint(eager=False)
    )
    labels = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("mn"))
        .select(F.col("src").alias("node"), F.least("src", "mn").alias("label"))
    )
    for _ in range(max_iter):
        if _hashmin_fixpoint(edges, labels):
            break
        # (r12 measured, left alone: a pointer-jumping label-of-label
        # shortcut halves the round count but adds a label self-join
        # shuffle per round — net +0.6s at sf0.1 because rounds here are
        # stage-floor-bound, not data-bound. Revisit only if a real corpus
        # shows deep-diameter components.)
        labels = labels.localCheckpoint(eager=False)
        prop = edges.join(labels, edges["dst"] == labels["node"]).select(
            edges["src"].alias("node"), "label"
        )
        labels = labels.unionByName(prop).groupBy("node").agg(F.min("label").alias("label"))
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_id"))


def _hashmin_fixpoint(edges: DataFrame, labels: DataFrame) -> bool:
    """True when no HashMin round would change `labels`: every edge joins
    two equally labeled nodes. (A node's next label is the min over its
    own and its neighbors' labels, so it changes iff some neighbor holds a
    smaller one; edges hold both directions, so that is exactly an edge
    whose two labels differ.) One limit-1 action: it stops at the first
    such edge, and on a converged graph its partition scan scales up over
    a few jobs (two at test scale)."""
    x, y = labels.alias("x"), labels.alias("y")
    return not (
        edges.join(x, F.col("src") == F.col("x.node"))
        .join(y, F.col("dst") == F.col("y.node"))
        .where(F.col("x.label") != F.col("y.label"))
        .take(1)
    )


def exact_substring_pairs(
    spark: SparkSession,
    sf_dir: str,
    window: int = 40,
    stride: int = 10,
    max_postings: int | None = None,
) -> DataFrame:
    """Exact-substring dedup (the char-level companion to the token-shingle
    MinHash tier, after Lee et al., "Deduplicating Training Data Makes
    Language Models Better", ACL'22): docs sharing any exact `window`-char
    span are near-certain copies of a common source. Spans are hashed with
    a `stride`-char step — a strided sliding window bounds the blowup to
    len/stride hashes per doc (the suffix-array construction the paper uses
    is a single-machine algorithm; strided window hashing is the shape that
    distributes: one map pass, one shuffle on the hash).

    Output: (id_a, id_b, n_shared_windows) where n counts DISTINCT shared
    window hashes — duplicate spans inside one doc don't inflate the
    count. One groupBy on the window hash would find the clusters; the
    pair join keeps parity with the other dedup tiers' pair contract.

    `max_postings` is the scale guard (same role as decontamination's
    hot-gram df cap): a span hash held by k documents emits k·(k−1)/2
    pairs, so one piece of boilerplate shared by a million documents is a
    5·10¹¹-row join output — quadratic blowup no partitioner fixes. With
    the cap set, hashes whose posting list exceeds it are dropped BEFORE
    the self-join via one partial-aggregable count (such spans are
    near-certain boilerplate, not document-pair evidence — Lee et al.
    discard them the same way), bounding every hash's contribution to
    cap²/2 pairs. The registered query runs uncapped (the synthetic corpus
    has no such hot span and the oracle is the naive formulation); the
    100 TB configuration sets a cap — guard engagement is measured on an
    adversarial corpus in MEASURED.md."""
    d = load_table(spark, sf_dir, "documents").filter(F.length("text") >= window)
    n_wins = f"int(floor((length(text) - {window}) / {stride}))"
    wins = (
        d.select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(0, {n_wins}),"
                    f" i -> md5(substring(text, i * {stride} + 1, {window})))"
                )
            ).alias("h"),
        )
        .distinct()
    )
    if max_postings is not None:
        ok = (
            wins.groupBy("h")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") <= max_postings)
            .select("h")
        )
        wins = wins.join(ok, "h")
    a = wins.alias("a")
    b = wins.alias("b")
    return (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
        )
        .agg(F.count("*").alias("n_shared_windows"))
    )


def cluster_assignments_star(
    spark: SparkSession, sf_dir: str, max_iter: int = 20
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — the O(log n)-round upgrade `cluster_assignments` documents
    for extreme graphs: HashMin converges in O(diameter) rounds, which is
    fine for dense near-dup clusters but degrades on long chains; the star
    operations contract any component to a star in logarithmically many
    rounds regardless of shape.

    Per round, each operation is a groupBy-min plus a co-partitioned join
    back on the same key (no collect_list of neighbor sets, so hub nodes
    never materialize a giant array — the known pitfall of the naive
    reduce-side formulation). Both rounds and the edge set are
    localCheckpoint-ed to truncate lineage, same policy as HashMin.
    Output is identical to `cluster_assignments` (every node labeled with
    its component's min doc_id) — the same recursive-CTE oracle verifies
    both, and a property test asserts Spark-side equality."""
    pairs = minhash_lsh_candidates(spark, sf_dir)
    # no checkpoint here: star_components filters+distincts+checkpoints its
    # input itself, so an eager materialization of the candidate pairs at
    # this level was a full redundant pass over the LSH join (r12)
    edges = pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    labels = star_components(edges, max_iter)
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_id"))


def star_components(edges: DataFrame, max_iter: int = 20) -> DataFrame:
    """Core large-star/small-star loop over an undirected edge list
    (columns a, b) → (node, label = component min). Factored out of
    `cluster_assignments_star` so synthetic graphs (chains, stars, forests)
    can exercise it directly in tests.

    Every checkpoint here is lazy (`eager=False`), but under AQE taking a
    lazy checkpoint runs the plan's shuffle-map stages as jobs at once;
    only the last stage waits for the first action that reads it. So the
    edge set and the node spine each run their distinct's map stage when
    taken, and a round runs the large-star/small-star map stages when its
    contraction is checkpointed (seven jobs on a 13-node chain) and then
    its convergence probe, one count over a union of two limit-1
    excepts (five jobs)."""
    edges = edges.filter(F.col("a") != F.col("b")).distinct().localCheckpoint(eager=False)
    nodes = (
        edges.select(F.col("a").alias("node"))
        .unionByName(edges.select(F.col("b").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )

    def large_star(e: DataFrame) -> DataFrame:
        # symmetric orientation; every node links its strictly-larger
        # neighbors to min(neighborhood ∪ self)
        sym = e.select(F.col("a").alias("u"), F.col("b").alias("v")).unionByName(
            e.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )
        mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
        mins = mins.select("u", F.least("mn", F.col("u")).alias("m"))
        return (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )

    def small_star(e: DataFrame) -> DataFrame:
        # orient high -> low; every node links its smaller neighbors (and
        # itself) to the minimum of those neighbors
        hi = F.greatest("a", "b").alias("u")
        lo = F.least("a", "b").alias("v")
        oriented = e.select(hi, lo)
        mins = oriented.groupBy("u").agg(F.min("v").alias("m"))
        relink = (
            oriented.join(mins, "u")
            .filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
        )
        self_link = mins.select(F.col("u").alias("a"), F.col("m").alias("b"))
        return relink.unionByName(self_link).filter(F.col("a") != F.col("b")).distinct()

    for _ in range(max_iter):
        contracted = small_star(large_star(edges)).localCheckpoint(eager=False)
        # converged when the edge set is stable (symmetric difference
        # empty). Both directions of the probe run as ONE action — a union
        # of the two limit-1 excepts — which also computes the last stage
        # of this round's lazy checkpoint.
        delta = (
            contracted.exceptAll(edges)
            .limit(1)
            .unionAll(edges.exceptAll(contracted).limit(1))
            .count()
        )
        edges = contracted
        if delta == 0:
            break

    # at the fixpoint every edge is (member, root); roots label themselves
    member_labels = edges.select(F.col("a").alias("node"), F.col("b").alias("label"))
    root_labels = nodes.join(
        edges.select(F.col("a").alias("node")).distinct(), "node", "left_anti"
    ).select("node", F.col("node").alias("label"))
    return member_labels.unionByName(root_labels)


# --- quality-priority dedup decisions ----------------------------------------


def fingerprint_quality_decisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep the BEST document per content-fingerprint cluster, not the
    min-id one: production dedup keeps the highest-quality copy (cleanest
    extraction, least boilerplate) when near-identical docs differ only in
    scrape artifacts. Ranking = composite quality score (text.quality
    formula — bit-identical across engines) desc, doc_id asc tie-break.

    One scan computes fingerprint + quality features together; the only
    shuffle is the window over fingerprint (same key the dedup itself
    needs). Singleton clusters keep their doc — every doc gets a decision
    row, so the output is a full keep/drop verdict table (the input to the
    curation anti-join), not just a cluster report."""
    from pyspark.sql import Window

    from .text import LANG_STOPWORDS, _stop_hits, tokens_col

    d = load_table(spark, sf_dir, "documents")
    t = tokens_col()
    feats = d.select(
        "doc_id",
        F.md5(F.array_join(F.sort_array(F.array_distinct(t)), " ")).alias("fingerprint"),
        F.size(t).cast("long").alias("word_count"),
        F.length("text").cast("long").alias("char_count"),
        _stop_hits(t, LANG_STOPWORDS["en"]).cast("long").alias("stop_hits"),
    )
    wc = F.col("word_count")
    scored = feats.select(
        "doc_id",
        "fingerprint",
        (
            F.least(wc / F.lit(100.0), F.lit(1.0)) * F.lit(0.4)
            + (F.col("stop_hits") / wc) * F.lit(0.4)
            + F.least((F.col("char_count") / wc) / F.lit(8.0), F.lit(1.0)) * F.lit(0.2)
        ).alias("quality_score"),
    )
    w = Window.partitionBy("fingerprint").orderBy(
        F.desc("quality_score"), F.asc("doc_id")
    )
    return scored.select(
        "doc_id",
        "fingerprint",
        "quality_score",
        (F.row_number().over(w) == 1).alias("is_kept"),
    )


# --- candidate-graph triangle counting ---------------------------------------


def candidate_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts over the MinHash-LSH candidate graph —
    the graph-shape audit for dedup clusters: triangles separate genuine
    near-dup CLIQUES (transitive content overlap) from chain artifacts of
    banding collisions, and triangle density is the standard input to
    cluster-quality gates before committing transitive merges.

    Algorithm: edges are oriented low→high id (already true of the
    candidate pairs), so each triangle a<b<c is enumerated exactly once by
    joining e1=(a,b) ⋈ e2=(b,c) on the shared middle vertex, then
    verifying the closing edge (a,c) with a second equi-join. Two shuffle
    joins on node ids — the node-iterator shape; at web scale the classic
    refinement is degree-ordering the orientation (count from the
    low-degree endpoint) which bounds the e1⋈e2 fan-out, a drop-in change
    to the orientation step. The candidate set is localCheckpointed so the
    minhash pipeline runs once, not three times."""
    edges = minhash_lsh_candidates(spark, sf_dir).localCheckpoint()
    e1 = edges.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    e2 = edges.select(F.col("id_a").alias("b"), F.col("id_b").alias("c"))
    e3 = edges.select(F.col("id_a").alias("a"), F.col("id_b").alias("c"))
    tri = e1.join(e2, on="b").join(e3, on=["a", "c"])
    nodes = (
        tri.select(F.col("a").alias("doc_id"))
        .unionAll(tri.select(F.col("b").alias("doc_id")))
        .unionAll(tri.select(F.col("c").alias("doc_id")))
    )
    return nodes.groupBy("doc_id").agg(F.count("*").cast("long").alias("n_triangles"))


# --- prefix-filtering set-similarity join (AllPairs/PPJoin family) -----------

JACCARD_T = 0.95  # exact similarity threshold (numerator/denominator = 19/20;
# the synthetic corpus is template-generated and highly self-similar — lower
# thresholds approach all-pairs on THIS data, defeating the prefix pruning)
JACCARD_NUM, JACCARD_DEN = 19, 20


def prefix_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-threshold set-similarity self-join via prefix filtering
    (AllPairs / PPJoin, Bayardo et al. WWW'07, Xiao et al. WWW'08) — the
    deterministic complement to MinHash: no probabilistic recall loss,
    every pair with token-set Jaccard ≥ t is found, guaranteed.

    Candidate generation: order each doc's distinct tokens by global
    document frequency ASC (rare first, ties by token); two docs can
    reach Jaccard ≥ t only if they share a token within each other's
    PREFIX (first |set| − ⌈t·|set|⌉ + 1 rarest tokens) — so the join is
    an equi-join on prefix tokens, and because prefixes are built from
    the RAREST tokens, posting lists stay short (the skew-resistant
    property that makes prefix filtering scale where joining on all
    tokens explodes). Verification computes exact intersection sizes and
    keeps inter/union ≥ t by CROSS-MULTIPLIED INTEGER comparison
    (DEN·inter ≥ NUM·union) — no float thresholding anywhere; the
    reported jaccard is one final exact division."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(F.array_distinct(tokens_col())).alias("tok")
    )
    df_counts = tok.groupBy("tok").agg(F.count("*").alias("df"))
    ranked = tok.join(df_counts, on="tok").select(
        "doc_id",
        "tok",
        F.row_number()
        .over(Window.partitionBy("doc_id").orderBy(F.asc("df"), F.asc("tok")))
        .alias("r"),
    )
    sizes = ranked.groupBy("doc_id").agg(F.max("r").alias("n"))
    # prefix length = n - ceil(t*n) + 1, integer arithmetic:
    # ceil(NUM*n/DEN) = -floordiv(-NUM*n, DEN)
    pref_len = (
        F.col("n")
        - (-F.floor((F.lit(-JACCARD_NUM) * F.col("n")) / F.lit(JACCARD_DEN))).cast(
            "long"
        )
        + 1
    )
    prefixes = ranked.join(sizes, on="doc_id").filter(F.col("r") <= pref_len).select(
        "doc_id", "tok"
    )
    cand = (
        prefixes.alias("a")
        .join(
            prefixes.alias("b"),
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )
    ta = tok.select(F.col("doc_id").alias("id_a"), "tok")
    tb = tok.select(F.col("doc_id").alias("id_b"), "tok")
    inter_counts = (
        cand.join(ta, on="id_a")
        .join(tb, on=["id_b", "tok"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    na = sizes.select(F.col("doc_id").alias("id_a"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n").alias("n_b"))
    verified = (
        inter_counts.join(na, on="id_a")
        .join(nb, on="id_b")
        .withColumn("union_n", F.col("n_a") + F.col("n_b") - F.col("inter"))
        .filter(
            F.lit(JACCARD_DEN) * F.col("inter") >= F.lit(JACCARD_NUM) * F.col("union_n")
        )
    )
    return verified.select(
        "id_a",
        "id_b",
        "inter",
        "union_n",
        (F.col("inter") / F.col("union_n")).alias("jaccard"),
    )


# --- paragraph-level dedup (Dolma/CCNet-style segment dedup) ------------------

PARA_WORDS = 20  # fixed-width word segments stand in for paragraph boundaries


def paragraph_segments(spark: SparkSession, sf_dir: str, width: int = PARA_WORDS) -> DataFrame:
    """(doc_id, para_idx, para, para_hash): documents split into consecutive
    `width`-word segments. The synthetic corpus has no newline/paragraph
    markers, so segmentation is the deterministic fixed-width rule BOTH
    engines replay exactly; with real documents the split expression becomes
    split(text, '\\n\\n') and everything downstream is unchanged. Pure
    per-row expression work — zero shuffles."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    paras = F.expr(
        f"transform(sequence(0, cast(ceil(size(split(text, ' ')) / {width}.0) as int) - 1), "
        f"i -> array_join(slice(split(text, ' '), i * {width} + 1, {width}), ' '))"
    )
    return (
        d.select("doc_id", F.posexplode(paras).alias("para_idx", "para"))
        .withColumn("para_hash", F.md5("para"))
    )


# Hard bound on per-document aggregation state: the reassembly fingerprint
# collects 32-byte segment hashes per doc, so the worst-case group state is
# MAX_SEGMENTS_PER_DOC * 32 B ≈ 8 MB — a pathological 100 MB document fails
# LOUDLY in-plan instead of silently blowing an executor's aggregation
# buffer at 100 TB. (At width=20 the cap corresponds to a ~5M-word doc.)
MAX_SEGMENTS_PER_DOC = 250_000


def first_wins_per_hash(segs: DataFrame) -> DataFrame:
    """Global first-occurrence winner per para_hash as a hash AGGREGATE:
    min(struct(doc_id, para_idx)) — lexicographic struct order IS
    first-occurrence order. Why an aggregate and not a row_number window:
    the aggregate's partial (map-side) combine is STRUCTURAL — every map
    task pre-combines its occurrences of a hash to one row before the
    shuffle, so a hot boilerplate paragraph repeated in millions of
    documents contributes ≤ n_map_partitions shuffle rows no matter how the
    query evolves. Spark 4's InferWindowGroupLimit happens to rescue the
    specific `row_number()==1` filter pattern with an equivalent partial
    group-limit, but that rescue is pattern-fragile: drift to rank<=k, a
    reused rank column, or a different rank function silently reverts to
    shipping EVERY occurrence into one window reducer (window partitions
    get no combine and no AQE skew-split). Plan note: min over a struct
    exceeds the hash-agg's fixed-size buffer so Spark picks SortAggregate —
    the partial combine still engages (partial_min before the exchange,
    property-tested), and the map-side sort keys only para_hash vs the
    window's (hash, doc, idx). Shuffle bound is property-tested on an
    adversarial hot-paragraph corpus; measured in MEASURED.md."""
    return (
        segs.groupBy("para_hash")
        .agg(F.min(F.struct("doc_id", "para_idx")).alias("w"))
        .select(
            F.col("w.doc_id").alias("doc_id"),
            F.col("w.para_idx").alias("para_idx"),
            "para_hash",
        )
    )


def paragraph_dedup(spark: SparkSession, sf_dir: str, width: int = PARA_WORDS) -> DataFrame:
    """Dolma-style paragraph-level dedup: every segment whose exact text was
    already seen in an earlier document (or earlier position of the same
    document) is dropped; documents are then REASSEMBLED from their surviving
    segments — the reference semantics of corpus-wide line/paragraph dedup,
    where boilerplate repeats get removed from every document but the first.

    First-wins is global and deterministic: the winner per para_hash is
    min(struct(doc_id, para_idx)) via `first_wins_per_hash` — a hash
    AGGREGATE (r5, replacing a row_number window over
    partitionBy(para_hash)): the structural map-side combine bounds a hot
    boilerplate paragraph to ≤ n_map_partitions shuffle rows (see
    first_wins_per_hash for why this beats relying on Spark's
    pattern-fragile WindowGroupLimit rescue). One combine-shuffle on the
    hash, one on doc_id for reassembly — both equi-key, linear at 100 TB.

    Bounded memory (r4 hardening): the reassembly aggregate collects the
    kept segments' 32-byte md5s, never their text, so per-group state is
    32 B × n_kept regardless of document width; the emitted fingerprint is
    md5(concat of segment md5s in para_idx order) — order-sensitive, exactly
    replayable in DuckDB, and equal across engines iff the surviving
    segment SEQUENCE is equal. n_paras is guarded by MAX_SEGMENTS_PER_DOC
    via raise_error, so an over-cap document aborts the job with a named
    doc_id instead of OOMing an executor. Full-text rebuild (for the write
    path) stays available from `paragraph_segments` + the same rank filter
    with a partitionBy(doc_id).sortWithinPartitions write — no per-doc
    collect needed there either.

    Output per document: segment counts, the kept-sequence fingerprint, and
    the retained-fraction — hash-verified against the DuckDB replay."""
    segs = paragraph_segments(spark, sf_dir, width)
    kept = first_wins_per_hash(segs)
    rebuilt = kept.groupBy("doc_id").agg(
        F.count("*").alias("n_kept"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("para_idx", "para_hash"))),
                    lambda s: s["para_hash"],
                ),
                "",
            )
        ).alias("dedup_fingerprint"),
    )
    totals = segs.groupBy("doc_id").agg(F.count("*").alias("n_paras"))
    n_paras_guarded = F.when(
        F.col("n_paras") <= MAX_SEGMENTS_PER_DOC, F.col("n_paras")
    ).otherwise(
        F.raise_error(
            F.format_string(
                f"paragraph_dedup: doc %s has %s segments (> cap {MAX_SEGMENTS_PER_DOC}); "
                "raise MAX_SEGMENTS_PER_DOC or pre-split the document",
                F.col("doc_id").cast("string"),
                F.col("n_paras").cast("string"),
            )
        )
    )
    return (
        totals.join(rebuilt, on="doc_id", how="left")
        .select(
            "doc_id",
            n_paras_guarded.alias("n_paras"),
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
            (F.coalesce(F.col("n_kept"), F.lit(0)) / F.col("n_paras")).alias("kept_frac"),
            F.coalesce(F.col("dedup_fingerprint"), F.md5(F.lit(""))).alias(
                "dedup_fingerprint"
            ),
        )
    )


# --- fuzzy decontamination (continuation r9) ---------------------------------

FUZZY_DECON_EVAL_MOD = 50  # the exact report's held-out benchmark slice
FUZZY_DECON_JACCARD_MIN = 0.2  # flag dial: fuzzy-leak threshold


def fuzzy_decontamination(
    spark: SparkSession,
    sf_dir: str,
    eval_mod: int = FUZZY_DECON_EVAL_MOD,
    jaccard_min: float = FUZZY_DECON_JACCARD_MIN,
) -> DataFrame:
    """NEAR-duplicate benchmark decontamination — the fuzzy tier the exact
    n-gram report (decontamination_report) and its Bloom variant cannot
    cover: an eval item paraphrased or lightly edited into the training
    set shares few exact grams but a high shingle-Jaccard. Candidates come
    from minhash banding at r=1 (each of the 8 signature values is its own
    band — P(candidate) = 1-(1-J)^8, the HIGH-RECALL corner of the banding
    dial, which is the right corner for contamination: verifying a false
    candidate costs one bounded join row, missing a true leak poisons an
    eval), then ONLY candidate pairs are verified with the exact
    shingle-overlap Jaccard (work ∝ candidates, never |train|×|eval|).

    The eval side is the established deterministic benchmark slice
    (doc_id % eval_mod == 0, decontamination_report's convention) and is
    broadcast — at 100 TB the benchmark suite is tiny next to the corpus,
    so candidate generation is a broadcast hash join against the corpus
    band stream, no shuffle of the corpus.

    One row per candidate pair: (doc_id, eval_id, n_train_shingles,
    n_eval_shingles, n_shared, jaccard, flagged)."""
    sig = minhash_signatures(spark, sf_dir)
    hs = ", ".join(f"h{j}" for j in range(N_MINHASH))
    bands = sig.selectExpr(
        "doc_id", f"posexplode(array({hs})) AS (band, bx)"
    ).persist(StorageLevel.MEMORY_AND_DISK)
    is_eval = (F.col("doc_id") % eval_mod) == 0
    ev = bands.filter(is_eval).select(
        "band", "bx", F.col("doc_id").alias("eval_id")
    )
    cand = (
        bands.filter(~is_eval)
        .join(F.broadcast(ev), on=["band", "bx"], how="inner")
        .select("doc_id", "eval_id")
        .distinct()
        .localCheckpoint(eager=True)  # candidate pairs (tiny) feed three
        # joins below; without this each re-runs the banded join
    )
    # the eager checkpoint above decouples every downstream read from the
    # band stream — release the cache instead of leaking it for the
    # session lifetime (ADVICE-r9)
    bands.unpersist(blocking=False)
    sh = _shingles(load_table(spark, sf_dir, "documents"), "doc_id")
    # Every consumer below is an inner join keyed by cand's ids, so pruning
    # each corpus-side branch to those ids with a broadcast (semi-)join is
    # bit-identical while making every shuffle/broadcast candidate-bounded
    # instead of corpus-bounded: without the explicit broadcasts Catalyst
    # builds the hash relation from the SHINGLE stream (corpus-sized) and
    # probes with the tiny checkpointed cand, and the size aggregations
    # shuffle one count per corpus doc when only candidate docs are read.
    tr_ids = cand.select("doc_id")  # no distinct: a LeftSemi build side
    ev_ids = cand.select(F.col("eval_id").alias("doc_id"))  # tolerates dups
    sizes_tr = (
        sh.join(F.broadcast(tr_ids), on="doc_id", how="leftsemi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    sizes_ev = (
        sh.join(F.broadcast(ev_ids), on="doc_id", how="leftsemi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # the leftsemi prefilter is a no-op vs the inner pair-join, but unlike
    # the row-multiplying pair-join it pushes below the shingle Generate,
    # so only candidate docs are ever tokenized on this branch
    tr_sh = sh.join(F.broadcast(tr_ids), on="doc_id", how="leftsemi").join(
        F.broadcast(cand), on="doc_id", how="inner"
    )
    ev_sh = sh.join(F.broadcast(ev_ids), on="doc_id", how="leftsemi").select(
        F.col("doc_id").alias("eval_id"), "shingle"
    )
    inter = (
        tr_sh.join(ev_sh, on=["eval_id", "shingle"], how="inner")
        .groupBy("doc_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    jac = (
        F.coalesce(F.col("n_shared"), F.lit(0)).cast("double")
        / (
            F.col("n_train_shingles")
            + F.col("n_eval_shingles")
            - F.coalesce(F.col("n_shared"), F.lit(0))
        )
    )
    return (
        cand.join(
            sizes_tr.withColumnRenamed("n", "n_train_shingles"), on="doc_id", how="inner"
        )
        .join(
            sizes_ev.select(
                F.col("doc_id").alias("eval_id"),
                F.col("n").alias("n_eval_shingles"),
            ),
            on="eval_id",
            how="inner",
        )
        .join(inter, on=["doc_id", "eval_id"], how="left")
        .select(
            "doc_id",
            "eval_id",
            "n_train_shingles",
            "n_eval_shingles",
            F.coalesce(F.col("n_shared"), F.lit(0)).cast("long").alias("n_shared"),
            jac.alias("jaccard"),
            (jac >= F.lit(jaccard_min)).alias("flagged"),
        )
        .orderBy("doc_id", "eval_id")
    )
