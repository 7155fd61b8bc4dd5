"""Property-based tests (hypothesis) for operator invariants — a tier the
reference lacks entirely (SURVEY §5: no property tests exist there)."""

import pandas as pd
from hypothesis import given, settings, strategies as st

from airdatapipeline_spark.model import CATEGORIES, SENTIMENTS
from airdatapipeline_spark.operators.enrichment import MockClassifier

VALID_SENT = set(SENTIMENTS) | {"Erro"}
VALID_CAT = set(CATEGORIES) | {"Erro"}


@given(
    keys=st.lists(st.integers(min_value=0, max_value=10**12), min_size=1, max_size=50)
)
@settings(max_examples=50, deadline=None)
def test_mock_classifier_pure_function_of_key(keys):
    """Classifier output depends only on the key — batch composition,
    ordering and duplication must not matter (cluster-determinism)."""
    titles = pd.Series(["t"] * len(keys))
    k = pd.Series(keys)
    out1 = MockClassifier().classify(titles, k)
    # reversed order, same keys
    out2 = MockClassifier().classify(titles.iloc[::-1], k.iloc[::-1])
    merged = pd.DataFrame({"k": keys, "s1": out1["sentiment"].values}).merge(
        pd.DataFrame({"k": list(reversed(keys)), "s2": out2["sentiment"].values}),
        on="k",
    )
    assert (merged.s1 == merged.s2).all()
    assert set(out1["sentiment"].dropna()) <= VALID_SENT
    assert set(out1["category"].dropna()) <= VALID_CAT
    assert out1["confidence_score"].between(0.0, 1.0).all()


@given(
    sentiments=st.lists(
        st.one_of(st.sampled_from(sorted(VALID_SENT)), st.text(max_size=12), st.none()),
        min_size=1,
        max_size=8,
    ),
    confidences=st.lists(
        st.one_of(st.floats(allow_nan=False, allow_infinity=False), st.none()),
        min_size=1,
        max_size=8,
    ),
)
@settings(max_examples=15, deadline=None)
def test_validate_domains_closed_over_domain(spark_global, sentiments, confidences):
    """Whatever garbage comes in, validated output is inside the domain."""
    from pyspark.sql import types as T

    from airdatapipeline_spark.operators.relational import validate_domains

    n = max(len(sentiments), len(confidences))
    sentiments = (sentiments * n)[:n]
    confidences = (confidences * n)[:n]
    schema = T.StructType(
        [
            T.StructField("sentiment", T.StringType(), True),
            T.StructField("category", T.StringType(), True),
            T.StructField("confidence_score", T.DoubleType(), True),
        ]
    )
    df = spark_global.createDataFrame(
        [(s, s, c) for s, c in zip(sentiments, confidences)], schema=schema
    )
    out = validate_domains(df).toPandas()
    assert set(out.sentiment) <= VALID_SENT
    assert set(out.category) <= VALID_CAT
    assert out.confidence_score.between(0.0, 1.0).all()


# session-scoped spark as a plain fixture alias usable inside @given
import pytest  # noqa: E402


@pytest.fixture(scope="session")
def spark_global(spark):
    return spark


def test_partition_invariance_of_aggregates(spark_global):
    """The determinism policy's end-to-end claim: repartitioning the input
    must not change ANY output bit — floating aggregates included."""
    import pyspark.sql.functions as F

    from airdatapipeline_spark.io import load_table
    from airdatapipeline_spark.operators import tpch

    spark = spark_global
    base = tpch.q1_pricing_summary(spark, "/root/testdata/sf0.001").toPandas()
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for parts in ("3", "64"):
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            again = tpch.q1_pricing_summary(spark, "/root/testdata/sf0.001").toPandas()
            assert base.equals(again), f"q1 output changed with {parts} shuffle partitions"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_simhash_banding_catches_all_close_pairs(spark_global):
    """Pigeonhole guarantee: every pair with Hamming ≤ 3 found by the
    exhaustive sampled search must appear among the banded candidates."""
    from airdatapipeline_spark.operators import dedup

    spark = spark_global
    exhaustive = dedup.simhash_near_pairs(
        spark, "/root/testdata/sf0.001", max_hamming=3, sample_mod=1
    ).toPandas()
    banded = dedup.simhash_lsh_candidates(spark, "/root/testdata/sf0.001").toPandas()
    ex = set(zip(exhaustive.id_a, exhaustive.id_b))
    bd = set(zip(banded.id_a, banded.id_b))
    assert ex <= bd and bd == ex  # identical sets (banding is exact for h<=3)


def _uf_components(edges):
    """Reference union-find: node -> component min."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


@pytest.mark.parametrize(
    "edges",
    [
        # long path with non-monotone ids — worst case for HashMin, the
        # shape large/small-star exists for
        [(9, 7), (7, 5), (5, 3), (3, 1), (1, 0), (0, 2), (2, 4), (4, 6), (6, 8)],
        # hub star + separate triangle + isolated pair
        [(100, i) for i in range(1, 12)] + [(200, 201), (201, 202), (202, 200), (300, 301)],
        # two chains that merge at the tail
        [(10, 20), (20, 30), (30, 40), (15, 25), (25, 35), (35, 40)],
        # duplicate and reversed edges + self loop noise
        [(1, 2), (2, 1), (2, 2), (2, 3), (1, 3), (5, 4)],
    ],
)
def test_star_components_match_union_find(spark_global, edges):
    """Large/small-star CC must label every node with its component min on
    adversarial graph shapes (chains, hubs, merges, dup/self edges)."""
    from airdatapipeline_spark.operators.dedup import star_components

    df = spark_global.createDataFrame(edges, "a long, b long")
    got = {
        (r.node, r.label)
        for r in star_components(df).collect()
    }
    expected = set(_uf_components((a, b) for a, b in edges if a != b).items())
    assert got == expected


def test_star_cc_equals_hashmin_on_corpus(spark_global):
    """Both CC implementations must emit the identical (doc_id, cluster_id)
    set over the real MinHash-LSH candidate graph."""
    from airdatapipeline_spark.operators import dedup

    sf = "/root/testdata/sf0.001"
    hashmin = {
        (r.doc_id, r.cluster_id) for r in dedup.cluster_assignments(spark_global, sf).collect()
    }
    star = {
        (r.doc_id, r.cluster_id)
        for r in dedup.cluster_assignments_star(spark_global, sf).collect()
    }
    assert star == hashmin


@given(
    n_email=st.integers(min_value=0, max_value=3),
    n_ip=st.integers(min_value=0, max_value=3),
    n_phone=st.integers(min_value=0, max_value=3),
    filler=st.lists(
        st.sampled_from(["alpha", "beta", "gamma", "x9", "…", "St. John's"]),
        min_size=1,
        max_size=6,
    ),
)
@settings(max_examples=20, deadline=None)
def test_pii_patterns_count_injected_occurrences(spark_global, n_email, n_ip, n_phone, filler):
    """Inject a known number of each PII shape into filler text; the
    pattern counts must equal the injections and the redacted text must
    contain zero residual matches (the patterns must not overlap or eat
    each other)."""
    from pyspark.sql import functions as F

    from airdatapipeline_spark.operators.text import PII_EMAIL, PII_IPV4, PII_PHONE

    parts = (
        [" ".join(filler)]
        + [f"a.user-{i}@mail-{i}.example.org" for i in range(n_email)]
        + [f"192.168.{i}.{200 + i}" for i in range(n_ip)]
        + [f"555-010{i}" for i in range(n_phone)]
    )
    blob = " | ".join(parts)
    df = spark_global.createDataFrame([(blob,)], "blob string")
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace("blob", F.lit(PII_EMAIL), F.lit("<EMAIL>")),
            F.lit(PII_IPV4),
            F.lit("<IP>"),
        ),
        F.lit(PII_PHONE),
        F.lit("<PHONE>"),
    )
    row = df.select(
        F.regexp_count("blob", F.lit(PII_EMAIL)).alias("e"),
        F.regexp_count("blob", F.lit(PII_IPV4)).alias("i"),
        F.regexp_count("blob", F.lit(PII_PHONE)).alias("p"),
        F.regexp_count(redacted, F.lit(PII_EMAIL)).alias("re"),
        F.regexp_count(redacted, F.lit(PII_IPV4)).alias("ri"),
        F.regexp_count(redacted, F.lit(PII_PHONE)).alias("rp"),
    ).first()
    assert (row.e, row.i, row.p) == (n_email, n_ip, n_phone)
    assert (row.re, row.ri, row.rp) == (0, 0, 0)


def test_hash_bucket_golden_values(spark_global):
    """The content-hash bucket idiom underpins every reproducible split in
    the repo (train/val, mix sampling, packing, the build). Pin its output
    for fixed doc_ids so ANY change to the formula — salt, hex width,
    modulus handling — fails loudly here and forces the oracle twins to be
    updated in lockstep."""
    from pyspark.sql import functions as F

    from airdatapipeline_spark.operators.text import _hash_bucket

    df = spark_global.range(10).withColumnRenamed("id", "doc_id")
    got = [
        (r.b, r.m)
        for r in df.select(
            _hash_bucket(100).alias("b"), _hash_bucket(100, salt="mix:").alias("m")
        )
        .orderBy("doc_id")
        .collect()
    ]
    # golden values derived from the DuckDB oracle side
    # (CAST(concat('0x', substr(md5(...), 1, 14)) AS BIGINT) % 100)
    expected = [
        (49, 86), (15, 18), (35, 82), (38, 83), (83, 32),
        (35, 46), (11, 75), (78, 97), (7, 42), (99, 21),
    ]
    assert got == expected


def test_greedy_packing_invariants(spark_global):
    """First-fit packing: every doc lands exactly once, no pack exceeds the
    budget (token max 100 << budget, so no oversized-doc escape hatch
    applies), packs are contiguous doc_id runs within a bucket, and the
    output is stable across runs."""
    from airdatapipeline_spark.operators.text import PACK_BUDGET, pack_greedy

    sf = "/root/testdata/sf0.001"
    out = pack_greedy(spark_global, sf).toPandas()
    docs = spark_global.read.parquet(f"{sf}/documents.parquet").select("doc_id").toPandas()
    assert sorted(out.doc_id) == sorted(docs.doc_id)  # every doc exactly once

    by_pack = out.groupby(["bucket", "pack_id"])["n_tok"].sum()
    assert (by_pack <= PACK_BUDGET).all()

    for _, grp in out.groupby("bucket"):
        g = grp.sort_values("doc_id")
        # pack ids never decrease along the bucket's doc order and step by <=1
        deltas = g.pack_id.diff().dropna()
        assert (deltas >= 0).all() and (deltas <= 1).all()
        # greedy tightness: a new pack opens only because the previous pack
        # could not fit the first doc of the new pack
        prev_tok = by_pack.loc[g.bucket.iloc[0]]
        for pid in range(1, int(g.pack_id.max()) + 1):
            first_n = g[g.pack_id == pid].n_tok.iloc[0]
            assert prev_tok.loc[pid - 1] + first_n > PACK_BUDGET

    again = pack_greedy(spark_global, sf).toPandas()
    assert out.sort_values(["bucket", "doc_id"]).reset_index(drop=True).equals(
        again.sort_values(["bucket", "doc_id"]).reset_index(drop=True)
    )


@given(
    word_counts=st.lists(st.integers(min_value=0, max_value=137), min_size=1, max_size=8)
)
@settings(max_examples=10, deadline=None)
def test_paragraph_segment_count_bound(spark_global, word_counts, tmp_path_factory):
    """Segmentation invariant behind the MAX_SEGMENTS_PER_DOC memory bound:
    every document yields exactly ceil(words / width) segments (min 1 — an
    empty text still splits to one empty token), each segment at most
    `width` words, and reassembling the segments in order restores the
    text. So per-doc aggregation state in paragraph_dedup is provably
    <= ceil(words/width) * 32 B, which the in-plan cap turns into a hard
    executor-memory guarantee."""
    import math

    from airdatapipeline_spark.operators.dedup import PARA_WORDS, paragraph_segments

    sf = str(tmp_path_factory.mktemp("paraseg"))
    rows = [
        (i, " ".join(f"w{i}x{j}" for j in range(n)))
        for i, n in enumerate(word_counts)
    ]
    spark_global.createDataFrame(rows, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(f"{sf}/documents.parquet")

    segs = paragraph_segments(spark_global, sf).toPandas()
    for i, n in enumerate(word_counts):
        mine = segs[segs.doc_id == i].sort_values("para_idx")
        # split(' ') on empty text yields [''], i.e. one "word"
        expected = max(1, math.ceil(max(n, 1) / PARA_WORDS))
        assert len(mine) == expected
        assert list(mine.para_idx) == list(range(expected))
        assert all(len(p.split(" ")) <= PARA_WORDS for p in mine.para)
        assert " ".join(mine.para) == rows[i][1]


def test_paragraph_dedup_over_cap_doc_fails_loudly(spark_global, tmp_path):
    """A document exceeding MAX_SEGMENTS_PER_DOC must abort the job with a
    named doc_id (raise_error in-plan), never OOM silently. Exercised with
    the cap monkey-lowered via a narrow width so the test stays tiny."""
    import pytest

    from airdatapipeline_spark.operators import dedup as dd

    sf = str(tmp_path / "paracap")
    spark_global.createDataFrame(
        [(7, " ".join(f"u{j}" for j in range(100)))], "doc_id long, text string"
    ).write.parquet(f"{sf}/documents.parquet")

    orig = dd.MAX_SEGMENTS_PER_DOC
    dd.MAX_SEGMENTS_PER_DOC = 3  # 100 words / width 20 = 5 segments > 3
    try:
        with pytest.raises(Exception, match="doc 7 has 5 segments"):
            dd.paragraph_dedup(spark_global, sf).collect()
        dd.MAX_SEGMENTS_PER_DOC = orig
        ok = dd.paragraph_dedup(spark_global, sf).toPandas()
        assert ok.n_paras.iloc[0] == 5 and ok.n_kept.iloc[0] == 5
    finally:
        dd.MAX_SEGMENTS_PER_DOC = orig


def test_first_wins_aggregate_bounds_hot_key_shuffle(spark_global, tmp_path):
    """Adversarial hot-paragraph corpus (the same boilerplate paragraph in
    EVERY document): first-wins as a hash aggregate must shuffle at most
    uniq_hashes + n_map_partitions records (the structural map-side combine
    collapses the hot key per task). The row_number-window formulation is
    rescued by Spark's InferWindowGroupLimit for exactly this rank==1
    pattern, but the rescue is pattern-fragile (rank<=k or a reused rank
    column reverts to shipping every occurrence to one reducer). Pins the
    shuffle bound, value-equality of both formulations, the partial_min
    combine in the plan, and that paragraph_dedup contains no Window
    node."""
    import os
    import sys

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from airdatapipeline_spark.operators import dedup as dd

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools"))
    from measured import summarize

    hot = " ".join(f"hot{j}" for j in range(dd.PARA_WORDS))
    n_docs = 400
    rows = [
        (i, hot + " " + " ".join(f"u{i}x{j}" for j in range(dd.PARA_WORDS)))
        for i in range(n_docs)
    ]
    sf = str(tmp_path / "hotpara")
    spark_global.createDataFrame(rows, "doc_id long, text string").repartition(
        8
    ).write.parquet(f"{sf}/documents.parquet")

    segs = dd.paragraph_segments(spark_global, sf)
    total_segs = segs.count()  # 2 per doc
    uniq_hashes = segs.select("para_hash").distinct().count()  # n_docs + 1
    assert total_segs == 2 * n_docs and uniq_hashes == n_docs + 1

    agg = dd.first_wins_per_hash(dd.paragraph_segments(spark_global, sf))
    agg_rows = agg.collect()
    agg_shuffled = summarize(agg)["shuffle_records"]
    # map-side combine: hot key contributes <= n_map_partitions (<= 8 files)
    assert agg_shuffled <= uniq_hashes + 8, (agg_shuffled, uniq_hashes)
    assert agg_shuffled < total_segs

    w = Window.partitionBy("para_hash").orderBy("doc_id", "para_idx")
    win = (
        dd.paragraph_segments(spark_global, sf)
        .withColumn("occ", F.row_number().over(w))
        .filter(F.col("occ") == 1)
        .select("doc_id", "para_idx", "para_hash")
    )
    win_rows = win.collect()
    win_shuffled = summarize(win)["shuffle_records"]
    assert agg_shuffled <= win_shuffled
    assert sorted(map(tuple, agg_rows)) == sorted(map(tuple, win_rows))

    # plan shapes: the window's bound exists only via the pattern-matched
    # WindowGroupLimit rescue; the aggregate's bound is the partial_min
    # combine before the exchange (struct min -> SortAggregate, combine
    # still engages)
    win_plan = win._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in win_plan
    agg_plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "partial_min" in agg_plan, "first-wins lost its map-side partial aggregate"
    assert "Window" not in agg_plan

    out = dd.paragraph_dedup(spark_global, sf)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "partial_min" in plan, "first-wins lost its map-side partial aggregate"
    assert "Window" not in plan, "paragraph_dedup regressed to a window over para_hash"


def test_substring_posting_cap_drops_hot_span(spark_global, tmp_path):
    """One 40-char span shared by every document: with max_postings set the
    hot hash is dropped BEFORE the self-join (its C(n,2) pair blowup never
    materializes) and only genuine small-posting evidence survives; the
    registered uncapped run keeps all pairs."""
    from airdatapipeline_spark.operators import dedup as dd

    n = 12
    hot = "A" * 40
    rows = [(i, hot + f"tail-of-doc-{i:04d}-" + "z" * 20) for i in range(n)]
    sf = str(tmp_path / "hotspan")
    spark_global.createDataFrame(rows, "doc_id long, text string").write.parquet(
        f"{sf}/documents.parquet"
    )

    uncapped = dd.exact_substring_pairs(spark_global, sf).toPandas()
    assert len(uncapped) == n * (n - 1) // 2  # every pair shares the hot span

    capped = dd.exact_substring_pairs(spark_global, sf, max_postings=4).toPandas()
    assert len(capped) == 0, "hot span must be dropped by the posting cap"


# ---------------------------------------------------------------------------
# Shard lifecycle vs a set-model (r6): random op sequences
# ---------------------------------------------------------------------------

_LIFECYCLE_OP = st.one_of(
    st.tuples(st.just("append"), st.integers(min_value=0, max_value=6)),
    st.tuples(st.just("append_readmit"), st.integers(min_value=0, max_value=6)),
    st.tuples(st.just("delete"), st.integers(min_value=2, max_value=9)),
    st.tuples(st.just("compact"), st.just(0)),
)


@given(ops=st.lists(_LIFECYCLE_OP, min_size=2, max_size=5))
@settings(max_examples=6, deadline=None)
def test_shard_lifecycle_matches_set_model(spark_global, ops, tmp_path_factory):
    """Model-based check of the shard lifecycle: run a random sequence of
    append(subset)/delete(subset)/compact against a plain Python model of
    (membership, tombstones). Default appends must NOT re-admit tombstoned
    ids (the r7 seam close); `append_readmit` exercises the explicit
    honor_tombstones=False opt-out, which does. After every sequence the
    layout must hold exactly the model's doc_ids, with unique ids and
    strictly ordered, non-overlapping offsets. This generalizes the
    deterministic scenario test that caught the sum-vs-max-end rebase
    overlap (r6) and now pins the tombstone algebra too."""
    import pyspark.sql.functions as F

    from airdatapipeline_spark.io import load_table
    from airdatapipeline_spark.operators import corpus

    spark = spark_global
    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    all_ids = [r["doc_id"] for r in docs.select("doc_id").collect()]
    out = str(tmp_path_factory.mktemp("lifecycle") / "layout")

    model: set[int] = set()
    tombs: set[int] = set()
    for kind, sel in ops:
        if kind == "append":
            batch = docs.filter(F.col("doc_id") % 7 <= sel)
            corpus.append_docs(spark, batch, out)
            model |= {i for i in all_ids if i % 7 <= sel} - tombs
        elif kind == "append_readmit":
            batch = docs.filter(F.col("doc_id") % 7 <= sel)
            corpus.append_docs(spark, batch, out, honor_tombstones=False)
            model |= {i for i in all_ids if i % 7 <= sel}
        elif kind == "delete":
            if not model:
                continue
            doomed = docs.filter(F.col("doc_id") % sel == 0).select("doc_id")
            corpus.delete_from_shards(spark, doomed, out)
            doomed_ids = {i for i in all_ids if i % sel == 0}
            model -= doomed_ids
            tombs |= doomed_ids
        else:
            if not model:
                continue
            corpus.compact_shards(spark, out, min_fill=0.85)
            # membership and tombstones unchanged

    if not model:
        return
    back = corpus.read_shards(spark, out)
    got = [r["doc_id"] for r in back.select("doc_id").collect()]
    assert sorted(got) == sorted(model)
    rows = back.select("start_off", "n_tok").orderBy("start_off").collect()
    end = -1
    for r in rows:
        assert r["start_off"] > end
        end = r["start_off"] + r["n_tok"] - 1
