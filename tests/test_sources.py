"""Source/sink tests (SURVEY.md §2.1): scrape job, CSV round-trip, DDL,
partitioned silver + pruning."""

import tempfile

import pyspark.sql.functions as F
import pytest

from airdatapipeline_spark import model, pipeline
from airdatapipeline_spark.sources import csv_io, scrape

from conftest import SF_SMALL


def test_scrape_job_end_to_end(spark):
    land = tempfile.mkdtemp(prefix="land_")
    wh = tempfile.mkdtemp(prefix="wh_")
    bronze = pipeline.run_scrape_job(spark, land, wh, run_id="t1")
    pdf = bronze.toPandas()
    assert len(pdf) > 0
    assert pdf.link.str.startswith("http").all()  # cleaned before landing
    assert pdf.link.is_unique
    # SNK1 overwrite semantics: a second run replaces, not appends
    bronze2 = pipeline.run_scrape_job(
        spark, land, wh, run_id="t2", scraper=scrape.FakeScraper(n_rows=50)
    )
    assert bronze2.count() < len(pdf)


def test_playwright_scraper_gated_on_environment():
    import importlib.util

    if importlib.util.find_spec("playwright") is not None:
        pytest.skip("playwright present — the real launch path applies")
    with pytest.raises(NotImplementedError, match="playwright"):
        scrape.PlaywrightScraper().scrape()


def test_http_scraper_live_over_local_server(spark):
    """SRC1 live-transport e2e: a fixture page with every markup variant
    the selector contract covers, served by a real in-process HTTP server,
    scraped by HttpScraper over a real socket, landed as a Bronze
    DataFrame. Covers: enclosing-<a> tier, child-<a> tier,
    data-mrf-link tier, relative-URL normalization, non-http drop,
    short-title floor, title and link dedup."""
    import http.server
    import threading

    from airdatapipeline_spark.sources.scrape_http import HttpScraper

    page = """
    <html><body>
      <a href="/politica/materia-1"><h2 data-mrf-layout-title>
        Manchete um com texto suficientemente longo</h2></a>
      <div class="feed-post-body-title">
        Manchete dois com texto suficientemente longo
        <a href="https://g1.globo.com/eco/materia-2">leia</a></div>
      <div data-mrf-link="https://g1.globo.com/tec/materia-3">
        <span data-mrf-layout-title>Manchete tres com texto suficientemente longo</span>
      </div>
      <p data-mrf-layout-title><a href="ftp://bad.example/x">
        Manchete quatro com protocolo invalido e longa</a></p>
      <h3 data-mrf-layout-title><a href="/curta">curta</a></h3>
      <a href="/politica/materia-1"><span class="bstn-hl-title">
        Manchete um com texto suficientemente longo</span></a>
      <img src="x.png"><br>
    </body></html>
    """

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_GET(self):
            body = page.encode()
            self.send_response(200)
            self.send_header("Content-Type", "text/html; charset=utf-8")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        rows = HttpScraper(url=f"http://127.0.0.1:{srv.server_port}/").scrape()
    finally:
        srv.shutdown()

    got = {(r["title"], r["link"]) for r in rows}
    assert got == {
        ("Manchete um com texto suficientemente longo",
         "https://g1.globo.com/politica/materia-1"),
        ("Manchete dois com texto suficientemente longo leia",
         "https://g1.globo.com/eco/materia-2"),
        ("Manchete tres com texto suficientemente longo",
         "https://g1.globo.com/tec/materia-3"),
    }
    df = scrape.scrape_to_dataframe(spark, _Fixed(rows))
    assert df.count() == 3 and set(df.columns) >= {"title", "link", "source", "scraped_at"}


class _Fixed:
    def __init__(self, rows):
        self._rows = rows

    def scrape(self):
        return self._rows


class _El:
    """Deterministic PageElement: href tiers either return a value, None, or
    raise — mirroring the best-effort DOM probing the real page does."""

    def __init__(self, text, closest=None, child=None, data_link=None, raise_on=()):
        self._text, self._closest, self._child, self._data = text, closest, child, data_link
        self._raise = set(raise_on)

    def inner_text(self):
        if "text" in self._raise:
            raise RuntimeError("detached node")
        return self._text

    def closest_anchor_href(self):
        if "closest" in self._raise:
            raise RuntimeError("evaluate failed")
        return self._closest

    def child_anchor_href(self):
        return self._child

    def parent_data_link(self):
        return self._data


class _FakePage:
    """Elements per selector; some appear only after enough scrolls (lazy
    feed). query counts calls so selector-union order is observable."""

    def __init__(self, by_selector, lazy_after=0, lazy_elements=()):
        self.by_selector = dict(by_selector)
        self.scrolls = 0
        self.lazy_after = lazy_after
        self.lazy_elements = list(lazy_elements)
        self.queried = []

    def scroll_to_bottom(self):
        self.scrolls += 1

    def query_selector_all(self, selector):
        self.queried.append(selector)
        if selector == "boom":
            raise RuntimeError("bad selector")
        els = list(self.by_selector.get(selector, []))
        if selector == "[data-mrf-layout-title]" and self.scrolls >= self.lazy_after:
            els += self.lazy_elements
        return els


def test_extract_headlines_full_behavior():
    """The post-launch scraper pass (scraper.py:57-170): scrolls, selector
    union, 15-char floor, title+link dedup, 3-tier href fallback, URL
    normalization — all offline."""
    from datetime import datetime

    good = "Notícia longa o suficiente para passar"
    page = _FakePage(
        by_selector={
            "[data-mrf-layout-title]": [
                _El(good, closest="/politica/x"),               # relative → prefixed
                _El("curta", closest="https://g1.globo.com/a"),  # < 15 chars → drop
                _El(None, closest="https://g1.globo.com/b"),     # empty text → drop
                _El("Outra manchete com link apenas no filho",
                    closest=None, child="https://g1.globo.com/c"),
                _El("Terceira manchete via data-mrf-link do pai",
                    raise_on=("closest",), data_link="/d"),      # tier-1 raises → tier-3
                _El("Manchete sem nenhum link disponível"),      # no href → drop
                _El("Manchete com protocolo inválido ftp", closest="ftp://x/y"),  # drop
            ],
            ".feed-post-body-title": [
                _El(good, closest="/politica/duplicada"),        # dup title → drop
                _El("Título novo apontando para link repetido",
                    closest="https://g1.globo.com/politica/x"),  # dup link → drop
            ],
        },
        lazy_after=6,
        lazy_elements=[_El("Manchete que só aparece após o scroll",
                           closest="https://g1.globo.com/lazy")],
    )
    now = datetime(2025, 8, 1, 8, 0, 0)
    rows = scrape.extract_headlines(page, now=now)

    assert page.scrolls == 6  # scraper.py:59 default scroll_attempts
    assert page.queried[:2] == ["[data-mrf-layout-title]", ".feed-post-body-title"]
    assert len(page.queried) == len(scrape.G1_SELECTORS)
    assert [r["link"] for r in rows] == [
        "https://g1.globo.com/politica/x",
        "https://g1.globo.com/c",
        "https://g1.globo.com/d",
        "https://g1.globo.com/lazy",
    ]
    assert all(r["source"] == "G1" and r["scraped_at"] == now for r in rows)
    assert len({r["title"] for r in rows}) == len(rows)


def test_extract_headlines_selector_errors_are_skipped():
    page = _FakePage(by_selector={})
    rows = scrape.extract_headlines(page, selectors=("boom", "[data-mrf-layout-title]"))
    assert rows == [] and page.queried == ["boom", "[data-mrf-layout-title]"]


def test_scraper_rows_without_doc_id_get_insert_order(spark):
    """Real-scraper rows carry no doc_id (reference: Postgres SERIAL assigns
    insert order); scrape_to_dataframe synthesizes the same."""
    from datetime import datetime

    class RealShapeScraper:
        def scrape(self):
            now = datetime(2025, 8, 1, 9, 0, 0)
            return [
                {"title": f"Manchete número {i} com tamanho válido",
                 "link": f"https://g1.globo.com/n/{i}", "source": "G1", "scraped_at": now}
                for i in range(5)
            ]

    df = scrape.scrape_to_dataframe(spark, RealShapeScraper())
    assert [r.doc_id for r in df.orderBy("doc_id").collect()] == [0, 1, 2, 3, 4]


def test_csv_roundtrip_lossless(spark):
    from airdatapipeline_spark.operators import relational

    clean = relational.clean_headlines(model.bronze_headlines(spark, SF_SMALL))
    land = tempfile.mkdtemp(prefix="csv_")
    csv_io.write_headlines_csv(clean, land, "r1")
    back = csv_io.read_headlines_csv(spark, csv_io.latest_run_dir(land))
    a = clean.orderBy("doc_id").toPandas()
    b = back.orderBy("doc_id").toPandas()
    assert a.equals(b)  # schema-pinned CSV round-trip is exact


def test_latest_run_dir_picks_newest(spark):
    from airdatapipeline_spark.operators import relational

    clean = relational.clean_headlines(model.bronze_headlines(spark, SF_SMALL))
    land = tempfile.mkdtemp(prefix="csv_")
    csv_io.write_headlines_csv(clean.limit(5), land, "r1")
    csv_io.write_headlines_csv(clean.limit(9), land, "r2")
    assert csv_io.latest_run_dir(land).endswith("run_id=r2")
    assert csv_io.read_headlines_csv(spark, csv_io.latest_run_dir(land)).count() == 9


def test_ddl_create_tables_idempotent(spark):
    wh = tempfile.mkdtemp(prefix="wh_")
    csv_io.create_tables(spark, wh)
    csv_io.create_tables(spark, wh)  # IF NOT EXISTS — no error
    tables = {r.tableName for r in spark.sql("SHOW TABLES").collect()}
    assert {"raw_headlines", "silver_enriched_headlines"} <= tables
    spark.sql("DROP TABLE raw_headlines")
    spark.sql("DROP TABLE silver_enriched_headlines")


def test_partitioned_silver_prunes(spark):
    silver = model.silver_enriched(spark, SF_SMALL)
    wh = tempfile.mkdtemp(prefix="wh_")
    path = csv_io.write_silver_partitioned(silver, wh)
    back = spark.read.parquet(path)
    pruned = back.filter(F.col("processed_date") == F.lit(model.TODAY).cast("date"))
    # the physical plan must contain a partition filter (pruned scan)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "processed_date" in plan
    assert pruned.count() == silver.filter(F.to_date("processed_at") == model.TODAY).count()


def test_streaming_enrichment_job_incremental(spark):
    """foreachBatch streaming enrichment: files arriving in two waves are
    classified exactly once; re-delivered rows are skipped (idempotent)."""
    from airdatapipeline_spark.operators import relational
    from airdatapipeline_spark.sources import scrape
    from airdatapipeline_spark.streaming.events import streaming_enrichment_job

    land = tempfile.mkdtemp(prefix="stream_land_")
    silver = tempfile.mkdtemp(prefix="stream_silver_") + "/silver"
    ckpt = tempfile.mkdtemp(prefix="stream_ckpt_")

    # wave 1: 60 headlines land as CSV
    wave1 = scrape.scrape_to_dataframe(spark, scrape.FakeScraper(n_rows=60))
    csv_io.write_headlines_csv(wave1, land, "w1")
    streaming_enrichment_job(spark, land + "/run_id=w1", silver, ckpt)
    n1 = spark.read.parquet(silver).count()
    expected1 = relational.clean_headlines(wave1).count()
    assert n1 == expected1

    # wave 2: 100 headlines (the first 60 re-delivered + 40 new) → only the
    # genuinely new links are appended
    wave2 = scrape.scrape_to_dataframe(spark, scrape.FakeScraper(n_rows=100))
    csv_io.write_headlines_csv(wave2, land, "w2")
    ckpt2 = tempfile.mkdtemp(prefix="stream_ckpt2_")
    streaming_enrichment_job(spark, land + "/run_id=w2", silver, ckpt2)
    out = spark.read.parquet(silver)
    assert out.count() == relational.clean_headlines(wave2).count()
    assert out.select("raw_link").distinct().count() == out.count()
    assert set(out.select("sentiment").toPandas().sentiment) <= {
        "Positiva", "Negativa", "Neutra", "Erro",
    }


def test_salted_join_preserves_inner_semantics(spark):
    from airdatapipeline_spark.io import load_table
    from airdatapipeline_spark.operators.relational import salted_join

    orders = load_table(spark, SF_SMALL, "orders").select("o_custkey", "o_orderkey")
    cust = load_table(spark, SF_SMALL, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_name"
    )
    plain = orders.join(cust, on="o_custkey", how="inner")
    salted = salted_join(orders, cust, key="o_custkey", n_salts=8)
    assert salted.count() == plain.count()
    a = plain.orderBy("o_orderkey").toPandas().reset_index(drop=True)
    b = salted.select(plain.columns).orderBy("o_orderkey").toPandas().reset_index(drop=True)
    assert a.equals(b)


def test_jobs_cli_validate_and_report(spark):
    """The operational CLI's query-only jobs run in-process and emit JSON."""
    import json

    from airdatapipeline_spark import jobs

    import io as _io
    import contextlib

    for argv in (
        ["validate", "--sf-dir", SF_SMALL],
        ["report", "--sf-dir", SF_SMALL],
        ["curate", "--sf-dir", SF_SMALL],
    ):
        buf = _io.StringIO()
        with contextlib.redirect_stdout(buf):
            rc = jobs.main(argv)
        assert rc == 0
        out = json.loads(buf.getvalue())
        assert out["job"] == argv[0]
        if argv[0] == "curate":
            assert 0 < out["curated_docs"] < out["corpus_docs"]


def test_jobs_cli_search_user_terms(spark):
    """The search verb runs BM25 with USER query terms (the production
    path; the registry query pins the data-derived default): ranks are
    dense from 1, docs hitting more query terms are present, and an
    out-of-vocabulary query returns an empty hit list instead of failing."""
    import contextlib
    import io as _io
    import json

    from airdatapipeline_spark import jobs

    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = jobs.main(
            ["search", "--sf-dir", SF_SMALL, "--terms", "stream,value", "--topk", "5"]
        )
    assert rc == 0
    out = json.loads(buf.getvalue())
    assert out["terms"] == ["stream", "value"]
    assert [h["rank"] for h in out["hits"]] == [1, 2, 3, 4, 5]
    assert all(1 <= h["hits"] <= 2 and h["bm25"] > 0 for h in out["hits"])

    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = jobs.main(["search", "--sf-dir", SF_SMALL, "--terms", "zz_not_a_token"])
    assert rc == 0
    assert json.loads(buf.getvalue())["hits"] == []


def test_bm25_user_terms_dedupe_and_dense_ranks(spark):
    """Review-pass regressions: a repeated query term must not score its
    postings twice (hits/bm25 doubled before the fix), and
    absent-from-corpus terms must not widen the per-doc pivot — all
    three queries below are semantically identical."""
    from airdatapipeline_spark.operators import text as t

    one = [(r.doc_id, r.hits, r.bm25) for r in t.bm25_topk(spark, SF_SMALL, k=3, terms=["stream"]).collect()]
    dup = [(r.doc_id, r.hits, r.bm25) for r in t.bm25_topk(spark, SF_SMALL, k=3, terms=["stream", "stream"]).collect()]
    sparse = [(r.doc_id, r.hits, r.bm25) for r in t.bm25_topk(spark, SF_SMALL, k=3, terms=["zz1", "zz2", "stream"]).collect()]
    assert one == dup == sparse


def test_parquet_schema_evolution_additive_column(spark, tmp_path):
    """Additive schema evolution on an accreting parquet table: later files
    carry a new column; mergeSchema=true reads the union schema with nulls
    for pre-evolution rows, and the explicit-schema read (the repo's
    io.load_table posture) keeps working against old files — the two
    supported upgrade paths for a 100 TB table that can't be rewritten."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "tbl")
    v1 = spark.range(10).select(F.col("id").alias("doc_id"), F.lit("a").alias("source"))
    v1.write.mode("append").parquet(path)
    v2 = spark.range(10, 20).select(
        F.col("id").alias("doc_id"),
        F.lit("b").alias("source"),
        F.lit(0.9).alias("quality_score"),  # the evolved column
    )
    v2.write.mode("append").parquet(path)

    merged = spark.read.option("mergeSchema", "true").parquet(path)
    assert "quality_score" in merged.columns
    assert merged.count() == 20
    nulls = merged.filter(F.col("quality_score").isNull()).count()
    assert nulls == 10  # exactly the pre-evolution rows

    # explicit-schema read of the narrow projection still serves old+new
    narrow = spark.read.schema("doc_id long, source string").parquet(path)
    assert narrow.count() == 20 and narrow.columns == ["doc_id", "source"]


def test_streaming_watermark_drops_late_rows_across_batches(spark, tmp_path):
    """True late-data semantics need MULTIPLE micro-batches (a single-batch
    replay never has an advanced watermark): batch 1 carries the on-time
    events plus a watermark-advancing straggler; batch 2 delivers an event
    for the already-finalized window. The committed append output must
    count only the on-time rows — state for the finalized window was
    evicted and the late row discarded, which is exactly the bounded-state
    contract the registered stream queries rely on."""
    import os as _os

    from pyspark.sql import functions as F

    land = str(tmp_path / "landing")
    _os.makedirs(land)
    schema = "ts timestamp, user_id long, event_type string, value double"
    base = "2024-01-01 "
    on_time = [
        (base + "10:05:00", 1),
        (base + "10:20:00", 2),
        (base + "10:40:00", 3),
        (base + "11:30:00", 4),  # advances watermark to 11:20
    ]
    # a watermark advance takes effect ONE BATCH LATER (it is applied at the
    # planning of the batch after the one that observed the max event time),
    # so an on-time filler batch sits between the advance and the late row
    filler = [(base + "11:35:00", 6)]
    late = [(base + "10:15:00", 5)]  # arrives after the 10:00 window closed

    def write_file(rows, name):
        spark.createDataFrame(
            [(t, u, "click", 1.0) for t, u in rows], "ts string, user_id long, event_type string, value double"
        ).select(
            F.to_timestamp("ts").alias("ts"), "user_id", "event_type", "value"
        ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / name))
        src = next(
            f
            for f in _os.listdir(str(tmp_path / name))
            if f.endswith(".parquet")
        )
        dst = _os.path.join(land, f"{name}.parquet")
        _os.rename(_os.path.join(str(tmp_path / name), src), dst)
        return dst

    f_a = write_file(on_time, "a")
    f_c = write_file(filler, "c")
    f_b = write_file(late, "b")
    _os.utime(f_a, (1000000000, 1000000000))  # mtime = batch order: a, c, b
    _os.utime(f_c, (1000000100, 1000000100))
    _os.utime(f_b, (1000000200, 1000000200))

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(land)
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").cast("string").alias("window_start"), "n")
    )
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        r.window_start: r.n
        for r in spark.read.schema("window_start string, n long").parquet(out).collect()
    }
    # the 10:00 window finalized with ONLY the 3 on-time rows; the late row
    # was dropped, and the 11:00 window (not yet past the watermark) unemitted
    assert got == {"2024-01-01 10:00:00": 3}


def test_scrape_datasource_stream_exactly_once(spark, tmp_path):
    """The Python DataSource's streaming reader drains the synthetic front
    page in batch_rows-sized micro-batches to a checkpointed file sink;
    the committed output must equal the batch read exactly (no dup, no
    loss) and take more than one micro-batch to get there."""
    from airdatapipeline_spark.sources.scrape_datasource import HeadlineScrapeDataSource

    spark.dataSource.register(HeadlineScrapeDataSource)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    stream = (
        spark.readStream.format("headline_scrape")
        .option("batch_rows", 40)
        .option("max_rows", 100)
        .load()
    )
    q = (
        stream.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = spark.read.parquet(out).toPandas().sort_values("doc_id").reset_index(drop=True)
    want = (
        spark.read.format("headline_scrape")
        .option("n_rows", 100)
        .load()
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert got.equals(want)
    # 100 rows at 40/batch = 3 non-empty micro-batches committed
    import os as _os

    commits = [f for f in _os.listdir(_os.path.join(ckpt, "commits")) if not f.startswith(".")]
    assert len(commits) >= 3


def test_compact_parquet_preserves_rows_and_reduces_files(spark, tmp_path):
    """Small-file compaction: same rows (hash-equal), far fewer files, and
    the partitioned variant keeps the partition directory scheme."""
    import os

    from pyspark.sql import functions as F

    from airdatapipeline_spark.io import load_table
    from airdatapipeline_spark.sources import maintenance

    # simulate an accreted sink: 64 tiny files
    flat = str(tmp_path / "flat")
    src = load_table(spark, SF_SMALL, "documents").select("doc_id", "source")
    src.repartition(64).write.parquet(flat)
    assert maintenance.data_file_count(flat) >= 32

    stats = maintenance.compact_parquet(spark, flat, target_file_bytes=64 * 1024 * 1024)
    assert stats["files_after"] < stats["files_before"]
    after = spark.read.parquet(flat)
    assert after.count() == src.count()
    assert sorted(r.doc_id for r in after.collect()) == sorted(
        r.doc_id for r in src.collect()
    )

    # partitioned table keeps its directory scheme; a SKEWED partition
    # (bucket 0 gets ~all rows) must split into multiple target-sized files
    # while the small partitions coalesce to one
    part = str(tmp_path / "part")
    skew = F.when(
        F.col("doc_id") % 50 == 0, (F.floor(F.col("doc_id") / 50) % 2 + 1)
    ).otherwise(0)
    src.withColumn("bucket", skew.cast("int")).repartition(48).write.partitionBy(
        "bucket"
    ).parquet(part)
    stats = maintenance.compact_parquet(
        spark, part, target_file_bytes=4 * 1024, partition_col="bucket"
    )
    assert stats["files_after"] < stats["files_before"]
    after = spark.read.parquet(part)
    assert after.count() == src.count()
    assert sorted(d for d in os.listdir(part) if d.startswith("bucket=")) == [
        "bucket=0",
        "bucket=1",
        "bucket=2",
    ]
    assert maintenance.data_file_count(os.path.join(part, "bucket=0")) >= 2  # skew split
    assert maintenance.data_file_count(os.path.join(part, "bucket=1")) == 1


def test_compaction_aborts_before_swap_on_row_drift(spark, tmp_path, monkeypatch):
    """Self-verification: if the staged rewrite's footer count disagrees
    with the source, compact_parquet raises BEFORE any rename and the
    live table is untouched (byte-identical file set)."""
    import os

    from airdatapipeline_spark.sources import maintenance

    path = str(tmp_path / "tbl")
    spark.range(500).write.parquet(path)
    files_before = sorted(
        f for _r, _d, fs in os.walk(path) for f in fs if f.endswith(".parquet")
    )

    real_verify = maintenance._verify_staged

    def corrupt_staging_count(sp, staging, schema, expected, what):
        # the staged rewrite holds one row fewer than the source
        return real_verify(sp, staging, schema, expected + 1, what)

    monkeypatch.setattr(maintenance, "_verify_staged", corrupt_staging_count)
    try:
        maintenance.compact_parquet(spark, path)
        raise AssertionError("expected RuntimeError on row drift")
    except RuntimeError as e:
        assert "aborted before swap" in str(e)
    assert not os.path.exists(path + ".__compacting__")
    assert not os.path.exists(path + ".__old__")
    files_after = sorted(
        f for _r, _d, fs in os.walk(path) for f in fs if f.endswith(".parquet")
    )
    assert files_after == files_before
    assert spark.read.parquet(path).count() == 500


def test_compaction_swap_recovery(spark, tmp_path):
    """A crash between the two swap renames leaves the table at
    <path>.__old__; recover_compaction restores it (and the next
    compact_parquet call self-heals the same way)."""
    import os

    from airdatapipeline_spark.sources import maintenance

    path = str(tmp_path / "tbl")
    spark.range(100).write.parquet(path)
    # simulate the crash window: live path renamed away, staging lost
    os.rename(path, path + ".__old__")
    assert maintenance.recover_compaction(path) is True
    assert spark.read.parquet(path).count() == 100
    assert maintenance.recover_compaction(path) is False  # idempotent no-op


# --- OpenAI-shape classifier adapter (env-gated; fake transport only) -------


def test_openai_classifier_contract_and_validation():
    """Request payload mirrors the reference call contract
    (llm_enricher.py:148-211); responses are vocabulary-validated with
    confidence clamped; row order and index are preserved."""
    import json

    import pandas as pd

    from airdatapipeline_spark.model import CATEGORIES
    from airdatapipeline_spark.operators.enrichment import OpenAIChatClassifier

    seen = []

    def transport(payload):
        seen.append(payload)
        headline = payload["messages"][0]["content"].split('Manchete: "')[1].rstrip('"\n ')
        resp = {
            "boa notícia": {"sentiment": "Positiva", "category": "Economia", "confidence": 0.9},
            "categoria inválida": {"sentiment": "Neutra", "category": "Nope", "confidence": 0.5},
            "confiança fora": {"sentiment": "Negativa", "category": "Política", "confidence": 7.0},
        }[headline]
        return {"choices": [{"message": {"content": json.dumps(resp)}}]}

    clf = OpenAIChatClassifier(transport=transport, sleep=lambda s: None)
    titles = pd.Series(["boa notícia", "categoria inválida", "confiança fora"], index=[7, 3, 5])
    out = clf.classify(titles, pd.Series([1, 2, 3], index=titles.index))

    assert list(out.index) == [7, 3, 5]
    assert out.loc[7].tolist() == ["Positiva", "Economia", 0.9]
    assert out.loc[3].tolist() == ["Neutra", "Erro", 0.5]  # invalid category
    assert out.loc[5].tolist() == ["Negativa", "Política", 0.0]  # clamp

    p = seen[0]
    assert p["model"] == "gpt-3.5-turbo-1106"
    assert p["response_format"] == {"type": "json_object"}
    assert p["temperature"] == 0.1 and p["max_tokens"] == 150
    assert 'Manchete: "boa notícia"' in p["messages"][0]["content"]
    for c in CATEGORIES:
        assert f'"{c}"' in p["messages"][0]["content"]


def test_openai_classifier_retries_then_sentinel():
    """Transport errors retry with exponential backoff; rows that exhaust
    retries get the sentinel without poisoning the rest of the batch."""
    import json

    import pandas as pd

    from airdatapipeline_spark.operators.enrichment import OpenAIChatClassifier

    calls = {"n": 0}
    sleeps = []

    def flaky(payload):
        calls["n"] += 1
        headline = payload["messages"][0]["content"].split('Manchete: "')[1].rstrip('"\n ')
        if headline == "sempre falha":
            raise ConnectionError("down")
        if calls["n"] < 2:  # first-ever call fails, retry succeeds
            raise ConnectionError("flaky")
        return {
            "choices": [
                {
                    "message": {
                        "content": json.dumps(
                            {"sentiment": "Neutra", "category": "Outros", "confidence": 0.4}
                        )
                    }
                }
            ]
        }

    clf = OpenAIChatClassifier(transport=flaky, backoff_s=0.5, sleep=sleeps.append)
    titles = pd.Series(["ok depois de retry", "sempre falha"])
    out = clf.classify(titles, pd.Series([1, 2]))

    assert out.iloc[0].tolist() == ["Neutra", "Outros", 0.4]
    assert out.iloc[1].tolist() == ["Erro", "Erro", 0.0]  # sentinel, row kept
    assert sleeps[0] == 0.5 and sleeps[1:] == [0.5, 1.0]  # exponential backoff


def test_openai_from_env_is_gated(monkeypatch):
    from airdatapipeline_spark.operators.enrichment import OpenAIChatClassifier

    monkeypatch.delenv("OPENAI_API_KEY", raising=False)
    with pytest.raises(RuntimeError, match="OPENAI_API_KEY"):
        OpenAIChatClassifier.from_env()


# --- JDBC source options (SRC5 variant; no Postgres in container) -----------


def test_jdbc_options_partitioned_table(monkeypatch):
    from airdatapipeline_spark.sources import jdbc

    monkeypatch.setenv("POSTGRES_HOST", "db.internal")
    monkeypatch.setenv("POSTGRES_PORT", "5433")
    monkeypatch.setenv("POSTGRES_DB", "news")
    monkeypatch.setenv("POSTGRES_USER", "u")
    monkeypatch.setenv("POSTGRES_PASSWORD", "p")
    opts = jdbc.jdbc_options(table="silver_enriched_headlines", num_partitions=8)
    assert opts["url"] == "jdbc:postgresql://db.internal:5433/news"
    assert opts["dbtable"] == "silver_enriched_headlines"
    assert opts["user"] == "u" and opts["password"] == "p"
    # parallel pull: the option set Spark needs for a partitioned read
    assert opts["partitionColumn"] == "id"
    assert opts["numPartitions"] == "8"
    assert int(opts["lowerBound"]) < int(opts["upperBound"])


def test_jdbc_options_query_pushdown_excludes_partitioning():
    from airdatapipeline_spark.sources import jdbc

    q = jdbc.DASHBOARD_QUERIES["daily_sentiment"]
    opts = jdbc.jdbc_options(query=q, partition_column=None)
    assert opts["query"] == q
    assert "dbtable" not in opts and "partitionColumn" not in opts
    with pytest.raises(ValueError):
        jdbc.jdbc_options()
    with pytest.raises(ValueError):
        jdbc.jdbc_options(table="t", query="SELECT 1")


def test_jdbc_live_roundtrip_embedded_derby(spark, tmp_path):
    """LIVE JDBC e2e (VERDICT r3 item 7): the read path executes against a
    real JDBC connection — embedded Derby, the driver Spark ships — not
    just constructed options. Write through df.write.jdbc, read back
    through read_table with a partitioned scan, and assert (a) values
    round-trip, (b) the scan genuinely fans out to numPartitions JDBC
    partitions, (c) a pushdown read_query works. Swapping url/driver for
    Postgres's is the only delta to the production path."""
    from airdatapipeline_spark.sources import jdbc

    url = f"jdbc:derby:{tmp_path}/livedb;create=true"
    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    src = spark.range(0, 100).selectExpr(
        "id", "cast(id * 1.5 as double) AS score", "concat('u', id % 7) AS grp"
    )
    # Derby resolves unqualified tables under the connecting user's schema,
    # so the same user rides both the write and the reads.
    src.write.format("jdbc").options(
        url=url, driver=driver, dbtable="metrics", user="app", password="app",
        createTableColumnTypes="id BIGINT, score DOUBLE, grp VARCHAR(16)",
    ).save()

    back = jdbc.read_table(
        spark, "metrics", url=url, driver=driver, user="app", password="app",
        partition_column="id", lower_bound=0, upper_bound=100, num_partitions=4,
    )
    assert back.rdd.getNumPartitions() == 4  # parallel pull, not one connection
    got = back.orderBy("id").collect()
    assert len(got) == 100
    assert got[10].id == 10 and got[10].score == 15.0 and got[10].grp == "u3"
    # Catalyst filter pushdown reaches the JDBC scan
    assert back.filter("id >= 90").count() == 10

    agg = jdbc.read_query(
        spark,
        # Spark's JDBC writer quotes column names, so Derby stores them
        # case-sensitively — the pushdown query must quote them too
        'SELECT "grp" AS "grp", COUNT(*) AS "n" FROM metrics GROUP BY "grp"',
        url=url, driver=driver, user="app", password="app",
    )
    rows = {r.grp: r.n for r in agg.collect()}
    assert sum(rows.values()) == 100 and rows["u0"] == 15


def test_zorder_layout_prunes_both_dimensions(spark, tmp_path):
    """Z-ordered layout must (a) preserve the data exactly and (b) make
    file/row-group min-max stats selective on BOTH interleaved dimensions,
    where the natural time-sorted layout is selective on time only."""
    from airdatapipeline_spark.io import load_table
    from airdatapipeline_spark.sources import layout

    ev = load_table(spark, SF_SMALL, "events")
    natural = str(tmp_path / "events_natural")
    zord = str(tmp_path / "events_zorder")
    # natural layout: arrival (time) order — the shape every append-only
    # ingest produces
    ev.orderBy("ts").coalesce(1).write.mode("overwrite").parquet(natural)
    # re-split the single time-sorted file into 8 time-contiguous files
    spark.read.parquet(natural).repartitionByRange(8, "ts").sortWithinPartitions(
        "ts"
    ).write.mode("overwrite").parquet(natural + "_split")
    layout.zorder_events(spark, SF_SMALL, zord, n_files=8)

    back = spark.read.parquet(zord)
    assert back.count() == ev.count()
    assert (
        back.agg(F.sum("event_id")).collect()[0][0] == ev.agg(F.sum("event_id")).collect()[0][0]
    )

    # point predicate on user_id: the time-sorted layout cannot skip
    # anything (every file spans the full user range); z-order must skip
    uid = 7
    nat_match, nat_total = layout.rowgroups_matching_point(natural + "_split", "user_id", uid)
    z_match, z_total = layout.rowgroups_matching_point(zord, "user_id", uid)
    assert nat_match == nat_total, "time-sorted baseline unexpectedly pruned user_id"
    assert z_match < z_total, "z-order produced no user_id skipping"
    # the time dimension must still skip too (z-order trades SOME time
    # locality, never all of it) — probe an hour that actually occurs
    mid_hour = back.agg(F.expr("percentile_approx(__hour, 0.5)")).collect()[0][0]
    z_hmatch, z_htotal = layout.rowgroups_matching_point(zord, "__hour", int(mid_hour))
    assert 0 < z_hmatch < z_htotal, "z-order lost all time-dimension skipping"


def test_jobs_expectations_gate(spark):
    """The expectations CLI gates: exit 0 on the rules the data satisfies,
    exit 1 under --strict (which includes the deliberately-failing demo
    rules) — the dbt-test exit-code contract schedulers key on."""
    import contextlib
    import io
    import json

    from airdatapipeline_spark import jobs

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = jobs.main(["expectations", "--sf-dir", SF_SMALL])
    d = json.loads(buf.getvalue().strip().splitlines()[-1])
    assert rc == 0 and d["failed"] == []
    assert len(d["rules"]) == 10
    buf2 = io.StringIO()
    with contextlib.redirect_stdout(buf2):
        rc2 = jobs.main(["expectations", "--sf-dir", SF_SMALL, "--strict"])
    d2 = json.loads(buf2.getvalue().strip().splitlines()[-1])
    assert rc2 == 1
    assert set(d2["failed"]) == {"orders_status_domain", "lineitem_discount_cap"}


def test_curated_ingest_dedups_across_micro_batches(spark, tmp_path):
    """Streaming curation gate: the exact-dedup state must carry ACROSS
    micro-batches — a second file that redelivers batch 1's texts under new
    doc_ids adds nothing, and per-file triggers force the two-batch replay
    (one big batch would hide a missing state store)."""
    import shutil as sh

    import pyspark.sql.functions as F

    from airdatapipeline_spark.streaming import events as se

    sf = "/root/testdata/sf0.001"
    d = spark.read.parquet(f"{sf}/documents.parquet")
    first = d.filter(F.col("doc_id") < 250)
    rest = d.filter(F.col("doc_id") >= 250)
    redelivered = first.withColumn("doc_id", F.col("doc_id") + 100000)

    def one_file(df, name):
        staging = tmp_path / f"stage_{name}"
        df.coalesce(1).write.mode("overwrite").parquet(str(staging))
        part = next(staging.glob("part-*.parquet"))
        return part

    landing = tmp_path / "landing"
    landing.mkdir()
    sh.copy(one_file(first, "b1"), landing / "batch1.parquet")
    sh.copy(one_file(redelivered.unionByName(rest), "b2"), landing / "batch2.parquet")

    out = se.curated_ingest_append(
        spark, sf, landing_dir=str(landing), max_files_per_trigger=1
    ).toPandas()
    assert len(out) == out.fingerprint.nunique(), "duplicate fingerprint committed"

    # single-batch replay of the same content is the ground truth set
    combined = tmp_path / "landing_all"
    combined.mkdir()
    sh.copy(one_file(first.unionByName(rest), "all"), combined / "all.parquet")
    truth = se.curated_ingest_append(spark, sf, landing_dir=str(combined)).toPandas()
    assert sorted(out.fingerprint) == sorted(truth.fingerprint)


def test_jobs_cli_shard_lifecycle(spark, tmp_path):
    """The shards CLI verb drives the whole lifecycle end to end: write ->
    append (no-op redelivery) -> manifest -> verify (exit 0) -> delete ->
    stale manifest gone -> manifest -> verify again."""
    import contextlib
    import io as _io
    import json
    import os

    import pyspark.sql.functions as F

    from airdatapipeline_spark import jobs
    from airdatapipeline_spark.io import load_table

    layout = str(tmp_path / "layout")
    ids_path = str(tmp_path / "doomed.parquet")
    load_table(spark, SF_SMALL, "documents").filter(
        F.col("doc_id") % 9 == 0
    ).select("doc_id").write.parquet(ids_path)

    def run(argv):
        buf = _io.StringIO()
        with contextlib.redirect_stdout(buf):
            rc = jobs.main(argv)
        return rc, json.loads(buf.getvalue())

    rc, out = run(["shards", "write", "--layout", layout, "--sf-dir", SF_SMALL])
    assert rc == 0 and out["n_shards"] > 0
    rc, out = run(["shards", "append", "--layout", layout, "--sf-dir", SF_SMALL])
    assert rc == 0 and out["n_new_docs"] == 0  # full redelivery is a no-op
    rc, out = run(["shards", "manifest", "--layout", layout])
    assert rc == 0 and os.path.exists(out["manifest"])
    rc, out = run(["shards", "verify", "--layout", layout])
    assert rc == 0 and out["bad"] == []
    rc, out = run(["shards", "delete", "--layout", layout, "--ids", ids_path])
    assert rc == 0 and out["n_deleted"] > 0
    assert not os.path.exists(os.path.join(layout, "_manifest"))  # invalidated
    rc, out = run(["shards", "vacuum", "--layout", layout, "--ids", ids_path])
    assert rc == 0 and out["n_vacuumed"] > 0 and out["n_remaining"] == 0
    rc, _ = run(["shards", "manifest", "--layout", layout])
    assert rc == 0
    rc, out = run(["shards", "verify", "--layout", layout])
    assert rc == 0 and out["bad"] == []
    # trainer-facing restart path (VERDICT-r6 item 7): schedule the lived
    # layout (post-delete generation ids), then seek a resume window
    sched_out = str(tmp_path / "sched")
    rc, out = run([
        "shards", "schedule", "--layout", layout,
        "--epochs", "2", "--out", sched_out,
    ])
    assert rc == 0 and out["epochs"] == 2 and os.path.exists(sched_out)
    per_epoch = set(out["shards_per_epoch"].values())
    assert len(per_epoch) == 1, "every epoch must visit every shard exactly once"
    rc, out = run([
        "shards", "slice", "--layout", layout,
        "--epoch", "1", "--start-tok", "0", "--end-tok", "4096",
    ])
    assert rc == 0 and out["covering_shards"]
    first = out["covering_shards"][0]
    assert first["order_rank"] == 1 and first["epoch_start_off"] == 0


def test_shards_cli_rejects_nonpositive_budget(spark, tmp_path):
    """ADVICE-r7: an explicit `--budget 0` must error out of argparse, not
    silently become the default token budget."""
    import pytest

    from airdatapipeline_spark import jobs

    with pytest.raises(SystemExit) as exc:
        jobs.main([
            "shards", "write", "--layout", str(tmp_path / "layout"),
            "--sf-dir", SF_SMALL, "--budget", "0",
        ])
    assert exc.value.code == 2  # argparse usage error


def test_lm_gated_ingest_idempotent_under_redelivery(spark, tmp_path):
    """The streaming LM gate's committed-ids anti-join: the same landing
    file delivered through TWO separate stream runs (fresh checkpoint, so
    the source replays it — the poison case exactly-once file sources
    cannot cover) must not duplicate any committed doc, and the committed
    set must equal the batch filter's keep set both times."""
    import shutil

    import pyspark.sql.functions as F

    from airdatapipeline_spark.operators.text import lm_perplexity_filter
    from airdatapipeline_spark.streaming import events as se

    sf = "/root/testdata/sf0.001"
    landing = str(tmp_path / "landing")
    shutil.os.makedirs(landing)
    shutil.copy(f"{sf}/documents.parquet", landing)

    first = se.lm_gated_ingest_append(spark, sf, landing_dir=landing)
    want = (
        lm_perplexity_filter(spark, sf).filter(F.col("keep")).drop("keep")
    )
    assert first.count() == want.count()
    assert first.select("doc_id").distinct().count() == first.count()

    # within-run redelivery: the same file under two names, one file per
    # micro-batch — the anti-join must commit each doc once
    landing2 = str(tmp_path / "landing2")
    shutil.os.makedirs(landing2)
    shutil.copy(f"{sf}/documents.parquet", f"{landing2}/a.parquet")
    shutil.copy(f"{sf}/documents.parquet", f"{landing2}/b.parquet")
    dup = se.lm_gated_ingest_append(
        spark, sf, landing_dir=landing2, max_files_per_trigger=1
    )
    assert dup.count() == want.count()
    assert dup.select("doc_id").distinct().count() == dup.count()
    assert dup.join(want.select("doc_id"), "doc_id", "left_anti").count() == 0

    # CROSS-RUN redelivery against the SAME pinned sink (r9 review seam):
    # a second stream run with a FRESH checkpoint replays the whole
    # landing dir — the poison case the file source's exactly-once cannot
    # cover — and the committed-ids anti-join must hold the line
    out2 = str(tmp_path / "sink")
    shutil.os.makedirs(out2)
    from airdatapipeline_spark.operators.text import lm_model_tables

    model = lm_model_tables(spark, sf)  # trained once, reused by both runs
    se.lm_gated_ingest_append(
        spark, sf, landing_dir=landing, model=model, out_dir=out2,
        checkpoint_dir=str(tmp_path / "ckpt_run1"),
    )
    redelivered = se.lm_gated_ingest_append(
        spark, sf, landing_dir=landing, model=model, out_dir=out2,
        checkpoint_dir=str(tmp_path / "ckpt_run2"),
    )
    assert redelivered.count() == want.count()
    assert redelivered.select("doc_id").distinct().count() == redelivered.count()


def test_kmeans_assign_ingest_idempotent_under_redelivery(spark, tmp_path):
    """The streaming k-means assignment gate, same contract as the LM
    gate: within-run redelivery (same file twice, one per micro-batch)
    and CROSS-RUN redelivery (fresh checkpoint, same pinned sink) must
    not duplicate any committed vector, and the committed set must equal
    the batch full-corpus assignment under the SAME trained centroids."""
    import shutil

    from airdatapipeline_spark.io import load_table
    from airdatapipeline_spark.operators.similarity import _km_assign, kmeans_train, with_sq8
    from airdatapipeline_spark.streaming import events as se

    sf = SF_SMALL
    q = with_sq8(load_table(spark, sf, "embeddings")).select("vec_id", "q")
    cents = kmeans_train(q)
    want = _km_assign(q, cents).select("vec_id")

    landing = str(tmp_path / "landing")
    shutil.os.makedirs(landing)
    shutil.copy(f"{sf}/embeddings.parquet", f"{landing}/a.parquet")
    shutil.copy(f"{sf}/embeddings.parquet", f"{landing}/b.parquet")
    dup = se.kmeans_assign_ingest_append(
        spark, sf, landing_dir=landing, cents=cents, max_files_per_trigger=1
    )
    assert dup.count() == want.count()
    assert dup.select("vec_id").distinct().count() == dup.count()
    assert dup.join(want, "vec_id", "left_anti").count() == 0

    out = str(tmp_path / "sink")
    shutil.os.makedirs(out)
    se.kmeans_assign_ingest_append(
        spark, sf, landing_dir=landing, cents=cents, out_dir=out,
        checkpoint_dir=str(tmp_path / "ckpt1"),
    )
    redelivered = se.kmeans_assign_ingest_append(
        spark, sf, landing_dir=landing, cents=cents, out_dir=out,
        checkpoint_dir=str(tmp_path / "ckpt2"),
    )
    assert redelivered.count() == want.count()
    assert redelivered.select("vec_id").distinct().count() == want.count()


def test_hll_register_ingest_redelivery_free(spark, tmp_path):
    """The streaming HLL sketch's merge contract: redelivery needs NO
    committed-key bookkeeping because max-merge is commutative and
    idempotent. Within-run (same file twice, one per micro-batch) AND
    cross-run (fresh checkpoint, same pinned sink — the full landing dir
    replays and appends duplicate partial registers) must both produce
    BIT-IDENTICAL estimates to the single-delivery run, and the drained
    estimate must equal the batch sketch over the same corpus."""
    import shutil

    from airdatapipeline_spark.operators import sketches as sk
    from airdatapipeline_spark.streaming import events as se

    sf = SF_SMALL
    batch = {
        r["scope"]: (r["hll_estimate"], r["zero_registers"])
        for r in sk.hll_shingle_cardinality(spark, sf).collect()
    }

    landing = str(tmp_path / "landing")
    shutil.os.makedirs(landing)
    shutil.copy(f"{sf}/documents.parquet", f"{landing}/a.parquet")
    once = {
        r["scope"]: (r["hll_estimate"], r["zero_registers"])
        for r in se.hll_register_ingest_append(spark, sf, landing_dir=landing).collect()
    }
    assert once == {k: (v[0], v[1]) for k, v in batch.items()}

    # within-run redelivery: same file under two names, one per batch
    landing2 = str(tmp_path / "landing2")
    shutil.os.makedirs(landing2)
    shutil.copy(f"{sf}/documents.parquet", f"{landing2}/a.parquet")
    shutil.copy(f"{sf}/documents.parquet", f"{landing2}/b.parquet")
    dup = {
        r["scope"]: (r["hll_estimate"], r["zero_registers"])
        for r in se.hll_register_ingest_append(
            spark, sf, landing_dir=landing2, max_files_per_trigger=1
        ).collect()
    }
    assert dup == once

    # cross-run redelivery against the SAME pinned sink, fresh checkpoint:
    # the register store now holds every partial register TWICE — the
    # max-merge must absorb it with zero drift
    out = str(tmp_path / "sink")
    shutil.os.makedirs(out)
    se.hll_register_ingest_append(
        spark, sf, landing_dir=landing, out_dir=out,
        checkpoint_dir=str(tmp_path / "ckpt1"),
    )
    redelivered = {
        r["scope"]: (r["hll_estimate"], r["zero_registers"])
        for r in se.hll_register_ingest_append(
            spark, sf, landing_dir=landing, out_dir=out,
            checkpoint_dir=str(tmp_path / "ckpt2"),
        ).collect()
    }
    assert redelivered == once


def test_quantile_ingest_redelivery_content_keyed(spark, tmp_path):
    """The streaming quantile sketch's merge contract (VERDICT-r9 item 7):
    SUM-merge is not idempotent, so partial histogram counters are keyed by
    a CONTENT fingerprint of their source file and max-merged per key
    before the cross-file SUM. Within-run (same file twice, one per
    micro-batch, under DIFFERENT names) AND cross-run (fresh checkpoint,
    same pinned sink — the full landing dir replays and appends duplicate
    partial counters) must both produce BIT-IDENTICAL estimates to the
    single-delivery run, and the drained estimate must equal the batch
    sketch's probe over the same corpus."""
    import shutil

    from airdatapipeline_spark.operators import sketches as sk
    from airdatapipeline_spark.streaming import events as se

    sf = SF_SMALL
    batch = {
        (r["event_type"], r["q"]): (r["n_events"], r["est"])
        for r in sk.quantile_histogram_sketch(spark, sf).collect()
    }

    landing = str(tmp_path / "landing")
    shutil.os.makedirs(landing)
    shutil.copy(f"{sf}/events.parquet", f"{landing}/a.parquet")
    once = {
        (r["event_type"], r["q"]): (r["n_events"], r["est"])
        for r in se.quantile_ingest_append(spark, sf, landing_dir=landing).collect()
    }
    assert once == batch  # streaming merge-on-read == batch sketch probe

    # within-run redelivery: same content under two names, one per batch —
    # the path-independent content fingerprint must collapse them
    landing2 = str(tmp_path / "landing2")
    shutil.os.makedirs(landing2)
    shutil.copy(f"{sf}/events.parquet", f"{landing2}/a.parquet")
    shutil.copy(f"{sf}/events.parquet", f"{landing2}/b.parquet")
    dup = {
        (r["event_type"], r["q"]): (r["n_events"], r["est"])
        for r in se.quantile_ingest_append(
            spark, sf, landing_dir=landing2, max_files_per_trigger=1
        ).collect()
    }
    assert dup == once

    # cross-run redelivery against the SAME pinned sink, fresh checkpoint:
    # the counter store now holds every partial counter TWICE — the
    # per-fingerprint max-merge must absorb it with zero drift
    out = str(tmp_path / "sink")
    shutil.os.makedirs(out)
    se.quantile_ingest_append(
        spark, sf, landing_dir=landing, out_dir=out,
        checkpoint_dir=str(tmp_path / "ckpt1"),
    )
    redelivered = {
        (r["event_type"], r["q"]): (r["n_events"], r["est"])
        for r in se.quantile_ingest_append(
            spark, sf, landing_dir=landing, out_dir=out,
            checkpoint_dir=str(tmp_path / "ckpt2"),
        ).collect()
    }
    assert redelivered == once


def test_content_fingerprint_survives_pairwise_duplicate_cancellation(spark, tmp_path):
    """ADVICE-r10: bit_xor alone cancels pairwise-duplicated rows (two
    identical rows XOR to 0), so two DISTINCT files built as
    {r, r, shared} xor to the same value and carry the same row count —
    under the old fingerprint the gate's max-merge would silently
    collapse one file's counters into the other's. The mixed-in bounded
    SUM combinator must keep such files distinct: the drained gate books
    all six arriving docs, not three."""
    import glob
    import shutil

    from pyspark.sql import functions as F

    from airdatapipeline_spark.streaming import events as se

    sf = str(tmp_path / "sf")
    shutil.os.makedirs(sf)
    spark.createDataFrame(
        [(0, "ref doc one"), (2, "ref doc two")], "doc_id long, text string"
    ).coalesce(1).write.parquet(f"{sf}/documents.parquet")

    # same char/token lengths on the non-shared rows so the two files'
    # per-bin counters are IDENTICAL — a fingerprint collision is then
    # indistinguishable from redelivery and max-merge halves the mass
    file_a = [(1, "x"), (1, "x"), (3, "z")]
    file_b = [(5, "y"), (5, "y"), (3, "z")]
    landing = str(tmp_path / "landing")
    shutil.os.makedirs(landing)
    for name, rows in (("a", file_a), ("b", file_b)):
        d = str(tmp_path / f"stage_{name}")
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.parquet(d)
        shutil.copy(glob.glob(f"{d}/*.parquet")[0], f"{landing}/{name}.parquet")

    # the adversarial premise: the OLD xor^count fingerprint collides
    xors = [
        spark.createDataFrame(rows, "doc_id long, text string")
        .agg(F.expr("bit_xor(xxhash64(doc_id, text)) ^ count(*)"))
        .collect()[0][0]
        for rows in (file_a, file_b)
    ]
    assert xors[0] == xors[1]

    got = se.drift_gate_ingest_append(spark, sf, landing_dir=landing).collect()
    for metric in ("tokens", "chars"):
        assert sum(r.n_b for r in got if r.metric == metric) == 6, metric


def test_drift_gate_ingest_redelivery_content_keyed(spark, tmp_path):
    """The streaming drift gate's merge contract (the quantile twin's
    idiom): arriving-side counters are SUM-merged, so they are keyed by a
    content fingerprint of the source file and max-merged per key first.
    Within-run (same content, two names, one per micro-batch) AND
    cross-run (fresh checkpoint, same pinned sink) redelivery must both
    produce BIT-IDENTICAL drift rows, and the drained gate must equal the
    batch snapshot_drift over the same corpus."""
    import shutil

    from airdatapipeline_spark.operators import drift as dr
    from airdatapipeline_spark.streaming import events as se

    sf = SF_SMALL
    key = lambda r: (r["metric"], r["bin"])  # noqa: E731
    # retrain_alert rides the comparison: redelivered content must not
    # flap the gate's yes/no, not just its scores (VERDICT-r10 item 6)
    val = lambda r: (  # noqa: E731
        r["n_a"], r["n_b"], r["p_a"], r["p_b"], r["tvd_num"], r["tvd"],
        r["retrain_alert"],
    )
    batch = {key(r): val(r) for r in dr.snapshot_drift(spark, sf).collect()}

    landing = str(tmp_path / "landing")
    shutil.os.makedirs(landing)
    shutil.copy(f"{sf}/documents.parquet", f"{landing}/a.parquet")
    once = {
        key(r): val(r)
        for r in se.drift_gate_ingest_append(spark, sf, landing_dir=landing).collect()
    }
    assert once == batch  # drained gate == batch retrain check

    landing2 = str(tmp_path / "landing2")
    shutil.os.makedirs(landing2)
    shutil.copy(f"{sf}/documents.parquet", f"{landing2}/a.parquet")
    shutil.copy(f"{sf}/documents.parquet", f"{landing2}/b.parquet")
    dup = {
        key(r): val(r)
        for r in se.drift_gate_ingest_append(
            spark, sf, landing_dir=landing2, max_files_per_trigger=1
        ).collect()
    }
    assert dup == once

    out = str(tmp_path / "sink")
    shutil.os.makedirs(out)
    se.drift_gate_ingest_append(
        spark, sf, landing_dir=landing, out_dir=out,
        checkpoint_dir=str(tmp_path / "ckpt1"),
    )
    redelivered = {
        key(r): val(r)
        for r in se.drift_gate_ingest_append(
            spark, sf, landing_dir=landing, out_dir=out,
            checkpoint_dir=str(tmp_path / "ckpt2"),
        ).collect()
    }
    assert redelivered == once


def test_kmv_register_ingest_redelivery_free(spark, tmp_path):
    """The streaming KMV sketch's merge contract: set-union + re-cut is
    idempotent with NO bookkeeping (dense_rank's duplicates-share-a-rank
    cut + distinct absorb redelivered rows), and the Beyer et al.
    superset property makes the union re-cut EXACTLY the batch sketch.
    Within-run (same content, two names, one per micro-batch) AND
    cross-run (fresh checkpoint, same pinned sink) redelivery must both
    produce BIT-IDENTICAL estimates equal to the batch query's sketch
    columns."""
    import shutil

    from airdatapipeline_spark.operators import sketches as sk
    from airdatapipeline_spark.streaming import events as se

    sf = SF_SMALL
    key = lambda r: (r["source_a"], r["source_b"])  # noqa: E731
    val = lambda r: (  # noqa: E731
        r["sketch_union_size"], r["sketch_overlap"], r["jaccard_est"], r["union_est"]
    )
    batch = {key(r): val(r) for r in sk.kmv_source_overlap(spark, sf).collect()}

    landing = str(tmp_path / "landing")
    shutil.os.makedirs(landing)
    shutil.copy(f"{sf}/documents.parquet", f"{landing}/a.parquet")
    once = {
        key(r): val(r)
        for r in se.kmv_register_ingest_append(spark, sf, landing_dir=landing).collect()
    }
    assert once == batch  # drained union re-cut == batch sketch

    landing2 = str(tmp_path / "landing2")
    shutil.os.makedirs(landing2)
    shutil.copy(f"{sf}/documents.parquet", f"{landing2}/a.parquet")
    shutil.copy(f"{sf}/documents.parquet", f"{landing2}/b.parquet")
    dup = {
        key(r): val(r)
        for r in se.kmv_register_ingest_append(
            spark, sf, landing_dir=landing2, max_files_per_trigger=1
        ).collect()
    }
    assert dup == once

    out = str(tmp_path / "sink")
    shutil.os.makedirs(out)
    se.kmv_register_ingest_append(
        spark, sf, landing_dir=landing, out_dir=out,
        checkpoint_dir=str(tmp_path / "ckpt1"),
    )
    redelivered = {
        key(r): val(r)
        for r in se.kmv_register_ingest_append(
            spark, sf, landing_dir=landing, out_dir=out,
            checkpoint_dir=str(tmp_path / "ckpt2"),
        ).collect()
    }
    assert redelivered == once


# --- versioned table layer (r12: manifest log, time travel, COW) --------------


def _vt_fixture(spark, tmp_path):
    from airdatapipeline_spark.sources import versioned as vt

    rows = [(k, f"n{k}", float(k * 10)) for k in range(1, 9)]
    df = spark.createDataFrame(rows, "k long, name string, bal double")
    # 4 files of 2 rows each so COW file pruning has something to prune
    t = vt.create_table(spark, str(tmp_path / "tbl"), df.repartition(4))
    return vt, t


def test_versioned_create_append_time_travel(spark, tmp_path):
    vt, t = _vt_fixture(spark, tmp_path)
    assert t.latest_version() == 1 and t.read().count() == 8
    t.append(spark.createDataFrame([(100, "x", 1.0)], "k long, name string, bal double"))
    assert t.latest_version() == 2
    # time travel: v1 unchanged, v2 sees the append
    assert t.read(1).count() == 8
    assert {r.k for r in t.read(2).collect()} == set(range(1, 9)) | {100}
    hist = {r.version: (r.op, r.n_rows) for r in t.history().collect()}
    assert hist == {1: ("create", 8), 2: ("append", 9)}


def test_versioned_cow_delete_prunes_files(spark, tmp_path):
    """File-granular copy-on-write: deleting rows rewrites ONLY the files
    containing them — every other file carries over by the SAME relative
    path, and a NULL predicate row is kept (SQL DELETE semantics)."""
    vt, t = _vt_fixture(spark, tmp_path)
    before = t.manifest()
    # NULL-predicate row: k=2 -> predicate NULL (division guard via when)
    pred = F.when(F.col("k") != 2, F.col("k").isin(3, 7)).otherwise(F.lit(None))
    t.delete_where(pred)
    after = t.manifest()
    assert {r.k for r in t.read().collect()} == {1, 2, 4, 5, 6, 8}
    carried = set(before["files"]) & set(after["files"])
    rewritten = set(before["files"]) - set(after["files"])
    # only the files that held k=3 / k=7 were rewritten
    assert rewritten and carried, (before["files"], after["files"])
    # pruning is partial: the rewrite touched strictly fewer rows than the
    # table holds (repartition spreads 8 rows over 4 files unevenly, so
    # the exact hit-file row count varies — the bound is what matters)
    assert sum(before["file_rows"][f] for f in rewritten) < before["n_rows"]
    # time travel still serves the pre-delete snapshot
    assert t.read(1).count() == 8


def test_versioned_merge_matches_full_snapshot_merge(spark, tmp_path):
    """COW merge equivalence: file-pruned MERGE == merge_into over the
    full snapshot (any file holding a matched key is a hit file), with
    source-only keys inserted."""
    from airdatapipeline_spark.operators.merge import merge_into

    vt, t = _vt_fixture(spark, tmp_path)
    src = spark.createDataFrame(
        [(3, "upd3", 999.0), (7, "upd7", 777.0), (50, "new", 5.0)],
        "k long, name string, bal double",
    )
    expected = {
        (r.k, r.name, r.bal)
        for r in merge_into(t.read(), src, on=["k"]).collect()
    }
    before = t.manifest()
    t.merge(src, on=["k"])
    after = t.manifest()
    got = {(r.k, r.name, r.bal) for r in t.read().collect()}
    assert got == expected
    assert set(before["files"]) & set(after["files"]), "untouched files must carry over"


def test_versioned_rollback_and_change_feed(spark, tmp_path):
    vt, t = _vt_fixture(spark, tmp_path)
    t.delete_where(F.col("k") <= 4)  # v2
    t.rollback(1)  # v3: contents == v1, history append-only
    assert t.read().count() == 8
    assert [r.op for r in t.history().collect()] == ["create", "delete", "rollback"]
    # change feed v1 -> v2: keys 1-4 removed, rest unchanged
    feed = {r.k: r.change for r in t.changes(["k"], 1, 2).collect()}
    assert feed == {k: ("removed" if k <= 4 else "unchanged") for k in range(1, 9)}


def test_versioned_concurrent_commit_loses_cleanly(spark, tmp_path):
    """Two racing writers serialize on the create-exclusive manifest link:
    the loser gets ConcurrentWriteError and NO partial state becomes
    visible (its data files are orphans, removed by vacuum)."""
    import os

    vt, t = _vt_fixture(spark, tmp_path)
    # simulate the race: the "other writer" commits version 2 first
    other = vt.VersionedTable(spark, t.path)
    other.append(spark.createDataFrame([(200, "o", 2.0)], "k long, name string, bal double"))
    # our writer computed against a STALE view: it still believes latest
    # is v1, so _commit targets v2 — the slot the other writer just took.
    # (the real race window is between latest_version() and link(2);
    # pinning latest_version models a writer inside that window)
    man1 = t.manifest(1)
    t.latest_version = lambda: 1
    with pytest.raises(vt.ConcurrentWriteError):
        t._commit("append", dict(man1["file_rows"]), man1["schema"])
    del t.latest_version
    # the winning commit is intact and no partial state is visible
    assert t.read().count() == 9
    assert t.latest_version() == 2


def test_versioned_crash_leaves_no_torn_state_and_vacuum_reclaims(spark, tmp_path):
    """A writer that dies between data write and manifest link leaves only
    unreferenced files: readers at every version are unaffected, and
    vacuum() removes exactly the orphans (never time-travel files)."""
    vt, t = _vt_fixture(spark, tmp_path)
    t.delete_where(F.col("k") == 1)  # v2 keeps some v1 files referenced
    # simulate the crash: files written, no manifest
    orphans, _stats = t._write_files(
        spark.createDataFrame([(300, "crash", 3.0)], "k long, name string, bal double")
    )
    assert t.read().count() == 7  # invisible to readers
    removed = t.vacuum()
    assert set(removed) == set(orphans)
    assert t.read(1).count() == 8 and t.read(2).count() == 7  # history intact
    assert t.vacuum() == []  # idempotent


def test_versioned_compact_and_retention(spark, tmp_path):
    """OPTIMIZE + retention close the small-file loop: compact() rewrites
    the current snapshot into one file as a new version with contents
    bit-identical; expire_versions() shrinks the time-travel window, and
    vacuum() then reclaims exactly the files no surviving version
    references (the compacted-away originals), never the live ones."""
    vt, t = _vt_fixture(spark, tmp_path)
    t.append(spark.createDataFrame([(9, "n9", 90.0)], "k long, name string, bal double"))
    before = {(r.k, r.name, r.bal) for r in t.read().collect()}
    v = t.compact(target_files=1)
    assert t.manifest(v)["op"] == "compact" and len(t.manifest(v)["files"]) == 1
    assert {(r.k, r.name, r.bal) for r in t.read().collect()} == before
    # nothing reclaimable yet: v1/v2 still reference the original files
    assert t.vacuum() == []
    expired = t.expire_versions(keep_last=1)
    assert expired == [1, 2]
    removed = t.vacuum()
    assert removed, "compacted-away originals must be reclaimed"
    assert {(r.k, r.name, r.bal) for r in t.read().collect()} == before
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        t.manifest(1)
    assert [r.version for r in t.history().collect()] == [v]


def test_versioned_stream_ingest_one_version_per_batch_and_redelivery_noop(spark, tmp_path):
    """Streaming-to-versioned ingest: maxFilesPerTrigger=1 over a 3-file
    landing dir commits exactly one append version per micro-batch (each
    time-travel addressable); re-running with a FRESH checkpoint (the
    lost-checkpoint redelivery case) re-delivers every file but commits
    NOTHING — the content fingerprint in each manifest's extra makes the
    replay a no-op."""
    import shutil

    from airdatapipeline_spark.sources import versioned as vt
    from airdatapipeline_spark.streaming import events as se

    # a private landing dir with 3 single-row files
    land = str(tmp_path / "landing")
    shutil.os.makedirs(land)
    sf = str(tmp_path / "sf")
    shutil.os.makedirs(sf)
    rows = [(i, f"text {i}", "en", f"s{i % 2}", 6) for i in range(3)]
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(f"{sf}/documents.parquet")
    for i in range(3):
        spark.createDataFrame([rows[i]], schema).coalesce(1).write.parquet(
            f"{land}/f{i}"
        )
    # file-source streams consume a flat dir of files; stage each part file
    flat = str(tmp_path / "flat")
    shutil.os.makedirs(flat)
    n = 0
    for i in range(3):
        for f in shutil.os.listdir(f"{land}/f{i}"):
            if f.endswith(".parquet"):
                shutil.copy(f"{land}/f{i}/{f}", f"{flat}/part{n}.parquet")
                n += 1
    tdir = str(tmp_path / "tbl")
    out = se.versioned_ingest_append(
        spark, sf, landing_dir=flat, table_dir=tdir, max_files_per_trigger=1,
        checkpoint_dir=str(tmp_path / "ckpt1"),
    )
    assert out.count() == 3
    t = vt.VersionedTable(spark, tdir)
    hist = [(r.op, r.n_rows) for r in t.history().collect()]
    assert hist == [("create", 0), ("append", 1), ("append", 2), ("append", 3)]
    # redelivery: fresh checkpoint replays all 3 files -> zero new versions
    out2 = se.versioned_ingest_append(
        spark, sf, landing_dir=flat, table_dir=tdir, max_files_per_trigger=1,
        checkpoint_dir=str(tmp_path / "ckpt2"),
    )
    assert out2.count() == 3
    assert t.latest_version() == 4  # unchanged


def test_versioned_manifest_stats_prune_files(spark, tmp_path):
    """Manifest file skipping: with stats_cols=('k',), read(prune={'k':
    (lo, hi)}) plans strictly fewer files than the full snapshot while
    still returning a row SUPERSET of the range (skipping is an
    optimization, never a filter); the caller's own filter then gives
    exact results. Stats survive COW commits on untouched files."""
    from airdatapipeline_spark.sources import versioned as vt

    rows = [(k, float(k)) for k in range(40)]
    df = spark.createDataFrame(rows, "k long, v double").repartitionByRange(4, "k")
    t = vt.create_table(spark, str(tmp_path / "tbl"), df, stats_cols=("k",))
    man = t.manifest()
    assert len(man["files"]) == 4 and all(
        man["file_stats"][f]["k"] for f in man["files"]
    )
    full = t.read()
    pruned = t.read(prune={"k": (10, 12)})
    # the pruned plan reads fewer source files
    n_full = full.select(F.input_file_name()).distinct().count()
    n_pruned = pruned.select(F.input_file_name()).distinct().count()
    assert n_pruned < n_full
    got = {r.k for r in pruned.filter(F.col("k").between(10, 12)).collect()}
    assert got == {10, 11, 12}
    # superset property: pruned rows contain every in-range row
    assert {r.k for r in pruned.collect()} >= got
    # stats propagate through a COW delete for carried-over files
    t.delete_where(F.col("k") == 0)
    man2 = t.manifest()
    carried = set(man["files"]) & set(man2["files"])
    assert carried and all(man2["file_stats"][f]["k"] for f in carried)
    # a column with no recorded stats can never skip: same rows as full
    assert t.read(prune={"v": (0.0, 1.0)}).count() == t.read().count()


def test_versioned_schema_evolution_additive(spark, tmp_path):
    """Additive schema evolution: an evolving append widens the committed
    schema; historical files read NULL for the new column, time travel to
    the pre-evolution version shows the OLD schema, and a type change on
    an existing column is refused."""
    from airdatapipeline_spark.sources import versioned as vt

    t = vt.create_table(
        spark, str(tmp_path / "tbl"),
        spark.createDataFrame([(1, "a")], "k long, name string"),
    )
    batch2 = spark.createDataFrame([(2, "b", 0.9)], "k long, name string, score double")
    with pytest.raises(ValueError, match="merge_schema=True"):
        t.append(batch2)
    t.append(batch2, merge_schema=True)
    cur = {r.k: (r.name, r.score) for r in t.read().collect()}
    assert cur == {1: ("a", None), 2: ("b", 0.9)}  # old file -> NULL score
    assert t.read(1).columns == ["k", "name"]  # time travel: old schema
    with pytest.raises(ValueError, match="additive-only"):
        t.append(
            spark.createDataFrame([(3, 5, 0.1)], "k long, name long, score double"),
            merge_schema=True,
        )
    with pytest.raises(ValueError, match="missing columns"):
        t.append(spark.createDataFrame([(4,)], "k long"), merge_schema=True)


def test_versioned_commit_expectations_gate(spark, tmp_path):
    """Writer-side quality gate: an append whose batch violates any
    expectation raises CommitRejected with per-rule counts and commits
    NOTHING (no new version, no orphan files — the gate runs before the
    write); a clean batch with the same rules commits normally. A NULL
    predicate counts as a violation (must be TRUE, not merely not-FALSE)."""
    from airdatapipeline_spark.sources import versioned as vt

    t = vt.create_table(
        spark, str(tmp_path / "tbl"),
        spark.createDataFrame([(1, 10.0)], "k long, bal double"),
    )
    rules = [
        ("k_positive", F.col("k") > 0),
        ("bal_not_null", F.col("bal").isNotNull()),
    ]
    bad = spark.createDataFrame([(-2, None), (3, 5.0)], "k long, bal double")
    with pytest.raises(vt.CommitRejected) as exc:
        t.append(bad, expect=rules)
    assert exc.value.violations == {"k_positive": 1, "bal_not_null": 1}
    assert t.latest_version() == 1 and t.vacuum() == []  # nothing written
    t.append(spark.createDataFrame([(3, 5.0)], "k long, bal double"), expect=rules)
    assert t.latest_version() == 2 and t.read().count() == 2
