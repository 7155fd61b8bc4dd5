"""Structured Streaming over the file sources (events, documents,
embeddings).

The reference is purely scheduled batch (SURVEY.md §2.11) — its
incremental-by-set-difference pattern is exactly what Structured Streaming's
file source replaces. Every stream here is staged, read and run the same
way: `_landing_dir` stages a table as a landing zone, `_file_stream` reads
it with the batch schema pinned, and `_drain` runs the query with the
production drain, `trigger(availableNow=True)` (process every file there
now, then stop), so each operator returns a plain DataFrame the
driver/oracle can check. The windowed aggregates (`tumbling_counts_append`,
`sliding_counts_append`, `session_counts_append`) run in append mode with a
watermark, so finalized windows are written once to a checkpointed parquet
file sink and their state is evicted. No checkpoint outlives its query
unless the caller passed its own `checkpoint_dir`.

On a real cluster the same code points readStream at an arriving-files
directory (or Kafka); the plan and state management are identical.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from ..io import local_table
from ..session import scratch_dir

_STAGED: dict[tuple[str, str], str] = {}


def _landing_dir(sf_dir: str, table: str) -> str:
    """The file stream source consumes a DIRECTORY of arriving files; stage
    `<table>.parquet` into one (cached per (sf_dir, table)). In production
    this is the landing zone new files drop into (the event collector's,
    crawler's or encoder's drop directory)."""
    key = (sf_dir, table)
    if key not in _STAGED:
        d = tempfile.mkdtemp(prefix=f"{table}_stream_")
        shutil.copy(os.path.join(sf_dir, f"{table}.parquet"), d)
        _STAGED[key] = d
    return _STAGED[key]


def _file_stream(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    landing_dir: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """`table` as a file stream over `landing_dir` (default: its staged
    landing zone), schema pinned to the batch reader's (readStream needs
    it). `max_files_per_trigger` gives per-file micro-batches: lets tests
    prove state carries ACROSS batches (one big batch would hide a
    missing state store)."""
    reader = spark.readStream.schema(spark.read.parquet(f"{sf_dir}/{table}.parquet").schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(landing_dir or _landing_dir(sf_dir, table))


def _drain(writer: DataStreamWriter, checkpoint_dir: str | None = None) -> None:
    """Start the configured stream with availableNow (drain every file in
    the landing zone, honouring maxFilesPerTrigger, then stop) and block
    until it ends. availableNow still runs the final no-data micro-batch,
    so an append-mode aggregate flushes every window whose end <= the
    final watermark. A checkpoint made here is deleted once the query
    stops; a caller's `checkpoint_dir` is kept (cross-run redelivery
    resumes from it)."""
    ckpt = checkpoint_dir or scratch_dir("stream_ckpt_")
    q = writer.option("checkpointLocation", ckpt).trigger(availableNow=True).start()
    try:
        q.awaitTermination()
    finally:
        q.stop()
        if checkpoint_dir is None:
            shutil.rmtree(ckpt, ignore_errors=True)


def _content_fp(*cols: str) -> Column:
    """Order-free content fingerprint of a group of rows over `cols` (an
    aggregate): the XOR of per-row xxhash64, the SUM of each row hash mod
    2^20 and the row count, mixed through one final xxhash64. XOR alone
    cancels pairwise-duplicated rows (two identical rows XOR to 0), so the
    bounded SUM rides along (bounded terms keep the ANSI sum overflow-free
    below 2^43 rows); distinct groups collide only if XOR, bounded SUM and
    count all collide at once. Path- and order-independent, so a
    redelivered file fingerprints identically under any path/batch."""
    h = f"xxhash64({', '.join(cols)})"
    return F.expr(f"xxhash64(bit_xor({h}), sum(pmod({h}, 1048576)), count(*))")


def _event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Pin the two correctness confs here rather than relying on an earlier
    # load_table call having set them on this session (the driver runs
    # queries on a session built without our factory; registration order
    # must not matter): ts arrives as epoch-nanos long under nanosAsLong.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    stream = _file_stream(spark, sf_dir, "events")
    # watermarks require TIMESTAMP (not NTZ); under the UTC session the wall
    # times are identical — outputs are cast back to NTZ after aggregation.
    # The TIMESTAMP(NANOS) column arrives either as epoch-nanos long (under
    # nanosAsLong on readers that honor it) or directly as NTZ (current
    # reader) — branch exactly like io.load_table does.
    from pyspark.sql import types as T

    if isinstance(stream.schema["ts"].dataType, T.LongType):
        return stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return stream.withColumn("ts", F.col("ts").cast("timestamp"))


def _run_append_to_files(flat: DataFrame) -> DataFrame:
    """Run an append-mode streaming plan to a parquet FILE sink (checkpointed,
    exactly-once) and read the committed output back as a batch DataFrame.

    This is the 100 TB shape: state is bounded by the watermark (finalized
    windows are emitted once and EVICTED), output goes to distributed
    storage, and nothing is collected to the driver. The final no-data
    micro-batch flushes every window whose end <= final watermark (max
    event time - delay) — verified empirically: the boundary is
    inclusive."""
    out = scratch_dir("stream_sink_")
    _drain(flat.writeStream.outputMode("append").format("parquet").option("path", out))
    # explicit schema: a watermark that finalizes zero windows leaves no data
    # files, and schema inference would fail on the empty sink directory
    return flat.sparkSession.read.schema(flat.schema).parquet(out)


def tumbling_counts_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling windows, APPEND output: only watermark-finalized
    windows (end <= max_ts - 10 min) are emitted, then their state is
    dropped."""
    ev = _event_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(28,6)")).alias("dec_value"),
        )
    )
    flat = agg.select(
        F.col("w.start").cast("timestamp_ntz").alias("window_start"),
        "event_type",
        "n",
        F.col("dec_value").cast("double").alias("total_value"),
    )
    return _run_append_to_files(flat)


def sliding_counts_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 30 minutes, APPEND output with a
    10-minute watermark — each event lands in exactly 2 windows; only
    finalized windows are emitted and evicted."""
    ev = _event_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(28,6)")).alias("dec_value"),
        )
    )
    flat = agg.select(
        F.col("w.start").cast("timestamp_ntz").alias("window_start"),
        F.col("w.end").cast("timestamp_ntz").alias("window_end"),
        "event_type",
        "n",
        F.col("dec_value").cast("double").alias("total_value"),
    )
    return _run_append_to_files(flat)


def session_counts_append(
    spark: SparkSession, sf_dir: str, gap: str = "30 minutes"
) -> DataFrame:
    """Gap-merged session windows per user, APPEND output with a 1-hour
    watermark: a session is emitted (and its state evicted) once the
    watermark passes its end (last event + gap)."""
    ev = _event_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
    )
    flat = agg.select(
        "user_id",
        F.col("w.start").cast("timestamp_ntz").alias("session_start"),
        "n_events",
    )
    return _run_append_to_files(flat)


def dedup_keys_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication with BOUNDED state: emit each distinct
    (event day, user_id, event_type) key once, via
    `dropDuplicatesWithinWatermark` — the dedup keys deliberately exclude
    the raw event-time column (day is derived), which is exactly the case
    where plain `dropDuplicates` would hold every key forever; the
    WithinWatermark variant evicts a key's state once the watermark passes
    its first sighting + delay. Output projects only the key columns, so
    the emitted row set is deterministic (= DISTINCT keys) regardless of
    which physical row arrived first.

    Scale note: state is O(distinct keys inside the watermark horizon), not
    O(stream). A duplicate arriving after its key's state is evicted would
    re-emit — the documented at-least-once contract of watermark dedup; the
    downstream idempotent sink (SNK2 upsert) absorbs it."""
    ev = _event_stream(spark, sf_dir)
    keyed = ev.withWatermark("ts", "1 hour").select(
        "ts",
        F.col("ts").cast("date").alias("day"),
        "user_id",
        "event_type",
    )
    deduped = keyed.dropDuplicatesWithinWatermark(["day", "user_id", "event_type"])
    flat = deduped.select("day", "user_id", "event_type")
    return _run_append_to_files(flat)


def clicks_errors_join_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream INNER join: for each user, pair every error with the
    clicks of the SAME user in the preceding 5 minutes (error-triage: what
    was clicked right before it broke). Both sides are watermarked and the
    join carries an event-time interval condition, so each side's buffered
    state is evicted once the other side's watermark passes the interval —
    the bounded-state shape stream-stream joins require at scale (without
    the time bound, both sides buffer forever). Inner-join matches emit as
    they are found (append mode), so the committed file output equals the
    batch interval join, which is what the DuckDB oracle replays."""
    clicks = (
        _event_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_ts", "10 minutes")
    )
    errors = (
        _event_stream(spark, sf_dir)
        .filter(F.col("event_type") == "error")
        .select(
            F.col("user_id").alias("e_user"),
            F.col("ts").alias("error_ts"),
            F.col("event_id").alias("error_id"),
        )
        .withWatermark("error_ts", "10 minutes")
    )
    joined = clicks.join(
        errors,
        (F.col("c_user") == F.col("e_user"))
        & (F.col("click_ts") <= F.col("error_ts"))
        & (F.col("click_ts") >= F.col("error_ts") - F.expr("INTERVAL 5 MINUTES")),
    )
    flat = joined.select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "error_id",
        F.col("click_ts").cast("timestamp_ntz").alias("click_ts"),
        F.col("error_ts").cast("timestamp_ntz").alias("error_ts"),
    )
    return _run_append_to_files(flat)


def streaming_enrichment_job(
    spark: SparkSession, landing_dir: str, silver_path: str, checkpoint_dir: str
) -> None:
    """The reference's daily incremental batch as a continuous stream:
    bronze files arrive in `landing_dir` → each micro-batch is cleaned,
    anti-joined against current silver (only NEW links), mock-classified,
    and idempotently appended — `foreachBatch` + anti-join is the
    plain-parquet stand-in for `MERGE WHEN NOT MATCHED` (exactly-once via
    the checkpoint + idempotent writes). Runs with availableNow (drain
    what's there, then stop) — the 1:1 replacement for the daily cron."""
    import os

    from ..operators import enrichment, relational
    from ..schemas import BRONZE_SCHEMA

    stream = (
        spark.readStream.schema(BRONZE_SCHEMA)
        .option("header", True)
        .option("timestampNTZFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
        .csv(landing_dir)
    )

    def process_batch(batch_df, batch_id: int) -> None:
        clean = relational.clean_headlines(batch_df)
        if os.path.exists(silver_path):
            existing_keys = batch_df.sparkSession.read.parquet(silver_path).select(
                F.col("raw_link").alias("link")
            )
            clean = clean.join(existing_keys, on="link", how="left_anti")
        enriched = relational.validate_domains(enrichment.enrich(clean))
        rows = enriched.select(
            F.col("doc_id").alias("id"),
            F.col("link").alias("raw_link"),
            "title",
            "link",
            "source",
            "scraped_at",
            "sentiment",
            "category",
            "confidence_score",
            "processing_time_seconds",
            F.col("scraped_at").alias("processed_at"),
            "model_used",
        )
        rows.write.mode("append").parquet(silver_path)

    _drain(stream.writeStream.foreachBatch(process_batch), checkpoint_dir)


def stateful_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState: a
    per-user running event counter held in explicit group state. With the
    replay source drained in one pass the emitted totals equal the batch
    group-by — which is exactly the invariant the oracle checks. At scale
    state lives in the state store (RocksDB), partitioned by user_id, and
    watermarks would bound it for unbounded keys."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ev = _event_stream(spark, sf_dir)

    def update(key, pdfs, state: GroupState):
        n = sum(len(pdf) for pdf in pdfs)
        total = (state.get[0] if state.exists else 0) + n
        state.update((total,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [total]})

    out_stream = ev.select("user_id", "event_id").groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long",
        stateStructType="total long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    # update-mode emissions land in distributed storage via foreachBatch
    # (no memory sink, no driver collect); the read-back keeps the max
    # emission per user — the running counter is monotone, so max = final.
    sink_dir = scratch_dir("stream_state_sink_")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(sink_dir)

    _drain(out_stream.writeStream.outputMode("update").foreachBatch(sink))
    snap = spark.read.schema("user_id long, n_events long").parquet(sink_dir)
    return snap.groupBy("user_id").agg(F.max("n_events").alias("n_events"))


def clicks_errors_left_join_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: every error pairs with the
    same user's clicks in the preceding 5 minutes, and errors with NO such
    click still emit (null click) — but only once the join can PROVE no
    match can arrive: a left row's null-joined emission happens at state
    eviction, when the global watermark (min over both streams of
    max-event-time − 10 min) passes the last instant a matching click
    could carry (click_ts ≤ error_ts ⇒ eviction when error_ts < wm).
    Errors newer than the final watermark are withheld — the documented
    outer-join caveat, and exactly what the oracle replays: matched pairs
    unconditionally, unmatched errors only below the final watermark
    (emission rule verified empirically at two scales before this was
    registered). Both sides' state stays watermark-bounded, as in the
    inner variant."""
    clicks = (
        _event_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_ts", "10 minutes")
    )
    errors = (
        _event_stream(spark, sf_dir)
        .filter(F.col("event_type") == "error")
        .select(
            F.col("user_id").alias("e_user"),
            F.col("ts").alias("error_ts"),
            F.col("event_id").alias("error_id"),
        )
        .withWatermark("error_ts", "10 minutes")
    )
    joined = errors.join(
        clicks,
        (F.col("c_user") == F.col("e_user"))
        & (F.col("click_ts") <= F.col("error_ts"))
        & (F.col("click_ts") >= F.col("error_ts") - F.expr("INTERVAL 5 MINUTES")),
        "left_outer",
    )
    flat = joined.select(
        F.col("e_user").alias("user_id"),
        "error_id",
        "click_id",
        F.col("error_ts").cast("timestamp_ntz").alias("error_ts"),
    )
    return _run_append_to_files(flat)


# --- streaming corpus ingest (curation gate as a stream) ---------------------


def curated_ingest_append(
    spark: SparkSession,
    sf_dir: str,
    min_quality: float = 0.5,
    min_words: int = 20,
    landing_dir: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """The batch curation gate (operators/text.curated_documents) running as
    a STREAM over the landing zone: per-file micro-batches compute the same
    JVM-side quality score, stopword language ID and token counts, exact
    content dedup drops already-seen fingerprints, and survivors append to
    a checkpointed parquet sink — continuous corpus ingest with curation at
    the door instead of a nightly batch.

    Determinism: every emitted column is a pure function of `text`, and the
    dedup key IS the content fingerprint — so whichever physical duplicate
    arrives first, the committed row is identical, and the output set
    equals the batch DISTINCT (the DuckDB oracle).

    Scale note: un-watermarked dropDuplicates keeps one state row per
    distinct fingerprint — the honest cost of exact online dedup (16-byte
    key; ~1.6 TB of state per 10^11 documents, RocksDB-backed in
    production). When that is too much, the bounded alternatives are
    dropDuplicatesWithinWatermark on an ingest-time column (at-least-once)
    or the batch incremental tier (operators/dedup.incremental_candidates)
    run per micro-batch via foreachBatch against the persisted corpus
    index. The near-dup stage (MinHash bands) stays in the nightly batch —
    its banded self-join needs the full corpus side."""
    from ..operators.text import LANG_STOPWORDS, _predicted_lang, _stop_hits, tokens_col

    stream = _file_stream(spark, sf_dir, "documents", landing_dir, max_files_per_trigger)

    t = tokens_col()
    wc = F.size(t).cast("long")
    scored = stream.select(
        F.md5("text").alias("fingerprint"),
        wc.alias("word_count"),
        F.length("text").cast("long").alias("char_count"),
        *[
            _stop_hits(t, words).cast("long").alias(f"hits_{lg}")
            for lg, words in LANG_STOPWORDS.items()
        ],
    )
    wcol = F.col("word_count")
    gated = (
        scored.select(
            "fingerprint",
            "word_count",
            (
                F.least(wcol / F.lit(100.0), F.lit(1.0)) * F.lit(0.4)
                + (F.col("hits_en") / wcol) * F.lit(0.4)
                + F.least((F.col("char_count") / wcol) / F.lit(8.0), F.lit(1.0)) * F.lit(0.2)
            ).alias("quality_score"),
            _predicted_lang().alias("predicted_lang"),
        )
        .dropDuplicates(["fingerprint"])
        .filter(
            (F.col("quality_score") >= min_quality)
            & (F.col("predicted_lang") == "en")
            & (F.col("word_count") >= min_words)
        )
    )
    return _run_append_to_files(gated)


def shard_ingest_append(
    spark: SparkSession, sf_dir: str, out_path: str | None = None
) -> DataFrame:
    """Continuous shard-layout maintenance: document files land in a
    staging zone and each micro-batch APPENDS to the serving layout via
    `operators/corpus.append_docs` — the streaming face of the r6
    incremental shard lifecycle, composing with the batch append exactly
    the way `similarity.streaming_index_ingest` composes with
    `build_ivf_index` for ANN.

    The landing zone is split into three deterministic delta files
    (doc_id % 3) processed one per micro-batch (maxFilesPerTrigger=1), so
    the layout grows through three real appends with live membership
    gates. Exactly-once does NOT lean on the checkpoint alone: the
    anti-join membership gate in append_docs makes a REDELIVERED batch a
    no-op even with the checkpoint wiped (tested), which is the property
    that matters when a sink retries outside Spark's control.

    Shard PLACEMENT depends on batch arrival order (whichever delta lands
    first occupies the earlier shard ids), so the returned audit is the
    batch-ORDER-INVARIANT global contract a trainer actually needs:
    exactly-once membership (doc counts + mod-prime content-hash
    fingerprint), token-mass conservation, and offset contiguity (zero
    gaps/overlaps when the layout is walked in offset order). The
    contiguity walk uses one global-order window — audit-only, n_docs
    rows; at 100 TB it would run per hash-bucket like the layout pass
    itself."""
    from ..operators import corpus

    batch = spark.read.parquet(f"{sf_dir}/documents.parquet")
    landing = scratch_dir("shard_landing_")
    for r in range(3):
        tmp = scratch_dir("shard_delta_")
        batch.filter(F.col("doc_id") % 3 == r).coalesce(1).write.mode(
            "overwrite"
        ).parquet(tmp)
        part = next(
            f for f in sorted(os.listdir(tmp)) if f.endswith(".parquet")
        )
        shutil.copy(
            os.path.join(tmp, part), os.path.join(landing, f"batch_{r}.parquet")
        )
        shutil.rmtree(tmp, ignore_errors=True)

    out = out_path or os.path.join(scratch_dir("shard_layout_"), "layout")

    def ingest(bdf: DataFrame, _bid: int) -> None:
        corpus.append_docs(spark, bdf, out)

    try:
        stream = _file_stream(spark, sf_dir, "documents", landing, 1)
        _drain(stream.writeStream.foreachBatch(ingest))
    finally:
        # the layout must outlive this call (the returned audit reads it
        # lazily), but the landing zone holds a full corpus copy —
        # repeated registry sweeps/bench runs must not accumulate it
        # (ADVICE-r6)
        shutil.rmtree(landing, ignore_errors=True)
    return shard_layout_audit(spark, out)


def shard_layout_audit(spark: SparkSession, out_path: str) -> DataFrame:
    """Batch-order-invariant global audit of a shard layout: one row with
    exactly-once membership counts, the mod-prime content fingerprint,
    token mass, and the number of contiguity violations (start offsets
    that do not equal the previous document's end when walked in offset
    order — 0 for any sequence of correct appends)."""
    from pyspark.sql import Window

    from ..operators import corpus
    from ..operators.text import tokens_col

    back = corpus.read_shards(spark, out_path)
    w = Window.orderBy("start_off")
    walked = back.withColumn(
        "prev_end", F.lag(F.col("start_off") + F.col("n_tok"), 1, 0).over(w)
    )
    return walked.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("doc_id").alias("n_unique_docs"),
        F.sum(F.size(tokens_col()).cast("long")).alias("total_tokens"),
        corpus.content_hash_sum().alias("content_hash_sum"),
        F.sum(
            F.when(F.col("start_off") != F.col("prev_end"), F.lit(1)).otherwise(F.lit(0))
        ).cast("bigint").alias("contiguity_violations"),
    )


def lm_gated_ingest_append(
    spark: SparkSession,
    sf_dir: str,
    landing_dir: str | None = None,
    max_files_per_trigger: int | None = None,
    model: dict | None = None,
    out_dir: str | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Model-scoring-at-ingest: the OFFLINE-trained bigram LM
    (operators/text.lm_model_tables — trained once per corpus snapshot,
    the deployable artifact) applied ONLINE to arriving documents. Each
    micro-batch scores its docs against the static model table via
    foreachBatch (the stream-static pattern for scoring that needs a
    per-doc aggregation, which append-mode streaming aggs cannot express
    without a time window) and appends only the LM-keep survivors to a
    checkpointed parquet sink; an anti-join against the sink's committed
    doc_ids makes redelivered files idempotent (the shard_ingest idiom).

    The scoring code path is lm_score_documents — BYTE-IDENTICAL to the
    batch filter — so the online gate can never drift from the offline
    one; the committed set therefore equals the batch filter's keep set,
    which is exactly what the DuckDB oracle replays.

    Injection seams (r9 review): `model` accepts a PREBUILT
    lm_model_tables artifact (the trained-once-per-snapshot deployment
    story as a code path, and no retraining per call), `out_dir`/
    `checkpoint_dir` pin the sink so a SECOND run against the same sink
    exercises true cross-run redelivery (pytest does exactly that)."""
    from ..operators.text import lm_model_tables, lm_score_documents

    if model is None:
        model = lm_model_tables(spark, sf_dir)
    # the model table is a lazy plan over the corpus snapshot: cache it
    # for the stream's life so no micro-batch recounts the corpus, and
    # release it when the stream stops
    table = model["bigrams"].persist()
    stream = _file_stream(spark, sf_dir, "documents", landing_dir, max_files_per_trigger)
    out = out_dir or scratch_dir("lm_gate_sink_")
    out_schema = (
        "doc_id long, source string, n_bigrams long, hapax_bigrams long,"
        " cross_entropy double"
    )

    def gate(bdf: DataFrame, _bid: int) -> None:
        sess = bdf.sparkSession
        kept = (
            lm_score_documents(bdf.dropDuplicates(["doc_id"]), model)
            .filter(F.col("keep"))
            .drop("keep")
        )
        committed = sess.read.schema(out_schema).parquet(out)
        kept = kept.join(committed.select("doc_id"), "doc_id", "left_anti")
        kept.write.mode("append").parquet(out)

    try:
        _drain(stream.writeStream.foreachBatch(gate), checkpoint_dir)
    finally:
        table.unpersist()
    return spark.read.schema(out_schema).parquet(out)


def kmeans_assign_ingest_append(
    spark: SparkSession,
    sf_dir: str,
    landing_dir: str | None = None,
    max_files_per_trigger: int | None = None,
    cents: list[list[int]] | None = None,
    out_dir: str | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Cluster-assignment-at-ingest: the OFFLINE-trained integer-lattice
    k-means centroids (operators/similarity.kmeans_train — the deployable
    k×dim model artifact) applied ONLINE to arriving embeddings, the
    vector twin of stream_lm_gated_ingest's model-at-the-door contract.
    Each micro-batch SQ8-quantizes its vectors (with_sq8, the shared
    serving-domain codec) and assigns them through the SAME _km_assign
    path the batch operator uses — byte-identical scoring, so online and
    offline assignments cannot drift; a committed-vec_ids anti-join makes
    redelivered files idempotent (the shard_ingest idiom). The committed
    set therefore equals the batch full-corpus assignment under the same
    trained model, which is exactly what the DuckDB oracle replays.

    At 100 TB: assignment is a stateless per-batch codegen scan against k
    broadcast-sized literal centroids (spark.ml's own serving shape) —
    no shuffle in the row path; the only cross-batch state is the sink's
    committed key set."""
    from ..io import load_table
    from ..operators.similarity import _km_assign, kmeans_train, with_sq8

    if cents is None:
        train = with_sq8(load_table(spark, sf_dir, "embeddings")).select("vec_id", "q")
        cents = kmeans_train(train)
    stream = _file_stream(spark, sf_dir, "embeddings", landing_dir, max_files_per_trigger)
    out = out_dir or scratch_dir("km_assign_sink_")
    out_schema = "vec_id long, centroid_id int, sq_dist long"

    def assign(bdf: DataFrame, _bid: int) -> None:
        sess = bdf.sparkSession
        a = _km_assign(
            with_sq8(bdf.dropDuplicates(["vec_id"])).select("vec_id", "q"), cents
        ).select(
            "vec_id",
            F.col("cid").alias("centroid_id"),
            F.col("dist").alias("sq_dist"),
        )
        committed = sess.read.schema(out_schema).parquet(out)
        a = a.join(committed.select("vec_id"), "vec_id", "left_anti")
        a.write.mode("append").parquet(out)

    _drain(stream.writeStream.foreachBatch(assign), checkpoint_dir)
    return spark.read.schema(out_schema).parquet(out)


def hll_register_ingest_append(
    spark: SparkSession,
    sf_dir: str,
    landing_dir: str | None = None,
    max_files_per_trigger: int | None = None,
    out_dir: str | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Sketch-maintenance-at-ingest: each arriving micro-batch of documents
    contributes its PARTIAL HyperLogLog registers (operators/sketches.
    hll_registers — byte-identical to the batch build) to an append-only
    register store; the live cardinality estimate is the max-merge of
    everything appended, computed on read through the SAME
    hll_scope_estimates path as the batch query, so online and offline
    estimates cannot drift.

    The merge punchline (vs the anti-join idempotency of the other ingest
    twins): max-merge is COMMUTATIVE and IDEMPOTENT, so a redelivered file
    appends duplicate partial registers that change NOTHING — the sketch
    is redelivery-safe with no committed-key bookkeeping at all (the CRDT
    G-Set/max-register argument; pytest redelivers a file and asserts the
    estimates are bit-identical). That is why sketches are THE streaming
    cardinality primitive at 100 TB: per-batch state is <= scopes x 64
    rows, cross-batch state is the same, and exactly-once delivery is not
    required for correctness.

    The committed estimate after draining the landing dir equals the batch
    query's estimate over the same corpus — what the DuckDB oracle
    replays."""
    from ..operators.dedup import _shingles
    from ..operators.sketches import hll_registers, hll_scope_estimates
    from ..operators.text import hash56

    stream = _file_stream(spark, sf_dir, "documents", landing_dir, max_files_per_trigger)
    out = out_dir or scratch_dir("hll_regs_sink_")
    out_schema = "source string, j long, m int"

    def contribute(bdf: DataFrame, _bid: int) -> None:
        hashed = _shingles(bdf, "source").select("source", hash56("shingle").alias("h"))
        # partial registers of THIS batch only — no read-modify-write and
        # no committed-set anti-join: max-merge absorbs duplicates
        hll_registers(hashed).write.mode("append").parquet(out)

    _drain(stream.writeStream.foreachBatch(contribute), checkpoint_dir)
    merged = (
        spark.read.schema(out_schema)
        .parquet(out)
        .groupBy("source", "j")
        .agg(F.max("m").alias("m"))
    )
    return hll_scope_estimates(merged).orderBy("scope")


def quantile_ingest_append(
    spark: SparkSession,
    sf_dir: str,
    landing_dir: str | None = None,
    max_files_per_trigger: int | None = None,
    out_dir: str | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Quantile-sketch-maintenance-at-ingest: each arriving micro-batch of
    events appends its PARTIAL 256-bin histogram counters
    (operators/sketches.hq_histogram — byte-identical to the batch build)
    to an append-only counter store; the live per-type quantile estimates
    are the merge-on-read SUM of everything appended, probed through the
    SAME hq_quantile_estimates path as the batch query, so online and
    offline estimates cannot drift (completes the r9 streaming-sketch set:
    HLL had its twin, the histogram sketch was batch-only — VERDICT-r9
    item 7).

    Redelivery contract: SUM-merge, unlike HLL's max-merge, is NOT
    idempotent — a redelivered file would double-count. The fix stays
    CRDT-shaped rather than falling back to committed-key bookkeeping:
    partial counters are keyed by a CONTENT fingerprint of their source
    file (order-free XOR of per-row xxhash64 over the columns the sketch
    consumes, plus an order-free bounded SUM of the same row hashes and
    the row count, mixed through one final xxhash64 — XOR alone would let
    pairwise-duplicated rows cancel two distinct files onto one
    fingerprint), and the read path max-merges duplicates
    per (file_fp, type, bin) BEFORE summing across files. A redelivered
    file — same content, any path, any batch — reproduces byte-identical
    partial rows under the same fingerprint, and the max-merge absorbs
    them with zero drift (pytest redelivers within-run and cross-run and
    asserts bit-identical estimates). Two genuinely distinct files with
    identical content collapse too; that is the content-addressed
    at-least-once semantic, same as the shard-ingest gate.

    At 100 TB: per-batch state is <= files x types x HQ_BINS rows of
    integer counters, cross-batch state is the same append-only store
    (compactable by pre-merging, exactly like shard compaction), and
    exactly-once delivery is not required for correctness. The drained
    estimate equals the batch sketch over the same corpus — what the
    DuckDB oracle replays.

    FINGERPRINT FORMAT BREAK (r11): the XOR-only fingerprint became
    XOR+bounded-SUM+count, so counter state persisted by a pre-r11 build
    carries DIFFERENT file_fp values than post-upgrade redeliveries of
    the same file — the max-merge cannot pair them, and each such file
    double-counts ONCE across the upgrade boundary. Do not mix old and
    new partials: on a fingerprint-format upgrade, drain (rebuild) the
    counter store from the source files — it is derived state, the
    rebuild is one batch pass (ADVICE-r11; same rule for any future
    format change)."""
    from ..operators.sketches import hq_bin_expr, hq_histogram, hq_quantile_estimates

    stream = _file_stream(spark, sf_dir, "events", landing_dir, max_files_per_trigger)
    out = out_dir or scratch_dir("hq_regs_sink_")
    out_schema = "file_fp long, event_type string, bin int, cnt long"

    def contribute(bdf: DataFrame, _bid: int) -> None:
        rows = bdf.select(
            F.input_file_name().alias("fpath"), "event_id", "event_type", "value"
        )
        # content fingerprint per source file over exactly the columns the
        # sketch consumes (+ event_id for row identity)
        fps = rows.groupBy("fpath").agg(
            _content_fp("event_id", "event_type", "value").alias("file_fp")
        )
        part = (
            # the batch sketch's pinned NULL policy (hq_histogram): NULL
            # values and NULL event_type are out of the contract
            rows.filter(F.col("value").isNotNull() & F.col("event_type").isNotNull())
            .select("fpath", "event_type", hq_bin_expr().alias("bin"))
            .groupBy("fpath", "event_type", "bin")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .join(F.broadcast(fps), "fpath")
            .select("file_fp", "event_type", "bin", "cnt")
        )
        part.write.mode("append").parquet(out)

    _drain(stream.writeStream.foreachBatch(contribute), checkpoint_dir)
    merged = (
        spark.read.schema(out_schema)
        .parquet(out)
        # duplicate partial rows from redelivered content are bit-identical
        # under their fingerprint key: max-merge absorbs them...
        .groupBy("file_fp", "event_type", "bin")
        .agg(F.max("cnt").alias("cnt"))
        # ...then counts SUM across distinct files (the mergeable-histogram
        # property the batch sketch's docstring advertises)
        .groupBy("event_type", "bin")
        .agg(F.sum("cnt").alias("cnt"))
    )
    return hq_quantile_estimates(spark, merged).orderBy("event_type", "q")


def drift_gate_ingest_append(
    spark: SparkSession,
    sf_dir: str,
    landing_dir: str | None = None,
    max_files_per_trigger: int | None = None,
    out_dir: str | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Drift-monitoring-at-ingest: the retrain gate
    (operators/drift.snapshot_drift) evaluated continuously as new data
    lands — the production shape is "alert BEFORE the bad snapshot is
    trained on", not a nightly batch diff. The REFERENCE side (is_a=true,
    the even-doc_id snapshot the filters/mixers were tuned on) is computed
    once batch-side — it is the deployed model artifact, like the LM
    tables and k-means centroids of the other ingest twins. Each arriving
    micro-batch appends partial (metric, bin) counters for its NEW docs
    (odd doc_ids — the post-snapshot ingest slice), built by the
    byte-identical drift_binned/drift_histogram path and keyed by a
    CONTENT fingerprint of the source file (the quantile twin's idiom:
    SUM-merge is not idempotent, so the read path max-merges duplicates
    per fingerprint before the cross-file SUM — redelivered content is
    absorbed with zero drift and zero committed-key bookkeeping). The
    read path unions reference + arriving state and scores through the
    SAME drift_scores probe, so the online drift decision cannot diverge
    from the offline one; the drained result equals the batch
    snapshot_drift over the same corpus — what the DuckDB oracle replays.

    At 100 TB: reference state is <= metrics x DRIFT_BINS rows (a
    broadcast-sized artifact), per-batch appended state is the same per
    file, and the gate's alert is one ~32-row probe per trigger.

    FINGERPRINT FORMAT BREAK (r11): same rule as the quantile twin —
    pre-r11 XOR-only partials carry different file_fp values than the
    r11 XOR+bounded-SUM+count format, so redeliveries across the upgrade
    boundary double-count once; drain (rebuild) gate state on a
    fingerprint-format upgrade rather than mixing formats (ADVICE-r11)."""
    from ..operators.drift import drift_binned, drift_histogram, drift_scores

    stream = _file_stream(spark, sf_dir, "documents", landing_dir, max_files_per_trigger)
    out = out_dir or scratch_dir("drift_regs_sink_")
    out_schema = "file_fp long, metric string, bin int, cnt long"

    def contribute(bdf: DataFrame, _bid: int) -> None:
        rows = bdf.select(
            F.input_file_name().alias("fpath"), "doc_id", "text"
        )
        # content fingerprint per source file (the quantile twin's idiom)
        fps = rows.groupBy("fpath").agg(_content_fp("doc_id", "text").alias("file_fp"))
        # NULL policy pinned to the batch query: a NULL doc_id makes is_a
        # NULL there, and the counter's otherwise(0) books the row on the
        # ARRIVING side — so the gate must keep NULL-doc_id rows too
        # (coalesce), not silently drop them through a NULL comparison
        arriving = rows.filter(
            F.coalesce((F.col("doc_id") % 2) != 0, F.lit(True))
        ).withColumn("is_a", F.lit(False))
        counters = (
            drift_binned(arriving, keys=("fpath",))
            .groupBy("fpath", "metric", "bin")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .join(F.broadcast(fps), "fpath")
            .select("file_fp", "metric", "bin", "cnt")
        )
        counters.write.mode("append").parquet(out)

    _drain(stream.writeStream.foreachBatch(contribute), checkpoint_dir)

    arrived = (
        spark.read.schema(out_schema)
        .parquet(out)
        .groupBy("file_fp", "metric", "bin")
        .agg(F.max("cnt").alias("cnt"))  # absorb redelivered content
        .groupBy("metric", "bin")
        .agg(F.sum("cnt").alias("n_b"))
    )
    reference = drift_histogram(
        drift_binned(
            spark.read.parquet(f"{sf_dir}/documents.parquet")
            .filter((F.col("doc_id") % 2) == 0)
            .select(F.lit(True).alias("is_a"), "text")
        )
    ).select("metric", "bin", "n_a")
    hist = (
        reference.join(arrived, on=["metric", "bin"], how="full_outer")
        .select(
            "metric",
            "bin",
            F.coalesce(F.col("n_a"), F.lit(0)).cast("long").alias("n_a"),
            F.coalesce(F.col("n_b"), F.lit(0)).cast("long").alias("n_b"),
        )
    )
    return drift_scores(hist).orderBy("metric", "bin")


def kmv_register_ingest_append(
    spark: SparkSession,
    sf_dir: str,
    landing_dir: str | None = None,
    max_files_per_trigger: int | None = None,
    out_dir: str | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Overlap-sketch-maintenance-at-ingest: each arriving micro-batch of
    documents contributes its PARTIAL per-source bottom-k hash sets
    (operators/sketches.kmv_bottom_k — byte-identical to the batch build)
    to an append-only candidate store; the live pairwise Jaccard/union
    estimates re-cut the union of everything appended through the SAME
    kmv_bottom_k + kmv_pair_estimates path as the batch query.

    This completes the streaming-sketch merge-class triad: HLL merges by
    register MAX (idempotent, keyless), the quantile histogram merges by
    SUM (content-fingerprint-keyed), and KMV merges by SET UNION + re-cut
    — idempotent with NO bookkeeping at all, because a redelivered file
    appends duplicate (source, hash) rows that dense_rank's
    duplicates-share-a-rank cut and the final distinct absorb exactly
    (pytest redelivers within-run and cross-run and asserts bit-identical
    estimates). Exactness of the merge: any hash in a source's GLOBAL
    bottom-k is necessarily in its own batch's bottom-k, so the re-cut
    over the appended union equals the batch sketch — the superset
    property that makes bottom-k sketches mergeable (Beyer et al. 2007).

    At 100 TB: per-batch appended state is <= sources x k rows, the store
    is compactable by re-cutting (shard-compaction's idiom), and the
    drained estimates equal the batch query's sketch columns — what the
    DuckDB oracle replays (the exact-Jaccard verifier columns stay with
    the batch query; sketch state cannot reproduce them, by design)."""
    from ..operators.dedup import _shingles
    from ..operators.sketches import kmv_bottom_k, kmv_pair_estimates
    from ..operators.text import hash56

    stream = _file_stream(spark, sf_dir, "documents", landing_dir, max_files_per_trigger)
    out = out_dir or scratch_dir("kmv_regs_sink_")
    out_schema = "source string, h long"

    def contribute(bdf: DataFrame, _bid: int) -> None:
        hashed = _shingles(bdf, "source").select("source", hash56("shingle").alias("h"))
        # partial bottom-k of THIS batch only — union + re-cut on read
        # absorbs duplicates, so no committed-key bookkeeping
        kmv_bottom_k(hashed).write.mode("append").parquet(out)

    _drain(stream.writeStream.foreachBatch(contribute), checkpoint_dir)
    merged = kmv_bottom_k(
        spark.read.schema(out_schema).parquet(out)
    ).localCheckpoint(eager=True)
    return kmv_pair_estimates(merged).orderBy("source_a", "source_b")


def versioned_ingest_append(
    spark: SparkSession,
    sf_dir: str,
    landing_dir: str | None = None,
    table_dir: str | None = None,
    max_files_per_trigger: int | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Streaming ingest INTO the versioned table (sources/versioned.py):
    each micro-batch of arriving documents commits ONE atomic append
    version, so downstream readers only ever see fully-committed batches
    (manifest snapshot isolation) and every ingest batch is time-travel
    addressable — "what did the table look like before last night's
    crawl" is `read(version)`.

    Idempotence is content-addressed, the established gate idiom
    (quantile/drift twins): each batch carries its XOR+bounded-SUM+count
    content fingerprint in the manifest's `extra`, and a batch whose
    fingerprint any surviving version already carries is SKIPPED — a
    redelivered batch (lost checkpoint, replayed landing files) is a
    no-op instead of a duplicate version. Exactly-once within one
    checkpoint lineage comes from Structured Streaming; the fingerprint
    covers the cross-lineage redelivery case.

    At 100 TB: one manifest commit per micro-batch (a few KB of JSON +
    one link(2)); data files are written once, never rewritten;
    `expire_versions` + `vacuum` bound the log. Returns the final table
    read (batch DataFrame) for the oracle."""
    from ..sources import versioned

    stream = _file_stream(spark, sf_dir, "documents", landing_dir, max_files_per_trigger)
    tdir = table_dir or scratch_dir("vt_ingest_")
    try:
        t = versioned.VersionedTable(spark, tdir)
        t.latest_version()
    except FileNotFoundError:
        t = versioned.create_table(spark, tdir, local_table(spark, [], stream.schema))

    def ingest(bdf: DataFrame, _bid: int) -> None:
        row = bdf.agg(
            _content_fp("doc_id", "text").alias("fp"), F.count("*").alias("n")
        ).collect()[0]
        if row.n == 0 or row.fp in t.committed_extras("ingest_fp"):
            return  # redelivered (or empty) batch: no new version
        t.append(bdf, extra={"ingest_fp": row.fp})

    _drain(stream.writeStream.foreachBatch(ingest), checkpoint_dir)
    return t.read()
