"""Corpus-preparation operators: the full shard-layout lifecycle plus
temperature mix planning and corpus-frequency token statistics.

These close the gap between a curated document set and what actually feeds a
trainer at 100 TB: a *globally shuffled*, fixed-token-budget shard layout
(decorrelating sources/crawl order without a nondeterministic `ORDER BY
rand()`) with its whole serving lifecycle — full write (`write_shards`),
incremental delta append (`append_shards`/`append_docs`), fragment
compaction (`compact_shards`), targeted deletion (`delete_from_shards`),
crash healing (`recover_shards`) and payload-only conservation audits
(`shard_readback_audit`) — a temperature-scaled source-sampling plan (the
mT5/XLM-R `p_i ∝ share_i^τ` schedule), and per-document corpus-frequency
scores (the inverted-index statistic behind rare-token/gibberish filters).

Everything is pure `pyspark.sql.functions` (no Python UDFs) and follows the
repo's determinism rules: integer sums, single-division ratios, and only
correctly-rounded IEEE primitives (sqrt — never pow/log, whose last-ulp
behavior differs across engines) so every query here is value-hash-exact
against its DuckDB oracle on any session config.
"""

from __future__ import annotations

import contextlib
import threading

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load_table, local_table
from .text import hash56, tokens_col

# Shard layout: documents are laid end-to-end in seeded-hash order and cut
# into SHARD_TOKENS-budget windows. 2048 tokens ≈ a handful of shards at the
# test SFs; at 100 TB the budget would be a few GB of tokens per shard file.
SHARD_TOKENS = 2048
# 256 range buckets = the top byte of the 56-bit shuffle hash. The global
# prefix-sum runs per-bucket with only the 256-row bucket-total table going
# through a single-partition window — the classic two-level distributed scan.
SHARD_BUCKET_DIV = 1 << 48

# Modulus for content-hash conservation fingerprints: 2^61 - 1 (Mersenne
# prime). Raw BIGINT sums of ~56-bit md5 hashes silently wrap int64 once a
# group holds ~256 docs (Spark wraps with ANSI off; DuckDB raises on the
# out-of-range HUGEINT cast), so both engines accumulate EXACTLY — Spark in
# decimal(38,0) (good to ~1.4e21 docs/group), DuckDB in HUGEINT — and reduce
# mod this prime. The fingerprint is scale-stable at any corpus size.
HASH_SUM_MOD = (1 << 61) - 1

# Temperature for source sampling: τ = 0.5 exactly, i.e. weight = sqrt(share).
# sqrt is the one non-rational primitive that IEEE 754 requires to be
# correctly rounded, so Spark (JVM) and DuckDB (libm) agree bit-for-bit —
# unlike pow(x, τ) for general τ. The integer floor(sqrt(tokens)) weight
# keeps the cross-source normalizing SUM in exact integer arithmetic.
MIX_RARE_MAX = 2  # a token is "rare" if its corpus frequency is ≤ this
VOCAB_HEAD_K = 256  # Zipf head broadcast size for the frequency join-back


def _shard_hkey() -> F.Column:
    """56-bit seeded shuffle key: hash56('shard:'||doc_id). Content-
    addressed like every selection hash in this repo (text.py `hash56`),
    so shard membership is engine/partitioning-invariant; the 'shard:'
    salt decorrelates it from the train/val and mix hashes."""
    return hash56(F.concat(F.lit("shard:"), F.col("doc_id").cast("string")))


def shard_assignments(
    spark: SparkSession,
    sf_dir: str,
    budget: int = SHARD_TOKENS,
    carry: tuple[str, ...] = ("source",),
) -> DataFrame:
    """Per-document shard assignment: every document of the corpus with its
    56-bit shuffle key, token count, global token start offset, and
    shard_id = start_off div budget. `carry` lists extra document columns
    to thread through (the manifest carries only `source`; the shard WRITER
    carries `text` too, so the layout pass is the corpus's one wide shuffle
    instead of a second join against the text).

    Scale shape: a single global window would serialize the corpus through
    one task, so the prefix sum is two-level — per-doc cumulative sums run
    inside 256 hash-range buckets (the top byte of the shuffle key, so
    bucket order IS global hash order), and only the 256-row bucket-total
    table crosses a single-partition window to produce per-bucket base
    offsets, which a broadcast join adds back. One wide shuffle (by bucket)
    + one 256-row window + one broadcast: the TeraSort-style layout pass,
    linear at 100 TB. Nothing is cached: the bucket-total pass and the
    layout pass each scan the documents (the total pass reads only the
    token counts)."""
    return _assignments_for(load_table(spark, sf_dir, "documents"), budget, carry)


def _assignments_for(d: DataFrame, budget: int, carry: tuple[str, ...]) -> DataFrame:
    """The layout pass over an arbitrary documents DataFrame (full corpus
    for shard_assignments; the not-yet-sharded delta for append_shards).
    Offsets and shard ids are LOCAL to `d` starting at 0 — append_shards
    rebases them past the existing layout."""
    per = d.select(
        "doc_id",
        *carry,
        _shard_hkey().alias("hkey"),
        F.size(tokens_col()).cast("long").alias("n_tok"),
    ).withColumn("bucket", F.expr(f"hkey div {SHARD_BUCKET_DIV}"))

    btot = per.groupBy("bucket").agg(F.sum("n_tok").alias("btok"))
    # 256-row table: the only unpartitioned window in the plan, by design.
    wb = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    bases = btot.select("bucket", (F.sum("btok").over(wb) - F.col("btok")).alias("base"))

    wd = Window.partitionBy("bucket").orderBy("hkey", "doc_id")
    return (
        per.join(F.broadcast(bases), "bucket")
        .withColumn("start_off", F.col("base") + F.sum("n_tok").over(wd) - F.col("n_tok"))
        .withColumn("shard_id", F.expr(f"start_off div {budget}"))
    )


def shard_manifest(spark: SparkSession, sf_dir: str, budget: int = SHARD_TOKENS) -> DataFrame:
    """Deterministic global corpus shuffle → fixed-token-budget shard
    manifest. Documents are ordered by a seeded content hash (a reproducible
    stand-in for `ORDER BY rand()` — same decorrelation, zero
    nondeterminism), token offsets are assigned by a cumulative sum over
    that order, and shard_id = the budget window the document STARTS in.
    The manifest rows (per shard: docs, token mass, source spread, hash
    span) are exactly what a trainer's data loader consumes. Scale shape:
    see shard_assignments (two-level distributed prefix sum)."""
    offs = shard_assignments(spark, sf_dir, budget)
    return offs.groupBy("shard_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").alias("shard_tokens"),
        F.countDistinct("source").alias("n_sources"),
        F.min("hkey").alias("shard_min_hkey"),
        F.max("hkey").alias("shard_max_hkey"),
    )


# per-THREAD re-entrancy record: a call-stack-scoped set (threading.local)
# rather than a process-global one, so a second thread in the same process
# (e.g. a foreachBatch callback ingesting while the main thread compacts)
# does NOT ride the first thread's hold — it opens its own fd and flock
# correctly rejects it (flock conflicts across fds even within a process)
_HELD_LAYOUT_LOCKS = threading.local()


@contextlib.contextmanager
def _layout_write_lock(out_path: str):
    """Advisory single-writer lock for a layout root, ENFORCING the
    documented 'one lifecycle op at a time' contract instead of trusting
    it: every mutating op flocks `<out>.__lock__` (a sibling file — the
    root itself gets swapped) non-blocking and fails loud with a clear
    error if another writer holds it, rather than letting two staged
    swaps interleave into a corrupted root. flock releases on fd close
    AND on process death, so a crashed writer never leaves a stale lock.
    Re-entrant within one call stack (append_shards → write_shards /
    append_docs compose under one hold); a concurrent thread or process
    is correctly excluded. On object storage this role is played by
    optimistic manifest CAS — the commit that detects a concurrent
    committer and aborts (DESIGN.md §6).

    The lock key is the root's os.path.realpath, so two writers
    addressing one layout through different symlinked aliases collapse
    to the SAME `<key>.__lock__` file (ADVICE-r7: abspath keyed the
    aliases separately, letting their staged swaps interleave). Caveat:
    flock on NFS depends on the server's lock manager — treat the lock
    as unenforced there and rely on external arbitration."""
    import fcntl
    import os

    held: set[str] = getattr(_HELD_LAYOUT_LOCKS, "held", None) or set()
    _HELD_LAYOUT_LOCKS.held = held
    key = os.path.realpath(out_path.rstrip("/"))
    if key in held:
        yield
        return
    # O_CREAT does not create parents; a fresh nested layout path must
    # not fail here when the op itself would have created the dirs
    os.makedirs(os.path.dirname(key), exist_ok=True)
    while True:
        fd = os.open(key + ".__lock__", os.O_CREAT | os.O_RDWR, 0o644)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
        except BlockingIOError:
            os.close(fd)
            raise RuntimeError(
                f"layout {out_path} is locked by another lifecycle "
                f"writer; the shard ops are single-writer per layout "
                f"— retry after it finishes"
            ) from None
        # revalidate the inode: recover()'s stray-lock sweep may have
        # unlinked (and a third writer recreated) the file between our
        # open and flock — a lock held on an orphaned inode excludes
        # nobody, so loop onto the file currently at the path instead
        st = os.fstat(fd)
        try:
            cur = os.stat(key + ".__lock__")
        except FileNotFoundError:
            cur = None
        if cur is not None and (cur.st_ino, cur.st_dev) == (st.st_ino, st.st_dev):
            break
        os.close(fd)
    try:
        held.add(key)
        try:
            yield
        finally:
            held.discard(key)
    finally:
        os.close(fd)


def _single_writer(fn):
    """Decorator: run the wrapped lifecycle op under the layout's
    advisory write lock (the op's `out_path` argument names the root)."""
    import functools
    import inspect

    sig = inspect.signature(fn)

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        bound = sig.bind(*args, **kwargs)
        with LAYOUT_IO.writer_lock(bound.arguments["out_path"]):
            return fn(*args, **kwargs)

    return wrapper


# test seam: called between the root-swap's two renames (the reader-visible
# ENOENT window) so a test can hold the window open and prove read_shards'
# retry contract — None in production
_between_swap_renames = None


class LocalLayoutIO:
    """The layout lifecycle's durability primitives behind one seam
    (VERDICT-r7 item 7): every filesystem mutation the snapshot mechanics
    depend on goes through these four methods, with local-POSIX semantics
    here and DESIGN.md §6's object-storage mapping as the drop-in
    replacement — `link_dir` → manifest data-file reuse, `atomic_swap` →
    snapshot-manifest commit, `writer_lock` → optimistic CAS commit,
    `recover` → orphaned-manifest GC. The operators that rewrite parquet
    (the shard lifecycle here, compaction and keyed deletes in
    sources/maintenance.py) stay storage-agnostic: they stage, verify
    (`_verify_staged`), then ask the seam to publish."""

    def link_dir(self, src: str, dst: str) -> None:
        """Hard-link every regular file of `src` into a (created) `dst` —
        the metadata-only generation-carry idiom (Iceberg reuses data
        files across snapshots the same way)."""
        import os

        os.makedirs(dst, exist_ok=True)
        for f in os.listdir(src):
            p = os.path.join(src, f)
            if os.path.isfile(p):
                os.link(p, os.path.join(dst, f))

    def writer_lock(self, out_path: str):
        return _layout_write_lock(out_path)

    def atomic_swap(self, out_path: str, staging: str) -> None:
        """Publish a verified staging root: park the live root at
        `<out>.__old__`, move staging in, drop the parked copy. A crash
        between the two renames leaves `__old__` intact for `recover`;
        a failure of rename #2 rolls rename #1 back, so the live root
        survives every failure mode. Readers may observe a sub-ms ENOENT
        window between the renames — read_shards' retry absorbs it (the
        writer lock excludes only writers)."""
        import os
        import shutil

        old = out_path + ".__old__"
        shutil.rmtree(old, ignore_errors=True)
        if os.path.exists(out_path):
            os.rename(out_path, old)
        if _between_swap_renames is not None:
            _between_swap_renames()
        try:
            os.rename(staging, out_path)
        except BaseException:
            if os.path.exists(old):
                os.rename(old, out_path)  # roll back rename #1
            raise
        shutil.rmtree(old, ignore_errors=True)

    def recover(self, out_path: str) -> bool:
        """Heal an interrupted swap: if a crash hit between the two
        renames, the live path is missing and the previous layout sits
        intact at `<out>.__old__` — restore it. Also sweeps a stray
        `<out>.__lock__` once the root itself is gone for good (retired
        layout, ADVICE-r7 hygiene): the sweep takes the flock first, so
        it can never unlink a lock a live writer holds — including the
        caller's own (a bootstrap's write_shards calls recover while
        holding the lock; its own flock blocks the sweep). Idempotent."""
        import fcntl
        import os

        out_path = out_path.rstrip("/")
        old = out_path + ".__old__"
        if not os.path.exists(out_path) and os.path.exists(old):
            os.rename(old, out_path)
            return True
        lock_file = os.path.realpath(out_path) + ".__lock__"
        if not os.path.exists(out_path) and os.path.exists(lock_file):
            try:
                fd = os.open(lock_file, os.O_RDWR)
            except FileNotFoundError:
                return False  # a concurrent recover swept it first
            try:
                fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
            except BlockingIOError:
                pass  # a writer holds it — not stray
            else:
                os.unlink(lock_file)
            finally:
                os.close(fd)
        return False


LAYOUT_IO = LocalLayoutIO()

_LAYOUT_COLS = ("doc_id", "source", "hkey", "n_tok", "start_off", "text", "shard_id")


def _write_layout(laid: DataFrame, n_shards: int, dest: str):
    """The one shard write: the layout columns of `laid`, range-partitioned
    on shard_id over `n_shards` tasks and sorted in layout order, written
    (overwriting) as `shard_id=K/` dirs under `dest` — see write_shards for
    why. Returns the written schema for `_verify_staged`."""
    laid = laid.select(*_LAYOUT_COLS)
    (
        laid.repartitionByRange(n_shards, "shard_id")
        .sortWithinPartitions("shard_id", "hkey", "doc_id")
        .write.mode("overwrite")
        .partitionBy("shard_id")
        .parquet(dest)
    )
    return laid.schema


def _verify_staged(
    spark: SparkSession, staging: str, schema, expected: int, what: str
) -> None:
    """The check before every publish of a staged parquet rewrite: the
    write committed (`_SUCCESS`) and the staged rows, counted from the
    footers under the declared `schema` (no inference job, and a staging
    root left without data files counts 0), equal `expected`. On failure
    the staging dir is removed and the live data was never touched."""
    import os
    import shutil

    if not os.path.exists(os.path.join(staging, "_SUCCESS")):
        problem = "did not commit"
    else:
        n = spark.read.schema(schema).parquet(staging).count()
        problem = None if n == expected else f"has {n} rows, expected {expected}"
    if problem:
        shutil.rmtree(staging, ignore_errors=True)
        raise RuntimeError(
            f"{what} aborted before swap: staging {staging} {problem}; "
            f"live data untouched"
        )


@_single_writer
def write_shards(
    spark: SparkSession, sf_dir: str, out_path: str, budget: int = SHARD_TOKENS
) -> dict:
    """Materialize the shard layout: the trainer-facing WRITE that
    shard_manifest only plans. Every document lands in exactly one
    `shard_id=K/` parquet directory, laid out in global hash order —
    completing the plan→persisted-artifact lifecycle the way
    build_ivf_index does for ANN serving (similarity.py).

    Physical layout, chosen for the 100 TB case:
    - `text` rides the assignment plan's one wide shuffle (carry=("text",))
      instead of being joined back afterwards — the corpus crosses the wire
      exactly once, TeraSort-style.
    - `repartitionByRange(n_shards, shard_id)` aligns output tasks with
      shard boundaries: equal range-partition keys always land in the same
      task, so every `shard_id=K/` dir is written by EXACTLY one task (one
      file per shard, no small-file spray; a plain partitionBy off a hash
      shuffle would scatter every shard across every task, and ranging on
      (shard_id, hkey) would let a sampled boundary split a shard). Shards
      are near-equal token mass by construction, so range partitions stay
      balanced at any scale.
    - `sortWithinPartitions` makes within-file order the global layout
      order, so a data loader streaming one shard file reads documents in
      their assigned sequence without re-sorting.
    - Readers of one shard touch one directory (partition pruning on the
      shard_id dir column), e.g. a resumed training job re-reading shard 17.

    Durability contract (the seam's, shared with every staged parquet
    rewrite): the layout is written to a sibling staging dir, verified
    (`_verify_staged`: _SUCCESS + a footer-only row-count match against the
    assignment count) BEFORE any mutation of `out_path`, then swapped in
    with the previous layout parked at `<out>.__old__` until the new one is
    live; `recover_shards` heals a crash between the two renames. A reshard
    can therefore never destroy a serving layout on failure.

    Returns {path, n_shards, n_docs} from the write's own plan (no second
    scan: counts come from the assignment aggregate that also sizes the
    range partitioner)."""
    import os
    import shutil

    out_path = out_path.rstrip("/")
    recover_shards(out_path)
    staging = out_path + ".__resharding__"
    shutil.rmtree(staging, ignore_errors=True)

    raw_docs = load_table(spark, sf_dir, "documents")
    docs = raw_docs
    # a full rewrite is an admission path like any other: if the target
    # layout carries tombstones, the rewrite must honor them (filter the
    # source) AND carry them forward (link below) — otherwise one
    # write_shards over a tombstoned root would silently undo every
    # right-to-be-forgotten bar. Shape note: unlike append's gate, the
    # sizes here are REVERSED (big corpus vs small tombstone table), so
    # the direct anti-join is the right plan — ANTI can broadcast its
    # build side, and _membership_delta's distinct+semi would shuffle the
    # full corpus id column for nothing.
    tombs = read_tombstones(spark, out_path)
    if tombs is not None:
        docs = docs.join(tombs, "doc_id", "left_anti")
    assign = _assignments_for(docs, budget, carry=("source", "text"))
    stats = assign.agg(
        F.max("shard_id").alias("max_shard"), F.count("*").alias("n_docs")
    ).first()
    if stats["max_shard"] is None:
        # zero admitted docs has TWO causes that must not conflate
        # (ADVICE-r7): a genuinely empty source (a misconfigured
        # sf_dir must crash, not retire a serving layout) vs a source
        # whose every doc the tombstones barred. One head(1) probe of
        # the pre-filter source disambiguates — only reached on the
        # empty-admission path, so it costs nothing in normal writes.
        if tombs is None or not raw_docs.select("doc_id").head(1):
            raise ValueError(f"no documents in {sf_dir}; nothing to shard")
        # every source doc is barred: the rewrite's honest result is a
        # shard-less root that still carries the bar — the same legal
        # state a delete-everything leaves, not a crash
        os.makedirs(staging)
        n_shards, n_docs = 0, 0
    else:
        n_shards = int(stats["max_shard"]) + 1
        n_docs = int(stats["n_docs"])
        schema = _write_layout(assign, n_shards, staging)
        _verify_staged(spark, staging, schema, n_docs, "shard write")
    _link_tombstones(out_path, staging)
    LAYOUT_IO.atomic_swap(out_path, staging)
    # drop any cached plan/listing over the (now replaced) layout path —
    # the CacheManager would otherwise serve pre-swap data to an
    # equivalent later read of the same path
    spark.catalog.refreshByPath(out_path)
    return {"path": out_path, "n_shards": n_shards, "n_docs": n_docs}


def recover_shards(out_path: str) -> bool:
    """Heal an interrupted shard swap (and sweep a stray lock file when
    the root itself is retired) — see LocalLayoutIO.recover. Idempotent;
    called automatically by every lifecycle op."""
    return LAYOUT_IO.recover(out_path)


def _shard_dirs_exist(out_path: str) -> bool:
    """True iff the layout root holds at least one `shard_id=K/` dir.
    An existing-but-empty root (a crashed bootstrap, or a delete that
    retired every shard) has no parquet files, so a read would fail
    schema inference — every lifecycle op gates on this instead
    (ADVICE-r6: compact/delete previously read unconditionally)."""
    import os

    return os.path.exists(out_path) and any(
        e.startswith("shard_id=") for e in os.listdir(out_path)
    )


def read_tombstones(spark: SparkSession, out_path: str) -> DataFrame | None:
    """The layout's tombstone table: doc_ids barred from (re-)admission,
    persisted as an APPEND-ONLY parquet dir `_deleted/` inside the root
    (underscore-prefixed — invisible to data reads, like `_manifest`).
    Append-only is the object-storage-friendly shape: each delete adds
    one uniquely-named file, no swap needed, and duplicate ids across
    files are harmless under anti-join semantics. Returns None when no
    tombstones exist."""
    import os

    d = os.path.join(out_path.rstrip("/"), "_deleted")
    if not os.path.isdir(d) or not any(
        f.endswith(".parquet") for f in os.listdir(d)
    ):
        return None
    # same staleness hazard as the layout itself: the dir gains files
    # across deletes, and a cached equivalent plan would not see them
    spark.catalog.refreshByPath(d)
    return spark.read.parquet(d).select("doc_id")


def _link_tombstones(out_path: str, staging: str) -> None:
    """Carry the tombstone dir into a snapshot root file-by-file
    (metadata-only, same hard-link idiom as the kept shard dirs) —
    compaction/deletion must not lose the bar on deleted ids."""
    import os

    src = os.path.join(out_path, "_deleted")
    if not os.path.isdir(src):
        return
    LAYOUT_IO.link_dir(src, os.path.join(staging, "_deleted"))


def _link_snapshot(out_path: str, staging: str, skip, col: str) -> None:
    """Carry the kept generation into a snapshot root the rewrite has just
    been written to: every `<col>=v/` dir of `out_path` whose v is not in
    `skip` is hard-linked file-by-file through the seam beside the
    rewritten dirs (metadata-only — IO ∝ directory entries, never
    payload). The root's `_SUCCESS` is the rewrite's own commit marker."""
    import os

    skipped = {f"{col}={v}" for v in skip}
    for entry in sorted(os.listdir(out_path)):
        if entry.startswith(f"{col}=") and entry not in skipped:
            LAYOUT_IO.link_dir(os.path.join(out_path, entry), os.path.join(staging, entry))


def _carry_tombstones_compacted(spark: SparkSession, out_path: str, staging: str) -> None:
    """Carry tombstones into a snapshot root, MERGING the append-only
    files into one distinct-id parquet when more than one has accumulated
    — the `_deleted/` analogue of the fragment-shard compaction itself
    (each delete adds a file; compaction is the designated merge point).
    A single file is hard-linked unchanged (metadata-only)."""
    import os

    src = os.path.join(out_path, "_deleted")
    if not os.path.isdir(src):
        return
    files = [f for f in os.listdir(src) if f.endswith(".parquet")]
    if len(files) <= 1:
        _link_tombstones(out_path, staging)
        return
    tombs = read_tombstones(spark, out_path)
    tombs.distinct().coalesce(1).write.mode("overwrite").parquet(
        os.path.join(staging, "_deleted")
    )


@_single_writer
def append_shards(
    spark: SparkSession, sf_dir: str, out_path: str, budget: int = SHARD_TOKENS
) -> dict:
    """Incremental shard APPEND: lay out only the documents of `sf_dir` not
    already in the layout at `out_path`, as NEW `shard_id=K/` dirs after the
    last existing shard — the production ingest pattern at 100 TB, where a
    daily delta batch must not re-lay (or even re-read the text of) the
    full corpus the way write_shards does. Composes with
    dedup_incremental_candidates the way streaming_index_ingest does for
    ANN serving.

    Semantics:
    - Membership: delta = documents LEFT ANTI JOIN layout ON doc_id, so
      redelivered docs are skipped — append is idempotent under at-least-
      once delivery. Cost ∝ delta + ONE narrow doc_id column scan of the
      layout (column pruning; no text is read from existing shards).
    - Offsets stay contiguous across the boundary: the first delta doc
      starts at the layout's max end offset (== the corpus token total
      while the layout is dense; strictly beyond every retired span once
      a compaction or deletion has run), and the delta's own two-level
      prefix sum continues from there.
    - Shard ids: delta docs land in fresh shards starting at
      max(shard_id)+1 even when the boundary shard is under-budget —
      written shards are IMMUTABLE (a data loader may hold any of them
      open), so the append trades perfect packing of one boundary shard
      for never mutating an existing dir. shard_id = start_off div budget
      therefore holds only within each write generation.
    - Durability: the delta is staged like write_shards, count-verified,
      then each new `shard_id=K/` dir is moved in with one atomic rename.
      A crash mid-move leaves a prefix of whole delta shards live; the
      next append recomputes the delta (those docs now ARE in the layout)
      and continues after them — re-entrant, never corrupting.

    Returns {path, n_new_docs, n_new_shards, first_new_shard}. An absent
    layout degenerates to write_shards."""
    import os

    out_path = out_path.rstrip("/")
    recover_shards(out_path)
    if not os.path.exists(out_path):
        full = write_shards(spark, sf_dir, out_path, budget)
        return {
            "path": out_path,
            "n_new_docs": full["n_docs"],
            "n_new_shards": full["n_shards"],
            "first_new_shard": 0,
        }
    return append_docs(
        spark, load_table(spark, sf_dir, "documents"), out_path, budget
    )


def _membership_delta(
    spark: SparkSession,
    docs: DataFrame,
    existing: DataFrame,
    span: tuple[int, int] | None = None,
) -> DataFrame:
    """The append membership gate (delta = docs not already in the layout),
    shaped so the layout side never pays an O(corpus) shuffle the way the
    naive `docs LEFT ANTI existing_ids` does (LeftAnti cannot broadcast its
    preserved side, and Catalyst's runtime-Bloom injection skips ANTI joins
    and filterless creation sides — both measured on this Spark). Three
    composed shapes, all exact:

      1. A RANGE prefilter [min_id, max_id] derived from the batch (one
         2-scalar agg) drops layout ids outside the batch's id span AT THE
         SCAN (parquet row-group min/max skipping). Under the production
         high-water-mark pattern — new doc ids minted past the corpus max
         — this eliminates the layout side almost entirely; for arbitrary
         ids it is a no-op, never wrong.
      2. Surviving layout ids LEFT SEMI the batch ids — broadcastable
         (unlike ANTI's preserved side), so the common small-batch case
         shuffles nothing.
      3. docs LEFT ANTI the (at most batch-sized) hit set — broadcastable
         again.

    Identical result to the direct anti-join: layout ids matching nothing
    in the batch can never affect it.

    `span` is an optional precomputed (min_id, max_id) of the batch — a
    caller gating the same batch against several membership tables (layout
    + tombstones) passes the RAW batch's span once instead of paying one
    agg job per gate (the raw span is a valid superset for any gated
    subset of the batch, and the prefilter is only ever a superset
    optimization)."""
    if span is None:
        b = docs.agg(F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx")).first()
        span = (b["mn"], b["mx"])
    if span[0] is None:
        return docs
    in_span = existing.select("doc_id").filter(
        F.col("doc_id").between(F.lit(span[0]), F.lit(span[1]))
    )
    hits = in_span.join(docs.select("doc_id").distinct(), "doc_id", "left_semi")
    return docs.join(hits, "doc_id", "left_anti")


@_single_writer
def append_docs(
    spark: SparkSession,
    docs: DataFrame,
    out_path: str,
    budget: int = SHARD_TOKENS,
    honor_tombstones: bool = True,
    check_redelivery_content: bool = True,
) -> dict:
    """append_shards over an arbitrary documents DataFrame — the entry point
    a streaming ingest's foreachBatch calls with each micro-batch
    (streaming/events.shard_ingest_append). Same semantics/durability as
    append_shards; additionally bootstraps an ABSENT layout in-place (the
    first batch creates `out_path` with shards starting at 0).

    `honor_tombstones` (default on) bars doc_ids recorded by
    `delete_from_shards(..., tombstone=True)` from re-admission: the
    `_deleted/` table joins the membership gate as a second broadcastable
    anti-join (same range-prefiltered shape, cost ∝ batch), closing the
    right-to-be-forgotten seam where a redelivered deleted doc would
    silently re-enter the corpus. Pass False to keep the old re-admission
    semantics (e.g. a deliberate re-ingest after a takedown reversal).

    `check_redelivery_content` (default on) asserts the at-least-once
    contract this function's dedup relies on — redelivered doc_ids carry
    IDENTICAL text. The check (countDistinct(doc_id) vs
    countDistinct(doc_id, md5(text))) rides the single raw-batch agg that
    also computes the gates' range prefilter, so it adds no extra job;
    it fails loud on divergence instead of letting dropDuplicates keep an
    arbitrary survivor and silently poison every conservation fingerprint
    (ADVICE-r6). Deliberate tradeoff: the check runs on the RAW batch, so
    it fires even when the poisoned id would have been screened out by
    the membership gates — divergence is an upstream integrity bug either
    way, and surfacing it beats half-ingesting around it. A streaming
    sink retrying a poison batch will therefore fail repeatedly BY DESIGN
    until the ids are dropped upstream (or the batch is re-run with
    check_redelivery_content=False after triage, accepting an arbitrary
    survivor for the divergent ids)."""
    import os
    import shutil

    out_path = out_path.rstrip("/")
    recover_shards(out_path)
    staging = out_path + ".__appending__"
    shutil.rmtree(staging, ignore_errors=True)

    # ONE agg over the RAW batch serves everything scalar the gates need:
    # the [min,max] range prefilter reused by BOTH membership gates (the
    # raw span is a valid superset for any gated subset), and the
    # divergence check — no per-gate agg jobs, no layout scan here.
    # NULL-safe content key: countDistinct drops rows with a null in ANY
    # column, so a bare md5(text) would make a null-text doc vanish from
    # `contents` and spuriously trip the check.
    batch_aggs = [F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx")]
    if check_redelivery_content:
        batch_aggs += [
            F.countDistinct("doc_id").alias("ids"),
            F.countDistinct(
                "doc_id", F.coalesce(F.md5("text"), F.lit("<null-text>"))
            ).alias("contents"),
        ]
    b = docs.agg(*batch_aggs).first()
    span = (b["mn"], b["mx"])
    if check_redelivery_content and b["contents"] != b["ids"]:
        raise ValueError(
            f"append batch violates at-least-once redelivery contract: "
            f"{b['contents'] - b['ids']} extra (doc_id, text) pairing(s) "
            f"beyond one text per doc_id; refusing to pick an arbitrary "
            f"survivor"
        )

    # "has a layout" means shard dirs exist — an empty root (a crashed
    # bootstrap, or a delete that emptied every shard) re-bootstraps
    # instead of failing schema inference on a file-less read
    has_layout = _shard_dirs_exist(out_path)
    if has_layout:
        # the layout path may have grown since a previous read in this
        # session; refresh before reading so neither a stale file listing
        # nor a cached equivalent plan (CacheManager substitutes by
        # canonical plan, which does not see new files) can serve
        # pre-append contents
        spark.catalog.refreshByPath(out_path)
        existing = read_shards(spark, out_path)
        # prev_end must be the layout's MAX END, not SUM(n_tok): the two
        # agree only while offsets are dense, and compaction/deletion
        # retire spans — a sum-based rebase would overlap the relocated
        # tail (caught by the lifecycle scenario test)
        prev = existing.agg(
            F.max("shard_id").alias("last_shard"),
            F.max(F.col("start_off") + F.col("n_tok")).alias("prev_end"),
        ).first()
        last_shard, prev_end = int(prev["last_shard"]), int(prev["prev_end"])
        delta_docs = _membership_delta(spark, docs, existing, span)
    else:
        last_shard, prev_end = -1, 0
        delta_docs = docs
    if honor_tombstones:
        tombs = read_tombstones(spark, out_path)
        if tombs is not None:
            # second membership gate, same scale shape as the layout one:
            # range-prefiltered + broadcastable semi/anti, cost ∝ batch
            delta_docs = _membership_delta(spark, delta_docs, tombs, span)
    # intra-batch dedup: the membership gate only screens against the
    # LAYOUT, so a doc redelivered twice within one batch would otherwise
    # be laid out twice — keep exactly one row per doc_id (at-least-once
    # redelivery carries identical content — asserted above — so any
    # survivor is the row)
    delta_docs = delta_docs.dropDuplicates(["doc_id"])
    delta_assign = _assignments_for(delta_docs, budget, carry=("source", "text"))
    assign = delta_assign.withColumn(
        "start_off", F.col("start_off") + F.lit(prev_end)
    ).withColumn("shard_id", F.col("shard_id") + F.lit(last_shard + 1))
    stats = assign.agg(
        F.max("shard_id").alias("max_shard"), F.count("*").alias("n_docs")
    ).first()
    if stats["max_shard"] is None:
        return {
            "path": out_path,
            "n_new_docs": 0,
            "n_new_shards": 0,
            "first_new_shard": last_shard + 1,
        }
    n_new_docs = int(stats["n_docs"])
    n_new_shards = int(stats["max_shard"]) - last_shard
    schema = _write_layout(assign, n_new_shards, staging)
    _verify_staged(spark, staging, schema, n_new_docs, "shard append")
    # the live root is only created (or first populated) AFTER the staging
    # verification above, so a failed staged write can never leave a
    # poisoned empty layout behind
    os.makedirs(out_path, exist_ok=True)
    for entry in sorted(os.listdir(staging)):
        if not entry.startswith("shard_id="):
            continue
        dst = os.path.join(out_path, entry)
        if os.path.exists(dst):  # cannot happen: ids start past max
            raise RuntimeError(f"append collision on existing {dst}")
        os.rename(os.path.join(staging, entry), dst)
    shutil.rmtree(staging, ignore_errors=True)
    # a persisted manifest describes a generation; this append created a
    # new one, so invalidate rather than leave a stale inventory (compact/
    # delete drop it implicitly — their snapshot roots link shard dirs
    # only). Callers re-run write_layout_manifest when they want one.
    shutil.rmtree(os.path.join(out_path, "_manifest"), ignore_errors=True)
    spark.catalog.refreshByPath(out_path)
    return {
        "path": out_path,
        "n_new_docs": n_new_docs,
        "n_new_shards": n_new_shards,
        "first_new_shard": last_shard + 1,
    }


@_single_writer
def compact_shards(
    spark: SparkSession,
    out_path: str,
    budget: int = SHARD_TOKENS,
    min_fill: float = 0.5,
) -> dict:
    """Compact the under-full shards appends accumulate: every append
    generation ends in one boundary shard below budget, so after K delta
    batches the layout carries K fragment shards — the small-file problem
    at the shard granularity. This re-lays ONLY those shards' documents
    (laid in global hash order, budget-cut) into fresh full shards at the
    tail, and retires the fragment dirs.

    Durability/scale shape:
    - The new generation is built as a SIBLING root: every kept shard dir
      is HARD-LINKED file-by-file (metadata-only — the Iceberg-snapshot
      idiom of reusing data files across table versions; on object
      storage this is a manifest copy), and only the fragment docs are
      rewritten. IO ∝ fragments, not corpus.
    - One atomic root swap serves the new generation (same parked-__old__
      contract as write_shards; recover_shards heals a crash between the
      renames). Readers hold the old root until the swap, then see a
      complete layout — never a mid-compaction hole.
    - Re-offsetting: compacted docs continue after the layout's max end,
      so offsets stay a strictly-ordered, non-overlapping global sort key
      — but are no longer DENSE once a compaction (or any deletion)
      retires spans. Density is an append-generation property; the loader
      contract is the order.
    - No-op below 2 fragments (re-labelling a single fragment would churn
      an id without reducing fragment count).

    Returns {path, n_compacted_shards, n_new_shards, n_moved_docs}."""
    import shutil

    out_path = out_path.rstrip("/")
    recover_shards(out_path)
    # a root whose shards were all retired by a prior delete is a state
    # the lifecycle explicitly permits — graceful no-op instead of a
    # schema-inference failure on a file-less read (ADVICE-r6)
    if not _shard_dirs_exist(out_path):
        return {
            "path": out_path,
            "n_compacted_shards": 0,
            "n_new_shards": 0,
            "n_moved_docs": 0,
        }
    staging = out_path + ".__compacting__"
    shutil.rmtree(staging, ignore_errors=True)
    spark.catalog.refreshByPath(out_path)
    layout = read_shards(spark, out_path)

    sizes = layout.groupBy("shard_id").agg(F.sum("n_tok").alias("tok"))
    threshold = int(budget * min_fill)
    under = sorted(
        int(r["shard_id"]) for r in sizes.filter(F.col("tok") < threshold).collect()
    )
    if len(under) < 2:
        return {
            "path": out_path,
            "n_compacted_shards": 0,
            "n_new_shards": 0,
            "n_moved_docs": 0,
        }
    prev = layout.agg(
        F.max("shard_id").alias("max_id"),
        F.max(F.col("start_off") + F.col("n_tok")).alias("max_end"),
        F.count("*").alias("n_docs"),
    ).first()
    next_id, prev_end, total_docs = (
        int(prev["max_id"]) + 1,
        int(prev["max_end"]),
        int(prev["n_docs"]),
    )

    # re-lay the fragment docs (partition pruning reads only those dirs)
    moved = layout.filter(F.col("shard_id").isin(under)).select(
        "doc_id", "source", "text"
    )
    assign = _assignments_for(moved, budget, carry=("source", "text"))
    assign = assign.withColumn(
        "start_off", F.col("start_off") + F.lit(prev_end)
    ).withColumn("shard_id", F.col("shard_id") + F.lit(next_id))
    stats = assign.agg(
        F.max("shard_id").alias("max_shard"), F.count("*").alias("n_moved")
    ).first()
    n_moved, n_new = int(stats["n_moved"]), int(stats["max_shard"]) - next_id + 1
    schema = _write_layout(assign, n_new, staging)
    # beside the new shards: every kept shard dir, hard-linked (metadata-
    # only); tombstones survive compaction (the bar on deleted ids is a
    # property of the corpus, not of one generation) and get their own
    # small-file merge here; _manifest deliberately does NOT carry — a
    # compaction invalidates the shard inventory
    _link_snapshot(out_path, staging, under, "shard_id")
    _carry_tombstones_compacted(spark, out_path, staging)
    # verify BEFORE any mutation of the live root (write_shards contract)
    _verify_staged(spark, staging, schema, total_docs, "compaction")
    LAYOUT_IO.atomic_swap(out_path, staging)
    spark.catalog.refreshByPath(out_path)
    return {
        "path": out_path,
        "n_compacted_shards": len(under),
        "n_new_shards": n_new,
        "n_moved_docs": n_moved,
    }


@_single_writer
def delete_from_shards(
    spark: SparkSession, doc_ids: DataFrame, out_path: str, tombstone: bool = True
) -> dict:
    """Targeted document deletion from a shard layout — right-to-be-
    forgotten applied to the trainer-facing artifact itself (the analogue
    of sources/maintenance.delete_keys_partitioned for parquet tables). Rewrites ONLY
    the shards that hold doomed doc_ids; every untouched shard dir is
    hard-linked into a sibling snapshot root (metadata-only, same idiom
    as compact_shards) and one atomic root swap serves the new generation
    (recover_shards heals crashes).

    Semantics:
    - affected = layout SEMI JOIN ids on doc_id → distinct shard ids; the
      membership probe reads one narrow column and the id batch
      broadcasts when small. IO ∝ affected shards, not corpus.
    - survivors of affected shards keep their shard_id AND offsets —
      deletion leaves offset holes (like compaction retirement, density
      is an append-generation property; the loader contract is order).
    - a shard emptied entirely is RETIRED: absent from the new root (the
      emptied-partition case a naive dynamic overwrite silently gets
      wrong — maintenance.py's lesson, applied here).
    - ids not present in the layout are ignored for the REWRITE
      (idempotent re-delete) but still tombstoned (below) — a takedown
      request must bar an id that has not arrived yet.
    - `tombstone` (default on) records EVERY requested id in the layout's
      append-only `_deleted/` table (one new uniquely-named parquet file
      per delete; carried across compact/delete snapshot roots by the
      same hard-link pass as the kept shards). `append_docs` consults it
      as a second broadcastable anti-join, so a later append that
      redelivers a deleted doc_id admits NOTHING — right-to-be-forgotten
      holds end-to-end without trusting the ingest stream to drop the
      ids. Pass tombstone=False for the old artifact-only semantics
      (re-admission allowed).

    Growth contract (VERDICT-r7): `_deleted/` grows WITHOUT BOUND by
    design — the bar must outlive the documents it bars, so no lifecycle
    op ever prunes ids. The cost model makes that safe: ~8 bytes/id in
    parquet, one file per delete, merged to a single distinct-id file at
    every compaction — a billion takedowns is single-digit GB next to a
    100 TB corpus. The ONLY sanctioned shrink is `vacuum_tombstones`, an
    explicit operator for ids the caller attests can never be
    redelivered (e.g. a reversed takedown).

    Returns {path, n_deleted, n_rewritten_shards, n_retired_shards,
    n_tombstoned}."""
    import os
    import shutil

    out_path = out_path.rstrip("/")
    recover_shards(out_path)
    ids = doc_ids.select("doc_id").distinct()

    def _write_tombstones(root: str) -> int:
        if not tombstone:
            return 0
        n = ids.count()
        if n:
            os.makedirs(root, exist_ok=True)
            ids.coalesce(1).write.mode("append").parquet(
                os.path.join(root, "_deleted")
            )
        return int(n)

    # a root whose shards were all retired by a prior delete — or that
    # does not exist yet (a takedown arriving AHEAD of first ingest) —
    # is a legal state: no rewrite work, but the tombstone record still
    # lands, creating the root if needed so write_shards/append_docs
    # find and honor the bar when the data does arrive
    if not _shard_dirs_exist(out_path):
        n_tomb = _write_tombstones(out_path)
        return {
            "path": out_path,
            "n_deleted": 0,
            "n_rewritten_shards": 0,
            "n_retired_shards": 0,
            "n_tombstoned": n_tomb,
        }
    staging = out_path + ".__deleting__"
    shutil.rmtree(staging, ignore_errors=True)
    spark.catalog.refreshByPath(out_path)
    layout = read_shards(spark, out_path)

    # one membership probe answers both questions (affected shard set AND
    # doomed count) as a per-shard count — NOT collect_set into a single
    # array row (ADVICE-r6: that funnels every affected shard id through
    # one agg row). The driver does hold one (shard_id, count) row per
    # affected shard: bounded by the layout's shard count (corpus tokens /
    # budget — ~10^5 rows for 100 TB at a production 10^8-token budget),
    # and inherently needed here because the hard-link snapshot loop below
    # is a driver-side filesystem pass; on object storage this whole block
    # is a manifest rewrite (see DESIGN.md). No broadcast hint — Catalyst
    # broadcasts a small id batch on its own, and a huge right-to-be-
    # forgotten batch must be allowed to shuffle instead of OOMing the
    # driver.
    doomed = layout.join(ids, "doc_id", "left_semi")
    aff_rows = doomed.groupBy("shard_id").agg(F.count("*").alias("n")).collect()
    n_deleted = int(sum(r["n"] for r in aff_rows))
    affected = sorted(int(r["shard_id"]) for r in aff_rows)
    if not affected:
        n_tomb = _write_tombstones(out_path)
        return {
            "path": out_path,
            "n_deleted": 0,
            "n_rewritten_shards": 0,
            "n_retired_shards": 0,
            "n_tombstoned": n_tomb,
        }
    total_docs = layout.count()  # parquet footer count, no payload read

    # the affected-shard scan joins a K-row DataFrame rather than
    # inlining a giant IN-expression (ADVICE-r6): dynamic partition
    # pruning on the broadcast build side prunes the shard dirs the same
    # way the static isin() did, without a 10^5-term predicate at scale
    affected_df = local_table(spark, [(s,) for s in affected], "shard_id long")
    survivors = layout.join(
        F.broadcast(affected_df), "shard_id", "left_semi"
    ).join(ids, "doc_id", "left_anti")
    schema = _write_layout(survivors, max(len(affected), 1), staging)
    # a shard whose every doc was deleted wrote no dir: it is retired
    rewritten = sum(e.startswith("shard_id=") for e in os.listdir(staging))
    _link_snapshot(out_path, staging, affected, "shard_id")
    _link_tombstones(out_path, staging)
    n_tombstoned = _write_tombstones(staging)
    _verify_staged(spark, staging, schema, total_docs - n_deleted, "deletion")
    LAYOUT_IO.atomic_swap(out_path, staging)
    spark.catalog.refreshByPath(out_path)
    return {
        "path": out_path,
        "n_deleted": n_deleted,
        "n_rewritten_shards": rewritten,
        "n_retired_shards": len(affected) - rewritten,
        "n_tombstoned": n_tombstoned,
    }


@_single_writer
def vacuum_tombstones(spark: SparkSession, doc_ids: DataFrame, out_path: str) -> dict:
    """The ONE sanctioned way to shrink a layout's `_deleted/` table:
    remove ids the caller explicitly attests can never be redelivered
    (a reversed takedown, an id range retired upstream). Everything else
    about tombstones is append-only by contract — see delete_from_shards.

    Crash-safety by MONOTONICITY, not swap: the remaining-id file is
    admitted into `_deleted/` BEFORE the superseded files are unlinked,
    and duplicate ids across files are harmless under anti-join
    semantics — a crash at any point leaves the bar a SUPERSET of the
    intended set (over-barring is safe; under-barring never occurs).
    Re-run to converge. Returns {path, n_vacuumed, n_remaining}."""
    import os
    import shutil

    out_path = out_path.rstrip("/")
    # like every lifecycle op: heal a crashed swap FIRST, or a layout
    # parked at __old__ would make this report a spuriously empty bar
    # (n_vacuumed=0) while the tombstones survive the next recover
    recover_shards(out_path)
    tomb_dir = os.path.join(out_path, "_deleted")
    tombs = read_tombstones(spark, out_path)
    if tombs is None:
        return {"path": out_path, "n_vacuumed": 0, "n_remaining": 0}
    ids = doc_ids.select("doc_id").distinct()
    old_files = [f for f in os.listdir(tomb_dir) if f.endswith(".parquet")]
    n_before = tombs.distinct().count()
    staging = tomb_dir + ".__vacuum__"
    shutil.rmtree(staging, ignore_errors=True)
    # the write below fully materializes the read of the old files before
    # any of them is touched; the writer lock excludes concurrent deletes
    kept = tombs.distinct().join(ids, "doc_id", "left_anti")
    kept.coalesce(1).write.mode("overwrite").parquet(staging)
    n_remaining = spark.read.schema(kept.schema).parquet(staging).count()  # footer-only
    if n_remaining:
        for f in os.listdir(staging):
            if f.endswith(".parquet"):  # job-UUID names never collide
                os.rename(os.path.join(staging, f), os.path.join(tomb_dir, f))
    shutil.rmtree(staging, ignore_errors=True)
    for f in old_files:
        os.unlink(os.path.join(tomb_dir, f))
    spark.catalog.refreshByPath(tomb_dir)
    return {
        "path": out_path,
        "n_vacuumed": int(n_before - n_remaining),
        "n_remaining": int(n_remaining),
    }


def read_shards(spark: SparkSession, out_path: str) -> DataFrame:
    """Read a written shard layout back; the shard_id partition-dir column
    comes back LONG (partition-column inference yields int) so downstream
    joins against manifest shard_ids are type-stable.

    Reader contract during a swap (VERDICT-r7): the root-swap's two
    renames open a sub-millisecond window where the path does not exist
    (the writer flock excludes only WRITERS), so a cross-process reader
    can hit PATH_NOT_FOUND on a perfectly healthy layout. This read
    absorbs the window by retrying briefly — but ONLY on the window's
    own evidence (`_retryable_swap_miss`: either `<out>.__old__`, the
    parked previous generation, is still present, or the root itself is
    already back — the post-swap race), so a genuinely missing path
    (typo'd CLI --layout, retired root) still fails on the first attempt
    rather than spinning out the deadline. A path still absent after the
    deadline means a writer crashed mid-swap — run recover_shards — and
    the error propagates.

    Scope: the guarantee covers DataFrame CONSTRUCTION — the local
    analogue of the MVCC snapshot a Postgres reader gets for free (the
    reference's store, scripts/init_db.py): a reader constructing during
    a swap sees the previous or the new generation, never a hole. A LAZY
    DataFrame held across a LATER swap pins the old file listing and
    follows normal Spark file-source semantics (its action may fail with
    FileNotFoundException once the old generation's files retire) —
    re-read, or refreshByPath, after a known mutation, as with any Spark
    path-based source."""
    import os
    import time

    from pyspark.errors import AnalysisException

    deadline = time.monotonic() + 2.0
    while True:
        try:
            return spark.read.parquet(out_path).withColumn(
                "shard_id", F.col("shard_id").cast("long")
            )
        except AnalysisException as exc:
            if not _retryable_swap_miss(str(exc), out_path) or (
                time.monotonic() >= deadline
            ):
                raise
            time.sleep(0.05)


def _retryable_swap_miss(exc_str: str, out_path: str) -> bool:
    """Was a reader's PATH_NOT_FOUND a transient swap artifact worth one
    more attempt? Two evidence shapes, checked AFTER the failure:

    - the window is still open: `<out>.__old__` (the parked previous
      generation, which exists exactly between the two renames) is
      present; or
    - the window already CLOSED again: `<out>` itself is back — covering
      the race where the writer completes the second rename and clears
      `__old__` between Spark's failure and this check (observed as a
      one-in-many-runs flake of test_reader_survives_swap_window under
      full-suite load; a retry here trivially succeeds).

    A genuinely missing path (typo'd --layout, retired root) shows
    neither and fails on the FIRST attempt, keeping the fast-fail
    contract."""
    import os

    if "PATH_NOT_FOUND" not in exc_str:
        return False
    root = out_path.rstrip("/")
    return os.path.exists(root + ".__old__") or os.path.exists(root)


def shard_readback_audit(spark: SparkSession, out_path: str) -> DataFrame:
    """Per-shard conservation fingerprint recomputed ENTIRELY from the
    written payload (doc_id, source, text) — the stored layout metadata
    (hkey, n_tok, start_off) is deliberately ignored, so a lost, duplicated,
    misplaced, or corrupted document cannot hide: membership (hash span +
    content-hash sum), token mass, and doc counts all shift. Compared
    against the manifest recomputed from the SOURCE table, this is the
    write-path analogue of snk_compaction_roundtrip's fingerprint check."""
    back = read_shards(spark, out_path)
    return back.groupBy("shard_id").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("doc_id").alias("n_unique_docs"),
        F.sum(F.size(tokens_col()).cast("long")).alias("shard_tokens"),
        F.countDistinct("source").alias("n_sources"),
        F.min(_shard_hkey()).alias("shard_min_hkey"),
        F.max(_shard_hkey()).alias("shard_max_hkey"),
        content_hash_sum().alias("content_hash_sum"),
    )


def content_hash_sum(text_col: str = "text") -> F.Column:
    """Order-insensitive membership fingerprint of a group's documents:
    SUM of 56-bit content hashes accumulated exactly in decimal(38,0) and
    reduced mod HASH_SUM_MOD — never wraps, at any group size (the raw
    int64 sum silently wrapped past ~256 docs/group; ADVICE-r5). The DuckDB
    twin is `CAST(SUM(chash) % {HASH_SUM_MOD} AS BIGINT)` (HUGEINT sum is
    exact there)."""
    return F.pmod(
        F.sum(hash56(text_col).cast("decimal(38,0)")), F.lit(HASH_SUM_MOD).cast("decimal(38,0)")
    ).cast("long")


@_single_writer
def write_layout_manifest(spark: SparkSession, out_path: str) -> str:
    """Persist the layout's per-shard conservation fingerprints as a
    `_manifest` parquet INSIDE the layout root (underscore-prefixed, so
    Spark's file listing ignores it — read_shards never sees it). The
    manifest is what a trainer's loader trusts at job start: instead of
    re-fingerprinting 100 TB, it verifies the (tiny) shard inventory, and
    `verify_shards` re-fingerprints payloads on demand (spot checks, or
    after an incident). Every mutating lifecycle op INVALIDATES the
    manifest (append removes it; compact/delete's snapshot roots link
    shard dirs only), so a stale inventory can never verify — re-run this
    after the op; it is K rows for K shards, negligible next to the op."""
    import os

    manifest_dir = os.path.join(out_path.rstrip("/"), "_manifest")
    audit = shard_readback_audit(spark, out_path)
    audit.coalesce(1).write.mode("overwrite").parquet(manifest_dir)
    return manifest_dir


def read_layout_manifest(spark: SparkSession, out_path: str) -> DataFrame:
    import os

    return spark.read.parquet(os.path.join(out_path.rstrip("/"), "_manifest"))


def verify_shards(spark: SparkSession, out_path: str) -> DataFrame:
    """Reader-side integrity check: re-fingerprint every shard from the
    WRITTEN payload and full-outer join against the persisted manifest.
    One row per shard with a boolean per fingerprint column plus `shard_ok`
    — a lost/extra/corrupted/swapped shard file shows up as a false (or a
    null-joined row) naming exactly which invariant broke. This is the
    check a training job runs before trusting a layout it did not just
    write (the write paths self-verify only their own generation)."""
    cols = [
        "n_docs", "n_unique_docs", "shard_tokens", "n_sources",
        "shard_min_hkey", "shard_max_hkey", "content_hash_sum",
    ]
    actual = shard_readback_audit(spark, out_path).alias("a")
    stored = read_layout_manifest(spark, out_path).alias("m")
    j = actual.join(stored, F.col("a.shard_id") == F.col("m.shard_id"), "full_outer")
    checks = [
        (F.col(f"a.{c}") == F.col(f"m.{c}")).alias(f"{c}_ok") for c in cols
    ]
    present = (
        F.col("a.shard_id").isNotNull() & F.col("m.shard_id").isNotNull()
    ).alias("present_ok")
    out = j.select(
        F.coalesce(F.col("a.shard_id"), F.col("m.shard_id")).alias("shard_id"),
        present,
        *checks,
    )
    shard_ok = F.lit(True)
    for c in ["present_ok"] + [f"{c}_ok" for c in cols]:
        shard_ok = shard_ok & F.coalesce(F.col(c), F.lit(False))
    return out.withColumn("shard_ok", shard_ok)


def epoch_schedule(
    spark: SparkSession, sf_dir: str, n_epochs: int = 3, budget: int = SHARD_TOKENS
) -> DataFrame:
    """Per-epoch shard reading order: each training epoch visits every
    shard exactly once, in an epoch-specific deterministic permutation
    (order key = content hash of 'epoch:<e>:<shard_id>'), with the
    epoch-local cumulative token offset a resuming loader seeks by. This
    is the piece between the layout and the trainer: re-shuffling shard
    ORDER per epoch decorrelates batch composition across epochs without
    touching the (expensive, globally-shuffled-once) shard payloads —
    the standard large-scale practice, and exactly reproducible on any
    engine (no seeded RNG; the hash IS the permutation).

    Scale shape: operates on the K-row manifest aggregate, never the
    corpus — one tiny explode (K shards x epochs) + per-epoch windows
    over K rows.

    This variant schedules the PLANNED layout (shard_manifest over the
    source table — shard ids as a fresh full write lays them). For a
    layout that has lived through the append/compact/delete lifecycle
    (generation-local ids, retired spans), schedule the WRITTEN artifact
    instead: `epoch_schedule_for_layout` / `epoch_token_slice_for_layout`
    derive the same K-row table from the layout dirs."""
    m = shard_manifest(spark, sf_dir, budget).select(
        "shard_id", "shard_tokens", "n_docs"
    )
    return _schedule_over(m, n_epochs)


def epoch_schedule_for_layout(
    spark: SparkSession, out_path: str, n_epochs: int = 3
) -> DataFrame:
    """epoch_schedule over a WRITTEN layout: the per-shard table comes
    from the artifact itself (footer-count + n_tok sums per shard dir),
    so generation-local shard ids and post-compaction/deletion span
    retirement are scheduled as they actually exist on storage."""
    m = read_shards(spark, out_path).groupBy("shard_id").agg(
        F.sum("n_tok").alias("shard_tokens"), F.count("*").alias("n_docs")
    )
    return _schedule_over(m, n_epochs)


def _schedule_over(shards: DataFrame, n_epochs: int) -> DataFrame:
    e = shards.withColumn(
        "epoch", F.explode(F.sequence(F.lit(0), F.lit(n_epochs - 1)))
    ).withColumn(
        "order_key",
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("epoch:"),
                        F.col("epoch").cast("string"),
                        F.lit(":"),
                        F.col("shard_id").cast("string"),
                    )
                ),
                1,
                14,
            ),
            16,
            10,
        ).cast("long"),
    )
    w = Window.partitionBy("epoch").orderBy("order_key", "shard_id")
    return e.select(
        "epoch",
        "shard_id",
        "shard_tokens",
        "n_docs",
        "order_key",
        F.row_number().over(w).alias("order_rank"),
        (F.sum("shard_tokens").over(w.rowsBetween(Window.unboundedPreceding, 0))
         - F.col("shard_tokens")).alias("epoch_start_off"),
    )


def epoch_token_slice(
    spark: SparkSession,
    sf_dir: str,
    epoch: int,
    start_tok: int,
    end_tok: int,
    budget: int = SHARD_TOKENS,
) -> DataFrame:
    """The resuming loader's seek: for epoch `epoch` and the token window
    [start_tok, end_tok), the ordered set of shards whose epoch-local span
    intersects the window — exactly the directories a restarted training
    job re-opens (half-open interval overlap against the schedule's
    prefix sums), with per-shard doc counts. Paired with a written layout,
    the covering shard_ids prune to their dirs at file-listing time (same
    mechanism as test_read_one_shard_prunes_partitions); the slice
    computation itself touches only the K-row schedule. Plan-level like
    epoch_schedule; `epoch_token_slice_for_layout` is the written-artifact
    twin."""
    sched = epoch_schedule(spark, sf_dir, n_epochs=epoch + 1, budget=budget)
    return _slice_over(sched, epoch, start_tok, end_tok)


def epoch_token_slice_for_layout(
    spark: SparkSession, out_path: str, epoch: int, start_tok: int, end_tok: int
) -> DataFrame:
    """epoch_token_slice over a WRITTEN layout (see
    epoch_schedule_for_layout): the seek a restarted job runs against the
    artifact it is actually reading."""
    sched = epoch_schedule_for_layout(spark, out_path, n_epochs=epoch + 1)
    return _slice_over(sched, epoch, start_tok, end_tok)


def _slice_over(
    sched: DataFrame, epoch: int, start_tok: int, end_tok: int
) -> DataFrame:
    end = F.col("epoch_start_off") + F.col("shard_tokens")
    return (
        sched.filter(F.col("epoch") == epoch)
        .filter(
            (F.col("epoch_start_off") < F.lit(end_tok)) & (end > F.lit(start_tok))
        )
        .select(
            "epoch",
            "shard_id",
            "order_rank",
            "epoch_start_off",
            "shard_tokens",
            "n_docs",
        )
    )


def temperature_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source-sampling plan (mT5/XLM-R style): sampling
    weight w_i = floor(sqrt(tokens_i)) — i.e. p_i ∝ share_i^0.5, flattening
    the source distribution so rare sources are upsampled — normalized over
    sources, with the resulting target token mass and epoch count (>1 ⇒ the
    source is seen more than once per pass) per source.

    Determinism: weights are exact integers (floor of a correctly-rounded
    sqrt of an exact long), the normalizer is an integer SUM, and every
    float column is a fixed per-row sequence of IEEE ops on those exact
    inputs — no cross-row float accumulation anywhere. Scale shape: one
    per-source aggregate (20 rows at any corpus size) + a broadcast 1-row
    totals attach; the corpus is scanned once."""
    d = load_table(spark, sf_dir, "documents")
    per_src = (
        d.select("source", F.size(tokens_col()).cast("long").alias("n_tok"))
        .groupBy("source")
        .agg(F.count("*").alias("n_docs"), F.sum("n_tok").alias("src_tokens"))
        .withColumn("weight", F.floor(F.sqrt(F.col("src_tokens").cast("double"))))
    )
    totals = per_src.agg(
        F.sum("src_tokens").alias("corpus_tokens"), F.sum("weight").alias("weight_denom")
    )
    p = F.col("weight") / F.col("weight_denom")
    target = p * F.col("corpus_tokens")
    return per_src.crossJoin(F.broadcast(totals)).select(
        "source",
        "n_docs",
        "src_tokens",
        (F.col("src_tokens") / F.col("corpus_tokens")).alias("token_share"),
        "weight",
        p.alias("sample_prob"),
        target.alias("target_tokens"),
        (target / F.col("src_tokens")).alias("epochs"),
    )


def token_rarity_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document corpus-frequency statistics: mean corpus frequency of
    the document's tokens and the fraction of tokens that are corpus-rare
    (frequency ≤ MIX_RARE_MAX) — the unigram statistic behind
    gibberish/rare-language filters (all-rare docs) and boilerplate
    detection (all-head docs), computed from the corpus itself in one pass.

    Scale shape: the token→frequency join-back is the skew trap at 100 TB —
    term frequencies are Zipfian, so the hot head ('the', ',') would melt a
    hash partition. Three mitigations compose here:

    1. Occurrences collapse to per-(doc, token) COUNTS before any join —
       the join input is the distinct-token profile of each doc, not the
       token stream. Its aggregation shuffles once: the head/tail
       branches and the vocabulary read that exchange (ReusedExchange),
       so the documents are scanned once with nothing cached.
    2. The top VOCAB_HEAD_K tokens by frequency (a tiny sorted limit)
       broadcast to every executor and resolve the head profile rows
       map-side — no hot key ever shuffles.
    3. Only the tail joins by shuffle, and by pigeonhole the (K+1)-th most
       frequent token appears in ≤ N/K of the token mass, so tail key
       cardinality per reducer is bounded.

    Results are identical to a plain occurrence join (same frequency
    table), so the DuckDB oracle is the naive formulation."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", "source", F.explode(tokens_col()).alias("token"))
    profile = tok.groupBy("doc_id", "source", "token").agg(F.count("*").alias("cnt"))
    vocab = profile.groupBy("token").agg(F.sum("cnt").alias("tf"))
    head = vocab.orderBy(F.col("tf").desc(), F.col("token").asc()).limit(VOCAB_HEAD_K)

    with_head = profile.join(F.broadcast(head), "token", "left")
    hits = with_head.filter(F.col("tf").isNotNull())
    tail = with_head.filter(F.col("tf").isNull()).drop("tf").join(vocab, "token")

    occ = hits.unionByName(tail.select(*hits.columns))
    rare = F.when(F.col("tf") <= MIX_RARE_MAX, F.col("cnt")).otherwise(F.lit(0))
    return (
        occ.groupBy("doc_id", "source")
        .agg(
            F.sum("cnt").alias("n_tok"),
            F.sum(F.col("cnt") * F.col("tf")).alias("sum_tf"),
            F.sum(rare).alias("rare_n"),
        )
        .select(
            "doc_id",
            "source",
            "n_tok",
            "sum_tf",
            "rare_n",
            (F.col("sum_tf") / F.col("n_tok")).alias("mean_tok_freq"),
            (F.col("rare_n") / F.col("n_tok")).alias("rare_frac"),
            (F.col("rare_n") / F.col("n_tok") > 0.5).alias("rare_suspect"),
        )
    )
