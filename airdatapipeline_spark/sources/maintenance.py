"""Table maintenance for parquet sinks: small-file compaction and keyed
(right-to-be-forgotten) deletes.

The incremental pattern (SNK2 idempotent appends, streaming foreachBatch
sinks) accretes one small file per micro-run; at 100 TB a table served by
millions of KB-sized files is dominated by open/footer overhead and driver
file-listing time. Periodic compaction rewrites each partition into
~target-sized files — the engine-level equivalent of Delta OPTIMIZE /
Iceberg rewrite_data_files, expressed with nothing but repartition + a
staged directory swap.

Both operations publish the way the shard lifecycle does
(operators/corpus.py): the rewrite goes to a sibling staging root,
`_verify_staged` checks its `_SUCCESS` and footer row count against the
expected rows, and `LAYOUT_IO.atomic_swap` publishes it (rollback on
failure, `recover` heals a crash between the two renames). On object
storage they inherit the seam's mapping (DESIGN.md §6).

Reference analogue: none (Postgres autovacuums); this is part of the
owning-your-own-table-format cost the parquet medallion design takes on.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..operators import corpus
from ..operators.corpus import _link_snapshot, _verify_staged

TARGET_FILE_BYTES = 256 * 1024 * 1024  # cluster default; tests pass smaller


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files if f != "_SUCCESS")
    return total


def data_file_count(path: str) -> int:
    n = 0
    for _root, _dirs, files in os.walk(path):
        n += sum(1 for f in files if f.endswith(".parquet"))
    return n


def _ceil_div(a: int, b: int) -> int:
    return max(1, -(-a // b))


def recover_compaction(path: str) -> bool:
    """Heal an interrupted swap of a compaction or keyed delete — the live
    path is missing and the previous table sits intact at `<path>.__old__`
    — by restoring it (corpus.LocalLayoutIO.recover). Returns True if a
    restore happened. Idempotent; both operations call it first."""
    return corpus.LAYOUT_IO.recover(path)


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = TARGET_FILE_BYTES,
    partition_col: str | None = None,
) -> dict:
    """Rewrite a parquet directory into ~target-sized files. With
    `partition_col`, each `col=value` directory is split independently into
    ceil(its_bytes / target) files (a skewed 10 GB partition gets 40 files
    at the 256 MB default while small partitions coalesce to one), and the
    partitioning scheme is preserved.

    The rewrite is staged, verified against the source's footer row count
    BEFORE any mutation of the live path (a lost or duplicated task output
    aborts with the table untouched) and swapped in (module docstring).
    Readers racing the swap can transiently see a missing path — schedule
    compaction off-peak or take a table lock; true atomic swaps need a
    metadata layer (Delta/Iceberg), which is exactly what this helper's
    scope deliberately stops short of."""
    path = path.rstrip("/")
    recover_compaction(path)
    before_files = data_file_count(path)
    staging = path + ".__compacting__"
    shutil.rmtree(staging, ignore_errors=True)

    df = spark.read.parquet(path)
    before_rows = df.count()  # footer-only
    if partition_col is not None:
        # per-partition-value byte budgets from the directory layout: a
        # plain repartition(n, partition_col) would hash every value into
        # ONE task (one output file per dir regardless of size), so spread
        # each value over its own ceil(bytes/target) splits
        k_map = {}
        for d in os.listdir(path):
            if d.startswith(f"{partition_col}="):
                v = d.split("=", 1)[1]
                k_map[v] = _ceil_div(_dir_bytes(os.path.join(path, d)), target_file_bytes)
        mapping = F.create_map(
            *[lit for v, k in sorted(k_map.items()) for lit in (F.lit(v), F.lit(k))]
        )
        k_col = F.element_at(mapping, F.col(partition_col).cast("string"))
        split = F.floor(F.rand(20260813) * k_col).cast("int")
        (
            df.withColumn("__split", split)
            .repartition(sum(k_map.values()), F.col(partition_col), F.col("__split"))
            .drop("__split")
            .write.mode("overwrite")
            .partitionBy(partition_col)
            .parquet(staging)
        )
    else:
        n_out = _ceil_div(_dir_bytes(path), target_file_bytes)
        df.repartition(n_out).write.mode("overwrite").parquet(staging)

    _verify_staged(spark, staging, df.schema, before_rows, f"compaction of {path}")
    corpus.LAYOUT_IO.atomic_swap(path, staging)
    return {
        "path": path,
        "files_before": before_files,
        "files_after": data_file_count(path),
        "target_file_bytes": target_file_bytes,
    }


def delete_keys_partitioned(
    spark: SparkSession,
    path: str,
    part_col: str,
    key_col: str,
    keys: list,
    key_to_part,
) -> list:
    """Surgical key deletion (right-to-be-forgotten) on a table
    partitioned by a key-derived column: compute the affected partition
    values with `key_to_part` (the same function that bucketed the
    writes), rewrite ONLY those partitions without the keys, and swap the
    new table in. Every other partition's files are hard-linked into the
    snapshot root unchanged — the rewrite cost is O(partitions containing
    the keys), not O(table), which is what makes per-user deletes feasible
    at 100 TB. Returns the affected partition values.

    The snapshot root is staged and verified (live rows minus the deleted
    ones) before the swap (module docstring), so a crash at any point
    leaves either the old table or the new one, and the next run heals it.
    A partition whose rows are ALL deleted writes no directory and is gone
    after the swap — the emptied-partition case a read-then-dynamic-
    overwrite silently gets wrong (regression-tested). The same shape
    upgrades to Delta/Iceberg DELETE with file-level pruning; on plain
    parquet the partition is the pruning unit, so the bucketing
    granularity bounds rewrite amplification."""
    parts = sorted({key_to_part(k) for k in keys})
    path = path.rstrip("/")
    recover_compaction(path)
    staging = path + ".__deleting__"
    shutil.rmtree(staging, ignore_errors=True)

    df = spark.read.parquet(path)
    in_parts = F.col(part_col).isin(parts)
    doomed = F.coalesce(in_parts & F.col(key_col).isin(keys), F.lit(False))
    n = df.agg(F.count("*").alias("rows"), F.count_if(doomed).alias("doomed")).first()
    df.filter(in_parts & ~doomed).write.mode("overwrite").partitionBy(part_col).parquet(
        staging
    )
    _link_snapshot(path, staging, parts, part_col)
    _verify_staged(
        spark, staging, df.schema, n["rows"] - n["doomed"], f"delete from {path}"
    )
    corpus.LAYOUT_IO.atomic_swap(path, staging)
    return parts
