"""SparkSession factory.

Scale posture: these configs are tuned for the local[32] test harness but the
knobs are the ones that matter on a 1000-executor cluster too — AQE for
runtime re-planning (skew joins, partition coalescing), explicit shuffle
partition sizing, Arrow for any Python boundary, and UTC session time so
date semantics are engine-independent (the DuckDB oracle is UTC-naive).
"""

from __future__ import annotations

import contextlib
import os
import shutil
import tempfile
from collections.abc import Iterator

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# Root of the open query scope's scratch directories (None: no scope open).
# Process-wide on purpose, like the persisted-RDD registry the scope diffs:
# operator threads (`concurrency.parallel_checkpoints`) share it.
_scope_root: str | None = None


@contextlib.contextmanager
def query_scope(spark: SparkSession) -> Iterator[None]:
    """Own what one query leaves behind. A runner builds AND forces the
    query inside the scope; on exit every RDD persisted inside it (lazy
    `localCheckpoint`s included) is unpersisted, blocking, and every
    `scratch_dir` made inside it (stream sinks, checkpoints, staged
    layouts the returned frame reads lazily) is deleted. RDDs persisted
    before the scope opened are left alone."""
    global _scope_root
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    outer, _scope_root = _scope_root, scratch_dir("query_scope_")
    try:
        yield
    finally:
        root, _scope_root = _scope_root, outer
        for rdd_id, rdd in list(jsc.getPersistentRDDs().items()):
            if rdd_id not in before:
                rdd.unpersist(True)
        shutil.rmtree(root, ignore_errors=True)


def scratch_dir(prefix: str) -> str:
    """A fresh scratch directory, under the open query scope's root (deleted
    when the scope closes) or, with no scope open, in the temp dir."""
    return tempfile.mkdtemp(prefix=prefix, dir=_scope_root)


def get_spark(app_name: str = "airdatapipeline_spark", master: str | None = None) -> SparkSession:
    """Build (or fetch) the session.

    On a real cluster, drop ``master`` and submit with spark-submit; every
    other config below is cluster-appropriate as-is.
    """
    master = master or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # ~1 shuffle partition per core locally; on a cluster size to
        # (executors * cores) or rely on AQE coalescing from a higher start.
        .config("spark.sql.shuffle.partitions", DEFAULT_SHUFFLE_PARTITIONS)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # coalesce by target size, not parallelism: post-shuffle partitions
        # shrink to the advisory size (64MB), cutting task-scheduling
        # overhead on small intermediates (~15-20% on the bench set) while
        # leaving large-shuffle parallelism unchanged at scale.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Session TZ pinned to UTC so to_date()/date_trunc() over parquet
        # timestamps agree with the UTC-naive DuckDB oracle.
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow on: fast toPandas(), pandas createDataFrame and Pandas-UDF
        # transfer. Lists never take this path; rows the driver holds enter
        # a plan through io.local_table, an Arrow table, which needs no flag.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # UI off: nothing reads it. Per-query job and stage metrics come
        # from the status tracker and status store, which run without it.
        .config("spark.ui.enabled", "false")
        # events.parquet stores TIMESTAMP(NANOS) which the vectorized reader
        # rejects; read nanos as long and convert in io.load_table.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Python call-site capture off: with it on, PySpark wraps every
        # Column method and function in a stack walk plus an origin
        # set/clear on the JVM, about six py4j round-trips per Column call,
        # which dominates the build of the expression-heavy operators.
        # Trade-off: analysis errors no longer name the Python call site.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
