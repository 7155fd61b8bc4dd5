"""Table loaders for the driver-provided synthetic parquet tables, and the
one way rows the driver already holds enter a plan.

At 100 TB these reads stay exactly the same shape — `spark.read.parquet` on a
directory gives the vectorized reader, predicate pushdown, column pruning and
partition pruning for free; nothing here collects to the driver.
"""

from __future__ import annotations

import os
from typing import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise ValueError(f"unknown table {name!r}; one of {TABLES}")
    if name == "events":
        # The driver may hand us a session built without our configs, so pin
        # the two that correctness depends on at the one place that needs
        # them: (a) events.parquet stores TIMESTAMP(NANOS), which the reader
        # rejects unless nanosAsLong is set; (b) the nanos→NTZ conversion
        # below round-trips through an instant, so the session TZ must be
        # UTC for wall times to match the UTC-naive oracle.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        if isinstance(df.schema["ts"].dataType, T.LongType):
            # epoch-nanos long → micros → NTZ. Integer division: epoch-nanos
            # (~1.7e18) exceeds double's 2^53 exact range, so a float divide
            # would be off by ~1μs.
            df = df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
            )
        else:
            df = df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    return df


def local_table(
    spark: SparkSession, rows: Iterable, schema: str | T.StructType
) -> DataFrame:
    """`rows` (tuples, Rows or dicts) as a JVM local relation typed by
    `schema` (a DDL string or a StructType).

    `spark.createDataFrame` over a list parallelizes pickled rows behind
    a Python map, so every execution of the frame starts the Python daemon
    and one worker per partition. An Arrow table has no such path: PySpark
    ships it to the JVM whole, and the plan is a `LocalRelation` that runs
    as `LocalTableScan` with no Python worker. Values go through the
    schema's own `toInternal` first, so a naive datetime lands on the same
    instant as on the list path."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = schema if isinstance(schema, T.StructType) else T.DataType.fromDDL(schema)
    arrow = to_arrow_schema(struct)
    columns = list(zip(*(struct.toInternal(r) for r in rows))) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, struct)
