"""Z-order (multi-dimensional clustering) data layout.

Extension family (no reference counterpart — the reference's Postgres
tables index one column at a time; a 100 TB lakehouse clusters files):
the write-time layout lever that makes MULTI-dimensional filters prune.
A single-column sort gives perfect file pruning on that column and none
on any other; interleaving the bits of two bucketed dimensions (Morton /
Z-order — the technique behind Delta's OPTIMIZE ZORDER and Iceberg's
sort-order zorder()) gives every file a narrow min/max span in BOTH
dimensions, so parquet footer stats skip most of the data for filters on
either dimension (or both).

Two surfaces:

- ``zorder_layout_stats`` (registered query): simulates both layouts —
  z-order blocks vs a d1-only linear sort — with STATIC key-range file
  assignment (``z div blockwidth``): a pure map-side integer expression,
  no global window / single-partition sort anywhere (the assignment is
  what the physical write below produces, expressed so DuckDB replays it
  bit-for-bit). Emits per-file min/max spans of both dimensions and the
  layout-level expected fraction of files a uniform point filter touches
  on each dimension — the pruning economics, value-hashed.
- the PHYSICAL proof lives in tests/test_layout.py: the same static file
  assignment drives a real ``repartitionById(z div block)``
  + ``sortWithinPartitions(z)`` parquet write, and SQLMetrics show a
  two-dimensional filter's post-pushdown ``scan_rows`` collapsing on the
  z-layout while the d1-sorted layout reads ~everything for a d2 filter.

Bit interleaving is pure integer arithmetic (div/mod/multiply — the
engines' shared portable subset; no engine-specific bit intrinsics), so
every value in the query is exact.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table

Z_BITS = 8  # bits per dimension -> 16-bit z values
Z_SPACE = 1 << (2 * Z_BITS)  # 65536
N_FILES = 16
Z_BLOCK = Z_SPACE // N_FILES  # static z-range per simulated file
SHIP_EPOCH = "1992-01-01"  # l_shipdate domain start (TPC-H)
D1_DIV = 16  # day-index bucket width -> d1 in [0, ~158) ⊂ [0, 256)
D1_RANGE = 256
D2_RANGE = 256
LIN_BLOCK = D1_RANGE // N_FILES  # d1-range block width for the linear layout


def zorder_dims() -> tuple[Column, Column]:
    """The two clustered dimensions over lineitem: bucketed ship-day index
    and part-key bucket. Integer-only (datediff + div/mod)."""
    d1 = F.expr(f"datediff(l_shipdate, date'{SHIP_EPOCH}') div {D1_DIV}")
    d2 = F.col("l_partkey") % D2_RANGE
    return d1.alias("d1"), d2.alias("d2")


def z_value(d1: str = "d1", d2: str = "d2") -> Column:
    """Morton interleave of two Z_BITS-wide integers: bit i of d1 lands at
    position 2i+1, bit i of d2 at 2i. Written as a flat div/mod/multiply
    sum — the portable integer subset both engines share — instead of
    engine-specific shift/bit intrinsics."""
    terms = []
    for i in range(Z_BITS):
        terms.append(f"(({d1} div {1 << i}) % 2) * {1 << (2 * i + 1)}")
        terms.append(f"(({d2} div {1 << i}) % 2) * {1 << (2 * i)}")
    return F.expr(" + ".join(terms))


def z_value_sql(d1: str = "d1", d2: str = "d2") -> str:
    """The identical interleave for the DuckDB oracle (// for div)."""
    terms = []
    for i in range(Z_BITS):
        terms.append(f"(({d1} // {1 << i}) % 2) * {1 << (2 * i + 1)}")
        terms.append(f"(({d2} // {1 << i}) % 2) * {1 << (2 * i)}")
    return " + ".join(terms)


def zorder_layout_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-file clustering spans + pruning economics of the two layouts.

    File assignment is STATIC key-range blocking (``key div block``) — a
    map-only integer expression, no shuffle and no global window in the
    whole simulation: at 100 TB this is exactly ``repartitionByRange``
    with known boundaries followed by a within-partition sort, and the
    per-file stats aggregate map-side to <= 2·N_FILES groups.

    Columns: layout, file_id, n_rows, d1_min/d1_max/d2_min/d2_max, and the
    layout-level ``expected_touch_d1``/``expected_touch_d2`` — the mean
    fraction of OCCUPIED files whose [min,max] span contains a uniformly
    random point of the dimension's domain (Σ_files span / (files ·
    domain)): ~1/√F on both dims for z-order vs perfect-on-d1 /
    ~everything-on-d2 for the linear sort. All integer sums + one final
    division per metric."""
    li = load_table(spark, sf_dir, "lineitem").select(*zorder_dims())
    z = li.withColumn("z", z_value())
    layouts = [
        ("zorder", z.withColumn("file_id", F.expr(f"z div {Z_BLOCK}"))),
        ("linear_d1", z.withColumn("file_id", F.expr(f"d1 div {LIN_BLOCK}"))),
    ]
    stats = None
    for name, df in layouts:
        s = (
            df.groupBy("file_id")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.min("d1").alias("d1_min"),
                F.max("d1").alias("d1_max"),
                F.min("d2").alias("d2_min"),
                F.max("d2").alias("d2_max"),
            )
            .select(F.lit(name).alias("layout"), "*")
        )
        stats = s if stats is None else stats.unionByName(s)
    # cache the <= 2·N_FILES stat rows once: they feed both the output
    # and the touch aggregate (without this each reference re-scans
    # lineitem). Lazy: both readers share the RDD, so the stat build is
    # a shared stage of the final job, not a separate serial driver job.
    stats = stats.localCheckpoint(eager=False)
    # layout-level pruning economics: a 2·N_FILES-row aggregate, broadcast
    # back onto the per-file rows
    touch = stats.groupBy("layout").agg(
        (
            F.sum(F.col("d1_max") - F.col("d1_min") + 1).cast("double")
            / (F.count(F.lit(1)) * F.lit(D1_RANGE)).cast("double")
        ).alias("expected_touch_d1"),
        (
            F.sum(F.col("d2_max") - F.col("d2_min") + 1).cast("double")
            / (F.count(F.lit(1)) * F.lit(D2_RANGE)).cast("double")
        ).alias("expected_touch_d2"),
    )
    return (
        stats.join(F.broadcast(touch), on="layout", how="inner")
        .select(
            "layout",
            F.col("file_id").cast("long").alias("file_id"),
            "n_rows",
            "d1_min",
            "d1_max",
            "d2_min",
            "d2_max",
            "expected_touch_d1",
            "expected_touch_d2",
        )
        .orderBy("layout", "file_id")
    )


def _write_blocked(df: DataFrame, path: str, file_id: str, key: str, n_files: int) -> None:
    """One parquet file per STATIC key-range block (`file_id`, an integer
    SQL expression in [0, n_files)), sorted on `key` within it: the file
    assignment `zorder_layout_stats` simulates, written physically.
    repartitionById routes each block to its own partition with no
    sampling, so the files (and their footer stats) are the same on
    every run; repartitionByRange seeds its boundary sample from the RDD
    id, so its files depend on how many RDDs the session made before."""
    (
        df.repartitionById(n_files, F.expr(file_id).cast("int"))
        .sortWithinPartitions(key)
        .write.mode("overwrite")
        .parquet(path)
    )


def write_zorder_layout(
    lineitem_df: DataFrame, path: str, n_files: int = N_FILES
) -> None:
    """The PHYSICAL z-order write: z-range blocks sorted on z, one parquet
    file per block whose footer min/max stats are narrow in BOTH
    dimensions."""
    d1, d2 = zorder_dims()
    z = lineitem_df.withColumn("d1", d1).withColumn("d2", d2).withColumn("z", z_value())
    _write_blocked(z, path, f"z div {Z_SPACE // n_files}", "z", n_files)


def write_linear_layout(
    lineitem_df: DataFrame, path: str, n_files: int = N_FILES
) -> None:
    """The single-column baseline: identical write, clustered on d1 only."""
    d1, d2 = zorder_dims()
    lin = lineitem_df.withColumn("d1", d1).withColumn("d2", d2)
    _write_blocked(lin, path, f"d1 div {D1_RANGE // n_files}", "d1", n_files)
