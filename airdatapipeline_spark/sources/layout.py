"""Multi-dimensional data layout: Z-order (Morton) clustering for scans.

A fact table physically ordered by arrival time prunes beautifully on time
predicates and not at all on anything else — every file spans the whole
user/key range, so a `user_id = X` scan reads the entire table no matter
what the parquet min/max stats say. Interleaving the bits of two (or more)
filter dimensions into one sort key bounds EVERY interleaved dimension
within each file, so file- and row-group-level min/max skipping works for
all of them at once — the engine-level equivalent of Delta's OPTIMIZE
ZORDER BY, expressed with nothing but an integer expression +
repartitionByRange + sortWithinPartitions.

The z-value is a pure codegen expression (shift/mask/OR per bit — no UDF);
range partitioning samples the actual z distribution, so skewed or
partially-used bit ranges still split into balanced files. Dimensions must
be mapped into a bounded non-negative integer domain first (here: user_id
directly, hours since the table's min timestamp); at warehouse scale you
bucket each dimension by quantile before interleaving so hot keys can't
dominate a bit prefix.
"""

from __future__ import annotations

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

from ..io import load_table

Z_BITS = 8  # per-dimension bits AFTER normalization; 256 buckets per dim


def scale_to_bits(col: str, vmin: int, vmax: int, bits: int = Z_BITS) -> Column:
    """Linearly map [vmin, vmax] onto [0, 2^bits): z-interleaving is only
    fair if every dimension occupies the SAME bit width — otherwise the
    wider dimension's high bits dominate the sort and the narrow dimension
    gets no locality at all (observed: interleaving 4-bit user ids with
    10-bit hours degenerates to an hour sort). Linear scaling is the
    min/max special case of the quantile bucketing you'd use for skewed
    production keys."""
    span = max(1, vmax - vmin + 1)
    return F.expr(f"cast(floor((({col}) - {vmin}) * {1 << bits} / {span}) as long)")


def zvalue_expr(a: str, b: str, bits: int = Z_BITS) -> Column:
    """Morton interleave of two non-negative int expressions: bit i of `a`
    lands at position 2i, bit i of `b` at 2i+1. Flat shift/mask/OR codegen
    arithmetic — stays inside whole-stage codegen like the unrolled vector
    math in operators/similarity.py."""
    terms = []
    for i in range(bits):
        terms.append(f"shiftleft(shiftright({a}, {i}) & 1, {2 * i})")
        terms.append(f"shiftleft(shiftright({b}, {i}) & 1, {2 * i + 1})")
    return F.expr(" | ".join(terms)).cast("long")


def zorder_events(spark: SparkSession, sf_dir: str, path: str, n_files: int = 8) -> None:
    """Re-layout the events table clustered on (user_id, event hour).

    Both dimensions are normalized to Z_BITS via their min/max — one tiny
    scalar agg at write time (a maintenance job, not a query path). The
    raw columns are what scans filter on; the normalized values exist only
    inside the transient z key."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "__hour", F.floor(F.unix_timestamp(F.col("ts").cast("timestamp")) / 3600).cast("long")
    )
    lo_u, hi_u, lo_h, hi_h = ev.agg(
        F.min("user_id"), F.max("user_id"), F.min("__hour"), F.max("__hour")
    ).collect()[0]
    prepared = ev.withColumn(
        "__zu", scale_to_bits("user_id", lo_u, hi_u)
    ).withColumn("__zh", scale_to_bits("__hour", lo_h, hi_h))
    z = prepared.withColumn("__z", zvalue_expr("__zu", "__zh")).drop("__zu", "__zh")
    (
        z.repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


def rowgroups_matching_point(path: str, col: str, value) -> tuple[int, int]:
    """(matching, total) row groups whose [min, max] stats admit `value` —
    the skipping a stats-aware reader achieves for an equality predicate.
    Footer-only inspection via pyarrow; used by tests and layout audits."""
    import os

    import pyarrow.parquet as pq

    match = total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(root, f)).metadata
            for rg in range(md.num_row_groups):
                grp = md.row_group(rg)
                idx = {grp.column(i).path_in_schema: i for i in range(grp.num_columns)}
                st = grp.column(idx[col]).statistics
                total += 1
                if st is None or st.min is None:
                    match += 1  # no stats → reader must read it
                elif st.min <= value <= st.max:
                    match += 1
    return match, total
