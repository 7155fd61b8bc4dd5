"""TPC-H spec queries (public spec shapes, independently written) plus
grouping/window/join-strategy extensions (rollup/cube/grouping sets, salted
and bloom-pruned joins, bucketed facts)."""

from __future__ import annotations

from pyspark.sql import functions as F
from ..operators import relational
from ..operators import tpch
from ..operators import grouped
from ..operators import bucketed
from ..session import scratch_dir
from .core import register
from ._shared import _DECSUM



@register(
    "tpch_q1_pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
           SUM(l_quantity) AS sum_qty,
           {_DECSUM.format(expr='l_extendedprice')} AS sum_base_price,
           {_DECSUM.format(expr='l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
           {_DECSUM.format(expr='l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
           {_DECSUM.format(expr='l_quantity')} / COUNT(l_quantity) AS avg_qty,
           {_DECSUM.format(expr='l_extendedprice')} / COUNT(l_extendedprice) AS avg_price,
           {_DECSUM.format(expr='l_discount')} / COUNT(l_discount) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY 1, 2
    """,
)
def tpch_q1(spark, sf_dir):
    return tpch.q1_pricing_summary(spark, sf_dir)


@register(
    "tpch_q3_shipping_priority",
    f"""
    SELECT l_orderkey, CAST(o_orderdate AS DATE) AS orderdate, o_orderpriority,
           {_DECSUM.format(expr='l_extendedprice * (1 - l_discount)')} AS revenue
    FROM lineitem, orders, customer
    WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND o_orderdate < TIMESTAMP '1998-06-30 00:00:00'
      AND l_shipdate > TIMESTAMP '1998-06-30 00:00:00'
    GROUP BY 1, 2, 3
    ORDER BY revenue DESC, l_orderkey LIMIT 10
    """,
)
def tpch_q3(spark, sf_dir):
    return tpch.q3_shipping_priority(spark, sf_dir)


@register(
    "tpch_q5_regional_revenue",
    f"""
    SELECT n_name, {_DECSUM.format(expr='l_extendedprice * (1 - l_discount)')} AS revenue
    FROM lineitem, orders, customer, nation, region, supplier
    WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey AND c_nationkey = n_nationkey
      AND n_regionkey = r_regionkey AND r_name = 'ASIA'
      AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    GROUP BY 1
    """,
)
def tpch_q5(spark, sf_dir):
    return tpch.q5_regional_revenue(spark, sf_dir)


@register(
    "agg_rollup_lineitem",
    """
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
    FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """,
)
def agg_rollup(spark, sf_dir):
    return tpch.rollup_lineitem(spark, sf_dir)


@register(
    "agg_distinct_customers_per_segment",
    """
    SELECT c_mktsegment, COUNT(DISTINCT o_custkey) AS n_customers, COUNT(*) AS n_orders
    FROM orders, customer WHERE o_custkey = c_custkey GROUP BY 1
    """,
)
def agg_distinct(spark, sf_dir):
    return tpch.distinct_customers_per_segment(spark, sf_dir)


@register(
    "w_topk_customers_per_nation",
    """
    SELECT c_nationkey, c_custkey, c_name, c_acctbal, CAST(rank AS INTEGER) AS rank FROM (
      SELECT c_nationkey, c_custkey, c_name, c_acctbal,
             row_number() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rank
      FROM customer
    ) WHERE rank <= 3
    """,
)
def w_topk(spark, sf_dir):
    return tpch.topk_customers_per_nation(spark, sf_dir)


@register(
    "w_running_daily_revenue",
    """
    SELECT order_date, n_orders, CAST(daily_dec AS DOUBLE) AS daily_revenue,
           CAST(SUM(daily_dec) OVER (ORDER BY order_date
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_revenue
    FROM (
      SELECT CAST(o_orderdate AS DATE) AS order_date,
             SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS daily_dec, COUNT(*) AS n_orders
      FROM orders GROUP BY 1
    )
    """,
)
def w_running(spark, sf_dir):
    return tpch.running_daily_revenue(spark, sf_dir)


@register(
    "agg_quantiles_quantity",
    """
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.5) AS median_qty,
           quantile_cont(l_quantity, 0.95) AS p95_qty,
           MAX(l_quantity) AS max_qty
    FROM lineitem GROUP BY 1
    """,
)
def agg_quantiles(spark, sf_dir):
    """Exact linear-interpolation quantiles (both engines sort-exact; the
    integral quantity domain keeps interpolation arithmetic identical)."""
    from ..io import load_table

    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.percentile("l_quantity", F.lit(0.5)).alias("median_qty"),
        F.percentile("l_quantity", F.lit(0.95)).alias("p95_qty"),
        F.max("l_quantity").alias("max_qty"),
    )


@register(
    "tpch_q10_returned_revenue",
    f"""
    SELECT c_custkey, c_name,
           {_DECSUM.format(expr='l_extendedprice * (1 - l_discount)')} AS revenue
    FROM customer, orders, lineitem
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey AND l_returnflag = 'R'
    GROUP BY 1, 2
    ORDER BY revenue DESC, c_custkey LIMIT 20
    """,
)
def tpch_q10(spark, sf_dir):
    """TPC-H Q10 shape: revenue lost to returned items per customer, top 20.
    lineitem filtered on returnflag at the scan; customer broadcast."""
    from ..io import load_table

    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey, "inner")
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey, "inner")
        .groupBy("c_custkey", "c_name")
        .agg(F.sum(revenue.cast("decimal(28,6)")).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@register(
    "w_user_gap_median",
    """
    WITH g AS (
      SELECT user_id,
             epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS gap_us
      FROM events
    )
    SELECT user_id, COUNT(gap_us) AS n_gaps, quantile_cont(gap_us, 0.5) AS median_gap_us
    FROM g WHERE gap_us IS NOT NULL GROUP BY 1
    """,
)
def w_gap_median(spark, sf_dir):
    return grouped.user_gap_median(spark, sf_dir)


# ---------------------------------------------------------------------------
# Join-shape completions: EXISTS (semi), LEFT OUTER distribution, HAVING
# ---------------------------------------------------------------------------

@register(
    "tpch_q4_order_priority_exists",
    """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
    GROUP BY 1
    """,
)
def tpch_q4(spark, sf_dir):
    return tpch.q4_order_priority_exists(spark, sf_dir)


@register(
    "tpch_q13_custdist",
    """
    SELECT c_count, COUNT(*) AS custdist FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
      GROUP BY 1
    ) GROUP BY 1
    """,
)
def tpch_q13(spark, sf_dir):
    return tpch.q13_customer_order_distribution(spark, sf_dir)


@register(
    "tpch_q18_large_volume",
    """
    SELECT c_custkey, c_name, o_orderkey, CAST(o_orderdate AS DATE) AS orderdate,
           o_totalprice, total_qty
    FROM orders
    JOIN (SELECT l_orderkey, SUM(l_quantity) AS total_qty
          FROM lineitem GROUP BY 1 HAVING SUM(l_quantity) > 300) big
      ON o_orderkey = big.l_orderkey
    JOIN customer ON o_custkey = c_custkey
    """,
)
def tpch_q18(spark, sf_dir):
    return tpch.q18_large_volume_orders(spark, sf_dir)


# ---------------------------------------------------------------------------
# Extended TPC-H coverage: q6/q7/q8/q12/q14/q17/q19/q22 shapes
# ---------------------------------------------------------------------------

@register(
    "tpch_q6_forecast_revenue",
    f"""
    SELECT {_DECSUM.format(expr='l_extendedprice * l_discount')} AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24
    """,
)
def tpch_q6(spark, sf_dir):
    return tpch.q6_forecast_revenue(spark, sf_dir)


@register(
    "tpch_q7_nation_volume",
    f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l_shipdate) AS INTEGER) AS l_year,
           {_DECSUM.format(expr='l_extendedprice * (1 - l_discount)')} AS volume
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE n1.n_name <> n2.n_name
    GROUP BY 1, 2, 3
    """,
)
def tpch_q7(spark, sf_dir):
    return tpch.q7_nation_volume(spark, sf_dir)


@register(
    "tpch_q8_market_share",
    """
    SELECT o_year,
           COALESCE(CAST(nation_dec AS DOUBLE), 0.0) AS nation_volume,
           CAST(total_dec AS DOUBLE) AS total_volume,
           COALESCE(CAST(nation_dec AS DOUBLE), 0.0) / CAST(total_dec AS DOUBLE) AS mkt_share
    FROM (
      SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
             SUM(CASE WHEN n_name = 'NATION_3'
                      THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6)) END) AS nation_dec,
             SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS total_dec
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      GROUP BY 1
    )
    """,
)
def tpch_q8(spark, sf_dir):
    return tpch.q8_market_share(spark, sf_dir)


@register(
    "tpch_q12_priority_shipping",
    """
    SELECT l_linestatus,
           COUNT(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 END) AS high_line_count,
           COUNT(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 END) AS low_line_count
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY 1
    """,
)
def tpch_q12(spark, sf_dir):
    return tpch.q12_priority_shipping(spark, sf_dir)


@register(
    "tpch_q14_promo_revenue_pct",
    """
    SELECT 100.0 * COALESCE(CAST(promo_dec AS DOUBLE), 0.0) / CAST(total_dec AS DOUBLE)
             AS promo_revenue_pct
    FROM (
      SELECT SUM(CASE WHEN p_type = 'PROMO'
                      THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6)) END) AS promo_dec,
             SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS total_dec
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1997-10-01 00:00:00'
    )
    """,
)
def tpch_q14(spark, sf_dir):
    return tpch.q14_promo_revenue_pct(spark, sf_dir)


@register(
    "tpch_q17_small_quantity",
    f"""
    SELECT {_DECSUM.format(expr='l_extendedprice')} / 7.0 AS avg_yearly, COUNT(*) AS n_lines
    FROM lineitem
    JOIN part ON l_partkey = p_partkey AND p_brand = 'Brand#3'
    JOIN (
      SELECT l_partkey AS ap_partkey,
             CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty
      FROM lineitem GROUP BY 1
    ) a ON l_partkey = ap_partkey
    WHERE l_quantity < 0.2 * avg_qty
    """,
)
def tpch_q17(spark, sf_dir):
    return tpch.q17_small_quantity_revenue(spark, sf_dir)


@register(
    "tpch_q19_bracketed_revenue",
    f"""
    SELECT {_DECSUM.format(expr='l_extendedprice * (1 - l_discount)')} AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 21)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 30 AND l_quantity BETWEEN 10 AND 30)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 50 AND l_quantity BETWEEN 20 AND 40)
    """,
)
def tpch_q19(spark, sf_dir):
    return tpch.q19_bracketed_revenue(spark, sf_dir)


@register(
    "tpch_q22_idle_customers",
    f"""
    SELECT c_nationkey, COUNT(*) AS numcust,
           {_DECSUM.format(expr='c_acctbal')} AS totacctbal
    FROM customer
    WHERE c_acctbal > (
        SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(28,6))) AS DOUBLE) / COUNT(c_acctbal)
        FROM customer WHERE c_acctbal > 0.0
      )
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
    GROUP BY 1
    """,
)
def tpch_q22(spark, sf_dir):
    return tpch.q22_idle_customers(spark, sf_dir)


@register(
    "agg_approx_family_check",
    """
    SELECT l_returnflag, COUNT(DISTINCT l_orderkey) AS exact_orders,
           TRUE AS hll_within_5pct,
           quantile_cont(l_extendedprice, 0.5) AS exact_median_price,
           TRUE AS quantile_within_5pct
    FROM lineitem GROUP BY 1
    """,
)
def agg_approx(spark, sf_dir):
    return tpch.approx_aggregates_check(spark, sf_dir)

_REV_DECSUM = _DECSUM.format(expr="l_extendedprice * (1 - l_discount)")


@register(
    "tpch_q10_returned_items",
    f"""
    SELECT c_custkey, c_name, c_acctbal, n_name, revenue FROM (
      SELECT c.c_custkey, c.c_name, c.c_acctbal, n.n_name,
             {_REV_DECSUM} AS revenue
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      WHERE l.l_returnflag = 'R'
        AND o.o_orderdate >= TIMESTAMP '1997-01-01'
        AND o.o_orderdate < TIMESTAMP '1997-04-01'
      GROUP BY 1, 2, 3, 4
    ) ORDER BY revenue DESC, c_custkey LIMIT 20
    """,
)
def q10(spark, sf_dir):
    return tpch.q10_returned_item_ranking(spark, sf_dir)


@register(
    "tpch_q15_top_supplier",
    f"""
    WITH rev AS (
      SELECT l_suppkey, {_REV_DECSUM} AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
      GROUP BY 1
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM rev JOIN supplier ON l_suppkey = s_suppkey
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
    """,
)
def q15(spark, sf_dir):
    return tpch.q15_top_supplier(spark, sf_dir)


@register(
    "tpch_q21_sole_returned_supplier",
    """
    SELECT s_name, numwait FROM (
      SELECT s.s_name, COUNT(*) AS numwait
      FROM (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem WHERE l_returnflag = 'R') l1
      JOIN orders o ON o.o_orderkey = l1.l_orderkey AND o.o_orderstatus = 'F'
      JOIN supplier s ON s.s_suppkey = l1.l_suppkey
      WHERE EXISTS (
              SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
        AND NOT EXISTS (
              SELECT 1 FROM lineitem l3
              WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
                AND l3.l_returnflag = 'R')
      GROUP BY 1
    ) ORDER BY numwait DESC, s_name LIMIT 10
    """,
)
def q21(spark, sf_dir):
    return tpch.q21_sole_returned_supplier(spark, sf_dir)


@register(
    "tpch_q9_profit_by_nation_year",
    f"""
    SELECT n.n_name AS nation, CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
           {_REV_DECSUM} AS sum_profit
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE p.p_name LIKE '%widget%'
    GROUP BY 1, 2
    """,
)
def q9(spark, sf_dir):
    return tpch.q9_profit_by_nation_year(spark, sf_dir)


@register(
    "tpch_q16_supplier_count",
    """
    SELECT p_brand, p_type, COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) li
    JOIN part ON l_partkey = p_partkey
    WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
    GROUP BY 1, 2
    """,
)
def q16(spark, sf_dir):
    return tpch.q16_supplier_count_by_part_attrs(spark, sf_dir)


@register(
    "w_daily_revenue_deltas",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS order_date,
             SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS rev_dec
      FROM orders GROUP BY 1
    )
    SELECT order_date,
           CAST(rev_dec AS DOUBLE) AS revenue,
           CAST(rev_dec - lag(rev_dec) OVER w AS DOUBLE) AS delta_prev,
           CAST(lead(rev_dec) OVER w - rev_dec AS DOUBLE) AS delta_next,
           CASE WHEN lag(rev_dec) OVER w IS NOT NULL AND lag(rev_dec) OVER w <> 0
                THEN CAST(rev_dec - lag(rev_dec) OVER w AS DOUBLE)
                     / CAST(lag(rev_dec) OVER w AS DOUBLE) * 100
           END AS pct_change
    FROM daily WINDOW w AS (ORDER BY order_date)
    """,
)
def w_deltas(spark, sf_dir):
    return tpch.daily_revenue_deltas(spark, sf_dir)


@register(
    "agg_cube_orders",
    f"""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
           {_DECSUM.format(expr='o_totalprice')} AS total_price
    FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
    """,
)
def agg_cube(spark, sf_dir):
    return tpch.cube_orders_status_priority(spark, sf_dir)


@register(
    "bucketed_order_revenue",
    f"""
    SELECT o_orderpriority, COUNT(DISTINCT o_orderkey) AS n_orders,
           {_REV_DECSUM} AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1
    """,
)
def bkt_join(spark, sf_dir):
    return bucketed.bucketed_order_revenue(spark, sf_dir)


@register(
    "w_trailing_week_revenue",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS order_date,
             SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS rev_dec
      FROM orders GROUP BY 1
    )
    SELECT order_date,
           CAST(rev_dec AS DOUBLE) AS revenue,
           CAST(SUM(rev_dec) OVER w AS DOUBLE) AS trailing_7d_revenue,
           CAST(COUNT(*) OVER w AS INTEGER) AS days_present_7d
    FROM daily
    WINDOW w AS (ORDER BY date_diff('day', DATE '1970-01-01', order_date)
                 RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
)
def w_trailing(spark, sf_dir):
    return tpch.trailing_week_revenue(spark, sf_dir)


@register(
    "agg_grouping_sets_orders",
    f"""
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_status,
           CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_priority,
           COUNT(*) AS n_orders,
           {_DECSUM.format(expr='o_totalprice')} AS total_price
    FROM orders GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
    """,
)
def agg_gsets(spark, sf_dir):
    return tpch.grouping_sets_revenue(spark, sf_dir)


@register(
    "w_customer_rfm_segments",
    f"""
    WITH per_cust AS (
      SELECT o_custkey,
             date_diff('day', MAX(o_orderdate), DATE '{tpch.RFM_ASOF}') AS recency_days,
             COUNT(*) AS frequency,
             SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS monetary_dec
      FROM orders GROUP BY 1
    )
    SELECT o_custkey AS custkey, CAST(recency_days AS BIGINT) AS recency_days,
           frequency, CAST(monetary_dec AS DOUBLE) AS monetary,
           CAST(ntile(4) OVER (ORDER BY recency_days ASC, o_custkey ASC) AS INTEGER)
             AS r_quartile,
           CAST(ntile(4) OVER (ORDER BY frequency DESC, o_custkey ASC) AS INTEGER)
             AS f_quartile,
           CAST(ntile(4) OVER (ORDER BY monetary_dec DESC, o_custkey ASC) AS INTEGER)
             AS m_quartile
    FROM per_cust
    """,
)
def w_rfm(spark, sf_dir):
    """RFM quartile segmentation (deterministic ntile via custkey
    tie-break)."""
    return tpch.customer_rfm_segments(spark, sf_dir)


@register(
    "j_salted_hotkey_events",
    """
    WITH ev AS (
      SELECT event_id, user_id, value,
             CASE WHEN user_id % 10 < 5 THEN 0 ELSE user_id % 100 END AS shard_key
      FROM events
    ),
    dim AS (
      SELECT DISTINCT shard_key,
             'segment_' || lpad(CAST(shard_key AS VARCHAR), 3, '0') AS segment
      FROM ev
    )
    SELECT segment, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total_value
    FROM ev JOIN dim USING (shard_key)
    GROUP BY 1
    """,
)
def q_salted_hotkey(spark, sf_dir):
    """Salted skew join (relational.salted_join): half of all events
    collapse onto one hot key (`user_id % 10 < 5 → 0`, else
    `user_id % 100` — the id-space-collapse head shape), which a plain
    hash join would send to ONE reducer; salting spreads it over 16
    (plan-asserted: the join keys include __salt). The dimension is
    hinted MERGE to model the too-big-to-broadcast case salting exists
    for; the result is provably salt-invariant (the oracle joins
    unsalted)."""
    from ..io import load_table
    from ..operators.relational import salted_join

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "value",
        F.when(F.col("user_id") % 10 < 5, F.lit(0))
        .otherwise(F.col("user_id") % 100)
        .alias("shard_key"),
    )
    dim = (
        ev.select("shard_key")
        .distinct()
        .select(
            "shard_key",
            F.concat(
                F.lit("segment_"), F.format_string("%03d", "shard_key")
            ).alias("segment"),
        )
        .hint("merge")
    )
    joined = salted_join(ev, dim, key="shard_key", n_salts=16)
    return joined.groupBy("segment").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(28,6)")).cast("double").alias("total_value"),
    )


@register(
    "j_bloom_pruned_urgent_revenue",
    f"""
    SELECT o_orderpriority, COUNT(*) AS n_items,
           {_DECSUM.format(expr='l_extendedprice * (1 - l_discount)')} AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderpriority = '1-URGENT'
    GROUP BY 1
    """,
)
def q_bloom_pruned(spark, sf_dir):
    """Runtime Bloom-filter join pruning: the selective orders side builds
    a bloom filter Catalyst injects as might_contain() above the lineitem
    scan, dropping non-joining fact rows BEFORE the shuffle (the big-big
    join case where broadcast pruning is unavailable). Materialized inside
    the conf scope so the executed plan carries the filter; plan-asserted
    in tests/test_plans-adjacent extension tests."""
    from ..operators.tpch import bloom_runtime_filter_scope, urgent_revenue_bloom_join

    out_dir = scratch_dir("bloom_out_")
    with bloom_runtime_filter_scope(spark):
        urgent_revenue_bloom_join(spark, sf_dir).write.mode("overwrite").parquet(out_dir)
    return spark.read.parquet(out_dir)


# ---------------------------------------------------------------------------
# TPC-H Q2 / Q11 / Q20 over the derived partsupp view (round 3: completes
# the full 22-query TPC-H suite; the star schema ships no partsupp table,
# so per-(part, supplier) inventory is derived from lineitem — see
# operators/tpch.py::_derived_partsupp)
# ---------------------------------------------------------------------------

_PS_CTE = """
ps AS (
  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
         CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS ps_availqty,
         MIN(l_extendedprice / l_quantity) AS ps_supplycost
  FROM lineitem GROUP BY 1, 2
)
""".strip()


@register(
    "tpch_q2_min_cost_supplier",
    f"""
    WITH {_PS_CTE},
    sir AS (
      SELECT s_suppkey, s_name, s_acctbal, n_name
      FROM supplier s
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      WHERE r.r_name = 'ASIA'
    ),
    rps AS (SELECT * FROM ps JOIN sir ON ps.ps_suppkey = sir.s_suppkey),
    mc AS (SELECT ps_partkey AS mc_partkey, MIN(ps_supplycost) AS min_cost FROM rps GROUP BY 1)
    SELECT s_acctbal, s_name, n_name, rps.ps_partkey AS p_partkey, p_name, ps_supplycost
    FROM rps
    JOIN mc ON rps.ps_partkey = mc.mc_partkey AND rps.ps_supplycost = mc.min_cost
    JOIN part p ON rps.ps_partkey = p.p_partkey
    WHERE p.p_type = 'ECONOMY'
    """,
)
def q2(spark, sf_dir):
    return tpch.q2_min_cost_supplier(spark, sf_dir)


@register(
    "tpch_q11_important_stock",
    f"""
    WITH {_PS_CTE},
    nsup AS (
      SELECT s_suppkey FROM supplier s
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      WHERE n.n_name = 'NATION_7'
    ),
    nat AS (SELECT ps.* FROM ps JOIN nsup ON ps.ps_suppkey = nsup.s_suppkey),
    per AS (
      SELECT ps_partkey,
             CAST(SUM(CAST(ps_supplycost * ps_availqty AS DECIMAL(28,6))) AS DOUBLE) AS part_value
      FROM nat GROUP BY 1
    ),
    tot AS (
      SELECT CAST(SUM(CAST(ps_supplycost * ps_availqty AS DECIMAL(28,6))) AS DOUBLE) * 0.001
               AS threshold
      FROM nat
    )
    SELECT ps_partkey, part_value FROM per, tot WHERE part_value > threshold
    """,
)
def q11(spark, sf_dir):
    return tpch.q11_important_stock(spark, sf_dir)


@register(
    "tpch_q20_excess_shipments",
    f"""
    WITH {_PS_CTE},
    recent AS (
      SELECT l_partkey AS r_partkey, l_suppkey AS r_suppkey,
             CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS recent_qty
      FROM lineitem WHERE l_shipdate >= TIMESTAMP '1998-01-01' GROUP BY 1, 2
    ),
    qual AS (
      SELECT DISTINCT ps_suppkey FROM ps
      JOIN part p ON ps.ps_partkey = p.p_partkey AND p.p_name LIKE '%widget%'
      JOIN recent ON ps.ps_partkey = recent.r_partkey AND ps.ps_suppkey = recent.r_suppkey
      WHERE recent_qty > 0.5 * ps_availqty
    )
    SELECT s_suppkey, s_name, n_name, s_acctbal
    FROM supplier s
    JOIN qual ON s.s_suppkey = qual.ps_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    """,
)
def q20(spark, sf_dir):
    return tpch.q20_excess_shipments(spark, sf_dir)
