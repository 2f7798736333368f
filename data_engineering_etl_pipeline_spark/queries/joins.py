"""Join-family queries (SURVEY.md §2.3 J1-J9) on the star schema.

Dimension tables (region/nation/customer) are broadcast — the scale-correct
form of the reference's driver-side dict maps (J5). The PIT universe join is
the reference's flagship point-in-time semantics (P6/J9).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from ..relational import pit_cutoff_join
from ..universe import monthly_top_n
from . import register


# The J1 five-frame stitch (region ⋈ nation ⋈ customer ⋈ orders ⋈
# lineitem) is on the driver record through ``sqlq.sql_nation_revenue``'s
# GROUPING SETS star query.


@register(
    "daily_activity_stitch",
    oracle="""
    WITH od AS (
      SELECT CAST(o_orderdate AS DATE) AS d, ROUND(SUM(o_totalprice), 2) AS order_value
      FROM orders GROUP BY 1
    ), ship AS (
      SELECT CAST(l_shipdate AS DATE) AS d, l_returnflag AS rf,
             SUM(l_extendedprice) AS sv
      FROM lineitem GROUP BY 1, 2
    ), hd AS (
      SELECT CAST(l_shipdate AS DATE) AS d, l_returnflag AS rf,
             SUM(l_extendedprice) AS hv
      FROM lineitem WHERE l_discount >= 0.05 GROUP BY 1, 2
    ), ld AS (
      SELECT s.d, ROUND(SUM(s.sv), 2) AS ship_value,
                  ROUND(SUM(h.hv), 2) AS discounted_value
      FROM ship s LEFT JOIN hd h ON s.d = h.d AND s.rf = h.rf
      GROUP BY 1
    )
    SELECT COALESCE(od.d, ld.d) AS d, od.order_value,
           ld.ship_value, ld.discounted_value
    FROM od FULL OUTER JOIN ld ON od.d = ld.d
    """,
)
def daily_activity_stitch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2/J3/J4 join-shapes suite in one registry row (one row keeps the
    registry under the driver's 50-entry cap; the union-align shape lives
    in ``scalar_function_suite``).

    Multi-key (date, returnflag) LEFT backfill of the high-discount
    sub-segment onto the full shipped panel (reference market×onchain
    left-merges on ['date','coin_id'], pipeline_helpers.py:364-369), rolled
    up per day, then a FULL OUTER date-keyed stitch against the orders daily
    series (reference TVL×DEX outer merge, pipeline_helpers.py:291). Sums
    are exact in double (2-decimal inputs) so the rounded values are
    summation-order-independent across engines."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    od = (o.groupBy(F.to_date("o_orderdate").alias("d"))
          .agg(F.round(F.sum("o_totalprice"), 2).alias("order_value")))
    ship = (li.groupBy(F.to_date("l_shipdate").alias("d"),
                       F.col("l_returnflag").alias("rf"))
            .agg(F.sum("l_extendedprice").alias("sv")))
    hd = (li.filter(F.col("l_discount") >= 0.05)
          .groupBy(F.to_date("l_shipdate").alias("d"),
                   F.col("l_returnflag").alias("rf"))
          .agg(F.sum("l_extendedprice").alias("hv")))
    ld = (ship.join(hd, ["d", "rf"], "left")
          .groupBy("d")
          .agg(F.round(F.sum("sv"), 2).alias("ship_value"),
               F.round(F.sum("hv"), 2).alias("discounted_value")))
    return (
        od.join(ld, "d", "full_outer")
        .select("d", "order_value", "ship_value", "discounted_value")
    )


_UNIVERSE_CTE = """
    WITH monthly AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
             o_custkey,
             ROUND(AVG(o_totalprice), 4) AS agg_value
      FROM orders GROUP BY 1, 2
    ), ranked AS (
      SELECT month, o_custkey, agg_value,
             ROW_NUMBER() OVER (PARTITION BY month
                                ORDER BY agg_value DESC, o_custkey ASC) AS rnk
      FROM monthly
    ), uni AS (
      SELECT month, o_custkey FROM ranked WHERE rnk <= 10
    )
"""


@register(
    "pit_universe_history",
    oracle=_UNIVERSE_CTE + """
    SELECT u.month, u.o_custkey,
           COUNT(*) AS n_orders,
           ROUND(SUM(o.o_totalprice), 2) AS total_value
    FROM uni u
    JOIN orders o
      ON o.o_custkey = u.o_custkey AND o.o_orderdate <= u.month
    GROUP BY 1, 2
    """,
)
def pit_universe_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6/J9 point-in-time assembly: monthly top-10 universe (broadcast) ⋈
    fact history cut at the membership month — no future rows leak in
    (reference: historical_data_etl.py:154-168). The fact side never
    shuffles: the tiny universe broadcasts into a map-side theta join."""
    orders = load_table(spark, sf_dir, "orders")
    uni = (monthly_top_n(orders, "o_orderdate", "o_custkey", "o_totalprice", n=10)
           .select("month", F.col("o_custkey").alias("u_custkey")))
    joined = pit_cutoff_join(orders, uni, "o_custkey", "o_orderdate",
                             "u_custkey", "month")
    return (
        joined.groupBy("month", "o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_value"),
        )
    )
