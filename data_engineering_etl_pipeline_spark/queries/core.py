"""Core relational/aggregate/window queries over the driver star schema.

Each query is the star-schema analog of a reference capability (SURVEY.md §2,
FIXTURES.md §B mapping table). Oracles are DuckDB SQL with identical aliases
and identical rounding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..aggregates import agg_dict
from ..io import load_table
from ..universe import monthly_top_n
from . import register


# --------------------------------------------------------------------------
# Flagship: monthly top-N customers by average order value (SURVEY §7.2;
# reference universe_generation_pipeline.py:146-171 — A3 + W1 + O3).
# --------------------------------------------------------------------------
@register(
    "monthly_top_customers",
    oracle="""
    WITH monthly AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
             o_custkey,
             ROUND(AVG(o_totalprice), 4) AS agg_value
      FROM orders
      GROUP BY 1, 2
    ), ranked AS (
      SELECT month, o_custkey, agg_value,
             ROW_NUMBER() OVER (PARTITION BY month
                                ORDER BY agg_value DESC, o_custkey ASC) AS rank
      FROM monthly
    )
    SELECT month, o_custkey, agg_value, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 5
    """,
)
def monthly_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    uni = monthly_top_n(orders, "o_orderdate", "o_custkey", "o_totalprice", n=5)
    return uni.withColumn("rank", F.col("rank").cast("int"))


# --------------------------------------------------------------------------
# Pricing summary (TPC-H Q1 shape): declarative multi-agg — A2/A6/A9 +
# arithmetic F14 (reference agg-dict coinbase_universe_pipeline.py:149-159).
# --------------------------------------------------------------------------
@register(
    "pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2)                                        AS sum_qty,
           ROUND(SUM(l_extendedprice), 2)                                   AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
           ROUND(AVG(l_quantity), 4)                                        AS avg_qty,
           ROUND(AVG(l_extendedprice), 4)                                   AS avg_price,
           ROUND(AVG(l_discount), 4)                                        AS avg_disc,
           count(*)                                                         AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# --------------------------------------------------------------------------
# A2 declarative agg-dict with DETERMINISTIC 'last'/'first' (reference
# coinbase_universe_pipeline.py:149-159; SURVEY §7.4 hazard 9: pandas 'last'
# is insertion-order, Spark F.last is nondeterministic — agg_dict resolves
# both to max_by/min_by over an explicit order column).
# --------------------------------------------------------------------------
@register(
    "supplier_declarative_agg",
    oracle="""
    WITH ordkey AS (
      SELECT l_suppkey, l_quantity, l_extendedprice, l_discount, l_returnflag,
             l_shipdate,
             ROW_NUMBER() OVER (PARTITION BY l_suppkey
                                ORDER BY l_shipdate, l_orderkey, l_linenumber)
               AS ord
      FROM lineitem
    )
    SELECT l_suppkey,
           ROUND(SUM(l_quantity), 2) AS l_quantity,
           ROUND(AVG(l_extendedprice), 4) AS l_extendedprice,
           ROUND(MIN(l_discount), 4) AS l_discount,
           -- skip-NULL last/first, mirroring agg_dict (a
           -- positional ord=cnt/ord=1 pick would return NULL where the
           -- engine returns the last/first NON-NULL value — latent
           -- divergence on any future fixture with NULL cells). max_by
           -- ignores rows whose ORDER expression is NULL, so gating the
           -- order on the value's non-nullness implements the skip.
           max_by(l_returnflag,
                  CASE WHEN l_returnflag IS NOT NULL THEN ord END)
             AS l_returnflag,
           min_by(l_shipdate,
                  CASE WHEN l_shipdate IS NOT NULL THEN ord END)
             AS l_shipdate
    FROM ordkey
    GROUP BY l_suppkey
    """,
)
def supplier_declarative_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 agg-dict: {'volume': sum, 'price': mean, 'disc': min, 'flag': last,
    'date': first} per supplier, with 'last'/'first' made deterministic by an
    explicit row order (shipdate, orderkey, linenumber) — single hash
    aggregate, no window shuffle on the Spark side (max_by carries the order
    key through the partial aggs)."""
    li = load_table(spark, sf_dir, "lineitem")
    # Dense, collision-free order key: (shipdate, orderkey, linenumber) as a
    # sortable struct for max_by/min_by.
    ordered = li.withColumn(
        "__ord", F.struct(F.col("l_shipdate"), F.col("l_orderkey"),
                          F.col("l_linenumber")))
    out = agg_dict(
        ordered, ["l_suppkey"],
        {"l_quantity": "sum", "l_extendedprice": "mean",
         "l_discount": "min", "l_returnflag": "last", "l_shipdate": "first"},
        order_col="__ord")
    return out.select(
        "l_suppkey",
        F.round("l_quantity", 2).alias("l_quantity"),
        F.round("l_extendedprice", 4).alias("l_extendedprice"),
        F.round("l_discount", 4).alias("l_discount"),
        "l_returnflag", "l_shipdate",
    )
