"""Window/analytics queries (SURVEY.md §2.5 W1-W13, §2.4 A1/A10) on the star
schema: the reference's per-asset panel features re-keyed to
``(o_custkey, o_orderdate)`` / ``(l_suppkey, l_shipdate)`` (FIXTURES.md §B).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..aggregates import canonical_aggregate
from ..io import load_table
from ..windows import (dominance_share, pct_change, rank_desc_average,
                       rolling_mean, rolling_std, rolling_zscore, w_cross,
                       w_entity)
from . import register


@register(
    "customer_order_returns",
    oracle="""
    SELECT o_custkey, o_orderkey,
           ROUND(o_totalprice / LAG(o_totalprice, 1) OVER w - 1, 6) AS ret_1,
           ROUND(o_totalprice / LAG(o_totalprice, 3) OVER w - 1, 6) AS ret_3,
           ROUND(LEAD(o_totalprice, 1) OVER w / o_totalprice - 1, 6) AS fwd_ret_1
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def customer_order_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3/W4 positional pct-change + lag/lead per entity (reference:
    feature_calculation_functions.py:30-34; test_data_integrity.py:242).
    pandas pct_change(k) is k ROWS back, not k days — SURVEY §7.4 h8."""
    o = load_table(spark, sf_dir, "orders")
    w = w_entity("o_custkey", ["o_orderdate", "o_orderkey"])
    return o.select(
        "o_custkey", "o_orderkey",
        F.round(pct_change("o_totalprice", 1, w), 6).alias("ret_1"),
        F.round(pct_change("o_totalprice", 3, w), 6).alias("ret_3"),
        # try_divide (like pct_change): a zero price yields
        # NULL instead of raising under ANSI, matching DuckDB's x/0 → NULL
        F.round(F.try_divide(F.lead("o_totalprice", 1).over(w),
                             F.col("o_totalprice")) - 1, 6)
         .alias("fwd_ret_1"),
    )


@register(
    "rolling_price_stats",
    oracle="""
    SELECT o_custkey, o_orderkey,
           ROUND(CASE WHEN COUNT(o_totalprice) OVER w5 >= 5
                      THEN AVG(o_totalprice) OVER w5 END, 4) AS roll_mean_5,
           ROUND(CASE WHEN COUNT(o_totalprice) OVER w5 >= 5
                      THEN STDDEV_SAMP(o_totalprice) OVER w5 END, 4) AS roll_std_5,
           ROUND(CASE WHEN COUNT(o_totalprice) OVER w5 >= 5
                       AND STDDEV_SAMP(o_totalprice) OVER w5 <> 0
                      THEN (o_totalprice - AVG(o_totalprice) OVER w5)
                           / STDDEV_SAMP(o_totalprice) OVER w5 END, 4) AS zscore_5
    FROM orders
    WINDOW w5 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
    """,
)
def rolling_price_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5/W6/W7 rolling mean/std/z-score with pandas min_periods semantics
    (null until the frame is full — SURVEY §7.4 h2; reference rolling_zscore
    feature_calculation_functions.py:16-21)."""
    o = load_table(spark, sf_dir, "orders")
    w = w_entity("o_custkey", ["o_orderdate", "o_orderkey"])
    return o.select(
        "o_custkey", "o_orderkey",
        F.round(rolling_mean("o_totalprice", 5, w), 4).alias("roll_mean_5"),
        F.round(rolling_std("o_totalprice", 5, w), 4).alias("roll_std_5"),
        F.round(rolling_zscore("o_totalprice", 5, w), 4).alias("zscore_5"),
    )


@register(
    "daily_share_and_rank",
    oracle="""
    SELECT CAST(l_shipdate AS DATE) AS d, l_orderkey, l_linenumber,
           ROUND(l_extendedprice / SUM(l_extendedprice)
                 OVER (PARTITION BY l_shipdate), 6) AS price_share,
           ROUND(RANK() OVER (PARTITION BY l_shipdate
                              ORDER BY l_extendedprice DESC)
                 + (COUNT(*) OVER (PARTITION BY l_shipdate, l_extendedprice)
                    - 1) / 2.0, 1) AS price_rank
    FROM lineitem
    """,
)
def daily_share_and_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W8 dominance share (unbounded per-date frame; reference
    feature_calculation_functions.py:123-124) + W2 cross-sectional rank
    with EXACT pandas ``rank(method='average')`` parity: min-rank +
    (ties-1)/2, computed as the mean row_number inside each (date, price)
    tie group — the same construction proved in `supplier_feature_matrix`
    (closes the SURVEY §7.4 h3 deviation note). The tie window's
    (date, price) clustering is a prefix of the row_number sort, so both
    share one sort-exchange."""
    li = load_table(spark, sf_dir, "lineitem")
    wd = w_cross("l_shipdate")
    ranked = rank_desc_average(li, "l_extendedprice", "l_shipdate",
                               ["l_orderkey", "l_linenumber"])
    return ranked.select(
        F.to_date("l_shipdate").alias("d"), "l_orderkey", "l_linenumber",
        F.round(dominance_share("l_extendedprice", wd), 6).alias("price_share"),
        F.round("__rank_avg", 1).alias("price_rank"),
    )


@register(
    "canonical_part_agg",
    oracle="""
    WITH base AS (
      SELECT l_partkey % 500 AS canonical_id,
             l_partkey AS member_id,
             CAST(l_shipdate AS DATE) AS d,
             l_extendedprice, l_quantity
      FROM lineitem
    ), ranked AS (
      SELECT *,
             ROW_NUMBER() OVER (
               PARTITION BY canonical_id, d
               ORDER BY (member_id = canonical_id) DESC,
                        l_extendedprice DESC, member_id DESC) AS rn
      FROM base
    ), sums AS (
      SELECT canonical_id, d,
             ROUND(SUM(l_quantity), 2) AS total_qty,
             COUNT(*) AS n_members
      FROM base GROUP BY 1, 2
    )
    SELECT r.canonical_id, r.d,
           ROUND(r.l_extendedprice, 2) AS chosen_price,
           r.member_id AS chosen_member,
           s.total_qty, s.n_members
    FROM ranked r JOIN sums s USING (canonical_id, d)
    WHERE r.rn = 1
    """,
)
def canonical_part_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 canonical aggregation (the reference's flagship operator,
    historical_data_etl.py:59-87) on the star schema: parts folded into
    canonical groups; per (canonical, day) take the native member if present
    else the max-priority member's values, sum volumes across members.

    Native exprs only — ``max_by(value, struct(native, priority, tiebreak))``
    + ``sum`` in ONE aggregate, planned as ``SortAggregate`` because the
    struct buffer is not fixed-width (vs the reference's per-group Python);
    the oracle reproduces the same pick via a ROW_NUMBER priority sort."""
    li = load_table(spark, sf_dir, "lineitem")
    base = li.select(
        (F.col("l_partkey") % 500).alias("canonical_id"),
        F.col("l_partkey").alias("member_id"),
        F.to_date("l_shipdate").alias("d"),
        "l_extendedprice", "l_quantity",
    )
    agg = canonical_aggregate(
        base, canonical_col="canonical_id", member_col="member_id",
        date_col="d", value_cols=["l_extendedprice", "member_id"],
        sum_cols=["l_quantity"], priority_col="l_extendedprice",
        count_alias="n_members",
    )
    return (
        agg.select(
            "canonical_id", "d",
            F.round(F.col("l_extendedprice"), 2).alias("chosen_price"),
            F.col("member_id").alias("chosen_member"),
            F.round(F.col("l_quantity"), 2).alias("total_qty"),
            "n_members",
        )
    )
