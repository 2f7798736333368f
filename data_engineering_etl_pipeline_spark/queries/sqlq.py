"""Queries expressed as pure SQL text over the registered star views —
pinning DataFrame/SQL parity (same Catalyst plan either way).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..sql_interface import run_sql
from . import register

_REVENUE_SQL = """
    SELECT r.r_name AS region,
           n.n_name AS nation,
           CAST(YEAR(o.o_orderdate) AS INT) AS yr,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE o.o_orderdate >= DATE '1993-01-01'
    GROUP BY GROUPING SETS ((r.r_name, n.n_name, YEAR(o.o_orderdate)),
                            (r.r_name, YEAR(o.o_orderdate)))
"""


@register("sql_nation_revenue", oracle=_REVENUE_SQL)
def sql_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-join revenue rollup as SQL TEXT through ``spark.sql`` (the
    DuckDB oracle is the IDENTICAL string — both dialects accept it) —
    the engine's SQL front door. The full FIVE-frame star stitch (region ⋈
    nation ⋈ customer ⋈ orders ⋈ lineitem — the J1 surface) at TWO grains
    via GROUPING SETS ((region, nation, yr), (region, yr)). One aggregate
    pass computes both grains (Spark plans grouping sets as a single
    expand+agg — no second scan); Catalyst broadcasts the constant dims
    and pushes the date filter exactly as in the DataFrame form
    (tests/test_plans.py family)."""
    return run_sql(spark, sf_dir, _REVENUE_SQL)
