"""Point-in-time universe machinery (SURVEY.md §2 A3+W1+O3, P6/J9; §7.2).

The reference builds a monthly top-N membership map: rank candidates by
monthly mean market cap, keep the top N, store ``{month: [ids]}``
(universe_generation_pipeline.py:146-179), then assembles point-in-time
histories by slicing each member's history at each month
(historical_data_etl.py:154-168).

Spark-first: the universe is a small relational table ``(month, member_id,
rank)`` — broadcastable everywhere it is consumed — and PIT assembly is a
broadcast theta join (relational.pit_cutoff_join). The flagship query
(§7.2): monthly top-N customers by average order value.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .windows import top_k_per_group


def monthly_top_n(df: DataFrame, date_col: str, id_col: str, value_col: str,
                  n: int) -> DataFrame:
    """Monthly top-N members by average value.

    Plan shape: one hash-agg shuffle on ``(month, id)`` (map-side partial agg
    first), then one window shuffle on ``month`` for row_number — both tiny
    after aggregation, regardless of fact-table size. Deterministic
    tiebreak on ``id`` mirrors pandas rank(method='first') on stable input
    (reference: universe_generation_pipeline.py:159-161; SURVEY §7.4 h3).
    Output: ``month (date), <id_col>, agg_value, rank``.
    """
    monthly = (
        df.withColumn("month", F.trunc(F.col(date_col), "MM"))
        .groupBy("month", id_col)
        .agg(F.round(F.avg(F.col(value_col)), 4).alias("agg_value"))
    )
    return (
        top_k_per_group(monthly, ["month"], "agg_value", n,
                        tiebreak=[id_col], rank_col="rank")
        .select("month", id_col, "agg_value", "rank")
    )
