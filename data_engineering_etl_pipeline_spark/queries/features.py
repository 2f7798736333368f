"""E3 composed feature-engineering pipeline (SURVEY.md §3 E3).

The reference's gold layer is ONE chain — returns → momentum → volatility →
volume → market-structure (feature_engineering_pipeline.py:34-84 calling
feature_calculation_functions.py:25-125). Here the whole SQL-expressible
subset of that chain is a single registered, DuckDB-oracle-checked query
over a daily supplier panel built from ``lineitem``:

- returns for lookbacks {1,3,7,14,30} (create_return_features, :30-41),
- 30-row rolling z-scores of ret_3d/ret_7d (:37-40 via rolling_zscore :16-21),
- volatility_30d = rolling std of ret_1d (create_volatility_features :83-88),
- volume z-score (create_volume_features :102-106),
- Bollinger bandwidth (create_momentum_features :63-69, the SMA-based
  normalized width — the EMA-recurrence indicators RSI/MACD/ATR live in the
  separate ``supplier_ta_indicators`` kernel query),
- cross-sectional mcap rank + dominance share
  (create_market_structure_factors :115-124).

Plan shape (the point of E3): every per-entity feature is computed over ONE
window family ``w_entity(suppkey, ship_date)`` — a single sort-exchange on
``suppkey`` feeds ALL the lag/rolling expressions — and both cross-sectional
features share the second family ``w_cross(ship_date)``. Three shuffles
total at any scale: the panel aggregation, the entity sort, the date sort.
At 100 TB the panel groupBy is the only data-sized shuffle; the feature
windows run on the (much smaller) per-(entity, day) panel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from ..windows import (dominance_share, pct_change, rank_desc_average,
                       rolling_std, rolling_zscore, w_cross, w_entity)
from . import register

_FEATURE_MATRIX_SQL = """
WITH panel AS (
  SELECT l_suppkey AS suppkey,
         CAST(l_shipdate AS DATE) AS ship_date,
         AVG(l_extendedprice) AS close,
         SUM(l_quantity) AS volume,
         SUM(l_extendedprice) AS mcap
  FROM lineitem
  GROUP BY 1, 2
),
rets AS (
  SELECT *,
         close / LAG(close, 1) OVER we - 1 AS ret_1d,
         close / LAG(close, 3) OVER we - 1 AS ret_3d,
         close / LAG(close, 7) OVER we - 1 AS ret_7d,
         close / LAG(close, 14) OVER we - 1 AS ret_14d,
         close / LAG(close, 30) OVER we - 1 AS ret_30d
  FROM panel
  WINDOW we AS (PARTITION BY suppkey ORDER BY ship_date)
),
feat AS (
  SELECT *,
    CASE WHEN COUNT(ret_3d) OVER w30 >= 30 AND STDDEV_SAMP(ret_3d) OVER w30 <> 0
         THEN (ret_3d - AVG(ret_3d) OVER w30) / STDDEV_SAMP(ret_3d) OVER w30
    END AS ret_3d_z,
    CASE WHEN COUNT(ret_7d) OVER w30 >= 30 AND STDDEV_SAMP(ret_7d) OVER w30 <> 0
         THEN (ret_7d - AVG(ret_7d) OVER w30) / STDDEV_SAMP(ret_7d) OVER w30
    END AS ret_7d_z,
    CASE WHEN COUNT(ret_1d) OVER w30 >= 30
         THEN STDDEV_SAMP(ret_1d) OVER w30
    END AS volatility_30d,
    CASE WHEN COUNT(volume) OVER w30 >= 30 AND STDDEV_SAMP(volume) OVER w30 <> 0
         THEN (volume - AVG(volume) OVER w30) / STDDEV_SAMP(volume) OVER w30
    END AS vol_z30,
    CASE WHEN COUNT(close) OVER w20 >= 20 AND AVG(close) OVER w20 <> 0
         THEN 4 * STDDEV_SAMP(close) OVER w20 / AVG(close) OVER w20
    END AS bb_width
  FROM rets
  WINDOW
    w30 AS (PARTITION BY suppkey ORDER BY ship_date
            ROWS BETWEEN 29 PRECEDING AND CURRENT ROW),
    w20 AS (PARTITION BY suppkey ORDER BY ship_date
            ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
)
SELECT suppkey, ship_date,
       ROUND(close, 4) AS close,
       ROUND(ret_1d, 6) AS ret_1d,
       ROUND(ret_3d, 6) AS ret_3d,
       ROUND(ret_7d, 6) AS ret_7d,
       ROUND(ret_14d, 6) AS ret_14d,
       ROUND(ret_30d, 6) AS ret_30d,
       ROUND(ret_3d_z, 6) AS ret_3d_z,
       ROUND(ret_7d_z, 6) AS ret_7d_z,
       ROUND(volatility_30d, 6) AS volatility_30d,
       ROUND(vol_z30, 6) AS vol_z30,
       ROUND(bb_width, 6) AS bb_width,
       ROW_NUMBER() OVER (PARTITION BY ship_date
                          ORDER BY mcap DESC, suppkey) AS mcap_rank,
       ROUND(RANK() OVER (PARTITION BY ship_date ORDER BY mcap DESC)
             + (COUNT(*) OVER (PARTITION BY ship_date, mcap) - 1) / 2.0,
             1) AS mcap_rank_avg,
       ROUND(mcap / SUM(mcap) OVER (PARTITION BY ship_date), 6) AS dominance_pct
FROM feat
"""


@register("supplier_feature_matrix", oracle=_FEATURE_MATRIX_SQL)
def supplier_feature_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3: the full composed feature matrix in one lazy chain.

    Stage 1 (panel): lineitem → one row per (suppkey, ship_date) — the only
    data-sized shuffle. Stage 2 (entity family): all lag/rolling features in
    selects sharing the ``w_entity`` sort. Stage 3 (cross family): rank +
    dominance over the ``w_cross`` exchange.
    """
    li = load_table(spark, sf_dir, "lineitem")
    panel = (
        li.groupBy(F.col("l_suppkey").alias("suppkey"),
                   F.to_date("l_shipdate").alias("ship_date"))
        .agg(F.avg("l_extendedprice").alias("close"),
             F.sum("l_quantity").alias("volume"),
             F.sum("l_extendedprice").alias("mcap"))
    )

    we = w_entity("suppkey", "ship_date")
    rets = panel.select(
        "*",
        pct_change("close", 1, we).alias("ret_1d"),
        pct_change("close", 3, we).alias("ret_3d"),
        pct_change("close", 7, we).alias("ret_7d"),
        pct_change("close", 14, we).alias("ret_14d"),
        pct_change("close", 30, we).alias("ret_30d"),
    )

    # The z-scores and volatility come from the windows helpers, which
    # emit each sliding aggregate once. Bollinger's inputs are named slots:
    # bb_width tests and divides by the same 20-row mean, and Spark dedupes
    # neither identical window expressions nor repeated sub-expressions, so
    # writing it with rolling_mean/rolling_std would put 8 sliding
    # aggregates in the Window operator where these 3 do.
    f20 = we.rowsBetween(-19, 0)
    aggs = rets.select(
        "*",
        rolling_zscore("ret_3d", 30, we).alias("ret_3d_z"),
        rolling_zscore("ret_7d", 30, we).alias("ret_7d_z"),
        rolling_std("ret_1d", 30, we).alias("volatility_30d"),
        rolling_zscore("volume", 30, we).alias("vol_z30"),
        F.count("close").over(f20).alias("__c_close"),
        F.avg("close").over(f20).alias("__m_close"),
        F.stddev_samp("close").over(f20).alias("__s_close"),
    )

    bb_mid = F.when(F.col("__c_close") >= 20, F.col("__m_close"))
    bb_sd = F.when(F.col("__c_close") >= 20, F.col("__s_close"))
    feat = aggs.select(
        *rets.columns, "ret_3d_z", "ret_7d_z", "volatility_30d", "vol_z30",
        F.when(bb_mid.isNotNull() & (bb_mid != 0), 4 * bb_sd / bb_mid)
         .alias("bb_width"),
    )

    wc = w_cross("ship_date")
    # pandas rank(method='average') exactly — the reference's
    # mcap_rank_daily semantics (create_market_structure_factors:115-118),
    # via the shared windows.rank_desc_average helper (the one home for
    # the tie-window-is-a-prefix-of-the-sort invariant); rn_out also keeps
    # the deterministic row_number as mcap_rank.
    ranked = rank_desc_average(feat, "mcap", "ship_date", ["suppkey"],
                               out_col="__mcap_rank_avg",
                               rn_out="mcap_rank")
    mcap_rank_avg = F.col("__mcap_rank_avg")
    return ranked.select(
        "suppkey", "ship_date",
        F.round("close", 4).alias("close"),
        F.round("ret_1d", 6).alias("ret_1d"),
        F.round("ret_3d", 6).alias("ret_3d"),
        F.round("ret_7d", 6).alias("ret_7d"),
        F.round("ret_14d", 6).alias("ret_14d"),
        F.round("ret_30d", 6).alias("ret_30d"),
        F.round("ret_3d_z", 6).alias("ret_3d_z"),
        F.round("ret_7d_z", 6).alias("ret_7d_z"),
        F.round("volatility_30d", 6).alias("volatility_30d"),
        F.round("vol_z30", 6).alias("vol_z30"),
        F.round("bb_width", 6).alias("bb_width"),
        "mcap_rank",
        F.round(mcap_rank_avg, 1).alias("mcap_rank_avg"),
        F.round(dominance_share("mcap", wc), 6).alias("dominance_pct"),
    )
