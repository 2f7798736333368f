"""Technical-indicator queries (SURVEY.md §2.5 W9-W12): native Bollinger
(oracle-checked — SMA-based, a true window expression) and the
recurrence indicators RSI/MACD/ATR via the ``mapInPandas`` kernel (per
partition, partitions sized by AQE; rows-only:
EMA recurrences are not ANSI-SQL-expressible; the kernel is cross-checked
against its native Bollinger twin in tests).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from ..ta import ta_features
from ..windows import rolling_mean, rolling_std, w_entity
from . import register


# W11 Bollinger is driver-checked INSIDE `supplier_ta_indicators` below
# (native window SMA±2σ columns alongside the kernel's recurrence columns,
# same window-SQL oracle construction that the former standalone
# `supplier_bollinger` row hash-matched) — the standalone row was retired
# to keep the registry inside its 50-entry oracle-check budget.
# The kernel's own pandas-rolling Bollinger twin stays pinned against the
# native windows in tests/test_engine_units.py.


# DuckDB oracle for the EMA/Wilder recurrences: a recursive CTE stepping one
# row per entity per iteration. Floating-point parity notes (hard-won):
# - pandas ewm(adjust=False) computes y_t = (1-a)*y_{t-1} + a*x_t in exactly
#   that op order (verified bit-equal against pandas 2.2);
# - the constants MUST be derived by double division (CAST(2 AS DOUBLE)/13):
#   a 17-digit decimal literal parses as DECIMAL and its DECIMAL→DOUBLE
#   conversion lands 1 ulp off Python's float, which after ~600 recurrence
#   steps flips ROUND(x, 6) on a handful of rows.
_A_W = "(CAST(1 AS DOUBLE)/14)"          # Wilder alpha (RSI/ATR)
_A0_W = "(CAST(1 AS DOUBLE) - CAST(1 AS DOUBLE)/14)"
_A_12 = "(CAST(2 AS DOUBLE)/13)"         # EMA span 12
_A0_12 = "(CAST(1 AS DOUBLE) - CAST(2 AS DOUBLE)/13)"
_A_26 = "(CAST(2 AS DOUBLE)/27)"         # EMA span 26
_A0_26 = "(CAST(1 AS DOUBLE) - CAST(2 AS DOUBLE)/27)"
_A_9 = "(CAST(2 AS DOUBLE)/10)"          # EMA span 9 (signal)
_A0_9 = "(CAST(1 AS DOUBLE) - CAST(2 AS DOUBLE)/10)"

_TA_ORACLE_SQL = f"""
WITH RECURSIVE base AS (
  SELECT l_suppkey AS suppkey, l_orderkey, l_linenumber,
         l_extendedprice AS close,
         ROW_NUMBER() OVER (PARTITION BY l_suppkey
                            ORDER BY l_shipdate, l_orderkey, l_linenumber) AS rn
  FROM lineitem
),
rec AS (
  SELECT suppkey, rn, l_orderkey, l_linenumber, close,
         CAST(NULL AS DOUBLE) AS avg_gain,
         CAST(NULL AS DOUBLE) AS avg_loss,
         close AS ema12, close AS ema26,
         CAST(0.0 AS DOUBLE) AS sig,
         CAST(NULL AS DOUBLE) AS atr
  FROM base WHERE rn = 1
  UNION ALL
  SELECT b.suppkey, b.rn, b.l_orderkey, b.l_linenumber, b.close,
    CASE WHEN r.rn = 1 THEN GREATEST(b.close - r.close, CAST(0 AS DOUBLE))
         ELSE {_A0_W} * r.avg_gain
              + {_A_W} * GREATEST(b.close - r.close, CAST(0 AS DOUBLE)) END,
    CASE WHEN r.rn = 1 THEN GREATEST(r.close - b.close, CAST(0 AS DOUBLE))
         ELSE {_A0_W} * r.avg_loss
              + {_A_W} * GREATEST(r.close - b.close, CAST(0 AS DOUBLE)) END,
    {_A0_12} * r.ema12 + {_A_12} * b.close,
    {_A0_26} * r.ema26 + {_A_26} * b.close,
    {_A0_9} * r.sig + {_A_9} * (({_A0_12} * r.ema12 + {_A_12} * b.close)
                                - ({_A0_26} * r.ema26 + {_A_26} * b.close)),
    CASE WHEN r.rn = 1 THEN ABS(b.close - r.close)
         ELSE {_A0_W} * r.atr + {_A_W} * ABS(b.close - r.close) END
  FROM rec r JOIN base b ON b.suppkey = r.suppkey AND b.rn = r.rn + 1
),
bb AS (
  -- joined back on (suppkey, rn): unique by construction, unlike
  -- (l_orderkey, l_linenumber) which the synthetic lineitem duplicates
  SELECT suppkey, rn,
         CASE WHEN COUNT(close) OVER w20 >= 20
              THEN AVG(close) OVER w20 END AS bb_mid,
         CASE WHEN COUNT(close) OVER w20 >= 20
              THEN AVG(close) OVER w20
                   + 2 * STDDEV_SAMP(close) OVER w20 END AS bb_upper,
         CASE WHEN COUNT(close) OVER w20 >= 20
              THEN AVG(close) OVER w20
                   - 2 * STDDEV_SAMP(close) OVER w20 END AS bb_lower
  FROM base
  WINDOW w20 AS (PARTITION BY suppkey ORDER BY rn
                 ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
)
SELECT r.suppkey AS l_suppkey, r.l_orderkey, r.l_linenumber,
  ROUND(CASE WHEN r.rn < 15 THEN NULL
             WHEN r.avg_loss = 0 AND r.avg_gain = 0 THEN NULL
             WHEN r.avg_loss = 0 THEN CAST(100 AS DOUBLE)
             ELSE CAST(100 AS DOUBLE) - CAST(100 AS DOUBLE)
                  / (CAST(1 AS DOUBLE) + r.avg_gain / r.avg_loss) END, 6) AS rsi_14,
  ROUND(r.ema12 - r.ema26, 6) AS macd,
  ROUND(r.sig, 6) AS macd_signal,
  ROUND(CASE WHEN r.rn >= 15 THEN r.atr END, 6) AS atr_14,
  ROUND(b.bb_mid, 4) AS bb_mid,
  ROUND(b.bb_upper, 4) AS bb_upper,
  ROUND(b.bb_lower, 4) AS bb_lower
FROM rec r
JOIN bb b ON b.suppkey = r.suppkey AND b.rn = r.rn
"""


@register("supplier_ta_indicators", oracle=_TA_ORACLE_SQL)
def supplier_ta_indicators(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W9/W10/W12 RSI-14 / MACD(12,26,9) / ATR-14 via the Arrow kernel
    (reference feature_calculation_functions.py:44-92) + W11
    Bollinger(20,2) as NATIVE window expressions over the kernel output
    (same per-suppkey clustering, no extra exchange needed). Wilder/EMA
    recurrences carry infinite-memory per-entity state → ``mapInPandas``
    per partition, partitions sized by AQE; Bollinger is SMA-based → pure
    window SQL, the oracle pairing that also hash-matched as a standalone
    row. Oracle: DuckDB recursive CTE for the
    recurrences (see _TA_ORACLE_SQL notes) joined with a window CTE for the
    bands; kernel additionally validated in tests against closed-form cases
    and the native Bollinger twin."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_shipdate", "l_orderkey", "l_linenumber",
        "l_extendedprice", "l_quantity")
    out = ta_features(
        li, entity_col="l_suppkey",
        order_cols=["l_shipdate", "l_orderkey", "l_linenumber"],
        close="l_extendedprice")
    w = w_entity("l_suppkey", ["l_shipdate", "l_orderkey", "l_linenumber"])
    mid = rolling_mean("l_extendedprice", 20, w)
    sd = rolling_std("l_extendedprice", 20, w)
    return out.select(
        "l_suppkey", "l_orderkey", "l_linenumber",
        F.round("rsi_14", 6).alias("rsi_14"),
        F.round("macd", 6).alias("macd"),
        F.round("macd_signal", 6).alias("macd_signal"),
        F.round("atr_14", 6).alias("atr_14"),
        F.round(mid, 4).alias("bb_mid"),
        F.round(mid + 2 * sd, 4).alias("bb_upper"),
        F.round(mid - 2 * sd, 4).alias("bb_lower"),
    )


@register(
    "media_pipeline",
    oracle="""
    WITH ids AS (SELECT CAST(t.i AS BIGINT) AS media_id FROM range(64) t(i)),
    meta AS (
      SELECT media_id,
        CASE media_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                          ELSE 'video' END AS kind,
        CASE WHEN media_id % 3 <> 1
             THEN CAST(8 + (media_id % 5) * 4 AS INT) END AS width,
        CASE WHEN media_id % 3 = 0 THEN CAST(6 + (media_id % 7) * 2 AS INT)
             WHEN media_id % 3 = 2 THEN CAST(6 + (media_id % 4) * 2 AS INT)
        END AS height,
        CASE WHEN media_id % 3 = 1
             THEN CAST(256 + (media_id % 5) * 64 AS BIGINT)
             WHEN media_id % 3 = 2
             THEN CAST(30 * 3 * (8 + (media_id % 5) * 4)
                       * (6 + (media_id % 4) * 2) AS BIGINT)
        END AS n_samples
      FROM ids
    ),
    feats AS (
      SELECT media_id, kind, width, height, n_samples,
        CASE WHEN kind = 'image' THEN
               ROUND(CAST(list_sum(list_transform(
                       range(0, width * height * 3),
                       k -> (media_id * 7 + k * 13) % 256)) AS DOUBLE)
                     / (width * height * 3), 6)
             WHEN kind = 'audio' THEN
               ROUND(CAST(list_sum(list_transform(
                       range(0, n_samples),
                       k -> (media_id * 11 + k * 5) % 256)) AS DOUBLE)
                     / n_samples, 6)
             WHEN kind = 'video' THEN
               ROUND(CAST(list_sum(list_transform(
                       range(0, n_samples),
                       k -> (media_id * 3 + k * 13) % 256)) AS DOUBLE)
                     / n_samples, 6)
        END AS mean_val,
        TRUE AS decode_ok
      FROM meta
    ),
    vids AS (
      SELECT media_id,
             CAST(8 + (media_id % 5) * 4 AS BIGINT) AS w,
             CAST(6 + (media_id % 4) * 2 AS BIGINT) AS h
      FROM ids WHERE media_id % 3 = 2
    ),
    frames AS (
      SELECT media_id, CAST(u.f AS INT) AS frame_idx,
             ROUND(CAST(list_sum(list_transform(
                     range(u.f * 3 * w * h, (u.f + 1) * 3 * w * h),
                     k -> (media_id * 3 + k * 13) % 256)) AS DOUBLE)
                   / (3 * w * h), 6) AS frame_mean
      FROM vids, UNNEST([0, 10, 20]) u(f)
    )
    SELECT 'features' AS stage, media_id, kind, width, height, n_samples,
           mean_val, decode_ok,
           CAST(NULL AS INT) AS frame_idx, CAST(NULL AS DOUBLE) AS frame_mean
    FROM feats
    UNION ALL
    SELECT 'frames' AS stage, media_id, CAST(NULL AS VARCHAR) AS kind,
           CAST(NULL AS INT) AS width, CAST(NULL AS INT) AS height,
           CAST(NULL AS BIGINT) AS n_samples, CAST(NULL AS DOUBLE) AS mean_val,
           CAST(NULL AS BOOLEAN) AS decode_ok, frame_idx, frame_mean
    FROM frames
    """,
)
def media_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.11 multimodal pipeline — the former ``media_feature_extract`` +
    ``media_frame_sample`` rows folded into one stage-tagged union, which
    keeps the registry inside its 50-entry oracle-check budget (both
    machines stay fully oracle-checked):

    - ``features``: binary media columns → mapInPandas feature extraction
      with REAL codec-free decoders for all three kinds (PPM header+pixel
      parse, raw-PCM sample stats, Y4M header+frame parse; compressed
      formats stay an honest NotImplementedError seam);
    - ``frames``: every 10th Y4M frame's mean, one mapInPandas pass over
      the video rows only (bounded fan-out — 3 sampled frames per 30-frame
      video), which must locate and average exactly the right 3·w·h bytes.

    The blobs follow closed-form byte recipes, so the oracle recomputes
    every decoded width/height/sample-count/mean arithmetically — the
    Spark side must actually parse the bytes to match."""
    from ..extensions.multimodal import (extract_features, make_fake_media,
                                         sample_frames)

    media = make_fake_media(spark, n=64)
    feats = extract_features(media).select(
        F.lit("features").alias("stage"),
        "media_id", "kind", "width", "height", "n_samples",
        F.round("mean_val", 6).alias("mean_val"), "decode_ok")
    frames = sample_frames(media, every_n=10).select(
        F.lit("frames").alias("stage"),
        "media_id", "frame_idx", F.round("frame_mean", 6).alias("frame_mean"))
    return feats.unionByName(frames, allowMissingColumns=True)
