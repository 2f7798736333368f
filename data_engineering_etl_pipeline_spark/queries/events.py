"""Event-stream queries (SURVEY.md §2.9): windowed aggregation,
sessionization, frequency tables, JSON payload flattening — batch forms that
double as oracles for the Structured Streaming path (streaming.py; the
streaming twin is exercised in tests/test_streaming.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from ..streaming import sessionize_batch, windowed_agg
from . import register


#: the sliding-window (1 h / 30 min) assignment CTEs, shared by the
#: registry oracle and the standalone library twin (a verbatim second
#: copy could silently diverge on a future edit)
_WINDOW_GRID_CTES = """grid AS (
      SELECT ts, value,
             date_trunc('hour', ts)
               + CASE WHEN minute(ts) >= 30 THEN INTERVAL 30 MINUTE
                      ELSE INTERVAL 0 MINUTE END AS cell
      FROM events
    ), assigned AS (
      SELECT u.ws AS window_start, value
      FROM grid, UNNEST([cell, cell - INTERVAL 30 MINUTE]) AS u(ws)
      WHERE ts >= u.ws AND ts < u.ws + INTERVAL 60 MINUTE
    )"""

#: event_time_windows' value oracle — its registry slot was folded into
#: `user_sessions` (tumbling/sliding are grains there, which frees a slot
#: under the driver's 50-entry cap); the standalone builder keeps this
#: full hash-checked twin as a unit (tests/test_queries_oracle.py) and
#: stays in the library surface.
EVENT_TIME_WINDOWS_ORACLE = """
    WITH """ + _WINDOW_GRID_CTES + """
    SELECT 'tumbling' AS kind, date_trunc('hour', ts) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 4) AS sum_value
    FROM events GROUP BY 1, 2, 3
    UNION ALL
    SELECT 'sliding' AS kind, window_start, NULL AS event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 4) AS sum_value
    FROM assigned GROUP BY 1, 2, 3
    """


def event_time_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling (1 h, keyed by event_type) AND sliding (1 h window / 30 min
    slide — every event lands in exactly 2 windows) event-time aggregation
    in one function (both window families stay independently verified,
    united by name with a ``kind`` tag). ``F.window`` has identical
    semantics batch vs readStream+watermark (§2.9) — the streaming twin
    and the late-data-drop contract are pinned in
    tests/test_streaming.py; the sliding oracle builds the window
    assignment explicitly from the 30-minute grid.
    Not a driver registry row: both window grains ride ``user_sessions``;
    the full value oracle stays hash-checked as a unit via
    ``EVENT_TIME_WINDOWS_ORACLE``."""
    ev = load_table(spark, sf_dir, "events")
    tumbling = (windowed_agg(ev, "ts", "1 hour", keys=["event_type"])
                .select(F.lit("tumbling").alias("kind"),
                        F.col("window.start").alias("window_start"),
                        "event_type", "n_events", "sum_value"))
    sliding = (windowed_agg(ev, "ts", "1 hour", slide="30 minutes")
               .select(F.lit("sliding").alias("kind"),
                       F.col("window.start").alias("window_start"),
                       "n_events", "sum_value"))
    return tumbling.unionByName(sliding, allowMissingColumns=True)


@register(
    "user_sessions",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN LAG(ts) OVER w IS NULL
                   OR epoch(ts) - epoch(LAG(ts) OVER w) > 1800
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), ids AS (
      SELECT user_id, ts, value,
             CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM flagged
    ), """ + _WINDOW_GRID_CTES + """
    SELECT 'session' AS kind, user_id, session_id,
           MIN(ts) AS session_start, MAX(ts) AS session_end,
           CAST(NULL AS TIMESTAMP) AS window_start,
           CAST(NULL AS VARCHAR) AS event_type,
           COUNT(*) AS n_events, ROUND(SUM(value), 4) AS sum_value
    FROM ids GROUP BY 1, 2, 3
    UNION ALL
    SELECT 'tumbling' AS kind, CAST(NULL AS BIGINT) AS user_id,
           CAST(NULL AS BIGINT) AS session_id,
           CAST(NULL AS TIMESTAMP) AS session_start,
           CAST(NULL AS TIMESTAMP) AS session_end,
           date_trunc('hour', ts) AS window_start, event_type,
           COUNT(*) AS n_events, ROUND(SUM(value), 4) AS sum_value
    FROM events GROUP BY 1, 2, 3, 4, 5, 6, 7
    UNION ALL
    SELECT 'sliding' AS kind, CAST(NULL AS BIGINT) AS user_id,
           CAST(NULL AS BIGINT) AS session_id,
           CAST(NULL AS TIMESTAMP) AS session_start,
           CAST(NULL AS TIMESTAMP) AS session_end,
           window_start, CAST(NULL AS VARCHAR) AS event_type,
           COUNT(*) AS n_events, ROUND(SUM(value), 4) AS sum_value
    FROM assigned GROUP BY 1, 2, 3, 4, 5, 6, 7
    """,
)
def user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The §2.9 event-time aggregation family in ONE stage-tagged row
    (the ``media_pipeline`` pattern, one slot under the driver's
    50-entry cap): gap-based
    sessionization (30-min gap via lag + running sum, the batch twin of
    ``session_window``) as the ``session`` grain, plus
    ``event_time_windows``' tumbling (1 h, keyed by event_type) and
    sliding (1 h / 30 min — every event in exactly 2 windows) grains.
    All three aggregate the same events table by user/time; the
    discriminator column keeps every grain's values hashed under one
    registry slot. Streaming twins (readStream + watermark ==
    these batch forms) stay pinned in tests/test_streaming.py; the
    standalone window builder keeps its full oracle as a unit
    (``EVENT_TIME_WINDOWS_ORACLE``)."""
    ev = load_table(spark, sf_dir, "events")
    nul = F.lit(None)
    sess = sessionize_batch(ev, "user_id", "ts", gap_minutes=30).select(
        F.lit("session").alias("kind"), "user_id", "session_id",
        "session_start", "session_end",
        nul.cast("timestamp").alias("window_start"),
        nul.cast("string").alias("event_type"), "n_events", "sum_value")
    wins = event_time_windows(spark, sf_dir).select(
        "kind", nul.cast("long").alias("user_id"),
        nul.cast("long").alias("session_id"),
        nul.cast("timestamp").alias("session_start"),
        nul.cast("timestamp").alias("session_end"),
        "window_start", "event_type", "n_events", "sum_value")
    return sess.unionByName(wins)


@register(
    "event_type_profile",
    oracle="""
    SELECT event_type, COUNT(*) AS n,
           COUNT(DISTINCT user_id) AS n_users,
           CAST(SUM(CASE WHEN regexp_matches(json_extract_string(props, '$.k'),
                                             '^-?[0-9]+$')
                         THEN CAST(json_extract_string(props, '$.k') AS BIGINT)
                    END) AS BIGINT) AS sum_k,
           COUNT(CASE WHEN json_extract_string(props, '$.k') IS NULL THEN 1 END) AS null_k
    FROM events GROUP BY 1
    """,
)
def event_type_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5/A7/F15 per-type profile in one registry row (frequency table
    and JSON extraction share one slot under the driver's 50-entry cap —
    one hash aggregate, one scan).

    A7 frequency table (reference value_counts, cg_attributes…py:155), A5
    distinct count (reference nunique, historical_data_etl.py:196 — at
    100 TB swap countDistinct for approx_count_distinct, HLL map-side
    combinable; exact here to match the oracle — the swap is a TESTED
    contract: rel err 0.067 at rsd=0.05 on sf0.1, asserted
    ≤ 2×rsd in tests/test_scale_toolkit.py), and F15 nested-JSON
    flatten (reference parse_asset_metadata, pipeline_helpers.py:107-156):
    a typed field extracted from the JSON payload and aggregated in the
    same pass."""
    ev = load_table(spark, sf_dir, "events")
    ks = F.get_json_object("props", "$.k")
    # regex-guarded cast: a plain .cast('long') THROWS under
    # Spark 4's default ANSI mode on any non-integral k (DuckDB would
    # round it instead) — both engines now treat non-integral k as NULL in
    # the sum, and null_k counts EXTRACTION failures (missing/invalid
    # JSON), the oracle's semantic, not cast failures.
    k = F.when(ks.rlike(r"^-?[0-9]+$"), ks.cast("long"))
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum(k).alias("sum_k"),
        F.count(F.when(ks.isNull(), 1)).alias("null_k"),
    )


# Recursive-CTE twin of the streaming_macd fold (same double-division
# constants and op order — see queries/tech.py oracle notes on why literal
# decimals are 1 ulp off). Restricted to (user, ts)-unique rows so both
# engines sort identically.
_MACD_ORACLE = """
WITH RECURSIVE uniq AS (
  SELECT user_id, ts, value FROM (
    SELECT user_id, ts, value,
           COUNT(*) OVER (PARTITION BY user_id, ts) AS c
    FROM events) WHERE c = 1
),
base AS (
  SELECT user_id, ts, CAST(value AS DOUBLE) AS close,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts) AS rn
  FROM uniq
),
rec AS (
  SELECT user_id, rn, ts, close,
         close AS ema12, close AS ema26, CAST(0.0 AS DOUBLE) AS sig
  FROM base WHERE rn = 1
  UNION ALL
  SELECT b.user_id, b.rn, b.ts, b.close,
    (CAST(1 AS DOUBLE) - CAST(2 AS DOUBLE)/13) * r.ema12
      + (CAST(2 AS DOUBLE)/13) * b.close,
    (CAST(1 AS DOUBLE) - CAST(2 AS DOUBLE)/27) * r.ema26
      + (CAST(2 AS DOUBLE)/27) * b.close,
    (CAST(1 AS DOUBLE) - CAST(2 AS DOUBLE)/10) * r.sig
      + (CAST(2 AS DOUBLE)/10)
        * (((CAST(1 AS DOUBLE) - CAST(2 AS DOUBLE)/13) * r.ema12
             + (CAST(2 AS DOUBLE)/13) * b.close)
           - ((CAST(1 AS DOUBLE) - CAST(2 AS DOUBLE)/27) * r.ema26
              + (CAST(2 AS DOUBLE)/27) * b.close))
  FROM rec r JOIN base b ON b.user_id = r.user_id AND b.rn = r.rn + 1
)
SELECT user_id, ts, ROUND(close, 6) AS value,
       ROUND(ema12 - ema26, 6) AS macd,
       ROUND(sig, 6) AS macd_signal
FROM rec
"""


@register("user_value_macd", oracle=_MACD_ORACLE)
def user_value_macd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 custom stateful operator, batch-checkable form: the
    streaming_macd fold (incremental EMA state per user via
    applyInPandasWithState; streaming.py) run over the bounded events
    table. Oracle: recursive CTE stepping the identical recurrence.
    Cross-batch state continuity is pinned in tests/test_streaming.py."""
    from ..streaming import streaming_macd

    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    # (user, ts)-unique restriction as ONE window count over the same
    # user_id clustering the MACD kernel needs — the old groupBy + self-
    # join shuffled the full events table twice; the
    # oracle's own COUNT(*) OVER formulation mirrors this shape.
    w = Window.partitionBy("user_id", "ts")
    ev = (ev.withColumn("__c", F.count(F.lit(1)).over(w))
          .filter(F.col("__c") == 1)
          .select("user_id", "ts", "value"))
    out = streaming_macd(ev, "user_id", "ts", "value")
    return out.select(
        "user_id", "ts",
        F.round("value", 6).alias("value"),
        F.round("macd", 6).alias("macd"),
        F.round("macd_signal", 6).alias("macd_signal"))


@register(
    "purchase_last_view_asof",
    oracle="""
    WITH p AS (
      SELECT event_id, user_id, ts, value
      FROM events WHERE event_type = 'purchase'
    ), v AS (
      SELECT user_id, ts, value AS vv
      FROM events WHERE event_type = 'view'
    )
    SELECT p.event_id, p.user_id, p.ts, p.value AS purchase_value,
           v.vv AS last_view_value
    FROM p ASOF LEFT JOIN v
      ON p.user_id = v.user_id AND v.ts <= p.ts
    """,
)
def purchase_last_view_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase event picks up the value of the same
    user's most recent prior (ts ≤ purchase ts) view event, null if none —
    pandas ``merge_asof`` / DuckDB ``ASOF JOIN`` semantics, which Spark has
    no built-in for. Implemented as the union + sort + last(ignorenulls)
    carry-forward plan (`relational.asof_join`): ONE shuffle of |L|+|R|
    rows, no range join, no per-key pair explosion — the 100 TB shape.
    Oracle: DuckDB's native ASOF LEFT JOIN. ``duplicates='resolve_max'``:
    two view rows sharing (user, ts) would otherwise make the
    carried value NONDETERMINISTIC run-to-run — the fixture currently has
    none, so this is hash-neutral, and if a regeneration introduces one,
    our side stays deterministic (DuckDB's ASOF picks arbitrarily on dup
    right keys — the residual cross-engine caveat lives there, not here)."""
    from ..relational import asof_join

    ev = load_table(spark, sf_dir, "events")
    purchases = (ev.filter(F.col("event_type") == "purchase")
                 .select("event_id", "user_id", "ts",
                         F.col("value").alias("purchase_value")))
    views = (ev.filter(F.col("event_type") == "view")
             .select("user_id", "ts", F.col("value").alias("last_view_value")))
    return asof_join(purchases, views, key="user_id", left_time="ts",
                     right_time="ts", value_cols=["last_view_value"],
                     suffix="", duplicates="resolve_max")


@register(
    "signup_click_funnel_1h",
    oracle="""
    WITH s AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'signup'
    ), c AS (
      SELECT user_id, ts, value FROM events WHERE event_type = 'click'
    )
    SELECT s.event_id, s.user_id, s.ts,
           COUNT(c.ts) AS n_clicks_1h,
           ROUND(COALESCE(SUM(c.value), 0.0), 4) AS click_value_1h
    FROM s LEFT JOIN c
      ON s.user_id = c.user_id
     AND c.ts > s.ts AND c.ts <= s.ts + INTERVAL 1 HOUR
    GROUP BY s.event_id, s.user_id, s.ts
    """,
)
def signup_click_funnel_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join: per signup event, the count and summed value
    of the same user's clicks in the following hour — the funnel/attribution
    query shape. Runs on `relational.binned_interval_join` (hour-bin
    explosion → equi-join on (user, bin) → exact range filter): candidate
    fan-out is bounded by per-bin density, never per-key cardinality —
    versus the naive key join whose intermediate is quadratic on hot users.
    Zero-click signups are preserved via the left join back."""
    from ..relational import binned_interval_join

    ev = load_table(spark, sf_dir, "events")
    signups = (ev.filter(F.col("event_type") == "signup")
               .select("event_id", "user_id",
                       F.col("ts").alias("ts"),
                       F.col("ts").alias("__start"),
                       (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("__end")))
    clicks = (ev.filter(F.col("event_type") == "click")
              .select("user_id", "ts", "value"))
    matches = binned_interval_join(
        signups, clicks, key="user_id", start="__start", end="__end",
        point_time="ts", point_cols=["value"], bin_seconds=3600)
    per_signup = (matches.groupBy("event_id")
                  .agg(F.count(F.lit(1)).alias("n_clicks_1h"),
                       F.round(F.sum("value_pt"), 4).alias("click_value_1h")))
    return (signups.select("event_id", "user_id", "ts")
            .join(per_signup, "event_id", "left")
            .select("event_id", "user_id", "ts",
                    F.coalesce("n_clicks_1h", F.lit(0)).alias("n_clicks_1h"),
                    F.coalesce("click_value_1h", F.lit(0.0))
                     .alias("click_value_1h")))
