"""End-to-end E2 pipeline query (SURVEY.md §3 E2): the reference's flagship
historical-research ETL as ONE lazy Spark chain — distributed REST-page
ingestion → canonical-id mapping → monthly top-N universe → point-in-time
cutoff join → canonical aggregation.

Reference shape: historical_data_etl.main() (:89-199) runs these as five
eager pandas stages with per-coin fetch loops; here Catalyst sees the whole
lineage, the fetch fans out one task per API page, and the only shuffles are
the universe aggregation and the final canonical groupBy.

DuckDB oracles: the source is the deterministic
synthetic fetcher, not a parquet table — but the fetcher is a closed-form
md5/floor recipe (`sources.synthetic_fetch`), so the oracle rebuilds the
fact table arithmetically in a SQL CTE and value-checks the FULL pipeline,
the same construction `media_pipeline`'s oracle uses for binary blobs.
`tests/test_pipeline_e2e.py` additionally recomputes expected cells
independently in pandas from the same fetcher (a second, Python oracle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..aggregates import canonical_aggregate
from ..relational import canonicalize, pit_cutoff_join
from ..sources import fetch_history_distributed
from ..universe import monthly_top_n
from . import register

#: pipeline config — tickers with a deterministic synthetic history; the
#: *_alt coins are exchange-specific duplicates folded into their canonical
#: id (the reference's canonical_map, historical_data_etl.py:179-185).
COINS = ["btc", "btc_alt", "eth", "eth_alt", "sol", "ada", "dot", "link"]
CANONICAL_MAP = {"btc_alt": "btc", "eth_alt": "eth"}
N_DAYS = 240
UNIVERSE_N = 5
LIVE_N_DAYS = 60
_DAY0 = 19000  # sources._EPOCH_DAY0


def _fact_cte(n_days: int) -> str:
    """DuckDB CTEs reproducing ``sources.synthetic_fetch`` bit-for-bit:
    md5-derived uniforms (exact 2^-32 division), floor quantization (no
    engine-specific round ties), date = epoch + day. Emits ``cfact`` —
    the canonicalized fact table the pipelines consume."""
    coins = ", ".join(f"('{c}')" for c in COINS)
    cases = " ".join(f"WHEN coin_id = '{k}' THEN '{v}'"
                     for k, v in CANONICAL_MAP.items())
    return f"""
    coins(coin_id) AS (VALUES {coins}),
    days AS (SELECT unnest(range({_DAY0}, {_DAY0 + n_days})) AS d),
    u AS (
      SELECT coin_id, d,
        CAST('0x' || substr(md5(coin_id || '|0|base'), 1, 8) AS UBIGINT)
          / 4294967296.0 AS ub,
        CAST('0x' || substr(md5(coin_id || '|' || d || '|p'), 1, 8) AS UBIGINT)
          / 4294967296.0 AS up,
        CAST('0x' || substr(md5(coin_id || '|' || d || '|v'), 1, 8) AS UBIGINT)
          / 4294967296.0 AS uv,
        CAST('0x' || substr(md5(coin_id || '|' || d || '|m'), 1, 8) AS UBIGINT)
          / 4294967296.0 AS um
      FROM coins CROSS JOIN days),
    pv AS (
      SELECT coin_id, d, um,
        floor((10.0 + 990.0 * ub) * (0.5 + up) * 1e6) / 1e6 AS price,
        floor(1e6 * uv * 100) / 100 AS volume
      FROM u),
    fact AS (
      SELECT coin_id, DATE '1970-01-01' + CAST(d AS INTEGER) AS day,
        price, volume,
        floor(price * 1e6 * (1 + um) * 100) / 100 AS market_cap
      FROM pv),
    cfact AS (
      SELECT CASE {cases} ELSE coin_id END AS canonical_id,
             coin_id, day, price, volume, market_cap
      FROM fact)"""


#: full-pipeline oracle: universe build (monthly top-N canonical ids by
#: mean of MAX-member mcap), PIT cutoff (day <= month start), canonical
#: aggregation (native-first / max-mcap / coin-id-desc lexicographic pick,
#: summed volume, member count) — the same stages as the Spark chain.
_MARKET_HISTORY_ORACLE = f"""
WITH {_fact_cte(N_DAYS)},
canon_daily AS (
  SELECT canonical_id, day, max(market_cap) AS mcap
  FROM cfact GROUP BY 1, 2),
monthly AS (
  SELECT CAST(date_trunc('month', day) AS DATE) AS month, canonical_id,
         round(avg(mcap), 4) AS agg_value
  FROM canon_daily GROUP BY 1, 2),
universe AS (
  SELECT month, canonical_id AS u_id FROM (
    SELECT month, canonical_id,
           row_number() OVER (PARTITION BY month
                              ORDER BY agg_value DESC, canonical_id) AS rnk
    FROM monthly) WHERE rnk <= {UNIVERSE_N}),
pit AS (
  SELECT f.*, uv.month
  FROM cfact f JOIN universe uv
    ON f.canonical_id = uv.u_id AND f.day <= uv.month),
picked AS (
  SELECT canonical_id, month, day, price,
         row_number() OVER (
           PARTITION BY canonical_id, month, day
           ORDER BY CASE WHEN coin_id = canonical_id THEN 1 ELSE 0 END DESC,
                    market_cap DESC, coin_id DESC) AS rn
  FROM pit),
sums AS (
  SELECT canonical_id, month, day, sum(volume) AS vol,
         count(*) AS n_members
  FROM pit GROUP BY 1, 2, 3)
SELECT s.canonical_id, s.month, s.day,
       round(p.price, 6) AS price, round(s.vol, 2) AS volume, s.n_members
FROM sums s JOIN picked p
  ON p.canonical_id = s.canonical_id AND p.month = s.month
 AND p.day = s.day AND p.rn = 1
"""

#: live re-snapshot oracle: latest-day top-N universe by SUMMED member
#: mcap, members' full history canonically aggregated, snapshot-date stamp.
_LIVE_WORLD_ORACLE = f"""
WITH {_fact_cte(LIVE_N_DAYS)},
latest AS (SELECT max(day) AS day FROM cfact),
today AS (
  SELECT canonical_id, sum(market_cap) AS mcap
  FROM cfact WHERE day = (SELECT day FROM latest) GROUP BY 1),
universe AS (
  SELECT canonical_id FROM (
    SELECT canonical_id,
           row_number() OVER (ORDER BY mcap DESC, canonical_id) AS rnk
    FROM today) WHERE rnk <= {UNIVERSE_N}),
members AS (
  SELECT * FROM cfact
  WHERE canonical_id IN (SELECT canonical_id FROM universe)),
picked AS (
  SELECT canonical_id, day, price,
         row_number() OVER (
           PARTITION BY canonical_id, day
           ORDER BY CASE WHEN coin_id = canonical_id THEN 1 ELSE 0 END DESC,
                    market_cap DESC, coin_id DESC) AS rn
  FROM members),
sums AS (
  SELECT canonical_id, day, sum(volume) AS vol, count(*) AS n_members
  FROM members GROUP BY 1, 2)
SELECT s.canonical_id, s.day,
       round(p.price, 6) AS price, round(s.vol, 2) AS volume, s.n_members,
       (SELECT day FROM latest) AS snapshot_date
FROM sums s JOIN picked p
  ON p.canonical_id = s.canonical_id AND p.day = s.day AND p.rn = 1
"""


@register("market_history_pipeline", oracle=_MARKET_HISTORY_ORACLE)
def market_history_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 end-to-end: ingest → canonicalize → universe → PIT → aggregate.

    ``sf_dir`` is unused — the input is the REST-shaped source itself
    (`sources.fetch_history_distributed`), which is the point: this query's
    scan IS the connector. Output: one row per (canonical_id, month, day)
    with volume summed across members and OHLC-style values taken from the
    max-mcap member (native id first).
    """
    fact = fetch_history_distributed(spark, COINS, n_days=N_DAYS)
    fact = canonicalize(fact, "coin_id", CANONICAL_MAP,
                        out_col="canonical_id")

    # monthly top-N canonical ids by mean market cap (universe build,
    # A3+W1+O3). A canonical's daily cap is its MAX member listing, not the
    # SUM: btc/btc_alt are duplicate listings of ONE asset, so summing
    # would double-weight dual-listed coins in the ranking —
    # the same max-member convention canonical_aggregate applies one stage
    # later via priority_col.
    canon_daily = (fact.groupBy("canonical_id", "day")
                   .agg(F.max("market_cap").alias("mcap")))
    universe = (monthly_top_n(canon_daily, "day", "canonical_id", "mcap",
                              n=UNIVERSE_N)
                .select(F.col("month"),
                        F.col("canonical_id").alias("u_id")))

    # PIT cutoff: a member contributes to month m only with data up to m
    pit = pit_cutoff_join(fact, universe, fact_key="canonical_id",
                          fact_date="day", uni_key="u_id",
                          uni_month="month")

    # The PIT panel is keyed by (month, day): a fact row joins every month
    # whose cutoff covers it, so aggregating on (canonical, day) alone would
    # multi-count volumes across month slices. canonical_aggregate takes one
    # date key — pass the composite as a struct and unpack after.
    agg = canonical_aggregate(
        pit.withColumn("member_id", F.col("coin_id"))
           .withColumn("__md", F.struct(F.col("month"), F.col("day"))),
        canonical_col="canonical_id", member_col="member_id",
        date_col="__md", value_cols=["price"], sum_cols=["volume"],
        priority_col="market_cap", count_alias="n_members",
    )
    return agg.select(
        "canonical_id",
        F.col("__md.month").alias("month"),
        F.col("__md.day").alias("day"),
        F.round("price", 6).alias("price"),
        F.round("volume", 2).alias("volume"),
        "n_members")


@register("live_world_refresh", oracle=_LIVE_WORLD_ORACLE)
def live_world_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 live re-snapshot (reference live_data_pipeline.py:100-137): the
    whole-world recompute — latest-day top-N universe → members' full
    history → canonical aggregation → snapshot-date stamp. ``sf_dir``
    unused (connector-sourced, like market_history_pipeline); hash-checked
    against the closed-form fact oracle, and the
    overwrite-idempotency behavior is pinned in tests/test_live_refresh.py."""
    from ..live import live_world

    out = live_world(spark, COINS, n_days=LIVE_N_DAYS, top_n=UNIVERSE_N,
                     canonical_map=CANONICAL_MAP)
    return out
