"""Independent output checks: DuckDB over the same generated files and
pandas for the TA recurrences. Nothing here runs Spark. Each
``expected_*`` builds the answer once from the inputs; each ``compare_*``
returns the number of mismatching rows (0 = correct), so a corrupted
output counts as a failed operation.
"""

from __future__ import annotations

import datetime
import os

import duckdb
import numpy as np
import pandas as pd
import pyarrow.dataset as ds

RTOL, ATOL = 1e-6, 1e-9


def _read_dir(path: str) -> pd.DataFrame:
    return ds.dataset(path, format="parquet",
                      partitioning="hive").to_table().to_pandas()


def _norm_key(s: pd.Series) -> pd.Series:
    """Dates as ISO strings (DuckDB hands back datetime64, parquet date
    objects), everything else unchanged."""
    if s.dtype.kind == "M" or (s.dtype == object and len(s)
                               and isinstance(s.iloc[0], datetime.date)):
        return pd.to_datetime(s).dt.strftime("%Y-%m-%d")
    return s


def _frame_mismatches(got: pd.DataFrame, want: pd.DataFrame,
                      keys: list[str], cols: list[str]) -> int:
    """Rows missing on either side plus joined rows whose ``cols`` differ
    (floats within RTOL/ATOL, NaN equal to NaN/NULL)."""
    got = got[keys + cols].copy()
    want = want[keys + cols].copy()
    for k in keys:
        got[k], want[k] = _norm_key(got[k]), _norm_key(want[k])
    m = got.merge(want, on=keys, how="outer", suffixes=("_g", "_w"),
                  indicator=True)
    bad = (m["_merge"] != "both").to_numpy()
    both = m[m["_merge"] == "both"]
    row_bad = np.zeros(len(both), dtype=bool)
    for c in cols:
        a, b = both[f"{c}_g"], both[f"{c}_w"]
        if pd.api.types.is_numeric_dtype(a) and pd.api.types.is_numeric_dtype(b):
            x = a.to_numpy(dtype=float)
            y = b.to_numpy(dtype=float)
            ok = np.isclose(x, y, rtol=RTOL, atol=ATOL, equal_nan=True)
            ok |= np.isinf(x) & np.isinf(y) & (np.sign(x) == np.sign(y))
        else:
            ok = (a.astype(str) == b.astype(str)).to_numpy()
        row_bad |= ~ok
    return int(bad.sum() + row_bad.sum())


# --- market_lakehouse ------------------------------------------------------

FEATURES = ["ret_1", "ret_7", "sma_20", "vol_z30", "mcap_share"]
TA_COLS = ["rsi_14", "macd", "macd_signal", "macd_hist", "bb_mid", "bb_upper",
           "bb_lower", "bb_width", "atr_14"]
MARKET_COLS = ["open", "high", "low", "close", "volume", "market_cap",
               "n_members"] + FEATURES + TA_COLS


def _market_sql(bronze: str, cmap: dict, top_n: int) -> str:
    cases = " ".join(f"WHEN coin_id = '{k}' THEN '{v}'"
                     for k, v in sorted(cmap.items())) or "WHEN FALSE THEN NULL"
    return f"""
    WITH gated AS (
      SELECT *, CASE {cases} ELSE coin_id END AS canonical_id
      FROM read_parquet('{bronze}')
      WHERE NOT (close < low - 1e-6 OR close > high + 1e-6)),
    monthly AS (
      SELECT CAST(date_trunc('month', day) AS DATE) AS month, canonical_id,
             round(avg(market_cap), 4) AS agg_value
      FROM gated GROUP BY 1, 2),
    uni AS (
      SELECT month, canonical_id AS u_id FROM (
        SELECT *, row_number() OVER (PARTITION BY month
                    ORDER BY agg_value DESC, canonical_id) AS rk
        FROM monthly) WHERE rk <= {top_n}),
    pit AS (
      SELECT g.*, u.month FROM gated g JOIN uni u
        ON g.canonical_id = u.u_id AND g.day <= u.month),
    picked AS (
      SELECT *, row_number() OVER (
          PARTITION BY canonical_id, month, day
          ORDER BY CASE WHEN coin_id = canonical_id THEN 1 ELSE 0 END DESC,
                   market_cap DESC, coin_id DESC) AS rn
      FROM pit),
    sums AS (
      SELECT canonical_id, month, day, sum(volume) AS volume,
             count(*) AS n_members
      FROM pit GROUP BY 1, 2, 3),
    panel AS (
      SELECT p.canonical_id || '|' || strftime(p.month, '%Y-%m-%d') AS panel_id,
             p.canonical_id, p.month, p.day, p.open, p.high, p.low, p.close,
             s.volume, p.market_cap, s.n_members
      FROM picked p JOIN sums s USING (canonical_id, month, day)
      WHERE p.rn = 1)
    SELECT *,
      CASE WHEN lag(close, 1) OVER w <> 0
           THEN close / lag(close, 1) OVER w - 1 END AS ret_1,
      CASE WHEN lag(close, 7) OVER w <> 0
           THEN close / lag(close, 7) OVER w - 1 END AS ret_7,
      CASE WHEN count(close) OVER w20 >= 20 THEN avg(close) OVER w20 END
        AS sma_20,
      CASE WHEN count(volume) OVER w30 >= 30
                AND stddev_samp(volume) OVER w30 <> 0
           THEN (volume - avg(volume) OVER w30) / stddev_samp(volume) OVER w30
      END AS vol_z30,
      CASE WHEN sum(market_cap) OVER (PARTITION BY month, day) <> 0
           THEN market_cap / sum(market_cap) OVER (PARTITION BY month, day)
      END AS mcap_share
    FROM panel
    WINDOW w AS (PARTITION BY panel_id ORDER BY day),
           w20 AS (PARTITION BY panel_id ORDER BY day
                   ROWS BETWEEN 19 PRECEDING AND CURRENT ROW),
           w30 AS (PARTITION BY panel_id ORDER BY day
                   ROWS BETWEEN 29 PRECEDING AND CURRENT ROW)
    """


def ta_reference(pdf: pd.DataFrame) -> pd.DataFrame:
    """RSI-14 (Wilder), MACD 12/26/9, Bollinger 20/2 and ATR-14 per panel,
    written out from the public recurrences, one panel at a time."""
    out = []
    for _, g in pdf.sort_values(["panel_id", "day"]).groupby("panel_id",
                                                            sort=False):
        g = g.copy()
        c, h, lo = g["close"], g["high"], g["low"]
        d = c.diff()

        def wilder(s):
            return s.ewm(alpha=1 / 14, min_periods=14, adjust=False).mean()

        rs = wilder(d.clip(lower=0.0)) / wilder((-d).clip(lower=0.0))
        g["rsi_14"] = 100.0 - 100.0 / (1.0 + rs)
        macd = (c.ewm(span=12, adjust=False).mean()
                - c.ewm(span=26, adjust=False).mean())
        g["macd"] = macd
        g["macd_signal"] = macd.ewm(span=9, adjust=False).mean()
        g["macd_hist"] = g["macd"] - g["macd_signal"]
        mid, sd = c.rolling(20).mean(), c.rolling(20).std()
        g["bb_mid"], g["bb_upper"], g["bb_lower"] = mid, mid + 2 * sd, mid - 2 * sd
        g["bb_width"] = (g["bb_upper"] - g["bb_lower"]) / mid
        pc = c.shift(1)
        tr = pd.concat([h - lo, (h - pc).abs(), (lo - pc).abs()],
                       axis=1).max(axis=1)
        tr.iloc[0] = np.nan
        g["atr_14"] = wilder(tr)
        out.append(g)
    return pd.concat(out, ignore_index=True)


def expected_market(in_dir: str, top_n: int) -> pd.DataFrame:
    import json

    with open(os.path.join(in_dir, "canonical_map.json")) as f:
        cmap = json.load(f)
    with duckdb.connect() as con:
        panel = con.execute(_market_sql(
            os.path.join(in_dir, "bronze.parquet"), cmap, top_n)).df()
    return ta_reference(panel)


def compare_market(out_path: str, want: pd.DataFrame) -> int:
    got = _read_dir(out_path)
    return _frame_mismatches(got, want, ["panel_id", "day"], MARKET_COLS)


# --- corpus_prep -----------------------------------------------------------

def _tokens_sql(docs: str) -> str:
    """C4 cleaning, PII scrub, exact dedup and tokens: the head of the
    prepare_training_corpus composition, built from the package's own SQL
    twins of the C4 and PII rules (the same construction as the registry's
    ``prep_training_corpus`` oracle)."""
    from data_engineering_etl_pipeline_spark.extensions.cleaning import (
        C4_MIN_SENTENCES, C4_SENTENCE_RE, c4_kept_lines_sql)
    from data_engineering_etl_pipeline_spark.extensions.pii import scrub_pii_sql

    cleaned = "array_to_string(" + c4_kept_lines_sql("text") + ", chr(10))"
    return f"""
    CREATE TEMP TABLE toks AS
    WITH c4 AS (
      SELECT doc_id, {cleaned} AS ctext,
             contains(lower(text), 'lorem ipsum') AS has_lorem,
             (contains(text, '{{') OR contains(text, '}}')) AS has_brace
      FROM read_parquet('{docs}')
    ), scrubbed AS (
      SELECT doc_id, {scrub_pii_sql('ctext')} AS text FROM c4
      WHERE len(regexp_extract_all(ctext, '{C4_SENTENCE_RE}'))
              >= {C4_MIN_SENTENCES}
        AND NOT has_lorem AND NOT has_brace
    ), exact AS (
      SELECT doc_id, text FROM scrubbed
      QUALIFY doc_id = MIN(doc_id) OVER (PARTITION BY text)
    )
    SELECT doc_id, text, string_split_regex(trim(text), '\\s+') AS t
    FROM exact
    """


def _label_sql(min_quality: float, budget: int, n_shards: int) -> str:
    """Quality filter, train/val split, token counts and sequence packing
    over ``toks``."""
    md5_32 = """list_sum(list_transform(range(0, 8), i ->
        CAST(strpos('0123456789abcdef',
                    substr(md5({arg}), CAST(i + 1 AS INT), 1)) - 1
             AS BIGINT) << CAST((7 - i) * 4 AS INT)))"""
    quality = (
        "ROUND(least(length(text) / 500.0, 1.0)"
        " * (1 - CASE WHEN length(regexp_replace(text, '\\s+', '', 'g')) > 0"
        " THEN CAST(length(regexp_replace(text, '[\\p{L}\\p{N}\\s]', '', 'g'))"
        " AS DOUBLE) / length(regexp_replace(text, '\\s+', '', 'g'))"
        " ELSE 0.0 END)"
        " * CASE WHEN len(t) > 0"
        " THEN CAST(len(list_filter(t, x -> regexp_matches(x, '^\\p{L}+$')))"
        " AS DOUBLE) / len(t) ELSE 0.0 END, 6)")
    return f"""
    WITH kept AS (
      SELECT doc_id, text, t FROM toks WHERE {quality} >= {min_quality}
    ), labeled AS (
      SELECT doc_id,
             CASE WHEN {md5_32.format(arg="text")}
                       < CAST(4294967296.0 * 0.9 AS DOUBLE)
                  THEN 'train' ELSE 'val' END AS split,
             CAST(len(regexp_extract_all(text,
                 '[A-Za-z0-9_]+|[^A-Za-z0-9_\\s]')) AS BIGINT) AS n_tokens
      FROM kept
    ), packs AS (
      SELECT doc_id, shard,
             CAST(shard * 4294967296
             + (COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                // {budget}) AS BIGINT) AS pack_id
      FROM (SELECT doc_id, n_tokens,
                   CAST({md5_32.format(arg="CAST(doc_id AS VARCHAR)")}
                        % {n_shards} AS BIGINT) AS shard
            FROM labeled WHERE split = 'train')
    )
    SELECT l.doc_id, l.split, l.n_tokens, p.shard, p.pack_id
    FROM labeled l LEFT JOIN packs p USING (doc_id)
    """


def expected_corpus(in_dir: str, min_quality: float, pack_budget: int,
                    n_shards: int) -> pd.DataFrame:
    """The corpus_prep chain in DuckDB."""
    with duckdb.connect() as con:
        con.execute(_tokens_sql(os.path.join(in_dir, "docs.parquet")))
        return con.execute(_label_sql(min_quality, pack_budget,
                                      n_shards)).df()


def compare_corpus(out_path: str, want: pd.DataFrame) -> int:
    got = _read_dir(out_path)
    got["shard"] = pd.to_numeric(got["shard"].astype(object), errors="coerce")
    return _frame_mismatches(got, want, ["doc_id"],
                             ["split", "n_tokens", "shard", "pack_id"])
