"""The two workloads, each one job at a time through the package's public
functions. Every call into a layer goes through ``tr.call(layer, fn, ...)``:
a plain call with tracing off, a span with tracing on (see trace.py).

A job returns the path it wrote; ``check.py`` compares that with an
independent DuckDB/pandas answer computed from the same generated files.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_engineering_etl_pipeline_spark import (aggregates, caching, io,
                                                 quality_gate, relational, ta,
                                                 universe, windows)
from data_engineering_etl_pipeline_spark.extensions import (cleaning, corpus,
                                                            dedup, pii,
                                                            text_stats)

# --- market_lakehouse ------------------------------------------------------

MARKET_TOP_N = 20
OHLC = ["open", "high", "low", "close"]


def window_features(panel: DataFrame) -> DataFrame:
    """Per-panel return / trend / volume features and the cross-sectional
    market-cap share, from the package's window builders."""
    w = windows.w_entity("panel_id", "day")
    wc = windows.w_cross(["month", "day"])
    return panel.select(
        "*",
        windows.pct_change("close", 1, w).alias("ret_1"),
        windows.pct_change("close", 7, w).alias("ret_7"),
        windows.rolling_mean("close", 20, w).alias("sma_20"),
        windows.rolling_zscore("volume", 30, w).alias("vol_z30"),
        windows.dominance_share("market_cap", wc).alias("mcap_share"),
    )


def market_job(spark: SparkSession, in_dir: str, out_dir: str, tr) -> str:
    """The research ETL over the Bronze history: gate → canonical ids →
    monthly top-N universe → point-in-time panel → canonical aggregation →
    window and TA features → one parquet write. Returns the written path."""
    with open(os.path.join(in_dir, "canonical_map.json")) as f:
        cmap = json.load(f)
    bronze = tr.call("io", io.read_parquet, spark,
                     os.path.join(in_dir, "bronze.parquet"))
    gated = tr.call("quality_gate", quality_gate.apply_gate, bronze,
                    required=["coin_id", "day", *OHLC, "volume", "market_cap"],
                    price_cols=OHLC)
    canon = tr.call("relational", relational.canonicalize, gated, "coin_id",
                    cmap, out_col="canonical_id")
    uni = tr.call("universe", universe.monthly_top_n, canon, "day",
                  "canonical_id", "market_cap", n=MARKET_TOP_N)
    pit = tr.call("relational", relational.pit_cutoff_join, canon,
                  uni.select("month", F.col("canonical_id").alias("u_id")),
                  fact_key="canonical_id", fact_date="day", uni_key="u_id",
                  uni_month="month")
    agg = tr.call(
        "aggregates", aggregates.canonical_aggregate,
        pit.withColumn("member_id", F.col("coin_id"))
           .withColumn("__md", F.struct("month", "day")),
        canonical_col="canonical_id", member_col="member_id", date_col="__md",
        value_cols=[*OHLC, "market_cap"], sum_cols=["volume"],
        priority_col="market_cap", count_alias="n_members")
    panel = agg.select(
        F.concat_ws("|", "canonical_id",
                    F.date_format("__md.month", "yyyy-MM-dd")).alias("panel_id"),
        "canonical_id", F.col("__md.month").alias("month"),
        F.col("__md.day").alias("day"), *OHLC, "volume", "market_cap",
        "n_members")
    feats = tr.call("windows", window_features, panel)
    out_df = tr.call("ta", ta.ta_features, feats, "panel_id", ["day"],
                     "close", "high", "low")
    out = os.path.join(out_dir, "market_features")
    tr.call("io", io.write_parquet, out_df, out)
    if tr.traced:
        # boundary outputs are persisted, so these counts re-read the cache
        n_in, n_canon = bronze.count(), canon.count()
        tr.count("quality_gate.rows_in", n_in)
        tr.count("quality_gate.rows_dropped", n_in - n_canon)
        tr.count("relational.pit_rows_in", n_canon)
        tr.count("relational.pit_rows_out", pit.count())
        tr.count("ta.rows", out_df.count())
    return out


# --- corpus_prep -----------------------------------------------------------

PACK_BUDGET = 512
N_SHARDS = 8
MIN_QUALITY = 0.05


def corpus_job(spark: SparkSession, in_dir: str, out_dir: str, tr) -> str:
    """LLM training-data prep, one stage per layer call: C4 line cleaning →
    PII scrub → exact dedup → quality floor, train/val split and token
    counts → pin → sequence packing → training-shard write with manifest.
    These are the stages of ``prep.prepare_training_corpus`` without its
    n-gram near-dup and contamination stages, and without SemDeDup (see
    README.md, "Sizing"). Returns the written path."""
    id_col, text_col = "doc_id", "text"
    docs = tr.call("io", io.read_parquet, spark,
                   os.path.join(in_dir, "docs.parquet"))
    cleaned = tr.call(
        "extensions.cleaning",
        lambda d: (d.select(id_col, *cleaning.c4_stats(text_col))
                   .filter(F.col("keep_page"))
                   .select(id_col, F.col("cleaned").alias(text_col))), docs)
    scrubbed = tr.call(
        "extensions.pii",
        lambda d: d.select(id_col, pii.scrub_pii(text_col).alias(text_col)),
        cleaned)
    exact = tr.call("extensions.dedup", dedup.exact_dedup_keep_first,
                    scrubbed, id_col, text_col)
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    hv = corpus._portable_hv(F.col(text_col))
    split = F.when(hv < F.lit(float(1 << 32)) * 0.9, "train").otherwise("val")
    labeled = tr.call(
        "extensions.text_stats",
        lambda d: (d.filter(text_stats.quality_score(text_col, toks=toks)
                            >= MIN_QUALITY)
                   .withColumn("split", split)
                   .withColumn("n_tokens",
                               text_stats.token_count_regex(text_col))),
        exact)
    # the kept docs feed both the packer and the join back onto its packs
    labeled = tr.call("caching", caching.pin, labeled)
    packs = tr.call("extensions.corpus", corpus.pack_sequences,
                    labeled.filter(F.col("split") == "train"),
                    budget=PACK_BUDGET, n_shards=N_SHARDS, id_col=id_col,
                    text_col=text_col, tokens_col="n_tokens",
                    portable_shard=True)
    final = labeled.join(packs.select(id_col, "shard", "pack_id"), id_col,
                         "left")
    out = os.path.join(out_dir, "shards")
    tr.call("io", io.write_training_shards, final, out)
    return out
