"""Live whole-world re-snapshot (reference live_data_pipeline.py:100-137):
each run recomputes the world from current state and overwrites only its
snapshot-date partition — re-runs are content-identical no-ops, and when the
world moves on (new data, universe membership changes) the new run lands in
its own partition leaving history intact.
"""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from data_engineering_etl_pipeline_spark.live import (live_world,
                                                      refresh_world_snapshot)

COINS = ["btc", "btc_alt", "eth", "sol", "ada", "dot"]
CMAP = {"btc_alt": "btc"}


def _read_sorted(spark, root):
    return sorted(map(tuple, spark.read.parquet(root)
                      .select("snapshot_date", "canonical_id", "day",
                              "price", "volume", "n_members")
                      .collect()))


def test_refresh_is_idempotent_and_partition_scoped(spark, tmp_path):
    root = os.path.join(str(tmp_path), "world")

    w1 = refresh_world_snapshot(spark, root, COINS, n_days=10, top_n=3,
                                canonical_map=CMAP)
    first = _read_sorted(spark, root)
    assert first and w1.count() == len(first)
    # exactly one snapshot partition, stamped with the latest ingested day
    dates = {r[0] for r in first}
    assert len(dates) == 1

    # rerun with unchanged world state: content-identical, no duplicates
    refresh_world_snapshot(spark, root, COINS, n_days=10, top_n=3,
                           canonical_map=CMAP)
    assert _read_sorted(spark, root) == first

    # the world moves on (more days ingested): a NEW partition appears,
    # the old one survives byte-for-byte
    refresh_world_snapshot(spark, root, COINS, n_days=12, top_n=3,
                           canonical_map=CMAP)
    both = _read_sorted(spark, root)
    assert {r[0] for r in both} > dates
    assert [r for r in both if r[0] in dates] == first


def test_live_world_universe_is_latest_day_topn(spark):
    """The universe must be decided by the LATEST day's market caps only:
    every canonical id in the world is one of the top-N on that day, and
    the alt listing folds into its canonical id before ranking."""
    w = live_world(spark, COINS, n_days=8, top_n=3, canonical_map=CMAP)
    ids = {r.canonical_id for r in w.select("canonical_id").distinct().collect()}
    assert len(ids) == 3
    assert "btc_alt" not in ids  # canonicalized before universe ranking
    # membership spans full history, not just the latest day
    days = w.groupBy("canonical_id").agg(F.countDistinct("day").alias("d")).collect()
    assert all(r.d == 8 for r in days)


def test_live_world_values_match_pandas_oracle(spark):
    """Cell-level value check (shape and membership checks alone would pass
    a wrong price pick or volume sum): recompute the ENTIRE
    re-derived world in plain pandas from the same deterministic synthetic
    fetcher and compare every (canonical_id, day) cell — price pick
    (native-first, then max-mcap, member-desc tiebreak), volume sum,
    member count, universe membership, and the snapshot stamp."""
    import pandas as pd

    from data_engineering_etl_pipeline_spark.sources import (_EPOCH_DAY0,
                                                             synthetic_fetch)

    n_days, top_n = 9, 3
    got = live_world(spark, COINS, n_days=n_days, top_n=top_n,
                     canonical_map=CMAP).toPandas()

    rows = []
    for c in COINS:
        rows.extend(synthetic_fetch(c, _EPOCH_DAY0, n_days))
    pdf = pd.DataFrame(rows, columns=["coin_id", "day", "price", "volume",
                                      "market_cap"])
    pdf["canonical_id"] = pdf["coin_id"].map(lambda c: CMAP.get(c, c))
    latest = pdf["day"].max()
    today = (pdf[pdf["day"] == latest]
             .groupby("canonical_id", as_index=False)["market_cap"].sum()
             .sort_values(["market_cap", "canonical_id"],
                          ascending=[False, True]))
    universe = set(today.head(top_n)["canonical_id"])
    members = pdf[pdf["canonical_id"].isin(universe)]

    want = {}
    for (cid, day), g in members.groupby(["canonical_id", "day"]):
        g = g.copy()
        g["native"] = (g["coin_id"] == g["canonical_id"]).astype(int)
        g = g.sort_values(["native", "market_cap", "coin_id"],
                          ascending=[False, False, False])
        price = g["price"].iloc[0]
        if pd.isna(price) and g["price"].notna().any():
            price = g["price"].dropna().iloc[0]
        want[(cid, day)] = (round(price, 6), round(g["volume"].sum(), 2),
                            len(g))

    assert len(got) == len(want)
    for r in got.itertuples(index=False):
        assert r.snapshot_date == latest
        p, v, n = want[(r.canonical_id, r.day)]
        assert r.price == pytest.approx(p, abs=1e-9), (r.canonical_id, r.day)
        assert r.volume == pytest.approx(v, abs=1e-9)
        assert r.n_members == n


def test_refresh_world_releases_engine_pins(spark, tmp_path):
    """A scheduler runs refresh_world_snapshot daily in one session; each
    run must NOT accumulate a pinned fetched-fact relation (one cached fact
    per day would grow the executors' storage without bound) — the write
    inside the scope fully materializes the world, so scoped release is
    safe."""
    import data_engineering_etl_pipeline_spark.caching as caching
    from data_engineering_etl_pipeline_spark.live import refresh_world_snapshot

    caching.release_engine_pins()
    before = len(caching._PINNED)
    refresh_world_snapshot(spark, str(tmp_path / "world"),
                           ["btc", "eth", "sol"], n_days=10, top_n=2)
    assert len(caching._PINNED) == before, (
        "refresh_world_snapshot leaked an engine pin")
