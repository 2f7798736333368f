"""Live whole-world re-snapshot (SURVEY.md §2.9; reference:
all-etl-pipelines/live_data/live_data_pipeline.py:100-137).

Each run of the reference's live pipeline re-derives the ENTIRE world from
current market state — re-fetch the top-200 universe by market cap, re-pull
every member's history, re-aggregate, overwrite the snapshot. Nothing is
incremental by design: "live" means the universe itself may have changed
since the last run, so yesterday's snapshot cannot be patched.

Spark shape: the refresh is one lazy plan (distributed fetch → latest-day
top-N universe → broadcast semi-join → canonical aggregation) and the sink
is a dynamic-partition overwrite of the run's snapshot_date partition —
re-running the same world state is a bit-identical no-op, re-running after
the world moved replaces only the new date's partition. At 100 TB the
universe build reads one day's slice (partition-pruned), and only universe
members' history flows into the aggregation.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .aggregates import canonical_aggregate
from .io import write_daily_snapshot
from .relational import canonicalize
from .sources import fetch_history_distributed
from .windows import top_k_per_group


def live_world(spark: SparkSession, coins: Sequence[str], n_days: int = 30,
               top_n: int = 5,
               canonical_map: Mapping[str, str] | None = None,
               fetcher=None) -> DataFrame:
    """The re-derived world: universe = top-``top_n`` canonical ids by
    market cap on the LATEST ingested day (the reference's
    ``get_coins_markets(order='market_cap_desc')`` :102-105), world = every
    universe member's full history canonically aggregated. Lazy end to end.
    """
    kwargs = {"fetcher": fetcher} if fetcher is not None else {}
    # PIN the fetched fact: it feeds four plan branches (latest-day agg
    # twice, the universe build, the members semi-join), and Spark does not
    # dedupe common subtrees — uncached, one action re-invokes the fetcher
    # ~4x (4x API traffic with a real rate-limited HTTP fetcher), and a
    # new day arriving between re-executions could stamp the snapshot with
    # a different day than the one that picked the universe — a torn
    # world. Engine-pin contract: refresh_world_snapshot releases it
    # scoped around its write; a caller driving live_world's lazy result
    # directly owns the release (caching.release_engine_pins).
    from .caching import pin

    fact = pin(canonicalize(
        fetch_history_distributed(spark, list(coins), n_days=n_days, **kwargs),
        "coin_id", dict(canonical_map or {}), out_col="canonical_id"))

    latest = fact.agg(F.max("day").alias("day"))
    today = (fact.join(F.broadcast(latest), "day")
             .groupBy("canonical_id", "day")
             .agg(F.sum("market_cap").alias("mcap")))
    universe = (top_k_per_group(today, ["day"], "mcap", top_n,
                                tiebreak=["canonical_id"])
                .select("canonical_id"))

    members = fact.join(F.broadcast(universe), "canonical_id", "left_semi")
    world = canonical_aggregate(
        members.withColumn("member_id", F.col("coin_id")),
        canonical_col="canonical_id", member_col="member_id",
        date_col="day", value_cols=["price"], sum_cols=["volume"],
        priority_col="market_cap", count_alias="n_members")
    # stamp the run's snapshot date: broadcast cross-join of the 1-row
    # latest-day aggregate (a global window here would funnel the whole
    # result through one partition).
    return (world.select(
        "canonical_id", "day",
        F.round("price", 6).alias("price"),
        F.round("volume", 2).alias("volume"),
        "n_members")
        .crossJoin(F.broadcast(
            latest.select(F.col("day").alias("snapshot_date")))))


def refresh_world_snapshot(spark: SparkSession, out_root: str,
                           coins: Sequence[str], n_days: int = 30,
                           top_n: int = 5,
                           canonical_map: Mapping[str, str] | None = None,
                           fetcher=None) -> DataFrame:
    """One live-pipeline run: recompute the world, overwrite its
    snapshot-date partition (dynamic partition overwrite — other dates'
    partitions are untouched, re-runs of the same state are no-ops in
    content). Returns the world that was written.

    Pin lifecycle: the fetched fact pinned inside live_world is
    released when this function returns — a scheduler calling this daily
    in one long-lived session must not accumulate a fact cache per run.
    The write inside the scope fully materializes the world;
    re-executing the RETURNED frame afterwards recomputes (and re-fetches)
    — read the written snapshot back instead for cheap reuse."""
    from .caching import engine_pin_scope

    with engine_pin_scope():
        world = live_world(spark, coins, n_days, top_n, canonical_map,
                           fetcher)
        write_daily_snapshot(world, out_root, date_col="snapshot_date",
                             skip_if_exists=False)
    return world
