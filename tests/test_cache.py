"""S8/S9 two-tier cache get/put (SURVEY.md §2.1; reference
DataPersistenceLayer, pipeline_helpers.py:34-102 and its test contract in
test_caching_infrastructure.py:44-49): miss -> None, DataFrame round-trip
through the durable lake tier, dict (JSON config) round-trip, session-tier
promotion on get, write-through visibility to a fresh cache instance, and
invalidate dropping only the session tier.
"""

from __future__ import annotations

import tempfile

from pyspark import StorageLevel

from data_engineering_etl_pipeline_spark.io import TwoTierCache


def _df(spark):
    return spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5), (3, "c", 3.5)], "id long, k string, v double")


def test_miss_returns_none(spark):
    with tempfile.TemporaryDirectory() as lake:
        cache = TwoTierCache(spark, lake)
        assert cache.get("nope") is None


def test_dataframe_roundtrip_and_promotion(spark):
    with tempfile.TemporaryDirectory() as lake:
        cache = TwoTierCache(spark, lake)
        cache.set("prices", _df(spark))
        got = cache.get("prices")
        assert sorted(r["id"] for r in got.collect()) == [1, 2, 3]
        # session-tier hit: persisted, and the same object on repeat gets
        assert got.storageLevel != StorageLevel.NONE
        assert cache.get("prices") is got
        cache.clear()


def test_writes_through_to_durable_lake(spark):
    with tempfile.TemporaryDirectory() as lake:
        TwoTierCache(spark, lake).set("prices", _df(spark))
        # fresh instance = empty session tier; must still hit the lake
        fresh = TwoTierCache(spark, lake)
        got = fresh.get("prices")
        assert got is not None and got.count() == 3
        fresh.clear()


def test_dict_json_roundtrip(spark):
    universe = {"2024-01-01": ["btc", "eth"], "2024-02-01": ["btc", "sol"]}
    with tempfile.TemporaryDirectory() as lake:
        cache = TwoTierCache(spark, lake)
        cache.set("universe", universe)
        assert cache.get("universe") == universe
        # fresh instance reads the same durable JSON
        assert TwoTierCache(spark, lake).get("universe") == universe


def test_set_overwrites(spark):
    with tempfile.TemporaryDirectory() as lake:
        cache = TwoTierCache(spark, lake)
        cache.set("t", _df(spark))
        cache.set("t", _df(spark).filter("id <= 2"))
        assert cache.get("t").count() == 2
        cache.clear()


def test_invalidate_keeps_lake_copy(spark):
    with tempfile.TemporaryDirectory() as lake:
        cache = TwoTierCache(spark, lake)
        cache.set("t", _df(spark))
        first = cache.get("t")
        cache.invalidate("t")
        assert first.storageLevel == StorageLevel.NONE  # unpersisted
        again = cache.get("t")  # re-promoted from the lake tier
        assert again.count() == 3
        cache.clear()


def test_cache_type_switching_set_honors_last_write(spark, tmp_path):
    """set(name, df) then set(name, dict): get must return the dict — the
    session tier is invalidated and the stale parquet shadow deleted
    (get probes parquet before json, so a stale parquet would win)."""
    from data_engineering_etl_pipeline_spark.io import TwoTierCache

    cache = TwoTierCache(spark, str(tmp_path / "lake"))
    df = spark.createDataFrame([(1, "a")], "k long, v string")
    cache.set("thing", df)
    assert cache.get("thing").count() == 1
    cache.set("thing", {"mode": "json-now"})
    assert cache.get("thing") == {"mode": "json-now"}
    # a fresh instance (no session tier) agrees — the parquet is gone
    assert TwoTierCache(spark, str(tmp_path / "lake")).get("thing") == {
        "mode": "json-now"}
