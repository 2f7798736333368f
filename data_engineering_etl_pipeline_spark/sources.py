"""REST-shaped sources (SURVEY.md §2.1 S4-S6, S11), Spark-distributed.

The reference ingests market history with driver-side ``requests`` loops —
per-coin pagination, 179-day OHLC range chunks, sleeps and 429 backoff
(reference: all-etl-pipelines/pipeline_helpers.py:194-330,
universe_generation_pipeline.py:53-115). Single-threaded fetch is the
reference's throughput ceiling; here the same surface is distributed two
ways, both keyed on the insight that *the unit of parallelism is the API
page/chunk, not the row*:

1. ``SyntheticMarketDataSource`` — a Spark 4 Python Data Source whose
   ``partitions()`` are (coin, date-chunk) pages: a 1000-executor cluster
   fetches 1000 pages concurrently, and Catalyst sees an ordinary scan.
   ``read_market_api`` reads it and registers the format at read time,
   not at session set-up.
2. ``fetch_history_distributed`` — the same fan-out as ``mapInPandas`` over
   a chunk-table (one row per (coin, from_ts, to_ts)), for when composing
   with an existing DataFrame pipeline is more natural than a format.

The network itself is NOT exercised here (no HTTP libraries in scope): both
paths call a pluggable ``fetcher(coin, start_day, n_days) -> list[rows]``;
the default is a deterministic synthetic generator so tests and the two
paths can cross-check each other bit-for-bit. A production deployment
injects a ``requests``-based fetcher wrapped in ``with_retry``.
"""

from __future__ import annotations

import hashlib
import math
import time
from collections.abc import Callable, Iterator, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pyspark.sql.types import (DateType, DoubleType, StringType, StructField,
                               StructType)

MARKET_SCHEMA = StructType([
    StructField("coin_id", StringType()),
    StructField("day", DateType()),
    StructField("price", DoubleType()),
    StructField("volume", DoubleType()),
    StructField("market_cap", DoubleType()),
])

CHUNK_DAYS = 179  # the reference's OHLC range-chunk size (pipeline_helpers.py:227)
_EPOCH_DAY0 = 19000  # 2022-01-08, arbitrary deterministic origin


def _u(coin: str, day: int, field: str) -> float:
    """Deterministic uniform [0,1) from (coin, day, field) — md5-based so
    every process/executor agrees (Python's hash() is salted per-process)
    AND a SQL engine can reproduce it exactly:
    ``CAST('0x' || substr(md5(coin||'|'||day||'|'||field),1,8) AS UBIGINT)
    / 4294967296.0`` is the DuckDB twin (the md5-portable convention the
    dedup oracles already use). Division by 2^32 is exact in binary."""
    h = int(hashlib.md5(f"{coin}|{day}|{field}".encode()).hexdigest()[:8], 16)
    return h / 2**32


def _q(x: float, digits: int) -> float:
    """Quantize DOWN to ``digits`` decimals via floor — unlike ``round``,
    floor has no engine-specific tie-breaking, so Python, Spark, and DuckDB
    agree bit-for-bit (the magnitudes here keep x*10^digits < 2^53)."""
    p = 10.0 ** digits
    return math.floor(x * p) / p


def synthetic_fetch(coin: str, start_day: int, n_days: int) -> list[tuple]:
    """The pluggable fake 'API call': one page of daily market rows for one
    coin. Deterministic in its arguments; shaped like a parsed JSON payload
    (reference parse at pipeline_helpers.py:208-213). Every value is a
    closed-form md5/floor expression, so the connector-sourced pipeline
    queries carry full DuckDB value oracles (the fact CTE rebuilds this
    generator arithmetically in SQL)."""
    import datetime
    out = []
    for d in range(start_day, start_day + n_days):
        base = 10.0 + 990.0 * _u(coin, 0, "base")
        price = _q(base * (0.5 + _u(coin, d, "p")), 6)
        volume = _q(1e6 * _u(coin, d, "v"), 2)
        mcap = _q(price * 1e6 * (1 + _u(coin, d, "m")), 2)
        out.append((coin, datetime.date.fromordinal(719163 + d), price, volume, mcap))
    return out


class _ChunkPartition(InputPartition):
    def __init__(self, coin: str, start_day: int, n_days: int):
        self.coin = coin
        self.start_day = start_day
        self.n_days = n_days


class SyntheticMarketReader(DataSourceReader):
    def __init__(self, options: dict):
        self.coins = [c for c in options.get("coins", "").split(",") if c]
        self.start_day = int(options.get("start_day", _EPOCH_DAY0))
        self.n_days = int(options.get("n_days", 365))
        self.chunk_days = int(options.get("chunk_days", CHUNK_DAYS))

    def partitions(self) -> Sequence[InputPartition]:
        """One partition per (coin, chunk) page — the fetch-parallelism unit.
        The reference walks these serially with sleeps; a cluster walks them
        all at once."""
        parts = []
        for coin in self.coins:
            d = self.start_day
            end = self.start_day + self.n_days
            while d < end:
                n = min(self.chunk_days, end - d)
                parts.append(_ChunkPartition(coin, d, n))
                d += n
        return parts

    def read(self, partition: _ChunkPartition) -> Iterator[tuple]:
        yield from synthetic_fetch(partition.coin, partition.start_day,
                                   partition.n_days)


class SyntheticMarketDataSource(DataSource):
    """``spark.read.format("synthetic_market_api")`` — REST pagination as a
    first-class scan. Read it through ``read_market_api``, which registers
    the format before the read."""

    @classmethod
    def name(cls) -> str:
        return "synthetic_market_api"

    def schema(self) -> StructType:
        return MARKET_SCHEMA

    def reader(self, schema: StructType) -> SyntheticMarketReader:
        return SyntheticMarketReader(self.options)


def register_sources(spark: SparkSession) -> None:
    """Session set-up hook; registers nothing.

    The first Python data-source registration in a JVM builds Spark's
    static Python-source registry, and to build it Spark starts a Python
    process that imports pyspark from ``pyspark.zip`` (no bytecode cache)
    and scans for installed ``pyspark_*`` sources: 1.4–2.1 s of wall time
    on a 4-vCPU box, against ~5 ms for every later registration. No
    pipeline reads ``synthetic_market_api``, so paying that at set-up
    bought nothing; ``read_market_api`` registers on first read instead.
    The hook stays because the benchmark's set-up calls it."""


def read_market_api(spark: SparkSession, coins: Sequence[str],
                    start_day: int = _EPOCH_DAY0, n_days: int = 365,
                    chunk_days: int = CHUNK_DAYS) -> DataFrame:
    """S4 paginated-API scan: ``SyntheticMarketDataSource`` over ``coins``,
    one partition per (coin, chunk) page; the same rows as
    ``fetch_history_distributed`` with the default fetcher. Registration is
    idempotent and, after the first one in a JVM, costs milliseconds, so
    it happens here on every read rather than at session set-up."""
    spark.dataSource.register(SyntheticMarketDataSource)
    return (spark.read.format(SyntheticMarketDataSource.name())
            .option("coins", ",".join(coins))
            .option("start_day", start_day)
            .option("n_days", n_days)
            .option("chunk_days", chunk_days)
            .load())


def chunk_table(spark: SparkSession, coins: Sequence[str], start_day: int,
                n_days: int, chunk_days: int = CHUNK_DAYS) -> DataFrame:
    """The (coin, from_day, n_days) page list as a DataFrame — F.sequence
    over the day range, exploded per coin. This is the 'partition the URL
    list' shape (SURVEY §2.1 S5): tiny, but its partitioning drives the
    fetch fan-out."""
    coins_df = spark.createDataFrame([(c,) for c in coins], "coin_id string")
    starts = F.sequence(F.lit(start_day), F.lit(start_day + n_days - 1),
                        F.lit(chunk_days))
    return (
        coins_df.select("coin_id", F.explode(starts).alias("from_day"))
        .withColumn("n_days",
                    F.least(F.lit(chunk_days),
                            F.lit(start_day + n_days) - F.col("from_day")))
    )


def fetch_history_distributed(spark: SparkSession, coins: Sequence[str],
                              start_day: int = _EPOCH_DAY0, n_days: int = 365,
                              chunk_days: int = CHUNK_DAYS,
                              fetcher: Callable = synthetic_fetch,
                              parallelism: int | None = None) -> DataFrame:
    """S5 chunked time-series ingestion as ``mapInPandas`` over the chunk
    table: each executor task 'fetches' its pages and emits rows. With a
    real HTTP fetcher this is IO-bound — repartition to the desired
    concurrent-request budget, not the core count."""
    import pandas as pd

    chunks = chunk_table(spark, coins, start_day, n_days, chunk_days)
    n_parts = parallelism or max(1, min(64, len(coins)))
    # partition on the FULL (coin, chunk) key: keying on coin_id alone
    # collapses a one-coin/long-history fetch into one serial task — the
    # unit of parallelism is the API page/chunk, not the coin
    chunks = chunks.repartition(n_parts, "coin_id", "from_day")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for coin, from_day, nd in zip(b["coin_id"], b["from_day"], b["n_days"]):
                rows.extend(fetcher(str(coin), int(from_day), int(nd)))
            yield pd.DataFrame(rows, columns=MARKET_SCHEMA.fieldNames())

    return chunks.mapInPandas(run, schema=MARKET_SCHEMA)


def with_retry(fetcher: Callable, retries: int = 3, backoff_s: float = 65.0,
               is_rate_limited: Callable[[Exception], bool] | None = None,
               sleeper: Callable[[float], None] = time.sleep) -> Callable:
    """S11 retry/backoff wrapper (reference: universe_generation_pipeline.py:
    53-76 — 3 retries, 65 s sleep on HTTP 429). Driver/executor-side connector
    concern, engine-agnostic; ``sleeper`` injectable for tests.
    ``retries`` counts TOTAL attempts and must be >= 1 — retries=0 would
    otherwise run zero attempts and raise a bare TypeError from ``raise
    None``."""
    if retries < 1:
        raise ValueError("with_retry: retries counts total attempts, need >= 1")
    limited = is_rate_limited or (lambda e: "429" in str(e))

    def wrapped(*args, **kwargs):
        last: Exception | None = None
        for attempt in range(retries):
            try:
                return fetcher(*args, **kwargs)
            except Exception as e:  # noqa: BLE001 — connector boundary
                last = e
                if attempt < retries - 1:
                    sleeper(backoff_s if limited(e) else 1.0)
        raise last  # type: ignore[misc]

    return wrapped
