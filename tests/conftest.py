"""Shared pytest fixtures: one local SparkSession + a DuckDB-oracle comparator
mirroring the driver's check (row-count + schema + order-insensitive values).
"""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_engineering_etl_pipeline_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests")
    yield s


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name, canonicalize dtypes, sort rows — the driver's
    order-insensitive comparison shape."""
    import datetime

    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].dt.tz_localize(None) if getattr(df[c].dt, "tz", None) is not None else df[c]
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object:
            nonnull = df[c].dropna()
            if len(nonnull) and isinstance(nonnull.iloc[0], (datetime.date, datetime.datetime)):
                df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
            else:
                # Spark None vs DuckDB NaN both mean SQL NULL — stringify
                # them identically (the driver's value_hash does the same).
                df[c] = df[c].map(
                    lambda v: "NULL" if (v is None or (isinstance(v, float)
                                                       and pd.isna(v)))
                    else str(v))
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def partition_layouts(df):
    """Yield ``(label, frame)`` pairs: the frame under default partitioning
    AND forced into ONE partition. Partition-local
    kernels (mapInPandas prunes, in-batch dedup phases, GEMM batchers)
    tested only on local[32]'s default spread see ~1 row per partition for
    tiny Hypothesis inputs, so adversarial CO-LOCATION — duplicate keys or
    ids landing in one task — never occurs and a kernel that mishandles it
    (as the balanced sampler's duplicate-copy prune once did, see
    test_sampling.py) passes every property.
    Keyed per-partition-kernel properties must run under both layouts."""
    yield "default", df
    yield "coalesce(1)", df.coalesce(1)


def assert_matches_oracle(spark_df, duck_con, sql: str, name: str = "query") -> None:
    got = normalize(spark_df.toPandas())
    want = normalize(duck_con.execute(sql).fetchdf())
    assert len(got) == len(want), f"{name}: row count {len(got)} != oracle {len(want)}"
    assert list(got.columns) == list(want.columns), (
        f"{name}: columns {list(got.columns)} != oracle {list(want.columns)}")
    for c in got.columns:
        g, w = got[c], want[c]
        if pd.api.types.is_float_dtype(g) or pd.api.types.is_float_dtype(w):
            g = pd.to_numeric(g, errors="coerce")
            w = pd.to_numeric(w, errors="coerce")
            both_nan = g.isna() & w.isna()
            eq = (g == w) | both_nan
        else:
            eq = (g.astype(str) == w.astype(str)) | (g.isna() & w.isna())
        if not bool(eq.all()):
            bad = (~eq).idxmax()
            raise AssertionError(
                f"{name}: column {c} mismatch at row {bad}: "
                f"spark={got[c][bad]!r} oracle={want[c][bad]!r}")
