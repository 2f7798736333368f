"""The independent checks count a corrupted output as a failed operation."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import check, gen

SMALL_MARKET = {"n_canonical": 10, "n_alias": 10, "n_days": 90}


def _write_dir(df: pd.DataFrame, path: str) -> str:
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False),
                   os.path.join(path, "part-0.parquet"))
    return path


def test_market_check_counts_corrupted_rows(tmp_path):
    in_dir = str(tmp_path / "in")
    gen.make_market(in_dir, 11, **SMALL_MARKET)
    want = check.expected_market(in_dir, top_n=4)
    assert len(want) > 0
    good = _write_dir(want, str(tmp_path / "good"))
    assert check.compare_market(good, want) == 0

    bad = want.copy()
    bad.loc[bad.index[3], "rsi_14"] = bad["rsi_14"].fillna(50).iloc[3] + 1.0
    bad.loc[bad.index[7], "close"] *= 1.01
    assert check.compare_market(_write_dir(bad, str(tmp_path / "bad")),
                                want) == 2
    short = want.drop(want.index[:5])
    assert check.compare_market(_write_dir(short, str(tmp_path / "short")),
                                want) == 5


def test_ta_reference_matches_closed_forms():
    day = pd.date_range("2024-01-01", periods=40)
    close = pd.Series(np.linspace(10, 20, 40))
    pdf = pd.DataFrame({"panel_id": "p", "day": day, "close": close,
                        "high": close + 1, "low": close - 1})
    out = check.ta_reference(pdf)
    # a strictly rising close has no losses: RSI saturates at 100
    assert np.allclose(out["rsi_14"].iloc[14:], 100.0)
    # Bollinger mid is the 20-day simple mean
    assert np.isclose(out["bb_mid"].iloc[19], close.iloc[:20].mean())
    # true range of a bar with |Δclose| < 1 inside a ±1 band is 2
    assert np.isclose(out["atr_14"].iloc[-1], 2.0)


def test_corpus_check_counts_corrupted_rows(tmp_path):
    want = pd.DataFrame({"doc_id": [1, 2, 3, 4],
                         "split": ["train", "train", "val", "train"],
                         "n_tokens": [10, 20, 30, 40],
                         "shard": [0.0, 1.0, np.nan, 1.0],
                         "pack_id": [0.0, 4294967296.0, np.nan, 4294967296.0]})
    got = want.drop(columns=["shard"]).assign(text="x")
    got["shard"] = pd.array([0, 1, None, 1], dtype="Int64")
    assert check.compare_corpus(_write_dir(got, str(tmp_path / "ok")),
                                want) == 0
    got.loc[1, "n_tokens"] = 21
    got.loc[2, "split"] = "train"
    assert check.compare_corpus(_write_dir(got, str(tmp_path / "bad")),
                                want) == 2
