"""Input generators: determinism per seed and planted shares on target."""

from __future__ import annotations

import filecmp
import os

import pandas as pd
import pytest

from perfbench import gen

SMALL_MARKET = {"n_canonical": 12, "n_alias": 18, "n_days": 120}
SMALL_CORPUS = {"n_docs": 400}


def _files(d: str) -> list[str]:
    return sorted(os.listdir(d))


@pytest.mark.parametrize("make, size", [(gen.make_market, SMALL_MARKET),
                                        (gen.make_corpus, SMALL_CORPUS)])
def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path, make, size):
    a, b, c = (str(tmp_path / n) for n in "abc")
    make(a, 7, **size)
    make(b, 7, **size)
    make(c, 8, **size)
    assert _files(a) == _files(b) == _files(c)
    for f in _files(a):
        assert filecmp.cmp(os.path.join(a, f), os.path.join(b, f),
                           shallow=False), f
    assert any(not filecmp.cmp(os.path.join(a, f), os.path.join(c, f),
                               shallow=False) for f in _files(a))


def test_market_planted_violations_below_breaker(tmp_path):
    man = gen.make_market(str(tmp_path), 3, **SMALL_MARKET)
    df = pd.read_parquet(tmp_path / "bronze.parquet")
    bad = ((df["close"] < df["low"] - 1e-6) | (df["close"] > df["high"] + 1e-6))
    assert bad.sum() == man["violations"]
    assert abs(bad.mean() - gen.VIOLATION_SHARE) < 0.002
    assert bad.mean() < 0.05  # below the quality gate's breaker
    # Zipf-skewed aliases: the most-aliased id owns a large share of them
    owners = pd.Series(pd.read_json(tmp_path / "canonical_map.json",
                                    typ="series").values)
    assert owners.value_counts().iloc[0] >= 0.2 * len(owners)


def test_corpus_planted_shares(tmp_path):
    gen.make_corpus(str(tmp_path), 5, **SMALL_CORPUS)
    docs = pd.read_parquet(tmp_path / "docs.parquet")
    n = len(docs)
    assert n == SMALL_CORPUS["n_docs"] and docs["doc_id"].is_unique
    # exact duplicates: rows whose text repeats an earlier row's text
    exact = docs["text"].duplicated().sum()
    assert abs(exact / n - gen.EXACT_DUP_SHARE) < 0.02
    # PII strings and boilerplate lines are present for the map stages
    assert docs["text"].str.contains("@example.org").any()
    assert docs["text"].str.contains("Click here", regex=False).any()
