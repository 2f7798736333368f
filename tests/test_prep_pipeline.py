"""End-to-end training-corpus preparation (extensions/prep.py): one corpus
with a planted artifact for EVERY stage — a C4-failing page, a PII-carrying
exact-duplicate pair (catches the scrub-before-dedup ordering), a near-dup
pair, a benchmark-contaminated doc, a low-quality doc — run through
prepare_training_corpus once, then every stage's verdict asserted on the
single output."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_engineering_etl_pipeline_spark.extensions.prep import (
    prepare_training_corpus)


def _sent(words, punct="."):
    return " ".join(words) + punct


def _page(*sentences):
    return "\n".join(sentences)


def _words(tag, n):
    # pure-alpha words (digit-bearing tokens would sink the quality score)
    return [f"{tag}{chr(97 + i)}{chr(97 + (i * 7) % 26)}word" for i in range(n)]


def _corpus():
    docs = []
    # 0 & 1: identical after PII scrub (different emails, same everything
    # else) -> exact-dedup must keep 0 and drop 1, which only works if the
    # scrub runs first
    for i in (0, 1):
        w = _words("dup", 12)
        docs.append((i, _page(
            _sent(w[:6]), _sent(w[6:12]),
            f"Contact user{i}@example.com about the next steps today!")))
    # 2 & 3: near-dups — one body word differs, trigram Jaccard >> 0.8
    base = _words("near", 18)
    alt = list(base)
    alt[-1] = "differentword"
    docs.append((2, _page(_sent(base[:6]), _sent(base[6:12]),
                          _sent(base[12:], "!"))))
    docs.append((3, _page(_sent(alt[:6]), _sent(alt[6:12]),
                          _sent(alt[12:], "!"))))
    # 4: contaminated — its first two sentences go into the benchmark
    cw = _words("contam", 14)
    c1, c2 = _sent(cw[:7]), _sent(cw[7:14])
    docs.append((4, _page(c1, c2, _sent(_words("ctail", 6), "!"))))
    benchmark = [(c1 + " " + c2,)]
    # 5: passes C4 (3 clean lines) but is all digits -> quality ~ 0
    docs.append((5, _page(_sent(["111", "222", "333", "444", "555"]),
                          _sent(["666", "777", "888", "999", "000"]),
                          _sent(["123", "234", "345", "456", "567"], "!"))))
    # 6: C4 page drop (curly bracket)
    docs.append((6, _page(_sent(_words("code", 6)),
                          "var config = { enabled: true };",
                          _sent(_words("codetail", 6), "!"))))
    # 7..26: twenty clean unique docs (letters-only tag: a digit in the
    # word would sink the alpha-fraction quality term)
    for i in range(7, 27):
        w = _words(f"u{chr(97 + i - 7)}q", 18)
        docs.append((i, _page(_sent(w[:6]), _sent(w[6:12]),
                              _sent(w[12:], "!"))))
    return docs, benchmark


@pytest.fixture(scope="module")
def prepared(spark):
    docs, benchmark = _corpus()
    df = spark.createDataFrame(docs, "doc_id long, text string")
    bench = spark.createDataFrame(benchmark, "text string")
    out = prepare_training_corpus(
        df, bench, pack_budget=40, n_shards=2).toPandas()
    return out.set_index("doc_id", drop=False)


def test_every_stage_drops_its_planted_artifact(prepared):
    survivors = set(prepared.index)
    assert 0 in survivors and 1 not in survivors     # exact dup (post-scrub)
    assert 2 in survivors and 3 not in survivors     # near dup
    assert 4 not in survivors                        # contaminated
    assert 5 not in survivors                        # low quality
    assert 6 not in survivors                        # C4 page drop
    assert set(range(7, 27)) <= survivors            # clean docs all kept
    assert survivors == {0, 2} | set(range(7, 27))


def test_no_pii_survives(prepared):
    assert not prepared["text"].str.contains("@example.com").any()
    assert prepared.loc[0, "text"].count("<EMAIL>") == 1


def test_split_and_packing_are_consistent(prepared):
    assert set(prepared["split"]) <= {"train", "val"}
    train = prepared[prepared["split"] == "train"]
    val = prepared[prepared["split"] == "val"]
    assert len(train) > 0
    assert train["pack_id"].notna().all()
    assert val["pack_id"].isna().all()
    # offset-packing bound per pack under the chosen budget
    max_doc = train["n_tokens"].max()
    per_pack = train.groupby("pack_id")["n_tokens"].sum()
    assert (per_pack < 40 + max_doc).all()


def test_pipeline_is_deterministic(spark, prepared):
    docs, benchmark = _corpus()
    df = spark.createDataFrame(docs, "doc_id long, text string").repartition(5)
    bench = spark.createDataFrame(benchmark, "text string")
    again = prepare_training_corpus(
        df, bench, pack_budget=40, n_shards=2).toPandas()
    again = again.set_index("doc_id", drop=False)
    assert set(again.index) == set(prepared.index)
    for col in ("text", "split", "n_tokens", "shard", "pack_id"):
        a = prepared[col].sort_index()
        b = again[col].sort_index()
        assert (a.fillna(-1) == b.fillna(-1)).all(), col
