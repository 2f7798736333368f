"""BPE tokenizer training (extensions/bpe.py) against the worked example of
Sennrich et al. 2016 §3.2 — the corpus {low×5, lower×2, newest×6, widest×3}
has a hand-derivable merge sequence — plus determinism, the unseen-word
segmentation property the algorithm exists for, and count monotonicity."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_engineering_etl_pipeline_spark.extensions.bpe import (
    END, bpe_segment, bpe_token_count, train_bpe, word_frequencies)


def _paper_corpus(spark):
    words = (["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3)
    # spread across docs and partitions: frequencies, not layout, must
    # drive the result
    docs = [(i, " ".join(words[i::4])) for i in range(4)]
    return spark.createDataFrame(docs, "doc_id long, text string").repartition(3)


def test_bpe_learns_the_paper_merges(spark):
    wf = word_frequencies(_paper_corpus(spark))
    merges = train_bpe(wf, n_merges=4)
    # ('e','s') and ('s','t</w>') both occur 9 times; lexicographic
    # tiebreak picks ('e','s'), then the chain es -> est</w>, then
    # ('l','o') at 7, then the 6-count tie resolves to ('e','w').
    assert merges[0] == ("e", "s")
    assert merges[1] == ("es", "t" + END)
    assert merges[2] == ("l", "o")
    assert merges[3] == ("e", "w")


def test_bpe_segments_unseen_word_into_learned_subwords(spark):
    """The point of BPE: 'lowest' never appears in the corpus but segments
    into subwords learned from words that do."""
    merges = train_bpe(word_frequencies(_paper_corpus(spark)), n_merges=4)
    df = spark.createDataFrame([(0, "lowest")], "doc_id long, text string")
    [row] = df.select(bpe_segment("text", merges).alias("s")).collect()
    assert row["s"] == ["lo", "w", "est" + END]


def test_bpe_deterministic_across_partitioning(spark):
    docs = _paper_corpus(spark)
    m1 = train_bpe(word_frequencies(docs), n_merges=6)
    m2 = train_bpe(word_frequencies(docs.repartition(7)), n_merges=6)
    assert m1 == m2


def test_bpe_token_count_monotone_in_merges(spark):
    docs = _paper_corpus(spark)
    wf = word_frequencies(docs)
    text = "newest lower widest lowest low"
    df = spark.createDataFrame([(0, text)], "doc_id long, text string")

    def count(n):
        merges = train_bpe(wf, n_merges=n)
        [r] = df.select(bpe_token_count("text", merges).alias("n")).collect()
        return r["n"]

    counts = [count(n) for n in (0, 2, 4, 8)]
    assert counts[0] == sum(len(w) for w in text.split())  # chars at 0 merges
    assert all(a >= b for a, b in zip(counts, counts[1:]))
    assert counts[-1] < counts[0]


def test_bpe_empty_and_null_texts(spark):
    merges = train_bpe(word_frequencies(_paper_corpus(spark)), n_merges=2)
    df = spark.createDataFrame(
        [(0, ""), (1, "   "), (2, None)], "doc_id long, text string")
    rows = {r["doc_id"]: r for r in df.select(
        "doc_id", bpe_segment("text", merges).alias("s"),
        bpe_token_count("text", merges).alias("n")).collect()}
    for i in range(3):
        assert rows[i]["s"] == [] and rows[i]["n"] == 0


def test_bpe_vocab_budget_guard(spark):
    import pytest

    wf = word_frequencies(_paper_corpus(spark))
    with pytest.raises(ValueError, match="vocabulary-sized"):
        train_bpe(wf, n_merges=1, vocab_row_budget=2)


def test_bpe_min_freq_floor_is_the_scale_path(spark):
    """The distributed frequency floor is what lets BPE train past the
    driver budget: it (a) drops sub-floor words BEFORE the guarded
    collect, so a table that would refuse the budget trains fine under a
    floor, and (b) changes the learned merges exactly as filtering the
    table by hand would."""
    base = _paper_corpus(spark)
    # 40 unique rare words sharing the (q, z) pair: without a floor they
    # dominate pair counts; with freq floor 2 they vanish entirely.
    rare = spark.createDataFrame(
        [(100 + i, f"qz{i}q") for i in range(40)], "doc_id long, text string")
    wf = word_frequencies(base.unionByName(rare))

    floored = train_bpe(wf, n_merges=4, min_freq=2)
    by_hand = train_bpe(wf.filter(F.col("freq") >= 2), n_merges=4)
    assert floored == by_hand
    assert floored[0] == ("e", "s")  # the paper corpus result, unpolluted

    unfloored = train_bpe(wf, n_merges=4)
    assert unfloored[0] == ("q", "z")  # rare-word pair mass dominates

    # the floor makes an over-budget table collectable: 31 + 40 words
    # exceed a 35-row budget raw, but only 8 distinct words repeat >= 2
    import pytest
    with pytest.raises(ValueError, match="vocabulary-sized"):
        train_bpe(wf, n_merges=2, vocab_row_budget=35)
    assert train_bpe(wf, n_merges=2, vocab_row_budget=35,
                     min_freq=2) == by_hand[:2]


def test_bpe_merge_sequence_matches_unrolled_sql_twin(spark, duck):
    """The merge-sequence DECISION has a cross-engine check: it
    hash-matches a bounded-rounds DuckDB twin (replace-per-round over chr(31)-wrapped
    symbol strings) on a planted corpus with adjacent-repeat adversaries
    ([a,a,a] must merge non-overlapping → [aa, a]) and a tie round."""
    from data_engineering_etl_pipeline_spark.extensions.bpe import (
        bpe_sql_ctes)

    words = (["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3
             + ["aaa"] * 3 + ["aaaa"] * 2 + ["banana"] * 4)
    docs = spark.createDataFrame(
        [(i, " ".join(words[i::4])) for i in range(4)],
        "doc_id long, text string")
    merges = train_bpe(word_frequencies(docs), n_merges=10)
    ctes, msel, _ = bpe_sql_ctes(10, corpus_cte="bpe_corpus")
    text = " ".join(words)
    sql = (f"WITH bpe_corpus AS (SELECT '{text}' AS text),\n {ctes}\n"
           f"SELECT * FROM ({msel}) ORDER BY merge_rank")
    want = [(a, b) for _, a, b in duck.execute(sql).fetchall()]
    assert merges == want and len(merges) > 4


def test_pack_sequences_by_learned_bpe_counts(spark):
    """Composition the corpus family is designed for: train a tokenizer,
    count with it, pack training sequences on the LEARNED counts (not the
    whitespace proxy). Pack totals must respect the offset-packing bound
    total < budget + max_doc under the BPE metric."""
    from data_engineering_etl_pipeline_spark.extensions.corpus import (
        pack_sequences)

    docs = _paper_corpus(spark)
    merges = train_bpe(word_frequencies(docs), n_merges=6)
    counted = docs.withColumn("bpe_n", bpe_token_count("text", merges))
    packed = pack_sequences(counted, budget=8, n_shards=2,
                            tokens_col="bpe_n")
    pdf = packed.toPandas()
    assert set(pdf["n_tokens"]) == set(
        r["bpe_n"] for r in counted.select("bpe_n").collect())
    max_doc = pdf["n_tokens"].max()
    per_pack = pdf.groupby("pack_id")["n_tokens"].sum()
    assert (per_pack < 8 + max_doc).all()
