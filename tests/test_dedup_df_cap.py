"""Hot-shingle document-frequency cap (inverted-index pruning) in
ngram_jaccard_pairs: results must be unchanged when near-dup pairs share at
least one sub-cap shingle, and pairs sharing only hot shingles are never
considered. This is the 100 TB skew guard — a corpus-wide boilerplate shingle
would otherwise contribute k² rows to the self-join.
"""

from __future__ import annotations

from data_engineering_etl_pipeline_spark.extensions.dedup import (
    ngram_jaccard_pairs)


BOILER = "terms of service apply here"  # 5 words → hot trigrams in every doc


def _corpus(spark, n_pairs: int = 8, n_singles: int = 10):
    """Docs = boilerplate prefix + distinctive body; even/odd ids form
    near-dup pairs (body differs by one trailing word), singles are unique."""
    rows = []
    for i in range(n_pairs):
        body = " ".join(f"w{i}_{j}" for j in range(10))
        rows.append((2 * i, f"{BOILER} {body} alpha"))
        rows.append((2 * i + 1, f"{BOILER} {body} beta"))
    for k in range(n_singles):
        body = " ".join(f"u{k}_{j}" for j in range(12))
        rows.append((1000 + k, f"{BOILER} {body}"))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_capped_results_equal_uncapped(spark):
    docs = _corpus(spark)
    uncapped = ngram_jaccard_pairs(docs, threshold=0.5, max_df=None)
    capped = ngram_jaccard_pairs(docs, threshold=0.5, max_df=5)
    rows_u = sorted(map(tuple, uncapped.collect()))
    rows_c = sorted(map(tuple, capped.collect()))
    assert rows_u, "corpus must contain near-dup pairs"
    assert rows_c == rows_u  # identical pairs AND identical exact jaccards


def test_cap_drops_boilerplate_only_pairs(spark):
    # Two docs whose ONLY overlap is the hot boilerplate: uncapped finds
    # them below threshold anyway; capped never even considers them — the
    # documented trade-off, pinned so it's a choice, not an accident.
    docs = _corpus(spark, n_pairs=0, n_singles=6)
    capped = ngram_jaccard_pairs(docs, threshold=0.05, max_df=5)
    uncapped = ngram_jaccard_pairs(docs, threshold=0.05, max_df=None)
    assert capped.count() == 0
    assert uncapped.count() > 0  # boilerplate overlap is visible uncapped


def test_duplicate_window_spans_hand_case(spark):
    """Exact-substring spans (Lee et al. form): cross-doc repeat, within-doc
    repeat, adjacency merge, and sub-width-no-flag, on a corpus small
    enough to reason out by hand (width=3)."""
    from data_engineering_etl_pipeline_spark.extensions.dedup import (
        duplicate_window_spans)

    shared = "a b c d"                       # 4 tokens → 2 windows of 3
    docs = spark.createDataFrame(
        [
            # doc 0 and 1 share `shared` → both get one merged 4-token span
            (0, f"{shared} x1 y1 z1 w1"),
            (1, f"p2 q2 {shared} r2 s2"),
            # doc 2 repeats `e f g` INSIDE itself (positions 1 and 6) →
            # duplicated within one doc still counts, two 3-token spans
            (2, "e f g m2 n2 e f g"),
            # doc 3 shares only a 2-token run with doc 0 → below width,
            # never flagged
            (3, "a b zz3 k3 l3 m3 n3"),
        ],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           duplicate_window_spans(docs, width=3).collect()}
    assert set(out) == {0, 1, 2}
    # docs 0/1: windows at the two shared starts overlap → ONE span of 4
    assert out[0]["n_spans"] == 1 and out[0]["dup_tokens"] == 4
    assert out[1]["n_spans"] == 1 and out[1]["dup_tokens"] == 4
    assert out[1]["dup_frac"] == round(4 / 8, 6)
    # doc 2: the two occurrences are 5 apart (> width+gap) → two spans
    assert out[2]["n_spans"] == 2 and out[2]["dup_tokens"] == 6


def test_duplicate_window_spans_adjacency_merges(spark):
    """Two flagged windows whose starts differ by exactly `width` cover
    contiguous tokens — they must merge into one span, not two."""
    from data_engineering_etl_pipeline_spark.extensions.dedup import (
        duplicate_window_spans)

    run = "a b c d e f"                      # 6 tokens, width 3
    docs = spark.createDataFrame(
        [(0, f"{run} t0 u0"), (1, f"v1 {run} w1")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           duplicate_window_spans(docs, width=3).collect()}
    # starts 1..4 (doc 0) all flagged and chained → one 6-token span
    assert out[0]["n_spans"] == 1 and out[0]["dup_tokens"] == 6
    assert out[1]["n_spans"] == 1 and out[1]["dup_tokens"] == 6
