"""C4 line-filter and Gopher quality rules (extensions/cleaning.py) on
hand-reasoned pages, plus the DuckDB-twin equivalence of the SQL builders
on arbitrary text — the same check the registry row performs at sf0.01,
run here on adversarial page shapes (empty lines, whitespace padding,
rule-boundary word counts, per-rule Gopher violations)."""

from __future__ import annotations

import duckdb
import pandas as pd

from data_engineering_etl_pipeline_spark.extensions.cleaning import (
    GOPHER_MIN_WORDS, c4_stats, c4_stats_sql, gopher_stats, gopher_stats_sql)


PAGES = [
    # every rule: short line, no-punct line, javascript line, good lines
    (0, "This is a perfectly fine sentence.\n"
        "too short.\n"
        "this line has no terminal punctuation at all\n"
        "Please enable JavaScript here.\n"
        "Another good sentence appears right here!\n"
        "And one more to clear the minimum?"),
    # lorem ipsum page: lines pass but the page is dropped
    (1, "A good first sentence sits here.\n"
        "Some lorem ipsum filler follows along.\n"
        "A good third sentence closes it out."),
    # curly bracket page (code)
    (2, "A good first sentence sits here.\n"
        "var config = { enabled: true };\n"
        "A good third sentence closes it out."),
    # too few sentences after cleaning (only 2 kept)
    (3, "One good sentence lives right here.\n"
        "nope\n"
        "Two good sentences live right here."),
    # close-brace-only page: "a curly bracket" covers both braces
    (6, "A good first sentence sits here.\n"
        "stray fragment ends abruptly };\n"
        "A good third sentence closes it out."),
    # whitespace-padded terminal punctuation still counts (rtrim)
    (4, "Padded terminal punctuation still counts fine.   \n"
        "Second sentence arrives on schedule now.\n"
        "Third sentence arrives on schedule too."),
    # exactly 5 words = kept; 4 words = dropped
    (5, "Exactly five words right here.\n"
        "Only four words here.\n"
        "Second keeper sentence shows up now.\n"
        "Third keeper sentence shows up too."),
]


def _spark_rows(spark):
    df = spark.createDataFrame(PAGES, "doc_id long, text string")
    out = df.select("doc_id", *c4_stats("text"))
    return {r["doc_id"]: r.asDict() for r in out.collect()}


def test_c4_hand_cases(spark):
    out = _spark_rows(spark)
    r0 = out[0]
    assert r0["n_lines"] == 6 and r0["n_kept"] == 3
    assert r0["n_sentences"] == 3 and r0["keep_page"] is True
    assert "JavaScript" not in r0["cleaned"]
    assert "no terminal punctuation" not in r0["cleaned"]
    assert out[1]["has_lorem"] is True and out[1]["keep_page"] is False
    assert out[2]["has_brace"] is True and out[2]["keep_page"] is False
    # doc 3: 2 kept lines -> 2 sentences < 3 -> page dropped
    assert out[3]["n_kept"] == 2 and out[3]["keep_page"] is False
    assert out[4]["n_kept"] == 3 and out[4]["keep_page"] is True
    # doc 6: a close brace alone must trip the page drop (C4's "curly
    # bracket" rule means either brace: a truncated code fragment can hold
    # only the "}")
    assert out[6]["has_brace"] is True and out[6]["keep_page"] is False
    # doc 5: the 4-word line is dropped, the 5-word line kept
    assert out[5]["n_kept"] == 3
    assert "Only four words" not in out[5]["cleaned"]
    assert "Exactly five words" in out[5]["cleaned"]


_GOOD = ("the quick brown fox jumps over that lazy dog with style and grace "
         * 5).strip()  # 65 words, mean len ~4.1, 4 stop words, all alpha

GOPHER_DOCS = [
    (0, _GOOD),                                        # passes every rule
    (1, "the cat sat with that."),                     # word count < 50
    (2, " ".join(["abcdefghijklm"] * 60) + " the that"),   # mean len > 10
    (3, " ".join(["ab"] * 60) + " the that of"),       # mean len < 3
    (4, _GOOD + " " + " ".join(["#"] * 8)),            # symbol ratio > 0.1
    (5, "\n".join(["- the quick brown fox jumps that"] * 10)),  # all bullets
    (6, "\n".join(["the quick brown fox jumps that..."] * 4
                  + ["the quick brown fox jumps that again"] * 6)),  # ellipsis
    (7, _GOOD + " " + " ".join(["123"] * 30)),         # alpha frac < 0.8
    (8, " ".join(["quick", "brown", "fox", "jumps", "lazy", "dog", "style",
                  "grace"] * 8)),                      # no stop words
    (9, ""),                                           # empty text edge
    (10, _GOOD + "\nthe end arrives here…"             # unicode ellipsis
         + "\nmore of the good stuff lands here" * 2),
    (11, " ".join(_GOOD.split()[:49]) + "\n"),         # trailing \n: 49 words
    # each symbol ratio <= 0.1 though their sum exceeds it; trailing words
    # keep the single line from ending in an ellipsis
    (12, _GOOD + " #a #b #c #d x... y... z... w... closing words arrive"),
]


def _gopher_rows(spark):
    df = spark.createDataFrame(GOPHER_DOCS, "doc_id long, text string")
    out = df.select("doc_id", *gopher_stats("text"))
    return {r["doc_id"]: r.asDict() for r in out.collect()}


def test_gopher_hand_cases(spark):
    out = _gopher_rows(spark)
    good = out[0]
    assert good["keep_doc"] is True
    assert good["n_words"] == 65 and good["n_stop_hits"] == 4
    assert good["alpha_word_frac"] == 1.0
    # each violation doc fails, and fails on the intended metric
    assert out[1]["keep_doc"] is False and out[1]["n_words"] < GOPHER_MIN_WORDS
    assert out[2]["keep_doc"] is False and out[2]["mean_word_len"] > 10
    assert out[3]["keep_doc"] is False and out[3]["mean_word_len"] < 3
    assert out[4]["keep_doc"] is False and out[4]["symbol_word_ratio"] > 0.1
    assert out[5]["keep_doc"] is False and out[5]["bullet_line_frac"] == 1.0
    assert out[6]["keep_doc"] is False and out[6]["ellipsis_line_frac"] == 0.4
    assert out[7]["keep_doc"] is False and out[7]["alpha_word_frac"] < 0.8
    assert out[8]["keep_doc"] is False and out[8]["n_stop_hits"] == 0
    assert out[9]["keep_doc"] is False
    # the '…' line counts toward both the symbol ratio and the ellipsis
    # line fraction; 1 of 4 lines keeps both under their caps
    assert out[10]["keep_doc"] is True and out[10]["ellipsis_line_frac"] == 0.25
    # a trailing newline must not mint a phantom 50th word
    assert out[11]["n_words"] == 49 and out[11]["keep_doc"] is False
    # the 0.1 cap applies to EACH symbol separately (paper semantics):
    # 4 hashes and 4 ellipses in 73 words each sit under the cap
    assert out[12]["symbol_word_ratio"] < 0.1 and out[12]["keep_doc"] is True


def test_gopher_sql_twin_matches_spark(spark):
    sdf = (spark.createDataFrame(GOPHER_DOCS, "doc_id long, text string")
           .select("doc_id", *gopher_stats("text"))
           .toPandas().sort_values("doc_id").reset_index(drop=True))
    con = duckdb.connect()
    con.execute("CREATE TABLE docs (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO docs VALUES (?, ?)", GOPHER_DOCS)
    cols = ",\n".join(gopher_stats_sql("text"))
    odf = (con.execute(f"SELECT doc_id, {cols} FROM docs").df()
           .sort_values("doc_id").reset_index(drop=True))
    for c in sdf.columns:
        g, w = sdf[c], odf[c].astype(sdf[c].dtype)
        eq = (g == w) | (g.isna() & w.isna())  # NULL metrics on empty text
        assert bool(eq.all()), (c, list(g), list(w))


def test_c4_sql_twin_matches_spark(spark):
    """The SQL builders must reproduce the Spark columns bit-for-bit on the
    adversarial pages (same check as the doc_c4_line_filter oracle, harder
    inputs)."""
    sdf = (spark.createDataFrame(PAGES, "doc_id long, text string")
           .select("doc_id", *c4_stats("text"))
           .toPandas().sort_values("doc_id").reset_index(drop=True))
    con = duckdb.connect()
    con.execute("CREATE TABLE pages (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO pages VALUES (?, ?)", PAGES)
    cols = ",\n".join(c4_stats_sql("text"))
    odf = (con.execute(f"SELECT doc_id, {cols} FROM pages").df()
           .sort_values("doc_id").reset_index(drop=True))
    for c in sdf.columns:
        assert list(sdf[c]) == list(odf[c].astype(sdf[c].dtype)), c


def test_c4_and_gopher_crlf_pages_match_unix_and_sql_twin(spark):
    """CRLF pages must clean identically to their \\n twins AND match the
    DuckDB twin bit-for-bit (Java's non-multiline $ matches before a
    trailing \\r while RE2's does not — lines are now split on
    \\r?\\n in both engines, so the terminal-punctuation and ellipsis
    rules see \\r-free lines)."""
    unix = ("This is a fine first sentence with words.\n"
            "short.\n"
            "Another line with plenty of words to keep here.\n"
            "And one more full sentence to close it out now.")
    pages = [(0, unix), (1, unix.replace("\n", "\r\n"))]

    sdf = (spark.createDataFrame(pages, "doc_id long, text string")
           .select("doc_id", *c4_stats("text"), *gopher_stats("text"))
           .toPandas().sort_values("doc_id").reset_index(drop=True))
    # CRLF page == unix page on every metric incl. the cleaned text
    for c in sdf.columns:
        if c == "doc_id":
            continue
        a, b = sdf[c].iloc[0], sdf[c].iloc[1]
        assert (a == b) or (pd.isna(a) and pd.isna(b)), (c, a, b)
    assert sdf["n_kept"].iloc[0] == 3          # the 'short.' line drops
    assert "\r" not in sdf["cleaned"].iloc[1]  # output normalized to \n

    con = duckdb.connect()
    con.execute("CREATE TABLE pages (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO pages VALUES (?, ?)", pages)
    cols = ",\n".join(c4_stats_sql("text") + gopher_stats_sql("text"))
    odf = (con.execute(f"SELECT doc_id, {cols} FROM pages").df()
           .sort_values("doc_id").reset_index(drop=True))
    for c in sdf.columns:
        g, w = sdf[c], odf[c].astype(sdf[c].dtype)
        eq = (g == w) | (g.isna() & w.isna())
        assert bool(eq.all()), (c, list(g), list(w))
