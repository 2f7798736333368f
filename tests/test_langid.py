"""Trainable lang-ID: char-n-gram features through
the exact logreg trainer, one-vs-rest, with the quality-gate fixed-point
decision fold — planted multi-language corpus, heuristic fallback, and
the DuckDB hash check of the DECISION (the quality_classifier_gate
convention: fit is unit-only, the decision is bit-portable)."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

from data_engineering_etl_pipeline_spark.caching import engine_pin_scope
from data_engineering_etl_pipeline_spark.extensions.langid import (
    char_buckets_sql, char_freq_sql, fit_lang_id, lang_id_scores_sql,
    predict_lang_trained)

_SCHEMA = "doc_id long, lang string, text string"

# Three languages the stopword heuristic knows plus one it does NOT
# (Swedish) — the blind spot that motivates a trained model. Several
# sentences per language; training uses the first four, held-out the rest.
_CORPUS = {
    "en": [
        "the quick brown fox jumps over the lazy dog near the river bank",
        "a journey of a thousand miles begins with a single step forward",
        "she sells sea shells by the sea shore every sunny morning",
        "knowledge of the world comes only from living within the world",
        "the early bird catches the worm but the second mouse gets cheese",
        "many hands make light work when the harvest season has arrived",
    ],
    "de": [
        "der schnelle braune fuchs springt ueber den faulen hund am fluss",
        "eine reise von tausend meilen beginnt mit einem einzigen schritt",
        "sie verkauft muscheln am meeresstrand an jedem sonnigen morgen",
        "wissen ueber die welt kommt nur vom leben innerhalb der welt",
        "der fruehe vogel faengt den wurm aber die zweite maus bekommt",
        "viele haende machen leichte arbeit wenn die ernte gekommen ist",
    ],
    "es": [
        "el rapido zorro marron salta sobre el perro perezoso del rio",
        "un viaje de mil millas comienza con un solo paso adelante",
        "ella vende conchas marinas junto a la orilla cada manana soleada",
        "el conocimiento del mundo viene solamente de vivir en el mundo",
        "el pajaro madrugador atrapa al gusano pero el segundo raton gana",
        "muchas manos hacen el trabajo ligero cuando llega la cosecha",
    ],
    "sv": [
        "den snabba bruna raeven hoppar oever den lata hunden vid floden",
        "en resa pa tusen mil boerjar med ett enda steg framat",
        "hon saeljer snaeckskal vid havsstranden varje solig morgon",
        "kunskap om vaerlden kommer endast fran att leva i vaerlden",
        "den tidiga fageln fangar masken men den andra musen far osten",
        "manga haender goer arbetet laett naer skoerden har kommit",
    ],
}


def _rows(split: str) -> list[tuple[int, str, str]]:
    rows, i = [], 0
    for lang in sorted(_CORPUS):
        sents = (_CORPUS[lang][:4] if split == "train"
                 else _CORPUS[lang][4:])
        for s in sents:
            rows.append((i, lang, s))
            i += 1
    return rows


def test_trained_langid_learns_planted_corpus_including_unlisted(spark):
    """Fit on four sentences per language, predict the held-out two —
    including Swedish, which the stopword heuristic cannot name (it is
    not in its table). 100% on the planted separable corpus."""
    with engine_pin_scope():
        train = spark.createDataFrame(_rows("train"), _SCHEMA)
        model = fit_lang_id(train)
        assert model["langs"] == ["de", "en", "es", "sv"]
        test = spark.createDataFrame(_rows("test"), _SCHEMA)
        got = {r["doc_id"]: r["pred_lang"] for r in
               predict_lang_trained(test, model).collect()}
        want = {i: lang for i, lang, _ in _rows("test")}
        assert got == want
        # train-set predictions also perfect (separable fixture)
        got_tr = {r["doc_id"]: r["pred_lang"] for r in
                  predict_lang_trained(train, model).collect()}
        assert got_tr == {i: lang for i, lang, _ in _rows("train")}


def test_featureless_docs_fall_back(spark):
    """NULL or sub-n-gram text has a NULL feature vector: prediction
    falls back to the stopword heuristic (default) or 'und', with NULL
    z_q either way; fallback values are validated, not guessed."""
    with engine_pin_scope():
        train = spark.createDataFrame(
            [r for r in _rows("train") if r[1] in ("de", "en")], _SCHEMA)
        model = fit_lang_id(train)
        docs = spark.createDataFrame(
            [(1, None, None), (2, None, "z"), (3, None, "the of and to a"),
             (4, None, "der und von das den")],
            _SCHEMA)
        got = {r["doc_id"]: (r["pred_lang"], r["z_q"]) for r in
               predict_lang_trained(docs, model).collect()}
        # 1, 2: featureless -> heuristic; no stopword hits -> 'und'
        assert got[1] == ("und", None) and got[2] == ("und", None)
        # 3, 4: feature-bearing -> the trained decision (non-null z_q)
        assert got[3][0] == "en" and got[3][1] is not None
        assert got[4][0] == "de" and got[4][1] is not None
        und = {r["doc_id"]: r["pred_lang"] for r in
               predict_lang_trained(docs, model, fallback="und").collect()}
        assert und[1] == "und" and und[2] == "und"
        with pytest.raises(ValueError, match="fallback"):
            predict_lang_trained(docs, model, fallback="nope")


def test_decision_fold_hash_matches_duckdb(spark):
    """The quality_classifier_gate convention applied to lang-ID: with
    the FITTED model embedded as literals, DuckDB reproduces every
    per-language fixed-point score and therefore every argmax decision
    bit-for-bit (same md5 bucket hash, same relative frequencies, same
    floor-product association, same BIGINT sum, same tiebreak)."""
    with engine_pin_scope():
        train = spark.createDataFrame(_rows("train"), _SCHEMA)
        model = fit_lang_id(train)
        docs_rows = _rows("train") + _rows("test") + [
            (100, None, "z"), (101, None, None)]
        docs = spark.createDataFrame(docs_rows, _SCHEMA)
        got = {r["doc_id"]: (r["pred_lang"], r["z_q"]) for r in
               predict_lang_trained(docs, model,
                                    fallback="und").collect()}

    con = duckdb.connect()
    con.register("docs_tbl", pd.DataFrame(
        docs_rows, columns=["doc_id", "lang", "text"]))
    zs = lang_id_scores_sql(model)
    langs = sorted(model["langs"])
    zsel = ", ".join(f"{zs[lang]} AS z_{lang}" for lang in langs)
    best = "greatest(" + ", ".join(f"z_{lang}" for lang in langs) + ")"
    pred = "CASE " + " ".join(
        f"WHEN z_{lang} = {best} THEN '{lang}'" for lang in langs) + " END"
    rows = con.execute(f"""
        WITH bk AS (
          SELECT doc_id, {char_buckets_sql(model)} AS __bk FROM docs_tbl
        ), f AS (
          SELECT doc_id, {char_freq_sql(model)} AS freq FROM bk
        ), z AS (
          SELECT doc_id, freq, {zsel} FROM f
        )
        SELECT doc_id,
               CASE WHEN freq IS NULL THEN 'und' ELSE {pred} END,
               CASE WHEN freq IS NULL THEN NULL ELSE {best} END
        FROM z""").fetchall()
    want = {i: (p, z) for i, p, z in rows}
    assert got == want


def test_planted_lang_id_deterministic_and_per_language():
    """planted_lang_id (the doc_text_stats pred_lang_trained driver
    grain's model) must be reproducible from its seed alone — both
    engines embed the constants verbatim — and give each language its
    own weight vector (seed offset by sorted index)."""
    from data_engineering_etl_pipeline_spark.extensions.langid import (
        planted_lang_id)

    m1 = planted_lang_id(("en", "de", "es"), 1117)
    m2 = planted_lang_id(("es", "de", "en"), 1117)
    assert m1 == m2  # order-insensitive: languages are sorted
    assert m1["langs"] == ["de", "en", "es"]
    assert m1["dim"] == 64 and len(m1["models"]["en"]["weights"]) == 64
    ws = {lang: tuple(m1["models"][lang]["weights"]) for lang in m1["langs"]}
    assert len(set(ws.values())) == 3
    assert planted_lang_id(("en", "de", "es"), 1118) != m1
