"""Distributed logistic-regression quality classifier
(extensions/classifier.py): exact fixed-point gradient accumulation.

Pins: byte-stable fits under relayout; bit-equality with a driver-side
numpy twin of the identical quantize→sum→update convention; learning on a
planted separable fixture (loss strictly decreases, perfect accuracy);
NULL/wrong-length handling; end-to-end composition with the hashed TF-IDF
vectorizer (the curated-vs-raw quality-filter recipe). The fitted models
are applied through ``logreg_gate_fold``, the one gate.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from data_engineering_etl_pipeline_spark.extensions.classifier import (
    LOGREG_Q_SCALE, fit_logreg_exact, logreg_gate_fold)

DIM = 8


def _blobs_df(spark, n_per=60, gap=2.0, seed=3):
    rng = np.random.RandomState(seed)
    rows = []
    for i in range(n_per):
        rows.append((i, [float(x) for x in rng.normal(-gap / 2, 0.5, DIM)],
                     0))
        rows.append((n_per + i,
                     [float(x) for x in rng.normal(gap / 2, 0.5, DIM)], 1))
    return spark.createDataFrame(
        rows, "id long, embedding array<float>, label int")


def test_learns_separable_blobs_and_loss_decreases(spark):
    df = _blobs_df(spark)
    model = fit_logreg_exact(df, dim=DIM, n_iters=15, lr=1.0)
    losses = model["losses"]
    assert all(losses[i] > losses[i + 1] for i in range(len(losses) - 1)), \
        losses
    gated = logreg_gate_fold(df, model, threshold=0.5, id_col="id")
    acc = gated.join(df, "id").filter(
        F.col("keep") == (F.col("label") == 1)
    ).count() / df.count()
    assert acc == 1.0


def test_fit_is_byte_stable_under_relayout(spark):
    df = _blobs_df(spark)
    a = fit_logreg_exact(df.repartition(13), dim=DIM, n_iters=5)
    b = fit_logreg_exact(df.coalesce(1), dim=DIM, n_iters=5)
    c = fit_logreg_exact(df.repartition(3, F.rand(7)), dim=DIM, n_iters=5)
    assert a == b == c  # weights, bias, losses: byte equality


def test_fit_matches_driver_numpy_twin(spark):
    df = _blobs_df(spark)
    model = fit_logreg_exact(df, dim=DIM, n_iters=7, lr=0.5)

    rows = df.select("embedding", "label").collect()
    x = np.vstack([np.asarray(list(r["embedding"]), dtype=np.float64)
                   for r in rows])
    y = np.asarray([float(r["label"]) for r in rows])
    q = float(LOGREG_Q_SCALE)
    n = len(x)
    w = np.zeros(DIM)
    b = 0.0
    for _ in range(7):
        r = 1.0 / (1.0 + np.exp(-(x @ w + b))) - y
        gw = np.floor((x * r[:, None]) * q).sum(axis=0) / (n * q)
        gb = np.floor(r * q).sum() / (n * q)
        w = w - 0.5 * gw
        b = b - 0.5 * gb
    assert model["weights"] == [float(t) for t in w]
    assert model["bias"] == float(b)


def test_null_and_wrong_length_rows_excluded_from_fit_null_scores(spark):
    df = _blobs_df(spark, n_per=20)
    extra = spark.createDataFrame(
        [(10 ** 6, None, 1), (10 ** 6 + 1, [1.0], 0),
         (10 ** 6 + 2, [0.5] * DIM, None)],
        "id long, embedding array<float>, label int")
    clean = fit_logreg_exact(df, dim=DIM, n_iters=3)
    dirty = fit_logreg_exact(df.unionByName(extra), dim=DIM, n_iters=3)
    assert clean == dirty  # degenerate rows contribute nothing
    gated = {r["id"]: r["keep"] for r in
             logreg_gate_fold(extra, clean, threshold=0.5,
                              id_col="id").collect()}
    assert gated[10 ** 6] is None and gated[10 ** 6 + 1] is None
    assert gated[10 ** 6 + 2] is not None


def test_quality_filter_composes_with_tfidf_vectorizer(spark):
    """The full curated-vs-raw recipe: texts with the curated marker
    vocabulary vs noise texts → hashed TF-IDF → fit → the classifier
    separates held-out texts of both kinds. Train and held-out texts are
    vectorized in ONE call, so both sides share one idf."""
    from data_engineering_etl_pipeline_spark.caching import engine_pin_scope
    from data_engineering_etl_pipeline_spark.extensions.corpus import (
        hashed_tfidf_vectors)

    cur = [f"curated {w} prose with careful structure and citations"
           for w in ("alpha", "beta", "gamma", "delta", "epsilon",
                     "zeta", "eta", "theta")]
    raw = [f"buy now {w} click here spam spam free offer"
           for w in ("one", "two", "three", "four", "five", "six",
                     "seven", "eight")]
    rows = ([(i, t, 1) for i, t in enumerate(cur)]
            + [(100 + i, t, 0) for i, t in enumerate(raw)])
    docs = spark.createDataFrame(rows, "doc_id long, text string, label int")
    held = spark.createDataFrame(
        [(1000, "curated gamma prose with citations"),
         (1001, "click here free spam offer")], "doc_id long, text string")
    with engine_pin_scope():  # the self-fit pins the bucket relation
        allv = hashed_tfidf_vectors(
            docs.select("doc_id", "text").unionByName(held), dim=32)
        vecs = allv.join(docs.select("doc_id", "label"), "doc_id")
        model = fit_logreg_exact(vecs, dim=32, n_iters=25, lr=2.0)
        hv = allv.join(held.select("doc_id"), "doc_id")
        got = {r["doc_id"]: r["keep"] for r in
               logreg_gate_fold(hv, model, threshold=0.5,
                                id_col="doc_id").collect()}
    assert got[1000] is True and got[1001] is False, got


def test_gate_fold_matches_float_gate_away_from_boundary(spark):
    """logreg_gate_fold (the oracle-able DECISION surface): agrees with
    the float gate sigma(z) >= t wherever |z - logit(t)| exceeds the
    quantization error bound dim/Q, and gates NULL on malformed rows."""
    import math

    from data_engineering_etl_pipeline_spark.extensions.classifier import (
        planted_logreg)

    df = _blobs_df(spark, n_per=40)
    model = planted_logreg(909, DIM)
    t = 0.62
    gate = {r["id"]: (r["z_q"], r["keep"])
            for r in logreg_gate_fold(df, model, threshold=t, id_col="id",
                                      vec_col="embedding").collect()}
    w = np.asarray(model["weights"])
    bias = float(model["bias"])
    logit = math.log(t / (1.0 - t))
    bound = (DIM + 1) / float(LOGREG_Q_SCALE)
    checked = 0
    for r in df.select("id", "embedding").collect():
        z = float(np.asarray(list(r["embedding"])) @ w + bias)
        if abs(z - logit) > bound:
            assert gate[r["id"]][1] == (z >= logit), (r["id"], z)
            checked += 1
    assert checked >= 70  # the fixture is nowhere near the boundary

    mal = spark.createDataFrame([(1, None), (2, [1.0])],
                                "id long, embedding array<float>")
    out = {r["id"]: (r["z_q"], r["keep"])
           for r in logreg_gate_fold(mal, model, threshold=t, id_col="id",
                                     vec_col="embedding").collect()}
    assert out == {1: (None, None), 2: (None, None)}

    import pytest
    with pytest.raises(ValueError, match="threshold"):
        logreg_gate_fold(df, model, threshold=1.5, id_col="id")
