"""PCA over exact distributed moments (similarity.embedding_moments_exact /
fit_pca_exact / apply_pca): the rotation operator.

Pins: hand-computed moment sums; byte-stable fits under relayout (the
property the sample-based fits cannot give); bit-equality with a
driver-side numpy twin of the identical quantize→sum→eigh convention;
orthonormal components with descending eigenvalues; NULL/wrong-length
vector handling.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import functions as F

from data_engineering_etl_pipeline_spark.extensions.similarity import (
    KMEANS_Q_SCALE, apply_pca, covariance_exact, embedding_moments_exact,
    fit_pca_exact)
from data_engineering_etl_pipeline_spark.io import load_table

from .conftest import SF_DIR


def test_moments_match_hand_computed(spark):
    df = spark.createDataFrame([([1.0, 2.0],), ([3.0, -4.0],)],
                               "embedding array<float>")
    out = {(r["i"], r["j"]): r
           for r in embedding_moments_exact(df, dim=2).collect()}
    q = KMEANS_Q_SCALE
    assert out[(0, -1)]["sum_q"] == math.floor(1.0 * q) + math.floor(3.0 * q)
    assert out[(1, -1)]["sum_q"] == math.floor(2.0 * q) + math.floor(-4.0 * q)
    assert out[(0, 0)]["sum_q"] == math.floor(1.0 * q) + math.floor(9.0 * q)
    assert out[(0, 1)]["sum_q"] == (math.floor(1.0 * 2.0 * q)
                                    + math.floor(3.0 * -4.0 * q))
    assert out[(1, 1)]["sum_q"] == math.floor(4.0 * q) + math.floor(16.0 * q)
    assert all(r["n"] == 2 for r in out.values())
    assert set(out) == {(0, -1), (1, -1), (0, 0), (0, 1), (1, 1)}


def test_null_and_wrong_length_vectors_excluded(spark):
    df = spark.createDataFrame(
        [([1.0, 2.0],), (None,), ([5.0],)], "embedding array<float>")
    out = embedding_moments_exact(df, dim=2).collect()
    assert all(r["n"] == 1 for r in out), out


def test_fit_is_byte_stable_under_relayout(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    a = fit_pca_exact(emb.repartition(13), n_components=6, dim=64)
    b = fit_pca_exact(emb.coalesce(1), n_components=6, dim=64)
    c = fit_pca_exact(emb.repartition(3, F.rand(5)), n_components=6, dim=64)
    assert a == b == c  # byte equality: mean, components, eigvals


def test_fit_matches_driver_numpy_twin(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    model = fit_pca_exact(emb, n_components=4, dim=64)

    x = np.asarray([list(r["embedding"]) for r in
                    emb.select("embedding").collect()
                    if r["embedding"] is not None], dtype=np.float64)
    q = float(KMEANS_Q_SCALE)
    n = len(x)
    s1 = np.floor(x * q).sum(axis=0)
    s2 = np.zeros((64, 64))
    for a in range(0, n, 256):
        xb = x[a:a + 256]
        s2 += np.floor(np.einsum("bi,bj->bij", xb, xb) * q).sum(axis=0)
    mu = s1 / (n * q)
    cov = s2 / (n * q) - np.outer(mu, mu)
    w, v = np.linalg.eigh(cov)
    order = np.argsort(-w, kind="stable")[:4]
    assert model["mean"] == [float(t) for t in mu]
    assert model["eigvals"] == [float(w[i]) for i in order]
    for k, idx in enumerate(order):
        c = v[:, idx]
        piv = int(np.argmax(np.abs(c)))
        if c[piv] < 0:
            c = -c
        assert model["components"][k] == [float(t) for t in c]


def test_components_orthonormal_eigvals_descending(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    model = fit_pca_exact(emb, n_components=8, dim=64)
    comps = np.asarray(model["components"])
    assert np.allclose(comps @ comps.T, np.eye(8), atol=1e-10)
    ev = model["eigvals"]
    assert all(ev[i] >= ev[i + 1] for i in range(len(ev) - 1))


def test_apply_matches_numpy_and_propagates_null(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    model = fit_pca_exact(emb, n_components=5, dim=64)
    df = emb.unionByName(
        spark.createDataFrame([(10 ** 9, None, None)], emb.schema))
    rows = apply_pca(df, model).select("vec_id", "embedding",
                                       "pca").collect()
    mu = np.asarray(model["mean"])
    wm = np.asarray(model["components"]).T
    for r in rows:
        if r["embedding"] is None:
            assert r["pca"] is None
        else:
            want = (np.asarray(list(r["embedding"]), dtype=np.float64)
                    - mu) @ wm
            assert np.allclose(np.asarray(r["pca"]), want, atol=1e-12)


def test_pca_projection_composes_with_near_dup_stack(spark):
    """apply_pca output is drop-in for the similarity machinery: planted
    exact duplicates stay cosine-1.0 neighbors in the full-rank PCA space
    (rotation preserves cosine of centered vectors only — so the check
    plants EXACT copies, whose projections coincide, the invariant any
    rotation+translation preserves)."""
    from data_engineering_etl_pipeline_spark.extensions.similarity import (
        cosine_near_dup_pairs)

    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id",
                                                         "embedding")
    doubled = emb.unionByName(
        emb.filter(F.col("vec_id") % 7 == 0)
        .withColumn("vec_id", F.col("vec_id") + 1000000))
    model = fit_pca_exact(doubled, n_components=16, dim=64)
    proj = (apply_pca(doubled, model, out_col="pca")
            .select("vec_id", F.col("pca").alias("embedding")))
    pairs = cosine_near_dup_pairs(proj, threshold=0.999, id_col="vec_id",
                                  vec_col="embedding", dim=16)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    planted = {(r["vec_id"], r["vec_id"] + 1000000)
               for r in emb.filter(F.col("vec_id") % 7 == 0).collect()}
    assert planted <= got, planted - got


def test_covariance_exact_cell_identity(spark):
    """cov cells must equal the closed-form from the integer sums — the
    exact float-op sequence the oracle reproduces."""
    emb = load_table(spark, SF_DIR, "embeddings")
    q = float(KMEANS_Q_SCALE)
    for r in covariance_exact(emb, dim=64).limit(50).collect():
        d = r["n"] * q
        assert r["cov"] == (r["sum_q"] / d
                            - (r["sum_qi"] / d) * (r["sum_qj"] / d))


def test_project_fold_matches_blas_apply(spark):
    """The bit-portable fixed-point projection twin and the production
    BLAS kernel agree within the documented quantization bound on the
    planted orthonormal model: each of the ``dim`` floored terms loses
    less than ``1/q_scale``, plus float slack for the different summation
    orders (the byte contract is fold-vs-SQL, held by the driver row's
    zero-tolerance hash)."""
    from data_engineering_etl_pipeline_spark.extensions.similarity import (
        planted_projection, project_fold)
    from data_engineering_etl_pipeline_spark.queries.vectors import (
        _PCA_DIM, _PCA_PROJ_K, _PCA_PROJ_SEED, _PCA_Q)

    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id",
                                                         "embedding")
    # the driver row's exact config — import, don't restate, so a config
    # change there cannot silently leave this unit validating a stale one
    model = planted_projection(_PCA_PROJ_SEED, _PCA_PROJ_K, _PCA_DIM)
    fold = {(r["vec_id"], r["pos"]): r["coord"]
            for r in project_fold(emb, model, q_scale=int(_PCA_Q)).collect()}
    blas = apply_pca(emb, model, out_col="pca").collect()
    bound = _PCA_DIM / _PCA_Q + 1e-9
    n_checked = 0
    for r in blas:
        if r["pca"] is None:
            continue
        for k, y in enumerate(r["pca"]):
            assert abs(fold[(r["vec_id"], k)] - y) < bound
            n_checked += 1
    assert n_checked > 0 and len(fold) == n_checked


def test_planted_projection_refuses_overcomplete_basis(spark):
    import pytest

    from data_engineering_etl_pipeline_spark.extensions.similarity import (
        planted_projection)

    with pytest.raises(ValueError, match="no orthonormal basis"):
        planted_projection(1, 65, 64)
