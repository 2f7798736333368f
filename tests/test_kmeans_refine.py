"""Distributed Lloyd refinement (similarity.kmeans_lloyd_refine) and its
exact fixed-point M-step (kmeans_update_exact): the operator that makes
the corpus-level k-means partition repartition-/retry-stable.

What the units pin:
- the M-step's integer accumulation against hand-computed sums;
- BYTE-identical refined codebooks under any input relayout (the property
  the sample-based fits cannot give — similarity.py documents the caveat);
- agreement with a driver-side numpy twin implementing the identical
  quantize→sum→normalize convention;
- Lloyd semantics: planted-blob recovery, empty clusters keeping their
  centroid, NULL vectors excluded from the update.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import functions as F

from data_engineering_etl_pipeline_spark.extensions.similarity import (
    KMEANS_Q_SCALE, _assign_with_vec, kmeans_lloyd_refine,
    kmeans_update_exact, planted_centroids)
from data_engineering_etl_pipeline_spark.io import load_table

from .conftest import SF_DIR

DIM = 4


def _unit(v):
    a = np.asarray(v, dtype=np.float64)
    return list(a / np.linalg.norm(a))


def _blob_df(spark, rng_seed=7, n_per=40, spread=0.05):
    """Three well-separated unit blobs around axis-ish directions — far
    enough apart that gemm/fold/numpy assignment can never disagree."""
    rng = np.random.RandomState(rng_seed)
    anchors = [_unit([1, 0, 0, 0]), _unit([0, 1, 0, 0]), _unit([0, 0, 1, 0])]
    rows = []
    for b, a in enumerate(anchors):
        for i in range(n_per):
            v = np.asarray(a) + rng.normal(0, spread, DIM)
            v = v / np.linalg.norm(v)
            rows.append((b * n_per + i, b, [float(x) for x in v]))
    return spark.createDataFrame(rows, "vec_id long, blob int, "
                                       "embedding array<float>")


def test_update_exact_matches_hand_computed(spark):
    df = spark.createDataFrame(
        [(0, [1.0, 2.0]), (0, [3.0, -4.0]), (1, [0.5, 0.25])],
        "cid int, embedding array<float>")
    out = {(r["cid"], r["pos"]): r
           for r in kmeans_update_exact(df).collect()}
    q = KMEANS_Q_SCALE
    assert out[(0, 0)]["sum_q"] == math.floor(1.0 * q) + math.floor(3.0 * q)
    assert out[(0, 1)]["sum_q"] == math.floor(2.0 * q) + math.floor(-4.0 * q)
    assert out[(1, 0)]["sum_q"] == math.floor(0.5 * q)
    assert out[(0, 0)]["n_members"] == 2 and out[(1, 1)]["n_members"] == 1
    assert out[(0, 0)]["coord"] == out[(0, 0)]["sum_q"] / (2 * float(q))


def test_refine_is_byte_stable_under_relayout(spark):
    emb = load_table(spark, SF_DIR, "embeddings").select("embedding")
    init = planted_centroids(123, 4, 64)
    a = kmeans_lloyd_refine(emb.repartition(13), init, n_iters=2, dim=64)
    b = kmeans_lloyd_refine(emb.coalesce(1), init, n_iters=2, dim=64)
    c = kmeans_lloyd_refine(emb.repartition(3, F.rand(99)), init,
                            n_iters=2, dim=64)
    assert a == b == c  # byte equality, not approx


def test_refine_fold_and_gemm_kernels_agree_on_separated_blobs(spark):
    df = _blob_df(spark)
    init = [_unit([1, 0.1, 0, 0]), _unit([0.1, 1, 0, 0]),
            _unit([0, 0.1, 1, 0])]
    g = kmeans_lloyd_refine(df, init, n_iters=3, dim=DIM, assign="gemm")
    f = kmeans_lloyd_refine(df, init, n_iters=3, dim=DIM, assign="fold")
    assert g == f


def test_refine_matches_driver_numpy_twin(spark):
    df = _blob_df(spark)
    init = [_unit([1, 0.1, 0, 0]), _unit([0.1, 1, 0, 0]),
            _unit([0, 0.1, 1, 0])]
    got = kmeans_lloyd_refine(df, init, n_iters=3, dim=DIM)

    x = np.asarray([list(r["embedding"]) for r in
                    df.select("embedding").collect()], dtype=np.float64)
    cents = np.asarray(init, dtype=np.float64)
    q = float(KMEANS_Q_SCALE)
    for _ in range(3):
        assign = np.argmax(x @ cents.T, axis=1)
        nxt = cents.copy()
        for j in range(3):
            m = x[assign == j]
            if len(m):
                sums = np.floor(m * q).sum(axis=0)
                c = sums / (len(m) * q)
                n = np.linalg.norm(c)
                if n > 0:
                    nxt[j] = c / n
        cents = nxt
    assert np.allclose(np.asarray(got), cents, atol=0, rtol=0), \
        "distributed refine must equal the driver twin bit-for-bit"


def test_refine_recovers_planted_blobs(spark):
    df = _blob_df(spark)
    # deliberately poor init: all three near blob boundaries
    init = [_unit([1, 1, 0, 0]), _unit([0, 1, 1, 0]), _unit([1, 0, 1, 0])]
    refined = kmeans_lloyd_refine(df, init, n_iters=6, dim=DIM)
    assigned = _assign_with_vec(df.select("embedding"), "embedding",
                                refined, assign="gemm")
    sizes = sorted(r["n"] for r in
                   assigned.groupBy("cid").agg(F.count("*").alias("n"))
                   .collect())
    assert sizes == [40, 40, 40], sizes
    # each refined centroid sits essentially on a blob anchor
    anchors = np.asarray([_unit([1, 0, 0, 0]), _unit([0, 1, 0, 0]),
                          _unit([0, 0, 1, 0])])
    best = (np.asarray(refined) @ anchors.T).max(axis=1)
    assert (best > 0.99).all(), best


def test_empty_cluster_keeps_its_centroid(spark):
    df = _blob_df(spark)
    # centroid 3 is anti-aligned with every blob: wins nothing, must ride
    # through the refinement byte-identical
    dead = _unit([-1, -1, -1, 0])
    init = [_unit([1, 0, 0, 0]), _unit([0, 1, 0, 0]), _unit([0, 0, 1, 0]),
            dead]
    refined = kmeans_lloyd_refine(df, init, n_iters=3, dim=DIM)
    assert refined[3] == [float(x) for x in dead]


def test_null_vectors_excluded_from_update(spark):
    df = spark.createDataFrame(
        [(0, [1.0, 1.0]), (0, None), (1, [2.0, 0.0])],
        "cid int, embedding array<float>")
    out = kmeans_update_exact(df).collect()
    assert all(r["n_members"] == 1 for r in out), out
    assert len(out) == 4  # 2 clusters x 2 coords; the NULL row vanished


def test_degenerate_vectors_dropped_from_refine_both_kernels(spark):
    """A wrong-length vector once crashed the gemm vstack and silently
    voted truncated coordinates into cluster k-1 on the fold path. Both
    kernels must now produce the codebook of the clean corpus
    with NULL/short/long rows present, and agree with each other."""
    df = _blob_df(spark)
    dirty = df.unionByName(spark.createDataFrame(
        [(10 ** 6, 0, None), (10 ** 6 + 1, 0, [1.0, 2.0]),
         (10 ** 6 + 2, 0, [0.5] * (DIM + 3))],
        "vec_id long, blob int, embedding array<float>"))
    init = [_unit([1, 0.1, 0, 0]), _unit([0.1, 1, 0, 0]),
            _unit([0, 0.1, 1, 0])]
    clean = kmeans_lloyd_refine(df, init, n_iters=2, dim=DIM)
    for kernel in ("gemm", "fold"):
        got = kmeans_lloyd_refine(dirty, init, n_iters=2, dim=DIM,
                                  assign=kernel)
        assert got == clean, kernel


def test_quantization_overflow_refused_loudly(spark):
    """astype(int64) of a float >= 2^63 wraps silently to INT64_MIN —
    the exact-accumulation kernels must refuse instead."""
    import pytest

    from data_engineering_etl_pipeline_spark.extensions.similarity import (
        covariance_exact, embedding_moments_exact)

    df = spark.createDataFrame([([1e25, 1.0],), ([1.0, 1.0],)],
                               "embedding array<float>")
    with pytest.raises(Exception, match="2\\^62"):
        embedding_moments_exact(df, dim=2).collect()
    with pytest.raises(Exception, match="2\\^62"):
        covariance_exact(df, dim=2).collect()


def test_exact_sum_overflow_fails_loudly(spark):
    """The M-step's cross-row sums are BIGINT: three 1-dim vectors of 2^42
    quantize to 2^62 each at KMEANS_Q_SCALE = 2^20, so their sum passes
    2^63. Spark's ANSI mode must fail the job with ARITHMETIC_OVERFLOW
    rather than return a wrapped ``sum_q``."""
    import pytest

    assert KMEANS_Q_SCALE == 1 << 20
    df = spark.createDataFrame([(0, [float(2 ** 42)])] * 3,
                               "cid int, embedding array<double>")
    with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW"):
        kmeans_update_exact(df).collect()
