"""Learned quality classifier: distributed logistic regression with EXACT
fixed-point gradient accumulation (SURVEY.md north-star extension — the
GPT-3/CCNet-style curated-vs-raw quality filter, trained ON the cluster).

The standard pipeline (GPT-3 appendix A; CCNet; LLaMA) trains a linear
classifier to distinguish a curated reference corpus from raw web text and
keeps documents the classifier scores as reference-like. The features here
are this repo's ``hashed_tfidf_vectors`` output (or any dense
``array<float>`` column), so the whole filter — vectorize → fit → gate —
runs as DataFrame plans. :func:`logreg_gate_fold` is the gate: an exact
fixed-point keep/drop decision with no exp, so a serial SQL engine
reproduces it bit-for-bit.

Exactness contract (shared with ``kmeans_update_exact`` /
``embedding_moments_exact``): each row's gradient contribution is
quantized ``floor(g·2^20)`` to BIGINTs inside the Arrow kernel, and the
cross-row reduce is integer arithmetic — order-independent, so the fitted
weights are BYTE-IDENTICAL under any partitioning, AQE re-plan, or task
retry (float-sum gradient reducers give none of that; retrained models
that differ in ulps flip downstream keep/drop decisions near the
threshold, which at 100 TB means irreproducible corpora). The per-row
sigmoid uses numpy's libm; on a homogeneous cluster (one numpy build) the
per-row values are identical everywhere, which is the only requirement —
the REDUCE never touches floats. Precision of the claim: the per-row
``x@w`` BLAS gemv is batch-shape-invariant in practice but not
IEEE-guaranteed (see ``fit_logreg_exact``).

Why the FIT has no DuckDB driver-oracle row: it needs exp(), and libm
exp differs across engines in the last ulp — a floor() boundary can flip,
so the zero-tolerance hash contract cannot be met cross-engine (the same
documented reason ``incremental_semantic_dedup`` is unit-verified). The
fit's verification surface is the numpy-twin bit-equality +
relayout-stability units in tests/test_classifier.py; the gate DECISION
is on the driver record (the ``quality_classifier_gate`` row).

Plan shape per iteration: ONE map-only Arrow kernel pass over the corpus
(weights broadcast in the closure, KB-scale), each batch emitting one
(dim+2)-row partial frame (gradient cells + bias + quantized log-loss);
ONE exchange over dim+2 keys with map-side combine — the reduce is
model-sized at any corpus scale; a dim+2-row driver collect updates the
weights. n_iters full scans total, the same cost envelope as
``kmeans_lloyd_refine``.
"""

from __future__ import annotations

import math
import random

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .similarity import _guard_q_magnitude

#: fixed-point scale for exact gradient/loss accumulation
LOGREG_Q_SCALE = 1 << 20


def _grad_partials(df: DataFrame, vec_col: str, label_col: str,
                   w: np.ndarray, b: float, dim: int) -> DataFrame:
    """One epoch's quantized gradient/loss partials: rows ``(pos, n, s)``
    with pos in [0, dim) the weight gradient cells, pos = dim the bias
    cell, pos = dim+1 the summed quantized log-loss. NULL vectors,
    wrong-length vectors, and NULL labels are excluded."""
    qf = float(LOGREG_Q_SCALE)
    wl = w.copy()
    bl = float(b)

    def gen(batches):
        for pdf in batches:
            keep = [(v, y) for v, y in zip(pdf[vec_col], pdf[label_col])
                    if v is not None and len(v) == dim and y is not None
                    and not (isinstance(y, float) and math.isnan(y))]
            if not keep:
                continue
            x = np.vstack([np.asarray(v, dtype=np.float64)
                           for v, _ in keep])
            y = np.asarray([float(t) for _, t in keep], dtype=np.float64)
            n = len(x)
            z = x @ wl + bl
            p = 1.0 / (1.0 + np.exp(-z))
            r = p - y                                   # dlogloss/dz
            gq = (x * r[:, None]) * qf
            # width = n: every batch row int64-sums into one gradient cell
            # (the per-element check alone lets a 2^55-band element pass
            # while the batch sum wraps); the bias
            # and log-loss sums get the same accumulation-width guard
            _guard_q_magnitude(gq, "fit_logreg_exact", rows=n)
            gw = np.floor(gq).astype(np.int64).sum(axis=0)
            rq = r * qf
            _guard_q_magnitude(rq, "fit_logreg_exact[bias]", rows=n)
            gb = int(np.floor(rq).astype(np.int64).sum())
            # per-row quantized log-loss (clipped for the planted-separable
            # case where p reaches exactly 0/1 in float)
            pc = np.clip(p, 1e-15, 1.0 - 1e-15)
            lq = -(y * np.log(pc) + (1.0 - y) * np.log1p(-pc)) * qf
            _guard_q_magnitude(lq, "fit_logreg_exact[loss]", rows=n)
            ll = np.floor(lq).astype(np.int64).sum()
            yield pd.DataFrame({
                "pos": np.concatenate([np.arange(dim),
                                       [dim, dim + 1]]).astype(np.int32),
                "n": np.int64(n),
                "s": np.concatenate([gw, [gb, int(ll)]]),
            })

    part = df.select(vec_col, label_col).mapInPandas(
        gen, "pos int, n long, s long")
    return part.groupBy("pos").agg(F.sum("n").alias("n"),
                                   F.sum("s").alias("sum_q"))


def fit_logreg_exact(df: DataFrame, vec_col: str = "embedding",
                     label_col: str = "label", dim: int = 64,
                     n_iters: int = 20, lr: float = 1.0) -> dict:
    """Full-batch gradient-descent logistic regression over the corpus.

    Full-batch (not SGD) is the deliberate choice: the gradient is a pure
    aggregation, so determinism needs no sample ordering, and at 100 TB
    one pass per step is the same scan the rest of the engine's fits pay.
    Returns ``{"weights", "bias", "losses", "n"}`` where ``losses`` is the
    per-iteration mean log-loss (from the exact quantized sums — itself
    byte-stable, and non-increasing on any data for a small enough lr;
    unit-pinned on the planted fixture). The weights start at zero and
    the loop runs exactly ``n_iters`` steps.

    Byte-stability precision (the ``kmeans_lloyd_refine`` caveat
    verbatim): the cross-row REDUCE is
    unconditionally order-independent (integers), but the per-row
    ``x@w`` is a BLAS gemv whose value is batch-shape-invariant in
    practice, NOT IEEE-guaranteed across kernel paths — a z landing
    within one ulp of a ``floor(g·2^20)`` boundary could in principle
    flip under a relayout that changes Arrow batch shapes
    (``test_fit_is_byte_stable_under_relayout`` pins the practice)."""
    w = np.zeros(dim, dtype=np.float64)
    b = 0.0
    losses: list[float] = []
    n = 0
    qf = float(LOGREG_Q_SCALE)
    for _ in range(max(0, int(n_iters))):
        rows = {r["pos"]: r for r in
                _grad_partials(df, vec_col, label_col, w, b,
                               dim).collect()}
        if not rows:
            raise ValueError("fit_logreg_exact: no labeled vectors to fit")
        n = rows[0]["n"]
        grad = np.asarray([rows[i]["sum_q"] for i in range(dim)],
                          dtype=np.float64) / (n * qf)
        gb = rows[dim]["sum_q"] / (n * qf)
        losses.append(int(rows[dim + 1]["sum_q"]) / (n * qf))
        w = w - lr * grad
        b = b - lr * gb
    return {"weights": [float(t) for t in w], "bias": float(b),
            "losses": losses, "n": int(n)}


def planted_logreg(seed: int, dim: int) -> dict:
    """Seeded deterministic logreg model — Gaussian weights + bias (the
    ``planted_centroids``/``planted_projection`` convention): ONE
    generator shared by the Spark gate expression and the DuckDB oracle
    builder, so a driver row can value-check the gate DECISION machinery
    without the data-dependence of a real fit (trained weights pass
    through libm exp and cannot be cross-engine oracle literals — the
    documented reason ``fit_logreg_exact`` is unit-verified)."""
    rnd = random.Random(seed)
    return {"weights": [rnd.gauss(0.0, 0.5) for _ in range(dim)],
            "bias": rnd.gauss(0.0, 0.1), "losses": [], "n": 0}


def logreg_gate_fold(df: DataFrame, model: dict, threshold: float = 0.5,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    """The learned quality gate as an exact fixed-point fold:
    ``(id, z_q, keep)`` where
    ``z_q = floor(b·Q) + Σ_i floor(x_i·w_i·Q)``, with
    ``Q = LOGREG_Q_SCALE`` (each term one
    deterministic IEEE double product, floored — portable; the cross-term
    sum is BIGINT, associativity-free) and
    ``keep = z_q ≥ floor(logit(threshold)·Q)`` — the keep/drop rule
    ``σ(w·x+b) ≥ t  ⟺  w·x+b ≥ logit(t)`` with NO exp anywhere, so a
    serial SQL engine reproduces every bit with zero tolerance (the
    ``project_fold(q_scale=...)`` convention). Ties are INTEGER equality
    — identical in every engine, no ulp hazard at the boundary at all.

    It agrees with the float rule ``σ(w·x+b) ≥ t`` except for rows within
    quantization distance (~dim/Q ≈ 6e-5) of the boundary — where a float
    gate is itself retraining-noise-unstable. NULL/wrong-length vectors
    gate NULL (no evidence; keeping or dropping them is a policy decision
    downstream, the ``quality_score`` convention). Map-only — weights are
    expression literals, no shuffle, no Python."""
    w = model["weights"]
    dim = len(w)
    b_q = int(math.floor(float(model["bias"]) * LOGREG_Q_SCALE))
    if not 0.0 < threshold < 1.0:
        raise ValueError(f"logreg_gate_fold: threshold {threshold} must "
                         "be in (0, 1) — it is a probability")
    thr_q = int(math.floor(math.log(threshold / (1.0 - threshold))
                           * LOGREG_Q_SCALE))
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    wl = F.array(*[F.lit(float(x)) for x in w])
    qf = F.lit(float(LOGREG_Q_SCALE))
    zq = F.aggregate(F.zip_with(v, wl, lambda a, c: F.floor(a * c * qf)),
                     F.lit(b_q).cast("long"), lambda acc, x: acc + x)
    malformed = (F.col(vec_col).isNull()
                 | (F.size(F.col(vec_col)) != F.lit(dim)))
    staged = df.select(F.col(id_col), malformed.alias("__mal"),
                       zq.alias("__zq"))
    return staged.select(
        F.col(id_col),
        F.when(F.col("__mal"), F.lit(None).cast("long"))
        .otherwise(F.col("__zq")).alias("z_q"),
        F.when(F.col("__mal"), F.lit(None).cast("boolean"))
        .otherwise(F.col("__zq") >= F.lit(thr_q)).alias("keep"))
