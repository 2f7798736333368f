"""Similarity search over embedding columns (SURVEY.md §2.11).

Baseline: brute-force cosine top-k — broadcast the (small) query set, fused
array dot products (JVM, codegen'd, no Python), window top-k per query.
One exact scale path (``gemm_cosine_topk``: Arrow-batched BLAS candidates,
exact re-rank) and one approximate path (``ivf_cosine_topk``: an IVF coarse
quantizer, the Faiss IVF-Flat layout as a DataFrame plan) share the same
scoring tail. Random-hyperplane LSH buckets (Charikar 2002) are the
equi-join candidate generator of the near-duplicate paths.

Execution-model notes (learned the hard way, each measured at sf0.1):

1. Spark's higher-order lambdas (``transform``/``aggregate``/``zip_with``)
   and generator expressions (``explode`` children) run on the INTERPRETED
   expression path — keep hot arithmetic OUT of them. A known-dim dot
   product expanded to a flat ``F.get`` multiply-add chain is codegen'd and
   ~10× faster.
2. An expanded chain must only reference plain COLUMNS: composite operands
   get their subtree duplicated into all ``dim`` terms.
3. Catalyst re-inlines projections (filter pushdown substitutes aliases
   unconditionally), so "materialize then filter on the composite column"
   re-creates the O(dim²) per-row blowup. The design below never builds a
   unit-vector array at all: it carries ``(cast_vec, inv_norm)`` and scores
   ``dot(a,b)·inv_a·inv_b``. Centroid assignment and hyperplane signs are
   scale-invariant, so they read the raw cast vector.
"""

from __future__ import annotations

import random

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

VECTOR_DIM = 64  # driver embeddings table dimension (TESTDATA.md)

# Max rows the exact-GEMM path will collect as its broadcast build side
# (~10M rows × 64 float64 ≈ 5 GB — the same order as a generous
# spark.sql.autoBroadcastJoinThreshold).
_BLAS_BROADCAST_ROWS = 10_000_000


def _dot(a, b, dim: int | None = VECTOR_DIM):
    """Vector dot product as a column expression.

    With a known ``dim``: a flat sum of ``F.get`` products — whole-stage
    codegen fuses it (out-of-bounds yields null, not an ANSI error).
    ``a``/``b`` MUST be plain column references (or one side literal-backed):
    composite expressions are duplicated into every term. ``dim=None`` falls
    back to the interpreted ``aggregate(zip_with(...))`` for variable-length
    arrays (~10× slower)."""
    if dim:
        terms = [F.get(a, i) * F.get(b, i) for i in range(dim)]
        out = terms[0]
        for t in terms[1:]:
            out = out + t
        return out
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def _norm(a, dim: int | None = VECTOR_DIM):
    return F.sqrt(_dot(a, a, dim))


def with_vec_inv(df: DataFrame, vec_col: str, vec_out: str, inv_out: str,
                 dim: int = VECTOR_DIM) -> DataFrame:
    """Stage ``(double-cast vector, 1/L2-norm)`` columns. ``inv`` is null for
    zero vectors AND NaN-norm vectors (a NaN component), so their cosines
    are null and sort after every real score. The explicit ``~isnan`` guard
    matters: Spark orders NaN ABOVE every number, so ``n > 0`` is TRUE for
    a NaN norm and without the guard a NaN vector would get inv = NaN and
    rank FIRST under ``cosine DESC`` — diverging from both the DuckDB twin
    (where ``CASE WHEN sqrt(...) > 0`` is false for NaN) and the Arrow
    kernels (where pandas ``isna`` treats it as missing). No unit-vector
    array is materialized (see module notes #3)."""
    staged = df.withColumn(
        vec_out, F.transform(F.col(vec_col), lambda x: x.cast("double")))
    n = _norm(F.col(vec_out), dim)
    # finite-positive guard: Inf norms would give inv = 0.0 and NaN
    # cosines (inf·0) that Spark ranks FIRST and numpy drops — the same
    # engine-divergence class as the NaN case, confirmed by probe. A
    # non-finite-component vector has no meaningful cosine; NULL it.
    return staged.withColumn(
        inv_out,
        F.when((n > 0) & ~F.isnan(n) & (n < F.lit(float("inf"))),
               F.lit(1.0) / n))


def _cosine(va, vb, ia, ib, dim: int) -> "F.Column":
    return F.round(_dot(va, vb, dim) * ia * ib, 6)


def _topk(scored: DataFrame, query_id_col: str, id_col: str, k: int) -> DataFrame:
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(query_id_col, id_col, "cosine", "rank"))


def cosine_topk(base: DataFrame, queries: DataFrame, k: int = 5,
                id_col: str = "vec_id", vec_col: str = "embedding",
                query_id_col: str = "query_id",
                dim: int = VECTOR_DIM) -> DataFrame:
    """Brute-force cosine top-k: for each query vector, the k nearest base
    vectors (excluding itself when ids collide).

    ``queries`` is expected small → broadcast nested-loop join streams the
    base side once; per-row cost is one fused multiply-add chain. Output:
    (query_id, vec_id, cosine, rank), deterministic tiebreak on vec_id.
    """
    b = with_vec_inv(base, vec_col, "vb", "ib", dim).select(
        F.col(id_col), "vb", "ib")
    q = with_vec_inv(queries, vec_col, "vq", "iq", dim).select(
        F.col(query_id_col), "vq", "iq")
    scored = (
        b.crossJoin(F.broadcast(q))
        .filter(F.col(id_col) != F.col(query_id_col))
        .withColumn("cosine", _cosine(F.col("vb"), F.col("vq"),
                                      F.col("ib"), F.col("iq"), dim))
    )
    return _topk(scored, query_id_col, id_col, k)


def _vec_matrix(series, dim: int) -> "np.ndarray":
    """One (rows × dim) float64 matrix from an Arrow column of vectors —
    NULL rows become zero rows (their NULL ``inv`` already excludes them
    from every score). The ONE construction shared by all BLAS kernels, so
    NULL handling has a single definition."""
    if not len(series):
        return np.zeros((0, dim))
    return np.vstack([
        np.zeros(dim) if row is None else np.asarray(row, dtype=np.float64)
        for row in series
    ])


def _unit_matrix(pdf: "pd.DataFrame", vec_name: str, inv_name: str,
                 dim: int) -> "np.ndarray":
    """Unit-vector rows: NULL-inv rows (zero/NULL/NaN vectors) scale to
    zero rows."""
    return (_vec_matrix(pdf[vec_name], dim)
            * pdf[inv_name].fillna(0.0).to_numpy()[:, None])


def _batch_sims(pdf: "pd.DataFrame", id_col: str, q_unit: "np.ndarray",
                dim: int, k: int):
    """Score one Arrow batch of ``(id, v, i)`` rows against a unit-vector
    query matrix in a single BLAS matmul. Returns ``(sims, ids, null_ids)``
    with NULL-inv rows (zero/NULL vectors) forced to −inf in ``sims`` and
    their k+1 smallest ids surfaced separately (one spare for
    self-exclusion) — they rank by NULL-cosine/id in the exact tail."""
    b_ids = pdf[id_col].to_numpy()
    null_mask = pdf["i"].isna().to_numpy()
    sims = _unit_matrix(pdf, "v", "i", dim) @ q_unit.T  # (batch, q)
    sims[null_mask, :] = -np.inf
    # NULL ids can't be forwarded (and np.sort raises TypeError on a
    # None-bearing object array): drop them, matching
    # the brute-force path, where `id != query_id` null-rejects such rows.
    null_ids = b_ids[null_mask & ~pd.isna(b_ids)]
    return sims, b_ids, np.sort(null_ids)[:k + 1]


def _select_topk_candidates(sims, b_ids, null_ids, q_ids, k: int):
    """Per-batch candidate selection of the exact BLAS top-k kernel
    (``gemm_cosine_topk``): for each query, keep everything
    within 2e-6 of the batch's k-th best BLAS score (the margin that makes
    the exact re-rank provably lossless — see ``gemm_cosine_topk``), plus
    up to k NULL-vector ids (smallest — their final tiebreak). Self-matches
    are masked here; the exact tail re-applies the filter."""
    out_q, out_b = [], []
    for j, qid in enumerate(q_ids):
        col = sims[:, j].copy()
        col[b_ids == qid] = -np.inf
        finite = col > -np.inf
        n_fin = int(finite.sum())
        if n_fin:
            if n_fin <= k:
                sel = finite
            else:
                kth = np.partition(col, len(col) - k)[len(col) - k]
                sel = col >= kth - 2e-6
            chosen = b_ids[sel]
            out_q.append(np.full(len(chosen), qid))
            out_b.append(chosen)
        nn = null_ids[null_ids != qid][:k]
        if len(nn):
            out_q.append(np.full(len(nn), qid))
            out_b.append(nn)
    return out_q, out_b


def gemm_cosine_topk(base: DataFrame, queries: DataFrame, k: int = 5,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     query_id_col: str = "query_id",
                     dim: int = VECTOR_DIM) -> DataFrame:
    """Exact cosine top-k via Arrow-batched BLAS — bit-identical results to
    ``cosine_topk``, built for the 100 TB base side.

    ``cosine_topk`` scores every (base row × query) with the codegen'd
    expression chain and shuffles ALL n·q scored rows into the ranking
    window. Here the query side (small — same budget guard as a broadcast
    join build side) is collected once as a unit-vector matrix; the base
    side streams through ``mapInPandas`` and each Arrow batch scores against
    every query in ONE BLAS matmul, emitting only per-(batch, query)
    top-k *candidates*. The ranking window then sees O(batches · q · k)
    rows instead of n·q — the shuffle no longer scales with the corpus.

    Exactness argument (mirrors ``_blas_candidate_pairs``): the global
    top-k per query is contained in the union of per-batch top-k sets, and
    per-batch selection keeps everything within ``2e-6`` of the batch's
    k-th best BLAS score. BLAS differs from the exact chain by ulps only,
    and the final ranking rounds to 6 decimals (granularity 1e-6) — any row
    excluded per-batch is beaten by ≥ k rows whose *rounded* exact cosine
    is strictly greater, so it cannot reach rank ≤ k under the final
    (cosine DESC, id ASC) order. Zero/NULL vectors (null ``inv``) have NULL
    cosine and rank after every real score; the kernel forwards up to k of
    them per batch (smallest ids — their final tiebreak) so short corpora
    rank identically to brute force. Candidates are re-scored by the exact
    codegen chain and ranked by the same ``_topk`` window, so ties,
    rounding, and rank numbers match ``cosine_topk`` bit-for-bit.
    """
    spark = base.sparkSession
    b = with_vec_inv(base, vec_col, "v", "i", dim).select(
        F.col(id_col), "v", "i")
    qv = with_vec_inv(queries, vec_col, "vq", "iq", dim).select(
        F.col(query_id_col), "vq", "iq")
    budget = _BLAS_BROADCAST_ROWS
    # one pass decides AND fetches (see _blas_candidate_pairs)
    qpdf = qv.limit(budget + 1).toPandas()
    if len(qpdf) > budget:
        raise ValueError(
            f"gemm_cosine_topk: query side exceeds the broadcast budget of "
            f"{budget} rows — it is collected like a broadcast join build "
            "side. Swap base/queries.")
    q_ids = qpdf[query_id_col].to_numpy()
    q_unit = _unit_matrix(qpdf, "vq", "iq", dim)
    bc = spark.sparkContext.broadcast((q_ids, q_unit))

    def select_candidates(batches):
        ids_q, uq = bc.value
        for pdf in batches:
            if not len(pdf) or not len(ids_q):
                continue
            sims, b_ids, null_ids = _batch_sims(pdf, id_col, uq, dim, k)
            out_q, out_b = _select_topk_candidates(sims, b_ids, null_ids,
                                                   ids_q, k)
            if out_q:
                yield pd.DataFrame({query_id_col: np.concatenate(out_q),
                                    id_col: np.concatenate(out_b)})

    q_type = qv.schema[query_id_col].dataType.simpleString()
    id_type = b.schema[id_col].dataType.simpleString()
    cand = b.mapInPandas(
        select_candidates, schema=f"{query_id_col} {q_type}, {id_col} {id_type}")
    scored = (cand.join(b, id_col).join(F.broadcast(qv), query_id_col)
              .filter(F.col(id_col) != F.col(query_id_col))
              .withColumn("cosine", _cosine(F.col("v"), F.col("vq"),
                                            F.col("i"), F.col("iq"), dim)))
    return _topk(scored, query_id_col, id_col, k)


def _blas_candidate_pairs(v: DataFrame, id_col: str, threshold: float,
                          dim: int) -> DataFrame:
    """EXACT candidate generation for all-pairs cosine ≥ threshold via
    blocked GEMM: one side is collected+broadcast as a unit-vector matrix
    (the same driver-collect a broadcast hash join performs on its build
    side — sanctioned for a side that fits the broadcast budget), the other
    streams through ``mapInPandas`` in Arrow batches, each batch scoring
    against the whole matrix in ONE BLAS matmul. Emitted with a 1e-6 margin
    below ``threshold`` (BLAS pairwise summation differs from the verify
    chain's linear order by ulps, never by 1e-6), then the codegen'd exact
    chain re-scores candidates — so the result is bit-identical to the pure
    theta-join form while doing the O(n²·dim) work in BLAS instead of the
    interpreted expression evaluator (measured 60 s → ~2 s at n≈2300,
    dim=64: the expanded chain exceeds codegen limits inside a nested-loop
    join and falls back to interpreted eval).

    Scale note: this is the exact-baseline path — one side must fit in a
    broadcast. The guard below refuses oversized build sides (cheap
    ``limit(budget+1)`` probe, no full count) instead of collecting toward
    a driver OOM; for corpora past the budget, ``bucket_signatures``
    (hyperplane LSH) is the candidate generator; the verification tail is
    shared.
    """
    spark = v.sparkSession
    budget = _BLAS_BROADCAST_ROWS
    # ONE pass decides AND fetches: a separate limit(budget+1).count()
    # probe would pay a full extra job over the build relation per call —
    # at corpus scale a whole scan just to count. limit+collect
    # early-exits a few rows past the budget instead.
    # Collect ONLY the scoring columns: with_vec_inv keeps every source
    # column, and an un-projected collect would haul raw embeddings plus
    # arbitrary payloads (text!) to the driver, making the row-count budget
    # guard wildly underestimate bytes
    build = v.select(id_col, "v", "i").limit(budget + 1).toPandas()
    if len(build) > budget:
        raise ValueError(
            f"_blas_candidate_pairs: build side exceeds the broadcast "
            f"budget of {budget} rows — the exact GEMM path collects one "
            "side to the driver like a broadcast join build side. For "
            "corpora this size, pass n_blocks= (distributed exact GEMM "
            "over block pairs, no driver collect) or bucket_signatures= "
            "(e.g. from hyperplane_lsh_buckets) so candidates come from an "
            "equi-join instead; the exact verification tail is identical "
            "either way.")
    ids = build[id_col].to_numpy()
    unit = _unit_matrix(build, "v", "i", dim)
    bc = spark.sparkContext.broadcast((ids, unit))
    margin = threshold - 1e-6

    def score(batches):
        b_ids, b_unit = bc.value
        for pdf in batches:
            a_ids = pdf[id_col].to_numpy()
            sims = _unit_matrix(pdf, "v", "i", dim) @ b_unit.T
            rows_i, cols_j = np.nonzero((sims >= margin)
                                        & (a_ids[:, None] < b_ids[None, :]))
            yield pd.DataFrame({"id_a": a_ids[rows_i], "id_b": b_ids[cols_j]})

    # pair schema follows the actual id type — a hardcoded 'long' would
    # crash string-keyed corpora
    id_type = v.schema[id_col].dataType.simpleString()
    return v.select(id_col, "v", "i").mapInPandas(
        score, schema=f"id_a {id_type}, id_b {id_type}")


def blocked_gemm_pairs(v: DataFrame, id_col: str, threshold: float,
                       dim: int, n_blocks: int) -> DataFrame:
    """EXACT all-pairs candidate generation with NO driver collect — the
    distributed twin of ``_blas_candidate_pairs`` for corpora past the
    broadcast budget that still need exact (not LSH-recall) semantics.

    Every row is assigned a block ``g = pmod(xxhash64(id), B)``; each
    unordered block pair ``(g1 ≤ g2)`` is scored by ONE ``applyInPandas``
    task running a single BLAS matmul between the pair's two member blocks.
    A row participates in exactly B block pairs, so it is replicated B
    times by ``explode(sequence(0, B-1))`` — shuffle volume is O(n·B·dim)
    and per-task memory is O(rows-per-block · dim), both tunable via
    ``n_blocks`` (pick B ≈ n·dim·8 / target-task-bytes). The O(n²·dim)
    multiply count is inherent to exact all-pairs — this path distributes
    it instead of funnelling one side through the driver.

    Same ``threshold − 1e-6`` emission margin as ``_blas_candidate_pairs``
    (BLAS vs codegen chain differ by ulps, never 1e-6) and the same exact
    verification tail downstream — results are bit-identical to the
    broadcast path (pinned by tests/test_similarity_recall.py).
    """
    B = int(n_blocks)
    if B < 1:
        raise ValueError("blocked_gemm_pairs: n_blocks must be >= 1")
    margin = threshold - 1e-6
    rep = (v.select(F.col(id_col), "v", "i",
                    F.pmod(F.xxhash64(F.col(id_col)), F.lit(B)).alias("__g"))
           .withColumn("__o", F.explode(F.sequence(F.lit(0), F.lit(B - 1))))
           .withColumn("__g1", F.least("__g", "__o"))
           .withColumn("__g2", F.greatest("__g", "__o"))
           .drop("__o"))
    id_type = v.schema[id_col].dataType.simpleString()

    def score(key, pdf):
        empty = pd.DataFrame({"id_a": pdf[id_col][:0], "id_b": pdf[id_col][:0]})
        if not len(pdf):
            return empty
        g1, g2 = key
        ids = pdf[id_col].to_numpy()
        unit = _unit_matrix(pdf, "v", "i", dim)
        if g1 == g2:
            sims = unit @ unit.T
            ii, jj = np.nonzero((sims >= margin)
                                & (ids[:, None] < ids[None, :]))
            return pd.DataFrame({"id_a": ids[ii], "id_b": ids[jj]})
        a = pdf["__g"].to_numpy() == g1
        ia, ib = ids[a], ids[~a]
        if not len(ia) or not len(ib):
            return empty
        sims = unit[a] @ unit[~a].T
        ii, jj = np.nonzero(sims >= margin)
        # id_a < id_b convention regardless of which block holds the row
        lo = np.minimum(ia[ii], ib[jj])
        hi = np.maximum(ia[ii], ib[jj])
        return pd.DataFrame({"id_a": lo, "id_b": hi})

    return (rep.groupBy("__g1", "__g2")
            .applyInPandas(score, schema=f"id_a {id_type}, id_b {id_type}"))


def cosine_near_dup_pairs(df: DataFrame, threshold: float = 0.95,
                          id_col: str = "vec_id",
                          vec_col: str = "embedding",
                          dim: int = VECTOR_DIM,
                          bucket_signatures: DataFrame | None = None,
                          n_blocks: int | None = None) -> DataFrame:
    """Embedding-cosine near-duplicate PAIRS (id_a < id_b, cosine ≥
    threshold) — the semantic-dedup member of the §2.11 dedup family
    (exact / n-gram / MinHash / SimHash / embedding-cosine).

    Default plan is EXACT all-pairs: BLAS-blocked candidate generation
    (``_blas_candidate_pairs``) + codegen'd exact re-score of the (few)
    candidates — same results as a theta self-join, without its
    interpreted-evaluator O(n²·dim) cost. Two scale escapes share the same
    exact verification tail:

    - ``n_blocks=B`` keeps EXACT semantics but distributes the GEMM over
      block pairs (``blocked_gemm_pairs``) — no driver collect at all; use
      when the corpus exceeds the broadcast budget and recall must be 1.0.
    - ``bucket_signatures`` (e.g. from ``hyperplane_lsh_buckets``, one row
      per (id, sig)) scores pairs only within equal-signature buckets — an
      equi-join candidate generator with the same recall trade-off as the
      banded-LSH text path; the right default at 100 TB, where exact
      all-pairs' O(n²) multiply count is itself the bottleneck.
    """
    v = with_vec_inv(df, vec_col, "v", "i", dim)
    if bucket_signatures is not None:
        sig_col = [c for c in bucket_signatures.columns if c != id_col][0]
        sa = bucket_signatures.select(F.col(id_col).alias("id_a"),
                                      F.col(sig_col).alias("__sig"))
        sb = bucket_signatures.select(F.col(id_col).alias("id_b"),
                                      F.col(sig_col).alias("__sig"))
        cand = (sa.join(sb, "__sig").filter(F.col("id_a") < F.col("id_b"))
                .select("id_a", "id_b").distinct())
    elif n_blocks is not None:
        cand = blocked_gemm_pairs(v, id_col, threshold, dim, n_blocks)
    else:
        cand = _blas_candidate_pairs(v, id_col, threshold, dim)
    return _exact_verify_pairs(v, cand, id_col, threshold, dim)


def _exact_verify_tail(cand: DataFrame, a: DataFrame, b: DataFrame,
                       a_id: str, b_id: str, threshold: float, dim: int,
                       broadcast_cand: bool = False) -> DataFrame:
    """THE exact-verification tail — one definition for the self-pair AND
    bipartite candidate generators, so the verify-tail convention
    (codegen'd flat dot chain, UNROUNDED ``>= threshold`` filter, rounded
    projection) cannot drift between families. ``a`` must
    carry ``(a_id, va, ia)``, ``b`` ``(b_id, vb, ib)``.
    ``broadcast_cand`` hints the candidate side so a corpus-sized ``a``
    streams map-side through the join (candidates are margin-hit-sized;
    callers with unbounded candidate sets must NOT set it)."""
    exact = _dot(F.col("va"), F.col("vb"), dim) * F.col("ia") * F.col("ib")
    seed = F.broadcast(cand) if broadcast_cand else cand
    return (seed.join(a, a_id).join(b, b_id)
            .withColumn("__c", exact)
            .filter(F.col("__c") >= threshold)
            .select(a_id, b_id, F.round("__c", 6).alias("cosine")))


def _exact_verify_pairs(v: DataFrame, cand: DataFrame, id_col: str,
                        threshold: float, dim: int) -> DataFrame:
    """Self-pair form of :func:`_exact_verify_tail`: both sides of every
    candidate pair resolve against the SAME ``(id_col, v, i)`` relation
    from ``with_vec_inv``."""
    a = v.select(F.col(id_col).alias("id_a"), F.col("v").alias("va"),
                 F.col("i").alias("ia"))
    b = v.select(F.col(id_col).alias("id_b"), F.col("v").alias("vb"),
                 F.col("i").alias("ib"))
    return _exact_verify_tail(cand, a, b, "id_a", "id_b", threshold, dim)


def hyperplanes(seed: int, n_planes: int, dim: int) -> list[list[float]]:
    """The seeded-Gaussian hyperplane matrix — ONE generator shared by the
    Spark signature expression and the DuckDB oracle builder
    (queries/vectors.py), so both engines compute sign bits from literally
    identical plane constants."""
    rnd = random.Random(seed)
    return [[rnd.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def _plane_sign_bits(v, seed: int, n_planes: int, dim: int):
    """Signature long: bit i = sign(v·plane_i), planes seeded-Gaussian.

    Each dot is ``aggregate(zip_with(v, plane, *), 0.0, +)`` — a
    left-associated accumulation in index order, IEEE-identical to an
    explicit ``v[0]*p0 + v[1]*p1 + …`` chain (the leading ``0.0 +`` can
    only change the SIGN OF ZERO, which ``>= 0`` cannot observe), so the
    DuckDB oracle's literal chain still reproduces every bit exactly. The
    fold form matters operationally: the flattened n_planes×dim
    multiply-add chain blows Spark's single-expression codegen budget and
    silently drops to interpreted evaluation — measured 7.0 s vs 0.4 s
    for 16×64 over 5.7k rows at sf0.1."""
    planes = hyperplanes(seed, n_planes, dim)
    sig = None
    for i, p in enumerate(planes):
        lit_plane = F.array(*[F.lit(float(x)) for x in p])
        d = F.aggregate(F.zip_with(v, lit_plane, lambda a, b: a * b),
                        F.lit(0.0), lambda acc, x: acc + x)
        bit = F.when(d >= 0, F.shiftleft(F.lit(1).cast("long"), i)) \
               .otherwise(F.lit(0).cast("long"))
        sig = bit if sig is None else sig.bitwiseOR(bit)
    return sig


def hyperplane_lsh_buckets(df: DataFrame, id_col: str = "vec_id",
                           vec_col: str = "embedding", n_planes: int = 16,
                           seed: int = 42, dim: int = VECTOR_DIM) -> DataFrame:
    """Random-hyperplane LSH signature per vector: bit i = sign(v·r_i).

    Vectors sharing a signature are cosine-similar with high probability;
    near-neighbor search becomes a groupBy/equi-join on ``bucket`` — the
    100 TB-safe candidate generator (no cross product)."""
    staged = df.withColumn(
        "__hpv", F.transform(F.col(vec_col), lambda x: x.cast("double")))
    sig = _plane_sign_bits(F.col("__hpv"), seed, n_planes, dim)
    return staged.select(F.col(id_col), sig.alias("bucket"))


def _multi_table_buckets(df: DataFrame, id_col: str, vec_col: str,
                         n_planes: int, n_tables: int, dim: int,
                         carry: tuple[str, ...] = ()) -> DataFrame:
    """(id, *carry, table, bucket) for all LSH tables in ONE scan, with
    seeded-Gaussian plane constants (table t = ``hyperplanes(100 + t)``'s
    stream).

    The signatures are oracle-portable (the minhash ``md5`` precedent):
    per-table plane dots with LEFT-ASSOCIATED index-order accumulation
    whose SIGNS a DuckDB literal chain reproduces (the
    ``embedding_lsh_near_dup`` parity argument; BLAS blocked summation
    carries no such guarantee near zero dots). An Arrow kernel computes
    them: it adds the per-term float64 products in index order, starting
    from ``0.0``, which is the IDENTICAL addition sequence of the
    ``aggregate(zip_with(...))`` expression fold — same products, same
    order, bit-equal dots. The expression form evaluated on Spark's
    INTERPRETED path at ~1.2 ms/row for 8×2×64 (measured: the three fold
    passes were ~7 s of embedding_semantic_dedup's sf0.1 cost), and at
    production widths (16×4) it is Janino-compile-bound; the kernel is
    ``dim`` vectorized multiply-adds per batch, holding one
    (batch × planes·tables) accumulator. Map-only; constant-time in the
    plan. Equality incl. the NULL/short/NaN conventions is unit-pinned
    (tests/test_similarity_recall.py::test_fold_kernel_matches_fold_expressions).
    NULL and wrong-length vectors bucket 0 in every table (the
    expression fold's NULL dot fails ``>= 0``).

    ``carry`` names extra ``df`` columns to keep on the exploded rows
    (so callers like the signature-index builder need no corpus-sized
    join-back)."""
    planes = []
    for t in range(n_tables):
        rnd = random.Random(100 + t)
        planes.append([[rnd.gauss(0.0, 1.0) for _ in range(dim)]
                       for _ in range(n_planes)])
    pmat = np.asarray(planes, dtype=np.float64).reshape(n_tables * n_planes, dim)
    weights = (1 << np.arange(n_planes, dtype=np.int64))

    @F.pandas_udf("array<long>")
    def sigs(emb: pd.Series) -> pd.Series:
        rows = np.zeros((len(emb), dim), dtype=np.float64)
        ok = np.zeros(len(emb), dtype=bool)
        for r, v in enumerate(emb):
            if v is None or len(v) != dim:
                continue  # expression fold: NULL dot -> every bit 0
            rows[r] = np.asarray(v, dtype=np.float64)
            ok[r] = True
        # exact twin of the expression fold: the same per-term float64
        # products, added to a 0.0 start one index at a time, so every
        # dot is the fold's left-to-right chain (a matmul or a reduction
        # may reassociate; elementwise adds cannot). The accumulator is
        # batch × (T·P); materializing every product first would be dim
        # times that per batch. A NaN dot sets the bit, matching
        # Spark's NaN-greatest comparison semantics (NaN >= 0 is TRUE in
        # SQL, probe-confirmed). One documented divergence: a NULL
        # ELEMENT inside a non-NULL vector reaches this kernel as NaN
        # (Arrow has no per-element null here), so it signs like NaN
        # where the expression fold's NULL dot gave bit 0 — unreachable
        # from every registry input (non-NULL dense vectors) and pinned
        # in the kernel-equality unit.
        d = np.zeros((len(emb), n_tables * n_planes), dtype=np.float64)
        for i in range(dim):
            d += rows[:, i, None] * pmat[None, :, i]
        bits = ((d >= 0) | np.isnan(d)) & ok[:, None]
        sig = (bits.reshape(len(emb), n_tables, n_planes)
               * weights).sum(axis=2)
        return pd.Series(list(sig))

    tagged = df.select(F.col(id_col), *[F.col(c) for c in carry],
                       sigs(F.col(vec_col)).alias("__sigs"))
    return (tagged.select(
        F.col(id_col), *[F.col(c) for c in carry],
        F.posexplode(F.col("__sigs")).alias("table", "bucket")))


def fit_ivf_centroids(base: DataFrame, vec_col: str = "embedding",
                      n_centroids: int = 16, seed: int = 42,
                      dim: int = VECTOR_DIM) -> list[list[float]]:
    """IVF coarse quantizer: seeded Lloyd's k-means (8 iterations) over a
    bounded SAMPLE of 100,000 vectors, normalized and iterated driver-side
    in numpy.

    This is the Faiss training recipe: a codebook is KB-scale and needs only
    a corpus sample, so at 100 TB the cluster's job is just the (cheap,
    pushed-down) sample scan — a distributed iterative fit would launch
    one full job per iteration to compute the same few KB.

    The sample is a seeded Bernoulli draw over the WHOLE corpus — ``limit``
    would take the first partitions in scan order, training the codebook on
    one file's distribution (arrival-time / source skew at scale). The
    ``count()`` sizing pass is parquet-metadata-cheap; the 1.25 oversample
    covers Bernoulli variance before the final ``limit`` trim."""
    x = _sample_unit_matrix(base, vec_col, seed, dim)
    return _fit_ivf_from_matrix(x, n_centroids, seed)


def _sample_unit_matrix(base: DataFrame, vec_col: str, seed: int,
                        dim: int) -> np.ndarray:
    """Training preamble of the IVF fit: one corpus-wide
    Bernoulli sample of UNIT vectors as a numpy matrix (codebooks are
    KB-scale — only a sample is needed). Null and zero-norm vectors are
    excluded: they have no direction to train on."""
    sample_size = 100_000
    prepped = with_vec_inv(base, vec_col, "vb", "ib", dim).select("vb", "ib")
    n_rows = prepped.count()
    frac = min(1.0, (sample_size * 1.25) / max(n_rows, 1))
    if frac < 1.0:
        prepped = prepped.sample(withReplacement=False, fraction=frac, seed=seed)
    sample = prepped.limit(sample_size).toPandas()
    keep = [(v, inv) for v, inv in zip(sample["vb"], sample["ib"])
            if v is not None and inv is not None]
    x = (np.asarray([list(v) for v, _ in keep], dtype=np.float64)
         * np.asarray([float(i) for _, i in keep])[:, None])
    # The `inv is not None` check above misses SQL NULLs that ride a
    # float64 pandas column as NaN (a zero-norm vector's null inverse norm
    # arrives as NaN, not None) — one NaN row would poison every k-means
    # mean into NaN centroids and degenerate all codes to zero. Keep only
    # finite, genuinely-unit rows.
    if len(x):
        x = x[np.isfinite(x).all(axis=1)
              & (np.linalg.norm(x, axis=1) > 0.5)]
    if not len(x):
        # an empty training matrix would crash np.argmax deep inside the
        # k-means loop with an obscure shape error —
        # fail at the boundary with the actual cause instead
        raise ValueError(
            "no trainable vectors: the corpus sample is empty or every "
            "sampled vector is NULL/zero-norm — codebooks cannot be fit")
    return x


def _fit_ivf_from_matrix(x: np.ndarray, n_centroids: int,
                         seed: int) -> list[list[float]]:
    rng = np.random.RandomState(seed)
    k = min(n_centroids, len(x))
    cent = x[rng.choice(len(x), size=k, replace=False)]
    for _ in range(8):
        # unit sphere: nearest centroid = max dot product
        assign = np.argmax(x @ cent.T, axis=1)
        for j in range(k):
            members = x[assign == j]
            if len(members):
                c = members.mean(axis=0)
                n = np.linalg.norm(c)
                if n > 0:
                    cent[j] = c / n
    return [list(map(float, c)) for c in cent]


def _nearest_centroids(df: DataFrame, id_col: str, vec_col: str,
                       centroids: list[list[float]], nprobe: int,
                       keep: tuple[str, ...] = ()) -> DataFrame:
    """Top-``nprobe`` centroid ids per vector by dot product — the vector
    need NOT be normalized (positive scaling preserves the ranking), so this
    reads the raw vector column. Map-only Arrow-vectorized pandas UDF: one
    (batch × dim) @ codebookᵀ matmul + stable argsort per batch (same
    compile-cost rationale as _multi_table_buckets). No shuffle — assignment
    stays embarrassingly parallel over a 100 TB scan. ``keep`` forwards
    additional input columns through the assignment (the
    ``_nearest_centroid_fold`` convention — ONE kernel for every consumer,
    so the tie/ulp behavior cannot drift between copies). NULL and
    wrong-length vectors assign like zero vectors (cid 0 under the stable
    tie-break) — callers with a stricter policy filter upstream."""
    cmat = np.asarray(centroids, dtype=np.float64)
    dim = cmat.shape[1]
    npb = min(nprobe, len(centroids))

    @F.pandas_udf("array<int>")
    def probe(emb: pd.Series) -> pd.Series:
        m = np.vstack([
            np.zeros(dim) if v is None or len(v) != dim
            else np.asarray(v, dtype=np.float64)
            for v in emb
        ])
        d = m @ cmat.T
        # stable sort: equal dots break toward the lower cid, deterministic
        idx = np.argsort(-d, axis=1, kind="stable")[:, :npb].astype(np.int32)
        return pd.Series(list(idx))

    tagged = df.select(F.col(id_col), probe(F.col(vec_col)).alias("__cids"),
                       *[F.col(c) for c in keep if c != id_col])
    return tagged.select(F.col(id_col),
                         F.explode(F.col("__cids")).alias("cid"),
                         *[F.col(c) for c in keep if c != id_col])


def ivf_cosine_topk(base: DataFrame, queries: DataFrame, k: int = 5,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    query_id_col: str = "query_id", n_centroids: int = 16,
                    nprobe: int = 4, seed: int = 42,
                    dim: int = VECTOR_DIM) -> DataFrame:
    """IVF approximate top-k: k-means codebook → each base vector lives in
    its nearest centroid's inverted list; each query probes its ``nprobe``
    nearest lists; exact cosine ranks only those candidates.

    The scale shape: assignment is a map-only pass (codebook as folded
    literals), the candidate join is an equi-join on ``cid``, and expected
    scan fraction ≈ nprobe/n_centroids of the corpus. Recall rises with
    nprobe (= brute force at nprobe=n_centroids)."""
    centroids = fit_ivf_centroids(base, vec_col, n_centroids, seed, dim=dim)
    b = with_vec_inv(base, vec_col, "vb", "ib", dim).select(
        F.col(id_col), "vb", "ib")
    q = with_vec_inv(queries, vec_col, "vq", "iq", dim).select(
        F.col(query_id_col), "vq", "iq")
    b_assign = _nearest_centroids(b.select(id_col, "vb"), id_col, "vb",
                                  centroids, nprobe=1)
    q_probe = _nearest_centroids(q.select(query_id_col, "vq"), query_id_col,
                                 "vq", centroids, nprobe=nprobe)
    cands = (b_assign.join(F.broadcast(q_probe), "cid")
             .select(id_col, query_id_col))
    scored = (
        cands.join(b, id_col).join(F.broadcast(q), query_id_col)
        .filter(F.col(id_col) != F.col(query_id_col))
        .withColumn("cosine", _cosine(F.col("vb"), F.col("vq"),
                                      F.col("ib"), F.col("iq"), dim))
    )
    return _topk(scored, query_id_col, id_col, k)


def _cluster_blas_pairs(v_cid: DataFrame, id_col: str, threshold: float,
                        dim: int) -> DataFrame:
    """Within-cluster candidate pairs via ONE GEMM per cluster:
    ``applyInPandas`` over ``cid`` groups — each task scores its cluster's
    unit matrix against itself and emits only pairs above
    ``threshold − 1e-6`` (the BLAS-vs-codegen summation margin; see
    ``_blas_candidate_pairs``). This never materializes the |c|² candidate
    relation an equi-join-on-cid generator would shuffle: pair rows exist
    only above threshold. Peak task memory is one cluster's vectors —
    bounded by choosing n_clusters ≈ corpus/target_cluster_size (the
    SemDeDup knob), exactly like a grouped-agg task."""
    margin = threshold - 1e-6
    # pair schema follows the actual id type — a hardcoded 'long' would
    # crash string-keyed corpora
    id_type = v_cid.schema[id_col].dataType.simpleString()

    def score(key, pdf):
        ids = pdf[id_col].to_numpy()
        mat = np.vstack([
            np.zeros(dim) if row is None else np.asarray(row, dtype=np.float64)
            for row in pdf["v"]
        ])
        inv = pdf["i"].fillna(0.0).to_numpy()
        unit = mat * inv[:, None]
        sims = unit @ unit.T
        rows_i, cols_j = np.nonzero((sims >= margin)
                                    & (ids[:, None] < ids[None, :]))
        return pd.DataFrame({"id_a": ids[rows_i], "id_b": ids[cols_j]})

    return (v_cid.groupBy("cid")
            .applyInPandas(score, schema=f"id_a {id_type}, id_b {id_type}"))


def semantic_dedup(df: DataFrame, threshold: float = 0.95,
                   n_clusters: int = 16, id_col: str = "vec_id",
                   vec_col: str = "embedding", seed: int = 42,
                   dim: int = VECTOR_DIM,
                   cluster_driver_budget: int | None = None) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): k-means-partition the
    embedding space, find cosine-≥-threshold pairs WITHIN each cluster
    only, resolve connected duplicate groups, keep the minimum id per
    group. Returns one row per vector to DROP: ``(id_col, keeper_id)`` —
    callers left-anti-join it against the corpus.

    Scale shape: the codebook is a KB-scale k-means fit on a corpus-wide
    Bernoulli sample (``fit_ivf_centroids``); assignment is a map-only
    Arrow matmul; within-cluster scoring is one GEMM per cluster with no
    quadratic shuffle relation (``_cluster_blas_pairs``) — total work
    ≈ n²/k versus the exact path's n², the SemDeDup trade: near-dup pairs
    whose members land in different clusters are missed (the paper's
    recall/cost knob). Pairs are exact-verified by the shared codegen tail,
    then grouped by pointer-jumping connected components
    (``dedup_clusters``), so keeper resolution handles chains that span
    multiple pairs. ``n_clusters=1`` degenerates to the exact all-pairs
    answer (one cluster = full GEMM) — pinned by unit test.

    ``cluster_driver_budget`` forwards to ``dedup_clusters``'s
    driver-union-find fast path: near-dup pair lists are usually
    tiny relative to the corpus, and the iterative pointer-jumping
    machinery costs several fixed join+checkpoint jobs per call —
    ``incremental_semantic_dedup`` and ``prepare_training_corpus``
    already make this composition choice. Default ``None`` keeps the
    distributed path unconditional (the 100 TB-safe default; identical
    output either way)."""
    from .dedup import dedup_clusters

    v = with_vec_inv(df, vec_col, "v", "i", dim).select(id_col, "v", "i")
    if n_clusters > 1:
        centroids = fit_ivf_centroids(df, vec_col, n_clusters, seed, dim=dim)
        assign = _nearest_centroids(df.select(id_col, vec_col), id_col,
                                    vec_col, centroids, nprobe=1)
        v_cid = v.join(assign, id_col)
    else:
        v_cid = v.withColumn("cid", F.lit(0))
    cand = _cluster_blas_pairs(v_cid, id_col, threshold, dim)
    pairs = _exact_verify_pairs(v, cand, id_col, threshold, dim)
    comp = dedup_clusters(pairs.select("id_a", "id_b"),
                          driver_budget=cluster_driver_budget)
    return (comp.filter(F.col("member_id") != F.col("cluster_id"))
            .select(F.col("member_id").alias(id_col),
                    F.col("cluster_id").alias("keeper_id")))


def cosine_cross_pairs(left: DataFrame, right: DataFrame,
                       threshold: float = 0.95, left_id: str = "vec_id",
                       right_id: str = "bench_id",
                       vec_col: str = "embedding",
                       dim: int = VECTOR_DIM) -> DataFrame:
    """EXACT bipartite cosine pairs: every ``(left_id, right_id, cosine)``
    with cosine ≥ threshold between two DIFFERENT relations — the
    cross-corpus member of the GEMM family (self-all-pairs is
    ``cosine_near_dup_pairs``).

    The plan collects the RIGHT side as the GEMM build matrix (budget-
    guarded like ``_blas_candidate_pairs`` — right is typically the small
    benchmark) and streams the left side map-side against it. Candidates
    are emitted with the standard 1e-6 BLAS margin and pass one exact
    codegen verify tail — results are bit-identical to a theta cross-join.
    """
    if left_id == right_id:
        raise ValueError(
            "cosine_cross_pairs: left_id and right_id must be distinct "
            "column names (the pair output carries both) — alias one side")
    spark = left.sparkSession
    lv = with_vec_inv(left, vec_col, "v", "i", dim).select(
        F.col(left_id), "v", "i")
    rv = with_vec_inv(right, vec_col, "vq", "iq", dim).select(
        F.col(right_id), "vq", "iq")
    margin = threshold - 1e-6
    l_type = lv.schema[left_id].dataType.simpleString()
    r_type = rv.schema[right_id].dataType.simpleString()
    schema = f"{left_id} {l_type}, {right_id} {r_type}"

    budget = _BLAS_BROADCAST_ROWS
    # one pass decides AND fetches (see _blas_candidate_pairs)
    rpdf = rv.limit(budget + 1).toPandas()
    if len(rpdf) > budget:
        raise ValueError(
            f"cosine_cross_pairs: right side exceeds the broadcast "
            f"budget of {budget} rows — swap sides so the smaller "
            "relation is the right one.")
    r_ids = rpdf[right_id].to_numpy()
    r_unit = _unit_matrix(rpdf, "vq", "iq", dim)
    bc = spark.sparkContext.broadcast((r_ids, r_unit))

    def score_stream(batches):
        ids_r, ur = bc.value
        for pdf in batches:
            if not len(pdf) or not len(ids_r):
                continue
            sims = _unit_matrix(pdf, "v", "i", dim) @ ur.T
            ii, jj = np.nonzero(sims >= margin)
            if len(ii):
                yield pd.DataFrame({
                    left_id: pdf[left_id].to_numpy()[ii],
                    right_id: ids_r[jj]})

    cand = lv.mapInPandas(score_stream, schema=schema)

    # shared tail; candidates broadcast so the corpus-sized left streams
    # map-side (margin-hit-sized candidate set — the flag_contaminated
    # trade, keeping the 'corpus never shuffles' contract real)
    a = lv.select(F.col(left_id), F.col("v").alias("va"),
                  F.col("i").alias("ia"))
    b = rv.select(F.col(right_id), F.col("vq").alias("vb"),
                  F.col("iq").alias("ib"))
    return _exact_verify_tail(cand, a, b, left_id, right_id, threshold, dim,
                              broadcast_cand=True)


def planted_centroids(seed: int, n_clusters: int, dim: int) -> list[list[float]]:
    """Seeded-Gaussian UNIT centroids — ONE generator shared by the Spark
    fold-assignment expression and the DuckDB oracle builder
    (queries/vectors.py), the ``hyperplanes`` convention: both engines
    assign from literally identical constants, so an oracle row can check
    the quota machinery without the sample-composition dependence of the
    k-means fit."""
    rnd = random.Random(seed)
    out = []
    for _ in range(n_clusters):
        v = np.array([rnd.gauss(0.0, 1.0) for _ in range(dim)])
        out.append([float(x) for x in v / np.linalg.norm(v)])
    return out


def _nearest_centroid_fold(df: DataFrame, id_col: str, vec_col: str,
                           centroids: list[list[float]],
                           keep: tuple[str, ...] = (),
                           emit_margin: bool = False) -> DataFrame:
    """Exact-config assignment twin of :func:`_nearest_centroids` for
    oracle-checkable configurations: each centroid dot is a fold-form
    expression (the ``_plane_sign_bits`` convention — left-associated,
    index-order accumulation; SQL engines may reassociate long
    float chains by ~ulps, so parity is of the COMPARISONS these dots
    feed, not the raw values — see ``_lsh_bucket_oracle``) and
    the argmax is a sequential CASE with ties to the LOWER cid (matching
    the production kernel's stable argsort). NULL **and wrong-length**
    vectors assign to cid 0, exactly like the kernel's zero-row
    convention (without the explicit length override
    a truncated vector's NULL dots fell through every WHEN to the ELSE —
    cid k-1 — silently diverging from the gemm twin). Interpreted-expression
    cost is the price of bit-portability — production assignment stays on
    the BLAS kernel; this is the verification twin (the md5-minhash
    pattern). ``keep`` forwards additional input columns
    through the assignment (e.g. the vector itself for a centroid-update
    consumer) without a join back. ``emit_margin`` appends ``__margin`` =
    top-1 minus top-2 centroid dot (NULL for malformed rows) — the
    separation a cross-engine oracle needs to be SAFE against chain
    reassociation (an assignment can only flip between engines when the
    top-2 dots are within reassociation ulps of equal, as in the
    data-dependent centroid2 stage)."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    k = len(centroids)
    dots = []
    for c in centroids:
        lit = F.array(*[F.lit(float(x)) for x in c])
        dots.append(F.aggregate(F.zip_with(v, lit, lambda a, b: a * b),
                                F.lit(0.0), lambda acc, x: acc + x))
    staged = df.select(F.col(id_col), F.col(vec_col).alias("__nv"),
                       *[F.col(c) for c in keep if c != id_col],
                       *[dots[j].alias(f"__d{j}") for j in range(k)])
    cid = F.lit(k - 1)
    for j in range(k - 2, -1, -1):
        cond = None
        for m in range(j + 1, k):
            ge = F.col(f"__d{j}") >= F.col(f"__d{m}")
            cond = ge if cond is None else cond & ge
        cid = F.when(cond, F.lit(j)).otherwise(cid)
    dim_f = len(centroids[0])
    malformed = (F.col("__nv").isNull()
                 | (F.size(F.col("__nv")) != F.lit(dim_f)))
    cid = F.when(malformed, F.lit(0)).otherwise(cid)
    extra = []
    if emit_margin:
        sorted_d = F.array_sort(F.array(*[F.col(f"__d{j}")
                                          for j in range(k)]))
        margin = F.element_at(sorted_d, -1) - F.element_at(sorted_d, -2)
        extra.append(F.when(malformed, F.lit(None).cast("double"))
                     .otherwise(margin).alias("__margin"))
    return staged.select(F.col(id_col), cid.alias("cid"),
                         *[F.col(c) for c in keep if c != id_col], *extra)


def cluster_balanced_sample(df: DataFrame, quota_per_cluster: int,
                            n_clusters: int = 16, id_col: str = "vec_id",
                            vec_col: str = "embedding", seed: int = 42,
                            dim: int = VECTOR_DIM,
                            centroids: list[list[float]] | None = None,
                            assign: str = "gemm") -> DataFrame:
    """Cluster-balanced curation sampling: partition the embedding space
    with the k-means coarse quantizer and keep at most
    ``quota_per_cluster`` rows per cluster — the standard flattening of
    head-heavy topic distributions in embedding-curated corpora (the
    cluster-then-sample step SemDeDup-style pipelines run after dedup,
    so no one dense region dominates the training mix). Returns
    ``(id_col, cid, kept)`` for EVERY input row — filter on ``kept`` or
    audit the flag.

    Determinism, precisely: the within-cluster selection ranks by the
    engine's portable md5 convention over ``id_col`` + a salt (the
    ``stratified_sample`` convention — NOT arrival order, which would
    bias the sample toward early files), so GIVEN an assignment the kept
    set is rerun-, repartition-, and engine-stable. The codebook fit is
    seeded but trains on a Bernoulli SAMPLE whose composition follows the
    input partitioning (a property of the IVF fit) — so
    cluster ids are arbitrary labels, and a repartitioned input may draw
    different boundaries and hence a different (equally valid) sample;
    the quota cap and full-coverage flags hold under ANY assignment
    (unit-pinned). Pin the input layout where byte-stable reruns across
    relayouts matter. Ids are assumed unique (they key the flag join).

    Plan: quota selection is TWO-PHASE. A single-window form
    (``Window.partitionBy(cid)`` + ``row_number`` over the corpus) would
    shuffle EVERY row into exactly k reducer partitions and fully sort
    each cluster — at 100 TB, a handful of monster tasks each sorting
    terabytes when only ``quota`` rows per cluster matter. Instead:
    (1) a map-only per-input-partition prune keeps the ``quota`` best
    (hash-rank) rows per cid — at most quota·k rows per partition
    survive, NO exchange; (2) the global per-cid rank runs over that
    candidate set only (≤ quota·k·P rows — the only sort, and it is
    candidate-sized); (3) the keeper ids broadcast back onto the
    assignment for the ``kept`` flag (past
    ``sampling.KEEPER_BROADCAST_ROWS`` the flag join falls back to an
    ordinary hash join — id-uniform, no k-partition bottleneck either
    way). Phase 1 is lossless: a row in a cid's global top-quota is in
    the top-quota of ANY subset containing it, in particular its own
    partition — so the kept set, and the DuckDB oracle, are unchanged.
    The (id, cid) assignment is engine-pinned (caller-release contract,
    the ``ngram_jaccard_pairs`` convention) because the candidate branch
    and the flag join both consume it; re-deriving it would rescan the
    raw vector column. The machinery is the GENERIC
    :func:`..sampling.balanced_sample_by_key` — the same operator
    caps domains or languages when the key is a string instead of a cid.

    ``centroids``: a caller-supplied codebook skips the fit — the
    PLANTED-constants configuration (:func:`planted_centroids`) that makes
    the row fully deterministic and SQL-expressible. ``assign='fold'``
    swaps the BLAS kernel for the bit-portable fold-expression twin
    (:func:`_nearest_centroid_fold`) so a DuckDB oracle reproduces every
    assignment AND the quota ranking exactly; ``'gemm'`` (default) is the
    production path — identical partition semantics, matmul-summation
    ulps may flip exact centroid ties."""
    if quota_per_cluster < 0:
        raise ValueError("cluster_balanced_sample: quota must be >= 0")
    if centroids is None:
        centroids = fit_ivf_centroids(df, vec_col, n_clusters, seed, dim=dim)
    if assign == "fold":
        assigned = _nearest_centroid_fold(df.select(id_col, vec_col),
                                          id_col, vec_col, centroids)
    elif assign == "gemm":
        assigned = _nearest_centroids(df.select(id_col, vec_col), id_col,
                                      vec_col, centroids, nprobe=1)
    else:
        raise ValueError(
            f"cluster_balanced_sample: assign={assign!r} (want 'gemm' or "
            "'fold')")
    from .sampling import balanced_sample_by_key
    return balanced_sample_by_key(
        assigned, quota_per_cluster, key_col="cid", id_col=id_col,
        salt=f"cluster-balance-{seed}", n_keys_hint=len(centroids))


#: fixed-point scale for exact (order-independent) centroid accumulation:
#: coordinates are floor-quantized to q = floor(x · 2^20) BIGINTs before the
#: cross-row sum, so the reduce is exact integer arithmetic — identical
#: under ANY partitioning, task retry, or engine (DuckDB twin included) —
#: and the ~1e-6 quantization error is far below embedding noise.
KMEANS_Q_SCALE = 1 << 20


def _assign_with_vec(df: DataFrame, vec_col: str,
                     centroids: list[list[float]],
                     assign: str = "gemm") -> DataFrame:
    """Map-only nearest-centroid (nprobe=1) assignment that CARRIES the
    vector column through — ``(cid, vec_col)`` with no join back (the
    update step consumes the vector in the same stage). ``'gemm'`` is the
    production BLAS kernel (shared with :func:`_nearest_centroids` via its
    ``keep=`` — one kernel, one tie convention); ``'fold'`` the
    bit-portable expression twin. NULL and wrong-length vectors are
    DROPPED here (they carry no direction for the M-step; leaving them in
    would crash the BLAS vstack or, on the fold path, silently vote their
    truncated coordinates into cluster k-1)."""
    dim = len(centroids[0])
    clean = df.filter(F.col(vec_col).isNotNull()
                      & (F.size(F.col(vec_col)) == dim))
    if assign == "fold":
        return _nearest_centroid_fold(
            clean.select(F.lit(0).alias("__rid"), vec_col),
            "__rid", vec_col, centroids, keep=(vec_col,)).drop("__rid")
    if assign != "gemm":
        raise ValueError(f"_assign_with_vec: assign={assign!r} "
                         "(want 'gemm' or 'fold')")
    return _nearest_centroids(
        clean.select(F.lit(0).alias("__rid"), vec_col),
        "__rid", vec_col, centroids, nprobe=1,
        keep=(vec_col,)).drop("__rid")


def kmeans_update_exact(assigned: DataFrame, vec_col: str = "embedding",
                        cid_col: str = "cid",
                        dim: int | None = None) -> DataFrame:
    """ONE exact Lloyd M-step, distributed: per-(cluster, coordinate)
    member count, fixed-point coordinate sum, and the mean coordinate.

    Returns ``(cid, pos, n_members, sum_q, coord)`` — k·dim rows — where
    ``sum_q = Σ floor(x·KMEANS_Q_SCALE)`` over the cluster's members
    (exact integer arithmetic: the SAME value under any partitioning, AQE
    re-plan, or task retry — float means are none of those) and
    ``coord = sum_q / (n_members · KMEANS_Q_SCALE)``, one float division
    per output cell. NULL vectors contribute nothing (no direction to learn).

    Plan shape: quantize + posexplode are map-only; the ONE exchange keys
    on (cid, pos) — k·dim distinct keys, so map-side partial aggregation
    collapses the shuffle to O(partitions · k · dim) rows no matter the
    corpus size. This is the 100 TB M-step: the reduce is codebook-sized.

    The sums are BIGINT: past ~2^43 unit-vector rows per cluster
    (n·2^20·|x|max ≥ 2^63) Spark's ANSI mode fails the job with
    ``ARITHMETIC_OVERFLOW`` rather than return a wrapped ``sum_q``.

    ``dim``: when given, wrong-length vectors are excluded along with
    NULLs (a truncated vector would otherwise contribute to fewer (cid,
    pos) cells than it has members — silently inconsistent n_members).
    The refinement loop always passes it; raw callers that guarantee
    fixed-width input may skip the comparison."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    q = F.transform(v, lambda x: F.floor(x * F.lit(float(KMEANS_Q_SCALE))))
    valid = F.col(vec_col).isNotNull()
    if dim is not None:
        valid = valid & (F.size(F.col(vec_col)) == dim)
    ex = (assigned.filter(valid)
          .select(F.col(cid_col).alias("cid"),
                  F.posexplode(q).alias("pos", "__q")))
    return (ex.groupBy("cid", "pos")
            .agg(F.count(F.lit(1)).alias("n_members"),
                 F.sum("__q").alias("sum_q"))
            .withColumn("coord",
                        F.col("sum_q").cast("double")
                        / (F.col("n_members")
                           * F.lit(float(KMEANS_Q_SCALE)))))


def kmeans_lloyd_refine(df: DataFrame,
                        init_centroids: list[list[float]],
                        n_iters: int = 4, vec_col: str = "embedding",
                        dim: int = VECTOR_DIM,
                        assign: str = "gemm") -> list[list[float]]:
    """Distributed Lloyd refinement over the FULL corpus: iterate
    (map-only nearest-centroid assignment → exact fixed-point M-step →
    collect the k·dim codebook) from a given initialization.

    Where this sits vs :func:`fit_ivf_centroids`: the sample fit is the
    right tool for CODEBOOKS (a few KB need only a sample), but its
    training sample follows the input partitioning, so cluster boundaries
    — and everything partitioned by them (``cluster_balanced_sample``,
    SemDeDup cells) — can shift when the corpus is merely relaid out.
    Refinement from a partitioning-independent init (seeded
    :func:`planted_centroids`, or a FROZEN prior codebook) is
    deterministic end-to-end: assignment is per-row (stable ties → lower
    cid), the M-step is exact integer accumulation (order-independent),
    and the per-iteration normalize is k·dim driver-side float ops — so
    the refined codebook is byte-identical under repartitioning, retry,
    or cluster resize (unit-pinned across three layouts), while actually
    minimizing corpus-level (not sample-level) quantization error.
    Byte-stability precision: the REDUCE is unconditionally
    order-independent (integers). The per-row dots of the default
    ``assign='gemm'`` kernel are single-row BLAS accumulations with no
    cross-row term; their values are batch-shape-invariant in practice
    but not IEEE-GUARANTEED across BLAS kernel-path changes — a vector
    whose top-2 centroid dots sit within one ulp could in principle flip.
    Where byte-stability must be a guarantee rather than a measurement
    (audit replays, the oracle row), use ``assign='fold'`` — literal
    index-order folds, bit-portable by construction (the documented
    `cluster_balanced_sample` ulp caveat, same trade). NULL and
    wrong-length vectors are dropped before assignment (no direction to
    learn; see :func:`_assign_with_vec`).

    Cost: n_iters full scans; each iteration's shuffle is the
    codebook-sized (cid, pos) partial-agg reduce of
    :func:`kmeans_update_exact` and the driver transfer is k·dim rows.
    Empty clusters keep their previous centroid (the standard Lloyd
    convention — deterministic, no reseeding RNG). Each new centroid is
    projected to the unit sphere (spherical k-means, the
    :func:`_fit_ivf_from_matrix` convention — max-dot assignment is
    only a true nearest-centroid rule on the sphere); zero-norm means
    keep the previous centroid."""
    cents = [list(map(float, c)) for c in init_centroids]
    k = len(cents)
    for _ in range(max(0, int(n_iters))):
        assigned = _assign_with_vec(df.select(vec_col), vec_col, cents,
                                    assign=assign)
        upd = kmeans_update_exact(assigned, vec_col=vec_col, dim=dim)
        rows = upd.select("cid", "pos", "n_members", "sum_q").collect()
        nxt = [list(c) for c in cents]
        counts = {}
        for r in rows:
            if 0 <= r["cid"] < k and 0 <= r["pos"] < dim:
                nxt[r["cid"]][r["pos"]] = (
                    float(r["sum_q"])
                    / (r["n_members"] * float(KMEANS_Q_SCALE)))
                counts[r["cid"]] = r["n_members"]
        for j in range(k):
            if j not in counts:
                nxt[j] = list(cents[j])  # empty cluster: keep centroid
            else:
                n = float(np.linalg.norm(np.asarray(nxt[j])))
                nxt[j] = ([float(x) / n for x in nxt[j]] if n > 0
                          else list(cents[j]))
        cents = nxt
    return cents


def _guard_q_magnitude(scaled: "np.ndarray", what: str,
                       rows: int = 1) -> None:
    """Quantization-overflow guard shared by the exact-accumulation
    kernels: ``astype(int64)`` of a float ≥ 2^63 wraps silently to
    INT64_MIN (numpy raises nothing), which would poison an 'exact' sum
    with no symptom. Refuse loudly instead — the fix is pre-normalized
    vectors, and the message says so.

    ``rows`` is the ACCUMULATION WIDTH: how many per-row values the
    kernel int64-sums into one cell after the cast (a per-element check
    alone lets elements in the 2^55–2^62 band pass while the in-kernel
    block/batch sum wraps). The refusal bound is
    ``max_element · rows >= 2^62`` — a factor-2 headroom under the true
    wrap point, and exactly the old per-element bound at rows=1."""
    m = float(np.abs(scaled).max()) if scaled.size else 0.0
    width = max(1, int(rows))
    if m * width >= float(1 << 62):
        raise ValueError(
            f"{what}: quantized magnitude {m:.3g} x {width} accumulated "
            "rows >= 2^62 — the in-kernel int64 sum could wrap silently. "
            "Normalize the vector column first.")


def embedding_moments_exact(df: DataFrame, vec_col: str = "embedding",
                            dim: int = VECTOR_DIM) -> DataFrame:
    """Exact first + second moments of an embedding column, distributed:
    ``(i, j, n, sum_q)`` where rows with ``j >= i`` carry the fixed-point
    second-moment sums ``Σ floor(x_i·x_j·KMEANS_Q_SCALE)`` (upper
    triangle) and rows with ``j = -1`` the first-moment sums
    ``Σ floor(x_i·KMEANS_Q_SCALE)``.

    The same exactness contract as :func:`kmeans_update_exact`: per-row
    quantization is deterministic IEEE (double product × a power of two,
    floored), the cross-row reduce is integer arithmetic — so the moment
    table is byte-identical under any partitioning, AQE re-plan, or task
    retry, and a serial SQL engine reproduces it with ZERO tolerance.

    Plan shape — the covariance scale path: an Arrow ``mapInPandas``
    kernel computes each batch's d×d partial in vectorized numpy (the
    O(n·d²) flops stay in C, nothing exploded row-wise) and emits ONE
    d(d+1)/2 + d partial frame per batch; the only exchange carries those
    codebook-sized partials to a (i, j) sum — O(batches · d²) rows no
    matter the corpus size. NULL and wrong-length vectors are excluded
    (no moment to contribute). Blocks of 256 rows cap the b×d×d
    outer-product scratch (256·64·64·8B ≈ 8 MB).

    Overflow policy (shared across the exact-accumulation family):
    per-cell quantized magnitudes ≥ 2^62 are REFUSED loudly in the kernel
    (a silent int64 wrap would poison an 'exact' table); the cross-batch
    reduce is a BIGINT sum, which ANSI mode fails with
    ``ARITHMETIC_OVERFLOW`` past ~2^43 valid rows, as in
    :func:`kmeans_update_exact`."""
    qf = float(KMEANS_Q_SCALE)
    iu = np.triu_indices(dim)

    def gen(batches):
        for pdf in batches:
            vecs = [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]
                    if v is not None and len(v) == dim]
            if not vecs:
                continue
            x = np.vstack(vecs)
            n = len(x)
            acc2 = np.zeros((dim, dim), dtype=np.int64)
            for s in range(0, n, 256):
                xb = x[s:s + 256]
                prod = np.einsum("bi,bj->bij", xb, xb) * qf
                # width = n: acc2 accumulates EVERY batch row into one
                # int64 cell across the block loop
                _guard_q_magnitude(prod, "embedding_moments_exact", rows=n)
                acc2 += np.floor(prod).astype(np.int64).sum(axis=0)
            x1 = x * qf
            _guard_q_magnitude(x1, "embedding_moments_exact", rows=n)
            acc1 = np.floor(x1).astype(np.int64).sum(axis=0)
            yield pd.DataFrame({
                "i": np.concatenate([iu[0], np.arange(dim)]).astype(np.int32),
                "j": np.concatenate([iu[1],
                                     np.full(dim, -1)]).astype(np.int32),
                "n": np.int64(n),
                "s": np.concatenate([acc2[iu], acc1]),
            })

    part = df.select(vec_col).mapInPandas(gen, "i int, j int, n long, s long")
    return part.groupBy("i", "j").agg(F.sum("n").alias("n"),
                                      F.sum("s").alias("sum_q"))


def covariance_exact(df: DataFrame, vec_col: str = "embedding",
                     dim: int = VECTOR_DIM) -> DataFrame:
    """Upper-triangle covariance cells
    ``(i, j, n, sum_q, sum_qi, sum_qj, cov)`` with
    ``cov = sum_q/(n·Q) − (sum_qi/(n·Q))·(sum_qj/(n·Q))``, with
    ``Q = KMEANS_Q_SCALE`` — every float op a fixed-order function of
    exact integers, so the cell values (not just their rounding) are
    engine-portable.

    Single-pass: the Arrow kernel carries each cell's two first-moment
    partials ON the triangle row (d² extra BIGINTs per batch — codebook
    noise), so the plan is ONE kernel pass + ONE (i, j) reduce + a
    projection. The naive compose-from-:func:`embedding_moments_exact`
    shape needed two self-joins, and Catalyst does not dedupe the common
    kernel subplan — it would re-run the O(n·d²) scan kernel THREE times
    (caught by the plan pin, tests/test_plans.py)."""
    qf = float(KMEANS_Q_SCALE)
    iu = np.triu_indices(dim)

    def gen(batches):
        for pdf in batches:
            vecs = [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]
                    if v is not None and len(v) == dim]
            if not vecs:
                continue
            x = np.vstack(vecs)
            n = len(x)
            acc2 = np.zeros((dim, dim), dtype=np.int64)
            for s in range(0, n, 256):
                xb = x[s:s + 256]
                prod = np.einsum("bi,bj->bij", xb, xb) * qf
                # width = n: acc2 accumulates EVERY batch row into one
                # int64 cell across the block loop
                _guard_q_magnitude(prod, "covariance_exact", rows=n)
                acc2 += np.floor(prod).astype(np.int64).sum(axis=0)
            x1 = x * qf
            _guard_q_magnitude(x1, "covariance_exact", rows=n)
            acc1 = np.floor(x1).astype(np.int64).sum(axis=0)
            yield pd.DataFrame({
                "i": iu[0].astype(np.int32), "j": iu[1].astype(np.int32),
                "n": np.int64(n), "s": acc2[iu],
                "si": acc1[iu[0]], "sj": acc1[iu[1]],
            })

    part = df.select(vec_col).mapInPandas(
        gen, "i int, j int, n long, s long, si long, sj long")
    agg = (part.groupBy("i", "j")
           .agg(F.sum("n").alias("n"), F.sum("s").alias("sum_q"),
                F.sum("si").alias("sum_qi"), F.sum("sj").alias("sum_qj")))
    denom = F.col("n") * F.lit(qf)
    return agg.select("i", "j", "n", "sum_q", "sum_qi", "sum_qj",
                      (F.col("sum_q").cast("double") / denom
                       - (F.col("sum_qi").cast("double") / denom)
                       * (F.col("sum_qj").cast("double") / denom))
                      .alias("cov"))


def fit_pca_exact(df: DataFrame, vec_col: str = "embedding",
                  n_components: int = 8, dim: int = VECTOR_DIM) -> dict:
    """PCA fit over the FULL corpus via the exact distributed moment table
    (not a driver sample): collect the d(d+1)/2 + d moment cells, build
    the covariance in numpy, ``eigh``, keep the top ``n_components``.

    Byte-stable end-to-end (unit-pinned): the moment table is exact
    integers under any layout, the eigendecomposition runs on the driver
    from an identical matrix, and each component's sign is fixed by
    convention (the largest-|coordinate| entry is made positive; ties →
    the lowest index), so two fits of a relaid-out corpus return the
    identical model. Whitening/rotation before cosine dedup or PQ (OPQ-ish
    preprocessing) needs exactly this kind of reproducibility: at 100 TB
    the fit is one scan with a codebook-sized shuffle, and a model refit
    after a lossless relayout is guaranteed to be a no-op.

    Returns ``{"mean", "components" (n_components×dim, row-major),
    "eigvals", "n"}``."""
    rows = embedding_moments_exact(df, vec_col, dim).collect()
    if not rows:
        raise ValueError("fit_pca_exact: no non-null vectors to fit on")
    qf = float(KMEANS_Q_SCALE)
    n = rows[0]["n"]
    s1 = np.zeros(dim)
    s2 = np.zeros((dim, dim))
    for r in rows:
        if r["j"] == -1:
            s1[r["i"]] = r["sum_q"]
        else:
            s2[r["i"], r["j"]] = r["sum_q"]
            s2[r["j"], r["i"]] = r["sum_q"]
    mu = s1 / (n * qf)
    cov = s2 / (n * qf) - np.outer(mu, mu)
    w, v = np.linalg.eigh(cov)          # ascending eigenvalues
    order = np.argsort(-w, kind="stable")[:n_components]
    comps = []
    for idx in order:
        c = v[:, idx]
        pivot = int(np.argmax(np.abs(c)))  # first max wins: deterministic
        if c[pivot] < 0:
            c = -c
        comps.append([float(x) for x in c])
    return {"mean": [float(x) for x in mu],
            "components": comps,
            "eigvals": [float(w[idx]) for idx in order],
            "n": int(n)}


def planted_projection(seed: int, n_components: int,
                       dim: int) -> dict:
    """Seeded deterministic PCA-shaped model — mean + ORTHONORMAL
    components via Gram-Schmidt over seeded Gaussians (the
    ``planted_centroids`` convention): ONE generator shared by the Spark
    fold-projection expression and the DuckDB oracle builder, so a driver
    row can value-check the projection machinery without the
    data-dependence of a real eigendecomposition (eigvecs of a real fit
    cannot be oracle literals — they depend on the corpus)."""
    if n_components > dim:
        raise ValueError(
            f"planted_projection: n_components {n_components} > dim {dim} "
            "— no orthonormal basis exists (the Gram-Schmidt loop would "
            "reject every draw and never terminate)")
    rnd = random.Random(seed)
    basis: list[np.ndarray] = []
    while len(basis) < n_components:
        v = np.array([rnd.gauss(0.0, 1.0) for _ in range(dim)])
        for u in basis:
            v = v - np.dot(v, u) * u
        nv = np.linalg.norm(v)
        if nv > 1e-6:
            basis.append(v / nv)
    mean = [rnd.gauss(0.0, 0.1) for _ in range(dim)]
    return {"mean": [float(x) for x in mean],
            "components": [[float(x) for x in u] for u in basis],
            "eigvals": [1.0] * n_components, "n": 0}


def project_fold(df: DataFrame, model: dict, id_col: str = "vec_id",
                 vec_col: str = "embedding", *, q_scale: int) -> DataFrame:
    """Expression-form projection twin of :func:`apply_pca` for
    oracle-checkable configurations. Output long-form — one row per
    (vector, component). NULL/wrong-length vectors are dropped (the
    :func:`apply_pca` NULL-out convention has no row to carry here).
    Production projection stays on the BLAS kernel; this is the
    verification twin.

    Exact fixed-point: per element ``q_i = floor((x_i−μ_i)·w_ki·q_scale)``
    (one deterministic IEEE product per term, portable), summed as BIGINT
    (associativity-free) → ``(id, pos, sum_q, coord=sum_q/q_scale)``.
    BIT-equal across engines with zero tolerance, the
    :func:`kmeans_update_exact` convention — a float fold would not be:
    DuckDB reassociates long float ``+`` chains by up to ~20 ulp.
    Quantization error ≤ dim/q_scale ≈ 6e-5 at dim 64, q_scale 2^20."""
    mu = model["mean"]
    comps = model["components"]
    dim = len(mu)
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    mu_lit = F.array(*[F.lit(float(x)) for x in mu])
    centered = F.zip_with(v, mu_lit, lambda a, b: a - b)
    clean = df.filter(F.col(vec_col).isNotNull()
                      & (F.size(F.col(vec_col)) == dim))
    qf = F.lit(float(q_scale))
    scores = []
    for w in comps:
        wl = F.array(*[F.lit(float(x)) for x in w])
        terms = F.zip_with(centered, wl, lambda a, b: a * b)
        scores.append(F.aggregate(
            F.transform(terms, lambda t: F.floor(t * qf)),
            F.lit(0).cast("long"), lambda acc, x: acc + x))
    # ONE scan: all component folds in a single projection, then a
    # posexplode over the k scores (k rows out per vector)
    staged = clean.select(F.col(id_col), F.array(*scores).alias("__ys"))
    out = staged.select(F.col(id_col),
                        F.posexplode(F.col("__ys")).alias("pos", "sum_q"))
    return out.withColumn("coord", F.col("sum_q").cast("double") / qf)


def apply_pca(df: DataFrame, model: dict, vec_col: str = "embedding",
              out_col: str = "pca") -> DataFrame:
    """Map-only PCA projection: ``y = (x − mean) @ componentsᵀ``.
    Arrow-batched matmul per batch, model broadcast in the
    closure (KB-scale); embarrassingly parallel over a 100 TB scan — no
    shuffle, no collect. NULL/wrong-length vectors project to NULL."""
    mu = np.asarray(model["mean"], dtype=np.float64)
    wmat = np.asarray(model["components"], dtype=np.float64).T  # dim×k
    dim = mu.shape[0]

    @F.pandas_udf("array<double>")
    def proj(emb: pd.Series) -> pd.Series:
        out = []
        ok_rows = [v for v in emb if v is not None and len(v) == dim]
        if ok_rows:
            y = (np.vstack([np.asarray(v, dtype=np.float64)
                            for v in ok_rows]) - mu) @ wmat
        k = 0
        for v in emb:
            if v is not None and len(v) == dim:
                out.append([float(x) for x in y[k]])
                k += 1
            else:
                out.append(None)
        return pd.Series(out)

    return df.withColumn(out_col, proj(F.col(vec_col)))


#: canonical column set of a persisted signature index (see
#: :func:`embedding_signature_index`)
_SIG_INDEX_COLS = ("table", "bucket", "keep_id", "keep_vec", "keep_inv",
                   "planes", "tables")


def embedding_signature_index(df: DataFrame, id_col: str = "vec_id",
                              vec_col: str = "embedding", n_planes: int = 16,
                              n_tables: int = 4,
                              dim: int = VECTOR_DIM) -> DataFrame:
    """The persistable SEMANTIC dedup index — the embedding twin of
    ``dedup.doc_fingerprints``: one row per (keeper, LSH table) with
    ``(table, bucket, keep_id, keep_vec)``, where ``keep_vec`` is the
    keeper's double-cast vector carried ON the row so a future batch's
    candidate join needs no second join against a vector store. Stored
    parquet-bucketed by ``(table, bucket)``, tomorrow's ingest joins it
    exchange-free on the index side.

    Trade documented: carrying the vector per table duplicates it
    ``n_tables``× (at 100 TB: 4× of the keeper vectors — which are the
    post-dedup minority). The alternative — a separate ``(keep_id, vec)``
    store — saves that storage but pays a keeper-keyed shuffle join per
    ingest; this layout spends disk to keep the daily path map-only +
    one bucket-aligned join. ``keep_inv`` (the keeper's inverse norm) is
    precomputed at build so ingest verification never re-evaluates the
    norm chain, and the LSH config rides every row as constant
    ``(planes, tables)`` columns (RLE ≈ free in parquet) so
    ``incremental_semantic_dedup`` can REFUSE a config-mismatched index
    instead of silently matching nothing. Built
    map-only: signatures and carried columns come from one scan, no
    join-back. The signatures are the bit-portable fold of
    ``_multi_table_buckets`` (a NULL or wrong-length vector buckets 0 in
    every table)."""
    staged = with_vec_inv(df, vec_col, "keep_vec", "keep_inv", dim)
    sigs = _multi_table_buckets(staged, id_col, vec_col, n_planes, n_tables,
                                dim, carry=("keep_vec", "keep_inv"))
    out = sigs.select(
        F.col(id_col).alias("keep_id"), "table", "bucket", "keep_vec",
        "keep_inv", F.lit(n_planes).alias("planes"),
        F.lit(n_tables).alias("tables"))
    # The builder KNOWS the config — attach it as a manifest, so a
    # build→ingest handoff in one session takes the manifest fast path
    # instead of a full materialization of this relation just to read two
    # constant columns (the fallback distinct scan is a whole extra
    # fold-signature pass per ingest). Derived frames
    # (filters, the updated-index union) drop the attribute and fall back
    # to the scan — mixed-config detection is preserved.
    out._index_manifest = {"planes": n_planes, "tables": n_tables}
    return out


def incremental_semantic_dedup(batch: DataFrame, index: DataFrame,
                               threshold: float = 0.95,
                               id_col: str = "vec_id",
                               vec_col: str = "embedding",
                               n_planes: int = 16, n_tables: int = 4,
                               dim: int = VECTOR_DIM
                               ) -> tuple[DataFrame, DataFrame]:
    """Incremental SEMANTIC dedup — the daily-ingest form of embedding
    near-dup removal, mirroring ``dedup.incremental_exact_dedup``'s
    contract: returns ``(fresh, updated_index)`` where ``fresh`` is the
    batch minus (a) within-batch near-dup cluster non-keepers and (b) rows
    within ``threshold`` cosine of ANY indexed keeper sharing an LSH
    bucket — PRESERVING every batch column, like the exact form — and
    ``updated_index`` is the union index to persist for the next batch.
    The historical corpus participates only through its signature index —
    it is never rescanned. ``fresh`` comes back engine-pinned
    (``caching.pin``) because the canonical sink writes it and then
    derives the updated index from it. A long-running caller — a
    foreachBatch stream especially — MUST call
    ``caching.release_engine_pins()`` (or wrap the batch in
    ``caching.engine_pin_scope()``) after materializing both outputs:
    each call pins two batch-sized relations, and an unreleased stream
    accumulates one pinned full-payload batch per micro-batch (the
    streaming e2e test is the reference pattern).

    Plan: ONE pinned signature pass over the batch — CARRYING each row's
    double vector and inverse norm (the disk-for-stages trade
    the index makes with ``keep_vec``) — feeds the within-batch self-join
    and the cross-batch index join (the index update re-derives
    signatures map-only over the small ``fresh`` set — cheaper than a
    join-back against the pinned relation); within-batch pairs =
    bucket-equi-join with the exact verify fused into the join filter
    (identical ``_exact_verify_tail`` expression, unrounded
    ``>= threshold``) → narrow pair distinct → connected components
    (driver union-find under the budget, like prep) → min-id keeper;
    cross-batch = candidate (row, keeper) pairs from the (table, bucket)
    equi-join, deduplicated before the exact cosine against the carried
    ``keep_vec``/``keep_inv`` — no verify join-backs anywhere. Recall follows the multi-table LSH config exactly like
    the batch path (identical vectors collide in EVERY table —
    deterministic recall 1.0 for exact copies; near-copies at the
    ``n_planes``/``n_tables`` trade). Order caveat shared with every
    persisted-index dedup: a batch row dropping against an indexed keeper
    is not re-examined when a later batch would have clustered them
    differently — ingest order is part of the semantics.

    Verification: the multi-table signatures are the bit-portable fold
    of ``_multi_table_buckets`` (the ``embedding_lsh_near_dup`` parity
    argument), so the WHOLE cross-batch keeper decision is hash-verified
    by the driver: the ``incr_fresh``/``index`` grains of the
    ``embedding_semantic_dedup`` row (queries/vectors.py) recompute
    signatures, buckets, within-batch closure, and the carried-vector
    cosine verify in DuckDB — replayed-copy drop, zero-tail-mutant
    threshold decision, and sign-flip survival end-to-end."""
    from ..caching import pin
    from .dedup import dedup_clusters

    # refuse a config-mismatched index: signatures from a different
    # (n_planes, n_tables) silently match ~nothing in the (table, bucket)
    # join and re-admit every indexed duplicate. The
    # config rides the index rows as constant columns; the probe is one
    # KB-scale limit(1) job per (daily) ingest.
    missing = [c for c in _SIG_INDEX_COLS if c not in index.columns]
    if missing:
        raise ValueError(
            f"incremental_semantic_dedup: index is missing columns "
            f"{missing} — build it with embedding_signature_index")
    # config check: manifest fast path (metadata-only) when the index came
    # from embedding_signature_index, else the distinct-scan fallback.
    # Distinct, not limit(1): a heterogeneous
    # index (segments unioned from different configs) must be refused
    # too — one matching sample row would let the mismatched segment
    # silently match nothing. Column-pruned scan of two
    # constant RLE columns — cheap.
    manifest = getattr(index, "_index_manifest", None)
    if manifest is not None:
        got = (manifest.get("planes"), manifest.get("tables"))
        if got != (n_planes, n_tables):
            raise ValueError(
                f"incremental_semantic_dedup: index manifest says "
                f"(n_planes, n_tables)={got} but this call uses "
                f"({n_planes}, {n_tables}) — signatures would not match")
    else:
        cfg = [(r["planes"], r["tables"])
               for r in index.select("planes", "tables").distinct().collect()]
        if len(cfg) > 1:
            raise ValueError(
                f"incremental_semantic_dedup: index mixes LSH configs "
                f"{sorted(cfg)}"
                " — rebuild the segments under one (n_planes, n_tables)")
        if cfg and cfg[0] != (n_planes, n_tables):
            raise ValueError(
                f"incremental_semantic_dedup: index was built with "
                f"(n_planes, n_tables)={cfg[0]} but this call uses "
                f"({n_planes}, {n_tables}) — signatures would not match")

    # ONE staged pass: signatures AND the (v, inv-norm) verify columns
    # ride the same exploded relation: with narrow signatures every
    # verify would join back against a separate (id, v, i) relation,
    # costing two extra join stages within-batch and one cross-batch. The
    # carried vectors widen the batch's ONE signature exchange by n_tables×
    # the vector payload — the same disk-for-stages trade the index itself
    # makes with keep_vec (module notes there); the batch is the daily
    # small side, and the join-backs it replaces shuffled comparable
    # bytes across three extra exchanges.
    staged = with_vec_inv(batch.select(F.col(id_col), F.col(vec_col)),
                          vec_col, "v", "i", dim)
    sigs = pin(_multi_table_buckets(
        staged, id_col, "v", n_planes, n_tables, dim, carry=("v", "i")))

    # (a) within-batch: bucket join with the exact verify FUSED into the
    # join filter (identical _exact_verify_tail expression — dot·ia·ib,
    # unrounded >= threshold — so the surviving pair set is unchanged;
    # the narrow distinct afterwards dedups multi-table collisions, and
    # a pair's cosine is evaluated at most n_tables times instead of
    # paying two verify joins) -> components. driver_budget: daily-batch
    # pair lists are small; the exact driver union-find skips the
    # iterative machinery's fixed multi-job overhead (the same
    # composition choice as prepare_training_corpus).
    sa = sigs.select(F.col(id_col).alias("id_a"), "table", "bucket",
                     F.col("v").alias("va"), F.col("i").alias("ia"))
    sb = sigs.select(F.col(id_col).alias("id_b"), "table", "bucket",
                     F.col("v").alias("vb"), F.col("i").alias("ib"))
    cosab = _dot(F.col("va"), F.col("vb"), dim) * F.col("ia") * F.col("ib")
    pairs = (sa.join(sb, ["table", "bucket"])
             .filter((F.col("id_a") < F.col("id_b")) & (cosab >= threshold))
             .select("id_a", "id_b").distinct())
    comp = dedup_clusters(pairs, driver_budget=1_000_000)
    drops = (comp.filter(F.col("member_id") != F.col("cluster_id"))
             .select(F.col("member_id").alias(id_col)))
    # no broadcast hints on drops/hit_ids: both are batch-derived with no
    # size bound (a batch that heavily duplicates the index makes hit_ids
    # approach batch size) — let AQE pick, like incremental_exact_dedup
    survivors = batch.join(drops, id_col, "left_anti")

    # (b) cross-batch: survivors vs indexed keepers sharing a bucket; the
    # keeper's inverse norm is precomputed on the index row and the
    # batch row's (v, i) already ride its signature rows — no join-back
    cos = (_dot(F.col("v"), F.col("keep_vec"), dim) * F.col("i")
           * F.col("keep_inv"))
    surv_sigs = sigs.join(survivors.select(id_col), id_col, "left_semi")
    xcand = (surv_sigs.join(index, ["table", "bucket"])
             .select(F.col(id_col), "keep_id", "keep_vec", "keep_inv",
                     "v", "i")
             .dropDuplicates([id_col, "keep_id"]))
    hit_ids = (xcand.filter(cos >= threshold)
               .select(id_col).distinct())
    # pinned: fresh feeds the caller's write AND the index update below —
    # unpinned, the documented write-fresh-then-write-index pattern would
    # run the cross-batch scoring twice
    fresh = pin(survivors.join(hit_ids, id_col, "left_anti"))

    # (c) index update: the PINNED signature relation already carries
    # every fresh keeper's (table, bucket, v, i) — semi-join it to the
    # fresh ids instead of re-running a second signature pass over the
    # fresh texts (the semi-join reads the cache). `v`/`i` are
    # with_vec_inv's double-cast vector and inverse norm — exactly what
    # embedding_signature_index would recompute as keep_vec/keep_inv.
    updated = index.select(*_SIG_INDEX_COLS).unionByName(
        sigs.join(fresh.select(id_col), id_col, "left_semi")
        .select(F.col("table"), F.col("bucket"),
                F.col(id_col).alias("keep_id"),
                F.col("v").alias("keep_vec"), F.col("i").alias("keep_inv"),
                F.lit(n_planes).alias("planes"),
                F.lit(n_tables).alias("tables")))
    return fresh, updated
