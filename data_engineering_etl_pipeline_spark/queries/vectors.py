"""Similarity-search queries over the ``embeddings`` table (SURVEY.md §2.11):
brute-force cosine top-k, exact/semantic near-dup, and the bucketed
hyperplane-LSH near-dup path, ALL oracle-checked (the LSH oracle
rebuilds the seeded plane constants and reproduces every signature bit
exactly, so even the "approximate" path is value-verified at this config).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..extensions.similarity import (_dot, cosine_topk, gemm_cosine_topk,
                                     ivf_cosine_topk)
from ..io import load_table
from . import register


# Shared exact-top-k SQL: both members of the merged row below must
# reproduce exactly this ranking.
_TOPK_SQL = """
      SELECT query_id, vec_id, cosine, rank FROM (
        SELECT query_id, vec_id, cosine,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cosine DESC, vec_id ASC) AS INT) AS rank
        FROM scored
      ) WHERE rank <= 5
"""


@register(
    "embedding_topk_exact",
    oracle="""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
      FROM embeddings
    ), n AS (
      SELECT vec_id, ve,
             CASE WHEN isfinite(list_dot_product(ve, ve))
                  AND sqrt(list_dot_product(ve, ve)) > 0
                  THEN 1.0 / sqrt(list_dot_product(ve, ve)) END AS inv
      FROM v
    ), q AS (
      SELECT vec_id AS query_id, ve AS qe, inv AS qinv FROM n WHERE vec_id < 10
    ), scored AS (
      SELECT q.query_id, b.vec_id,
             ROUND(list_dot_product(b.ve, q.qe) * b.inv * q.qinv, 6) AS cosine
      FROM n b CROSS JOIN q
      WHERE b.vec_id <> q.query_id
    )
    SELECT 'brute' AS method, * FROM (""" + _TOPK_SQL + """)
    UNION ALL
    SELECT 'ivf_full' AS method, * FROM (""" + _TOPK_SQL + """)
    UNION ALL
    SELECT 'gemm' AS method, * FROM (""" + _TOPK_SQL + """)
    """,
)
def embedding_topk_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 for 10 query vectors by THREE independent machines
    under one oracle:

    - ``brute``: broadcast the query side, fused codegen'd dot products,
      round-before-rank so float ties break deterministically by id;
    - ``ivf_full``: the full IVF machinery (k-means codebook fit → map-only
      assignment → inverted-list equi-join → exact cosine rank) probed at
      nprobe = n_centroids, which makes the candidate set the whole corpus
      and the result EXACTLY brute force — a deterministic oracle for the
      approximate path's plumbing. ``embedding_ivf_topk`` is the production
      nprobe<K configuration (recall measured in
      tests/test_similarity_recall.py);
    - ``gemm``: the 100 TB exact top-k plan — Arrow-batched BLAS scoring
      with per-batch candidate pruning, so the ranking shuffle carries
      O(batches·q·k) rows instead of n·q, then the exact codegen re-rank
      (``similarity.gemm_cosine_topk``; exactness argument in its
      docstring).

    The three legs must agree with the SQL ranking AND each other
    row-for-row — a divergence in any machine breaks the hash."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = (emb.filter(F.col("vec_id") < 10)
         .select(F.col("vec_id").alias("query_id"), "embedding"))
    brute = cosine_topk(emb, q, k=5, id_col="vec_id", vec_col="embedding",
                        query_id_col="query_id")
    ivf = ivf_cosine_topk(emb, q, k=5, n_centroids=16, nprobe=16)
    gemm = gemm_cosine_topk(emb, q, k=5, id_col="vec_id",
                            vec_col="embedding", query_id_col="query_id")
    return (brute.withColumn("method", F.lit("brute"))
            .unionByName(ivf.withColumn("method", F.lit("ivf_full")))
            .unionByName(gemm.withColumn("method", F.lit("gemm")))
            .select("method", "query_id", "vec_id", "cosine",
                    F.col("rank").cast("int").alias("rank")))


@register(
    "embedding_near_dup",
    oracle="""
    WITH doubled AS (
      SELECT vec_id, embedding FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000 AS vec_id, embedding
      FROM embeddings WHERE vec_id % 7 = 0
    ), v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
      FROM doubled
    ), n AS (
      SELECT vec_id, ve,
             CASE WHEN isfinite(list_dot_product(ve, ve))
                  AND sqrt(list_dot_product(ve, ve)) > 0
                  THEN 1.0 / sqrt(list_dot_product(ve, ve)) END AS inv
      FROM v
    ), lv AS (
      SELECT label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
      FROM embeddings
    )
    SELECT 'pairs' AS stage, a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_dot_product(a.ve, b.ve) * a.inv * b.inv, 6) AS cosine,
           CAST(NULL AS BIGINT) AS label, CAST(NULL AS BIGINT) AS n,
           CAST(NULL AS DOUBLE) AS avg_norm, CAST(NULL AS DOUBLE) AS min_dim0,
           CAST(NULL AS DOUBLE) AS max_dim0
    FROM n a JOIN n b ON a.vec_id < b.vec_id
    WHERE list_dot_product(a.ve, b.ve) * a.inv * b.inv >= 0.95
    UNION ALL
    SELECT 'pairs_blocked' AS stage, a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_dot_product(a.ve, b.ve) * a.inv * b.inv, 6) AS cosine,
           CAST(NULL AS BIGINT) AS label, CAST(NULL AS BIGINT) AS n,
           CAST(NULL AS DOUBLE) AS avg_norm, CAST(NULL AS DOUBLE) AS min_dim0,
           CAST(NULL AS DOUBLE) AS max_dim0
    FROM n a JOIN n b ON a.vec_id < b.vec_id
    WHERE list_dot_product(a.ve, b.ve) * a.inv * b.inv >= 0.95
    UNION ALL
    SELECT 'xpairs' AS stage, c.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_dot_product(c.ve, b.ve) * c.inv * b.inv, 6) AS cosine,
           CAST(NULL AS BIGINT) AS label, CAST(NULL AS BIGINT) AS n,
           CAST(NULL AS DOUBLE) AS avg_norm, CAST(NULL AS DOUBLE) AS min_dim0,
           CAST(NULL AS DOUBLE) AS max_dim0
    FROM n c JOIN (
      SELECT vec_id, ve,
             CASE WHEN isfinite(list_dot_product(ve, ve))
                  AND sqrt(list_dot_product(ve, ve)) > 0
                  THEN 1.0 / sqrt(list_dot_product(ve, ve)) END AS inv
      FROM (SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE) * 2.0)
                     AS ve
            FROM embeddings WHERE vec_id % 17 = 0)
    ) b ON list_dot_product(c.ve, b.ve) * c.inv * b.inv >= 0.95
    UNION ALL
    SELECT 'label_stats' AS stage, CAST(NULL AS BIGINT) AS id_a,
           CAST(NULL AS BIGINT) AS id_b, CAST(NULL AS DOUBLE) AS cosine,
           CAST(label AS BIGINT) AS label, COUNT(*) AS n,
           ROUND(AVG(sqrt(list_dot_product(ve, ve))), 4) AS avg_norm,
           ROUND(MIN(ve[1]), 6) AS min_dim0,
           ROUND(MAX(ve[1]), 6) AS max_dim0
    FROM lv GROUP BY label
    """,
)
def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.11 embedding-cosine near-dup pairs (threshold 0.95) + array-column
    profiling in one stage-tagged row (every leg fully hash-checked).

    ``pairs``: deterministic duplicates injected (every 7th vector
    re-appended under a shifted id — same recipe as doc_exact_dedup) so
    the operator has work at every scale factor. Exact all-pairs here (the
    oracle shape), by TWO independent machines that must both match the SQL
    pair set: the broadcast-GEMM path and the fully distributed
    block-pair GEMM (``pairs_blocked``, ``n_blocks=4``), which collects
    nothing to the driver and is the exact-semantics plan past the
    broadcast budget. The recall-traded 100 TB candidate generator
    (hyperplane-LSH bucketing) has its own oracle-checked row,
    ``embedding_lsh_near_dup``.

    ``xpairs``: the BIPARTITE machine — ``cosine_cross_pairs`` between the
    doubled corpus and a benchmark of every-17th vectors scaled ×2
    (scaling must cancel through the inverse norms, proving
    normalization) — the exact pair engine for embedding-space
    decontamination against a benchmark.

    ``label_stats``: per-label vector counts, mean L2 norm, and
    first-dimension extrema — the fused-array-expression (no UDF) pattern."""
    from ..caching import pin
    from ..extensions.similarity import (cosine_cross_pairs,
                                         cosine_near_dup_pairs)

    emb = load_table(spark, sf_dir, "embeddings")
    # pinned: the doubled relation feeds FOUR pair machines, several with
    # multiple actions of their own (probe count, toPandas collect, scan)
    # — uncached each would re-run the union+scan; engine pin, released by
    # bench/driver via caching.release_engine_pins like every engine cache
    doubled = pin(emb.select("vec_id", "embedding").unionByName(
        emb.filter(F.col("vec_id") % 7 == 0)
        .select("vec_id", "embedding")
        .withColumn("vec_id", F.col("vec_id") + 1000000)))
    pairs = (cosine_near_dup_pairs(doubled, threshold=0.95)
             .select(F.lit("pairs").alias("stage"), "id_a", "id_b", "cosine"))
    blocked = (cosine_near_dup_pairs(doubled, threshold=0.95, n_blocks=4)
               .select(F.lit("pairs_blocked").alias("stage"),
                       "id_a", "id_b", "cosine"))
    bench = (emb.filter(F.col("vec_id") % 17 == 0)
             .select(F.col("vec_id").alias("bench_id"),
                     F.transform(F.col("embedding"),
                                 lambda x: x * F.lit(2.0)).alias("embedding")))
    xpairs = (cosine_cross_pairs(doubled, bench, threshold=0.95)
              .select(F.lit("xpairs").alias("stage"),
                      F.col("vec_id").alias("id_a"),
                      F.col("bench_id").alias("id_b"), "cosine"))
    pairs = pairs.unionByName(blocked).unionByName(xpairs)

    lv = emb.withColumn(
        "__v", F.transform(F.col("embedding"), lambda x: x.cast("double")))
    v = F.col("__v")
    stats = (
        lv.select("label", F.sqrt(_dot(v, v)).alias("nrm"),
                  F.element_at(v, 1).alias("dim0"))
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.avg("nrm"), 4).alias("avg_norm"),
             F.round(F.min("dim0"), 6).alias("min_dim0"),
             F.round(F.max("dim0"), 6).alias("max_dim0"))
        .select(F.lit("label_stats").alias("stage"),
                F.col("label").cast("long").alias("label"), "n",
                "avg_norm", "min_dim0", "max_dim0"))
    return pairs.unionByName(stats, allowMissingColumns=True)


_ISD_PLANES, _ISD_TABLES, _ISD_THRESHOLD, _ISD_TAIL = 8, 2, 0.94, 8


def _semantic_incr_oracle() -> str:
    """DuckDB twin of the FULL embedding_semantic_dedup row — the batch
    ``drops`` leg (exact all-pairs SemDeDup at n_clusters=1, the
    original oracle) PLUS the incremental legs,
    recomputed from raw embeddings: per-table fold signatures from the
    SAME ``hyperplanes(100 + t)`` constants the Spark fold expressions
    embed (signs only — the ``_lsh_bucket_oracle`` parity argument),
    within-batch bucket-candidate pairs → exact cosine verify →
    recursive-closure keeper resolution, cross-batch survivor-vs-index
    bucket join → carried-vector cosine ``>= threshold`` (unrounded,
    the verify-tail convention), so the keeper DECISION is hash-verified.
    Day-2 ingest: replayed exact copies (every
    7th, id+1e6 — cosine 1, must drop), zero-tail mutants (every 5th,
    id+2e6, last {tail} of {dim} components zeroed — cosine spreads
    around the 0.94 threshold, measured min decision margin ≥ 1e-4 at
    both driver SFs, so the per-row decision genuinely splits), and
    sign-flipped vectors (every 9th, id+3e6 — cosine −1, must
    survive)."""
    from ..extensions.similarity import hyperplanes

    dim, keep = 64, 64 - _ISD_TAIL
    sig_cte = []
    for src, pre in (("day2", "b"), ("vone", "i")):
        for t in range(_ISD_TABLES):
            planes = hyperplanes(100 + t, _ISD_PLANES, dim)
            dot_cols = ",\n        ".join(
                "(" + " + ".join(f"ve[{j + 1}]*{planes[i][j]!r}"
                                 for j in range(dim)) + f") AS d{i}"
                for i in range(_ISD_PLANES))
            sig = " + ".join(
                f"(CASE WHEN d{i} >= 0 THEN CAST({1 << i} AS BIGINT) "
                f"ELSE CAST(0 AS BIGINT) END)"
                for i in range(_ISD_PLANES))
            sig_cte.append(
                f"{pre}d{t} AS (SELECT vec_id,\n        {dot_cols}\n"
                f"      FROM {src})")
            sig_cte.append(
                f"{pre}s{t} AS (SELECT vec_id, CAST({t} AS INT) AS tbl, "
                f"{sig} AS bucket FROM {pre}d{t})")
    sig_ctes = ",\n    ".join(sig_cte)
    zeros = ", ".join("CAST(0 AS DOUBLE)" for _ in range(_ISD_TAIL))
    t = _ISD_THRESHOLD
    return f"""
    WITH RECURSIVE doubled AS (
      SELECT vec_id, embedding FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000 AS vec_id, embedding
      FROM embeddings WHERE vec_id % 7 = 0
    ), v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
      FROM doubled
    ), n AS (
      SELECT vec_id, ve,
             CASE WHEN isfinite(list_dot_product(ve, ve))
                  AND sqrt(list_dot_product(ve, ve)) > 0
                  THEN 1.0 / sqrt(list_dot_product(ve, ve)) END AS inv
      FROM v
    ), pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM n a JOIN n b ON a.vec_id < b.vec_id
      WHERE list_dot_product(a.ve, b.ve) * a.inv * b.inv >= 0.95
    ), edges AS (
      SELECT id_a AS s, id_b AS d FROM pairs
      UNION
      SELECT id_b AS s, id_a AS d FROM pairs
    ), reach(s, d) AS (
      SELECT s, d FROM edges
      UNION
      SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s
    ), vone AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
      FROM embeddings
    ), day2 AS (
      SELECT vec_id + 1000000 AS vec_id, ve FROM vone WHERE vec_id % 7 = 0
      UNION ALL
      SELECT vec_id + 2000000 AS vec_id, ve[1:{keep}] || [{zeros}] AS ve
      FROM vone WHERE vec_id % 5 = 0
      UNION ALL
      SELECT vec_id + 3000000 AS vec_id, list_transform(ve, x -> -x) AS ve
      FROM vone WHERE vec_id % 9 = 0
    ), bn AS (
      SELECT vec_id, ve,
             CASE WHEN isfinite(list_dot_product(ve, ve))
                  AND sqrt(list_dot_product(ve, ve)) > 0
                  THEN 1.0 / sqrt(list_dot_product(ve, ve)) END AS inv
      FROM day2
    ), dn AS (
      SELECT vec_id, ve,
             CASE WHEN isfinite(list_dot_product(ve, ve))
                  AND sqrt(list_dot_product(ve, ve)) > 0
                  THEN 1.0 / sqrt(list_dot_product(ve, ve)) END AS inv
      FROM vone
    ),
    {sig_ctes},
    bsig AS (SELECT * FROM bs0 UNION ALL SELECT * FROM bs1),
    isig AS (SELECT * FROM is0 UNION ALL SELECT * FROM is1),
    wcand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM bsig a JOIN bsig b
        ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
    ), wpairs AS (
      SELECT c.id_a, c.id_b
      FROM wcand c
      JOIN bn x ON x.vec_id = c.id_a
      JOIN bn y ON y.vec_id = c.id_b
      WHERE list_dot_product(x.ve, y.ve) * x.inv * y.inv >= {t}
    ), wedges AS (
      SELECT id_a AS s, id_b AS d FROM wpairs
      UNION
      SELECT id_b AS s, id_a AS d FROM wpairs
    ), wreach(s, d) AS (
      SELECT s, d FROM wedges
      UNION
      SELECT r.s, e.d FROM wreach r JOIN wedges e ON r.d = e.s
    ), wdrops AS (
      SELECT s AS vec_id FROM wreach GROUP BY s
      HAVING LEAST(s, MIN(d)) <> s
    ), surv AS (
      SELECT vec_id FROM day2
      WHERE vec_id NOT IN (SELECT vec_id FROM wdrops)
    ), xc AS (
      SELECT DISTINCT sb.vec_id, ib.vec_id AS keep_id
      FROM bsig sb
      JOIN surv s ON s.vec_id = sb.vec_id
      JOIN isig ib ON ib.tbl = sb.tbl AND ib.bucket = sb.bucket
    ), hits AS (
      SELECT DISTINCT x.vec_id
      FROM xc x
      JOIN bn b ON b.vec_id = x.vec_id
      JOIN dn k ON k.vec_id = x.keep_id
      WHERE list_dot_product(b.ve, k.ve) * b.inv * k.inv >= {t}
    ), fresh AS (
      SELECT vec_id FROM surv
      WHERE vec_id NOT IN (SELECT vec_id FROM hits)
    ), idx AS (
      SELECT vec_id FROM vone
      UNION
      SELECT vec_id FROM fresh
    )
    SELECT 'drops' AS stage, s AS vec_id, LEAST(s, MIN(d)) AS keeper_id
    FROM reach GROUP BY s
    HAVING s <> LEAST(s, MIN(d))
    UNION ALL
    SELECT 'incr_fresh' AS stage, vec_id, CAST(NULL AS BIGINT) AS keeper_id
    FROM fresh
    UNION ALL
    SELECT 'index' AS stage, vec_id, CAST(NULL AS BIGINT) AS keeper_id
    FROM idx
    """


@register("embedding_semantic_dedup", oracle=_semantic_incr_oracle())
def embedding_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540) on the driver record:
    k-means-partitioned
    embedding space → within-cluster cosine pairs → connected duplicate
    groups → drop every non-minimum member. Run here at ``n_clusters=1``,
    which provably degenerates to the exact all-pairs answer (one cluster
    = full GEMM) — the same full-probe trick as the IVF leg of
    ``embedding_topk_exact``: the approximate machinery (codebook fit →
    Arrow GEMM candidate generation → exact-verify tail → pointer-jumping
    components → keeper resolution) must reproduce a deterministic SQL
    oracle end-to-end. The production multi-cluster config keeps its
    planted-copy recall unit in tests/test_similarity_recall.py. The
    oracle recomputes the drop set via a recursive transitive closure over
    the exact pair graph (keeper = min reachable id).

    ``incr_fresh``/``index``: the operator a continuous
    embedding pipeline runs DAILY
    (:func:`similarity.incremental_semantic_dedup`, whose fold
    signatures are bit-portable, at 8 planes × 2 tables, threshold 0.94 —
    the ``doc_minhash_lsh`` md5-config precedent applied to the
    semantic family). Day-1 corpus → carried-vector signature index;
    day-2 ingest = replayed exact copies (every 7th, id+1e6 — cosine 1,
    must drop), zero-tail mutants (every 5th, id+2e6, last 8 of 64
    components zeroed — cosine spreads around the threshold, so the
    signature-bucket + carried-vector-cosine decision genuinely splits;
    min decision margin over the full pair superset is GUARDED at ≥ 1e-5
    by tests/test_similarity_recall.py::
    test_semantic_incr_mutant_margin_floor — measured 8.5e-5–3.6e-4
    across the driver SFs, far beyond the ~ulp cross-engine
    chain-reassociation window; a too-close regenerated mutant fails
    there as a data problem, not here as a hash mismatch) and sign-flipped
    vectors (every 9th, id+3e6 — every signature bit flips, cosine −1,
    must survive). ``incr_fresh`` emits the surviving ids; ``index``
    the updated index's distinct keeper ids. The oracle recomputes
    signatures/buckets/closure/cosines from raw embeddings in SQL, so
    the cross-batch keeper decision is value-verified end-to-end."""
    from ..extensions.similarity import (embedding_signature_index,
                                         incremental_semantic_dedup,
                                         semantic_dedup)

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    doubled = emb.unionByName(
        emb.filter(F.col("vec_id") % 7 == 0)
        .withColumn("vec_id", F.col("vec_id") + 1000000))
    nl = F.lit(None).cast("long")
    # cluster_driver_budget: the pair list here is KB-scale, so closure
    # runs the driver union-find (identical output; the distributed
    # pointer-jumping path keeps its own driver row, doc_dedup_clusters,
    # and its bounded-rounds smoke)
    drops = (semantic_dedup(doubled, threshold=0.95, n_clusters=1,
                            cluster_driver_budget=1_000_000)
             .select(F.lit("drops").alias("stage"), "vec_id", "keeper_id"))

    dv = emb.select(
        "vec_id",
        F.transform(F.col("embedding"),
                    lambda x: x.cast("double")).alias("embedding"))
    keep = 64 - _ISD_TAIL
    day2 = (dv.filter(F.col("vec_id") % 7 == 0)
            .withColumn("vec_id", F.col("vec_id") + 1000000)
            .unionByName(
                dv.filter(F.col("vec_id") % 5 == 0)
                .withColumn("vec_id", F.col("vec_id") + 2000000)
                .withColumn("embedding", F.concat(
                    F.slice(F.col("embedding"), 1, keep),
                    F.array(*[F.lit(0.0) for _ in range(_ISD_TAIL)]))))
            .unionByName(
                dv.filter(F.col("vec_id") % 9 == 0)
                .withColumn("vec_id", F.col("vec_id") + 3000000)
                .withColumn("embedding", F.transform(F.col("embedding"),
                                                     lambda x: -x))))
    # pinned: the day-1 index subtree feeds BOTH the cross-batch candidate
    # join and the updated-index union below — unpinned, the fold
    # signature kernel would run twice
    # (the builder's attached manifest makes the ingest config check
    # metadata-only, so the pin materializes once)
    from ..caching import pin

    index = pin(embedding_signature_index(dv, n_planes=_ISD_PLANES,
                                          n_tables=_ISD_TABLES))
    fresh, updated = incremental_semantic_dedup(
        day2, index, threshold=_ISD_THRESHOLD, n_planes=_ISD_PLANES,
        n_tables=_ISD_TABLES)
    incr = fresh.select(F.lit("incr_fresh").alias("stage"), "vec_id",
                        nl.alias("keeper_id"))
    idx = (updated.select("keep_id").distinct()
           .select(F.lit("index").alias("stage"),
                   F.col("keep_id").alias("vec_id"), nl.alias("keeper_id")))
    return drops.unionByName(incr).unionByName(idx)


def _lsh_bucket_oracle(seed: int = 42, n_planes: int = 16, dim: int = 64,
                       threshold: float = 0.95) -> str:
    """DuckDB twin of the bucketed hyperplane-LSH near-dup plan, built from
    the SAME `hyperplanes(seed)` constants the Spark expression embeds.

    Sign-bit parity, precisely (measured; the dots are NOT bit-equal):
    DuckDB REASSOCIATES long float ``+`` chains
    (measured up to ~20 ulp vs strict left-association), so the dot
    VALUES are not cross-engine bit-equal — but this oracle consumes only
    their SIGNS, which agree unless a dot lies within that ulp window of
    zero. With seeded-Gaussian planes and real embeddings that is a
    measure-zero-in-practice event (never observed across rounds); the
    value-exposing oracles (moments, M-steps, the projection stage) use
    the fixed-point integer convention instead, which needs no such
    argument."""
    from ..extensions.similarity import hyperplanes

    planes = hyperplanes(seed, n_planes, dim)
    dot_cols = ",\n        ".join(
        "(" + " + ".join(f"ve[{j + 1}]*{planes[i][j]!r}" for j in range(dim))
        + f") AS d{i}"
        for i in range(n_planes))
    sig_expr = " + ".join(
        f"(CASE WHEN d{i} >= 0 THEN CAST({1 << i} AS BIGINT) "
        f"ELSE CAST(0 AS BIGINT) END)"
        for i in range(n_planes))
    return f"""
    WITH doubled AS (
      SELECT vec_id, embedding FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000 AS vec_id, embedding
      FROM embeddings WHERE vec_id % 7 = 0
    ), v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
      FROM doubled
    ), dots AS (
      SELECT vec_id,
        {dot_cols}
      FROM v
    ), sigs AS (
      SELECT vec_id, {sig_expr} AS sig FROM dots
    ), n AS (
      SELECT vec_id, ve,
             CASE WHEN isfinite(list_dot_product(ve, ve))
                  AND sqrt(list_dot_product(ve, ve)) > 0
                  THEN 1.0 / sqrt(list_dot_product(ve, ve)) END AS inv
      FROM v
    ), cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM sigs a JOIN sigs b ON a.sig = b.sig AND a.vec_id < b.vec_id
    )
    SELECT c.id_a, c.id_b,
           ROUND(list_dot_product(na.ve, nb.ve) * na.inv * nb.inv, 6) AS cosine
    FROM cand c
    JOIN n na ON c.id_a = na.vec_id
    JOIN n nb ON c.id_b = nb.vec_id
    WHERE list_dot_product(na.ve, nb.ve) * na.inv * nb.inv >= {threshold}
    """


_CBS_SEED, _CBS_K, _CBS_QUOTA, _CBS_DIM = 777, 4, 64, 64


def _cluster_sample_oracle() -> str:
    """DuckDB twin of the cluster-balanced curation sample under the
    PLANTED-centroid configuration, built from the SAME
    ``planted_centroids(seed)`` constants the Spark fold expression embeds
    (the ``_lsh_bucket_oracle`` pattern). Assignment parity: both
    engines evaluate the same multiply-add chains and the identical
    ties-to-lower-cid CASE; chain reassociation (~ulps, see
    ``_lsh_bucket_oracle``) could only flip an assignment whose top-2
    dots are within ulps of EQUAL — measure-zero in practice with the
    planted-Gaussian constants. The quota ranking is the engine's
    portable-md5 convention, so ``kept`` agrees row-for-row.

    The ``centroid`` stage reproduces one exact distributed Lloyd
    M-step (``similarity.kmeans_update_exact``) over the SAME assignment:
    per-(cid, pos) member counts, the fixed-point coordinate sum
    ``Σ floor(x·2^20)`` (exact integer arithmetic — order-independent in
    both engines, zero tolerance), and the mean coordinate as one float
    division. This value-checks the scale-path M-step machinery —
    quantize → posexplode → codebook-sized partial-agg reduce — that
    ``kmeans_lloyd_refine`` iterates.

    The ``centroid2`` stage closes the LOOP: iteration-2
    REASSIGNMENT against the iteration-1 means (each mean is one
    CAST/multiply/divide from the exact integer sums — bit-identical
    doubles in both engines, so the fold chains against them are too),
    then a second exact M-step. With both iterations on the record, the
    full E-step → M-step → E-step → M-step cycle of distributed Lloyd is
    value-verified cross-engine with zero tolerance — including the
    data-dependent second assignment, which no planted-constants trick
    could cover."""
    from ..extensions.sampling import quota_rank_sql
    from ..extensions.similarity import KMEANS_Q_SCALE, planted_centroids

    cents = planted_centroids(_CBS_SEED, _CBS_K, _CBS_DIM)
    dot_cols = ",\n        ".join(
        "(" + " + ".join(f"ve[{j + 1}]*{cents[i][j]!r}"
                         for j in range(_CBS_DIM)) + f") AS d{i}"
        for i in range(_CBS_K))
    whens = " ".join(
        "WHEN " + " AND ".join(f"d{j} >= d{m}"
                               for m in range(j + 1, _CBS_K)) + f" THEN {j}"
        for j in range(_CBS_K - 1))
    case = f"CASE {whens} ELSE {_CBS_K - 1} END"
    q = float(KMEANS_Q_SCALE)
    # iteration-2 dot chains against the iteration-1 means (mv lists per
    # cid, pivoted as one-row CTEs) — same left-associated index order as
    # the Spark fold against the collected-and-re-embedded mean literals
    mtabs = ",\n    ".join(
        f"m{j} AS (SELECT list(m ORDER BY pos) AS mv FROM cm "
        f"WHERE cid = {j})" for j in range(_CBS_K))
    dot2 = ",\n        ".join(
        "(" + " + ".join(f"ve[{i + 1}]*m{j}.mv[{i + 1}]"
                         for i in range(_CBS_DIM)) + f") AS d{j}"
        for j in range(_CBS_K))
    cross = " ".join(f"CROSS JOIN m{j}" for j in range(_CBS_K))
    return f"""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
      FROM embeddings
    ), d AS (
      SELECT vec_id, ve IS NULL AS vnull,
        {dot_cols}
      FROM v
    ), a AS (
      -- NULL vectors assign to cid 0 (the Spark fold's explicit
      -- override); without this guard the NULL dots would fall through
      -- every WHEN to the ELSE (cid k-1) and silently diverge — latent
      -- until a fixture carries a NULL embedding
      SELECT vec_id,
             CASE WHEN vnull THEN 0 ELSE {case} END AS cid
      FROM d
    ), r AS (
      SELECT vec_id, cid,
             {quota_rank_sql('vec_id', 'cid', f'cluster-balance-{_CBS_SEED}')} AS rn
      FROM a
    ), g AS (
      SELECT a.cid, gs.pos, v.ve[gs.pos + 1] AS x
      FROM a JOIN v USING (vec_id)
      CROSS JOIN generate_series(0, {_CBS_DIM - 1}) AS gs(pos)
      WHERE v.ve IS NOT NULL AND len(v.ve) = {_CBS_DIM}
    ), cent AS (
      SELECT cid, pos, COUNT(*) AS n_members,
             CAST(SUM(CAST(FLOOR(x * {q!r}) AS BIGINT)) AS BIGINT) AS sum_q
      FROM g GROUP BY cid, pos
    ), cm AS (
      SELECT cid, pos,
             CAST(sum_q AS DOUBLE) / (n_members * {q!r}) AS m
      FROM cent
    ),
    {mtabs},
    d2 AS (
      SELECT v.vec_id,
        {dot2}
      FROM v {cross}
      WHERE v.ve IS NOT NULL AND len(v.ve) = {_CBS_DIM}
    ), a2 AS (
      SELECT vec_id, {case} AS cid FROM d2
    ), g2 AS (
      SELECT a2.cid, gs.pos, v.ve[gs.pos + 1] AS x
      FROM a2 JOIN v USING (vec_id)
      CROSS JOIN generate_series(0, {_CBS_DIM - 1}) AS gs(pos)
    ), cent2 AS (
      SELECT cid, pos, COUNT(*) AS n_members,
             CAST(SUM(CAST(FLOOR(x * {q!r}) AS BIGINT)) AS BIGINT) AS sum_q
      FROM g2 GROUP BY cid, pos
    )
    SELECT 'sample' AS stage, vec_id, cid, rn <= {_CBS_QUOTA} AS kept,
           CAST(NULL AS INT) AS pos, CAST(NULL AS BIGINT) AS n_members,
           CAST(NULL AS BIGINT) AS sum_q, CAST(NULL AS DOUBLE) AS coord
    FROM r
    UNION ALL
    SELECT 'centroid' AS stage, CAST(NULL AS BIGINT) AS vec_id, cid,
           CAST(NULL AS BOOLEAN) AS kept, CAST(pos AS INT) AS pos,
           n_members, sum_q,
           CAST(sum_q AS DOUBLE) / (n_members * {q!r}) AS coord
    FROM cent
    UNION ALL
    SELECT 'centroid2' AS stage, CAST(NULL AS BIGINT) AS vec_id, cid,
           CAST(NULL AS BOOLEAN) AS kept, CAST(pos AS INT) AS pos,
           n_members, sum_q,
           CAST(sum_q AS DOUBLE) / (n_members * {q!r}) AS coord
    FROM cent2
    """


@register("cluster_balanced_sample", oracle=_cluster_sample_oracle())
def cluster_balanced_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced curation sampling ON the driver record: partition the
    embedding space and keep at most ``quota`` rows per cluster, flagging
    every row. Run under the planted-centroid + fold-assignment configuration
    (``similarity.cluster_balanced_sample(centroids=..., assign='fold')``),
    which makes the WHOLE row deterministic and oracle-expressible — the
    ``embedding_lsh_near_dup`` seeded-constants trick applied to the k-means
    partition: assignment constants are shared verbatim with the SQL twin, and
    the within-cluster quota ranking is the portable-md5 hash order, so the
    oracle value-checks both the partition and the quota machinery. The
    production path (seeded k-means fit + BLAS assignment) keeps its invariants
    unit-pinned in tests/test_similarity_recall.py (quota cap, full coverage,
    bijection, rerun stability). Plan shape (two-phase selection): map-only
    fold assignment → map-only per-partition quota prune (mapInPandas, no
    exchange) → ONE candidate-sized ranking shuffle (≤ quota·k·P rows) →
    broadcast keeper flag join; the corpus never feeds a partitionBy(cid) sort
    (plan-pinned in tests/test_plans.py).

    ``centroid`` stage (stage-tag extension — same slot): ONE exact
    distributed Lloyd M-step (``similarity.kmeans_update_exact``) over the
    same fold assignment — per-(cluster, coordinate) member counts, the
    fixed-point sum ``Σ floor(x·2^20)`` and the mean coordinate. The
    integer accumulation is order-independent, so Spark's partial-agg
    reduce and DuckDB's serial sum agree BIT-FOR-BIT with no rounding
    anywhere — the oracle-checked core of :func:`kmeans_lloyd_refine`,
    the full-corpus refinement loop that makes the curation partition
    repartition-stable (loop + spherical projection unit-pinned in
    tests/test_similarity_recall.py). Plan shape: quantize + posexplode
    map-only, ONE exchange on (cid, pos) — k·dim keys, so map-side
    combine makes the shuffle codebook-sized at any corpus size."""
    from ..extensions.similarity import (KMEANS_Q_SCALE,
                                         _nearest_centroid_fold,
                                         cluster_balanced_sample,
                                         kmeans_update_exact,
                                         planted_centroids)

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = planted_centroids(_CBS_SEED, _CBS_K, _CBS_DIM)
    sample = cluster_balanced_sample(
        emb, quota_per_cluster=_CBS_QUOTA, id_col="vec_id",
        seed=_CBS_SEED, dim=_CBS_DIM, centroids=cents, assign="fold")
    # Both M-steps run as distributed jobs AT BUILD TIME and their k·dim
    # result cells are re-embedded as literal relations in the returned
    # union. The VALUES are unchanged (the exact-accumulation contract:
    # the collected integers/doubles are the same under any execution),
    # and nothing stays pinned behind the returned plan — the old shape
    # cached the iteration-1 M-step for a second in-plan consumer, so
    # every registry build leaked one InMemoryRelation until
    # release_engine_pins.
    assigned = _nearest_centroid_fold(emb, "vec_id", "embedding", cents,
                                      keep=("embedding",))
    _CENT_SCHEMA = "cid int, pos int, n_members long, sum_q long, coord double"
    cent_rows = [(r["cid"], r["pos"], r["n_members"], r["sum_q"], r["coord"])
                 for r in kmeans_update_exact(assigned, vec_col="embedding",
                                              dim=_CBS_DIM).collect()]

    # iteration 2: the k·dim iteration-1 means (each one
    # CAST/multiply/divide from the exact integer sums — the identical
    # doubles the SQL twin computes) become fold literals; reassign and
    # run the M-step again. The planted config fills every cluster at any
    # SF; an empty one would make the SQL pivot lists short, so refuse
    # loudly rather than silently diverge.
    qf = float(KMEANS_Q_SCALE)
    cents1 = [[0.0] * _CBS_DIM for _ in range(_CBS_K)]
    seen: set = set()
    for cid, pos, n_members, sum_q, _ in cent_rows:
        cents1[cid][pos] = float(sum_q) / (n_members * qf)
        seen.add(cid)
    if seen != set(range(_CBS_K)):
        raise ValueError(
            f"cluster_balanced_sample row: iteration-1 clusters {seen} "
            f"!= {{0..{_CBS_K - 1}}} — planted config no longer fills "
            "every cluster; the centroid2 oracle assumes full coverage")
    clean = emb.filter(F.col("embedding").isNotNull()
                       & (F.size(F.col("embedding")) == _CBS_DIM))
    # __margin (top-1 minus top-2 dot) rides the iteration-2 assignment:
    # unlike the planted-Gaussian iteration-1 constants, the iteration-2
    # means are DATA-DEPENDENT, so nothing structural guarantees top-2
    # separation as fixtures/SF grow — and a vector whose top-2 dots sit
    # within reassociation ulps could assign differently in DuckDB
    # (~20-ulp + chain reassociation measured), breaking the
    # zero-tolerance hash NONDETERMINISTICALLY. Refuse loudly at build
    # time instead — the same pattern as the
    # empty-cluster check above. Build-time persist, released before
    # return: two aggregations (M-step + min margin) share one fold scan.
    assigned2 = _nearest_centroid_fold(clean, "vec_id", "embedding",
                                       cents1, keep=("embedding",),
                                       emit_margin=True).persist()
    try:
        cent2_rows = [(r["cid"], r["pos"], r["n_members"], r["sum_q"],
                       r["coord"])
                      for r in kmeans_update_exact(
                          assigned2, vec_col="embedding",
                          dim=_CBS_DIM).collect()]
        min_margin = assigned2.agg(
            F.min("__margin").alias("m")).collect()[0]["m"]
    finally:
        assigned2.unpersist(blocking=False)
    if min_margin is not None and min_margin < 1e-9:
        raise ValueError(
            f"cluster_balanced_sample row: iteration-2 top-2 centroid-dot "
            f"separation {min_margin:.3g} < 1e-9 — a cross-engine chain "
            "reassociation could flip this assignment and break the "
            "zero-tolerance oracle; change the fixture/seed so the "
            "data-dependent second assignment is well-separated")
    cent = spark.createDataFrame(cent_rows, _CENT_SCHEMA)
    cent2 = spark.createDataFrame(cent2_rows, _CENT_SCHEMA)

    sample_rows = sample.select(
        F.lit("sample").alias("stage"), "vec_id", "cid", "kept",
        F.lit(None).cast("int").alias("pos"),
        F.lit(None).cast("long").alias("n_members"),
        F.lit(None).cast("long").alias("sum_q"),
        F.lit(None).cast("double").alias("coord"))

    def cent_stage(df, tag):
        return df.select(
            F.lit(tag).alias("stage"),
            F.lit(None).cast("long").alias("vec_id"), "cid",
            F.lit(None).cast("boolean").alias("kept"),
            F.col("pos").cast("int").alias("pos"), "n_members", "sum_q",
            "coord")

    return (sample_rows.unionByName(cent_stage(cent, "centroid"))
            .unionByName(cent_stage(cent2, "centroid2")))


_PCA_DIM, _PCA_Q = 64, float(1 << 20)
_PCA_PROJ_SEED, _PCA_PROJ_K = 2024, 4


def _pca_project_sql() -> str:
    """Projection-stage SQL legs from the SAME ``planted_projection``
    constants the Spark fold expression embeds — in the EXACT fixed-point
    mode: per component k, a BIGINT chain of
    ``floor((ve[i]−μ_{i-1})·w_k,{i-1}·2^20)`` terms. Each term is one
    deterministic IEEE product (portable); integer addition is
    associativity-free, so the chain is bit-equal to Spark's long fold
    REGARDLESS of either engine's summation strategy. (The float-chain
    form is NOT portable: measured, DuckDB reassociates long double
    ``+`` chains up to ~20 ulp vs strict left-association — fine for the
    sign/argmax consumers the other oracles feed, fatal for hashed
    VALUES. See ``project_fold``'s mode docs.)"""
    from ..extensions.similarity import planted_projection

    m = planted_projection(_PCA_PROJ_SEED, _PCA_PROJ_K, _PCA_DIM)
    legs = []
    for k, w in enumerate(m["components"]):
        chain = " + ".join(
            f"CAST(FLOOR((ve[{i + 1}] - {m['mean'][i]!r})*{w[i]!r}"
            f"*{_PCA_Q!r}) AS BIGINT)"
            for i in range(_PCA_DIM))
        legs.append(
            "SELECT 'project' AS stage, CAST(NULL AS INT) AS i,\n"
            "       CAST(NULL AS INT) AS j, vec_id,\n"
            "       CAST(NULL AS BIGINT) AS n,\n"
            f"       ({chain}) AS sum_q,\n"
            "       CAST(NULL AS BIGINT) AS sum_qi,\n"
            "       CAST(NULL AS BIGINT) AS sum_qj,\n"
            "       CAST(NULL AS DOUBLE) AS cov,\n"
            f"       CAST({k} AS INT) AS pos,\n"
            f"       CAST(({chain}) AS DOUBLE) / {_PCA_Q!r} AS coord\n"
            "FROM vp")
    return "\nUNION ALL\n".join(legs)


_PCA_MOMENTS_ORACLE = f"""
    WITH vp AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
      FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) = {_PCA_DIM}
    ), v AS (
      SELECT ve FROM vp
    ), m1 AS (
      SELECT gi.i, COUNT(*) AS n,
             CAST(SUM(CAST(FLOOR(ve[gi.i + 1] * {_PCA_Q!r}) AS BIGINT))
                  AS BIGINT) AS s1
      FROM v CROSS JOIN generate_series(0, {_PCA_DIM - 1}) AS gi(i)
      GROUP BY gi.i
    ), m2 AS (
      SELECT gi.i, gj.j, COUNT(*) AS n,
             CAST(SUM(CAST(FLOOR(ve[gi.i + 1] * ve[gj.j + 1] * {_PCA_Q!r})
                           AS BIGINT)) AS BIGINT) AS sum_q
      FROM v CROSS JOIN generate_series(0, {_PCA_DIM - 1}) AS gi(i)
             CROSS JOIN generate_series(0, {_PCA_DIM - 1}) AS gj(j)
      WHERE gi.i <= gj.j
      GROUP BY gi.i, gj.j
    )
    SELECT 'moment' AS stage, CAST(m2.i AS INT) AS i, CAST(m2.j AS INT) AS j,
           CAST(NULL AS BIGINT) AS vec_id, m2.n, m2.sum_q,
           a.s1 AS sum_qi, b.s1 AS sum_qj,
           CAST(m2.sum_q AS DOUBLE) / (m2.n * {_PCA_Q!r})
           - (CAST(a.s1 AS DOUBLE) / (m2.n * {_PCA_Q!r}))
             * (CAST(b.s1 AS DOUBLE) / (m2.n * {_PCA_Q!r})) AS cov,
           CAST(NULL AS INT) AS pos, CAST(NULL AS DOUBLE) AS coord
    FROM m2 JOIN m1 a ON m2.i = a.i JOIN m1 b ON m2.j = b.i
    UNION ALL
    """ + _pca_project_sql()


@register("embedding_pca_moments", oracle=_PCA_MOMENTS_ORACLE)
def embedding_pca_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distributed covariance of the embedding corpus — the fit
    surface of the PCA operator (``similarity.fit_pca_exact``
    / ``apply_pca``, the OPQ-ish rotation step embedding-curation
    pipelines run before cosine dedup or PQ): upper-triangle cells
    ``(i, j, n, sum_q, sum_qi, sum_qj, cov)``.

    The moment machinery is the ``kmeans_update_exact`` exactness contract
    applied to second moments: per-row fixed-point quantization
    ``floor(x_i·x_j·2^20)`` (deterministic IEEE), cross-row reduce in
    integer arithmetic — order-independent, so the Arrow GEMM-batched
    kernel (``embedding_moments_exact``: O(n·d²) flops in vectorized
    numpy, ONE codebook-sized partial frame per batch) must agree with
    DuckDB's serial cross-join twin BIT-FOR-BIT, zero tolerance, no
    rounding anywhere. The eigendecomposition itself is k·d driver-side
    work verified against a numpy twin in tests/test_pca.py (byte-stable
    fit under relayout, orthonormal components).

    Plan shape (pinned): one mapInPandas pass, ONE exchange on (i, j) —
    d(d+1)/2 + d keys with map-side partial sums, so the covariance
    shuffle is codebook-sized at ANY corpus scale; first-moment partials
    ride the triangle rows, no join.

    ``project`` stage (stage-tag extension — same slot): the
    APPLY surface. A planted deterministic model
    (:func:`planted_projection` — seeded Gram-Schmidt orthonormal
    components + seeded mean, constants shared verbatim with the SQL
    twin) is projected over the whole corpus by the bit-portable fold
    twin (``project_fold`` — index-order ``Σ (x_i−μ_i)·w_ki`` chains,
    one scan, posexplode to (vec_id, pos, coord)). Production projection
    stays on the BLAS kernel (``apply_pca``, numpy-twin unit); this
    stage value-checks the centered-projection machinery with zero
    tolerance — the ``cluster_balanced_sample`` planted-constants trick
    applied to the PCA apply path."""
    from ..extensions.similarity import (covariance_exact,
                                         planted_projection, project_fold)

    emb = load_table(spark, sf_dir, "embeddings")
    cov = covariance_exact(emb, "embedding", dim=_PCA_DIM)
    moments = cov.select(
        F.lit("moment").alias("stage"), "i", "j",
        F.lit(None).cast("long").alias("vec_id"),
        "n", "sum_q", "sum_qi", "sum_qj", "cov",
        F.lit(None).cast("int").alias("pos"),
        F.lit(None).cast("double").alias("coord"))
    model = planted_projection(_PCA_PROJ_SEED, _PCA_PROJ_K, _PCA_DIM)
    proj = (project_fold(emb.select("vec_id", "embedding"), model,
                         q_scale=int(_PCA_Q))
            .select(F.lit("project").alias("stage"),
                    F.lit(None).cast("int").alias("i"),
                    F.lit(None).cast("int").alias("j"), "vec_id",
                    F.lit(None).cast("long").alias("n"), "sum_q",
                    F.lit(None).cast("long").alias("sum_qi"),
                    F.lit(None).cast("long").alias("sum_qj"),
                    F.lit(None).cast("double").alias("cov"),
                    F.col("pos").cast("int").alias("pos"), "coord"))
    return moments.unionByName(proj)


@register("embedding_lsh_near_dup", oracle=_lsh_bucket_oracle())
def embedding_lsh_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The designated 100 TB similarity path ON the driver record:
    near-dup pairs whose candidate generation is the
    bucketed hyperplane-LSH equi-join (`hyperplane_lsh_buckets` →
    `cosine_near_dup_pairs(bucket_signatures=...)`), NOT the
    broadcast-bounded exact-GEMM path that `embedding_near_dup` exercises.
    Planted duplicates (every 7th vector re-appended under a shifted id —
    the shared recipe) share every signature bit with their originals, so
    their pairs MUST survive; the oracle recomputes signatures from the
    identical seeded plane constants and applies the same exact-verify
    tail, so recall of the bucket path is value-checked, not assumed.
    Plan shape (pinned in tests/test_plans.py): pure expressions + two
    equi-joins — no Python worker, no driver collect, no cross product."""
    from ..extensions.similarity import (cosine_near_dup_pairs,
                                         hyperplane_lsh_buckets)

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    doubled = emb.unionByName(
        emb.filter(F.col("vec_id") % 7 == 0)
        .withColumn("vec_id", F.col("vec_id") + 1000000))
    sigs = hyperplane_lsh_buckets(doubled, "vec_id", "embedding",
                                  n_planes=16, seed=42)
    return cosine_near_dup_pairs(doubled, threshold=0.95,
                                 bucket_signatures=sigs)


_QCG_SEED, _QCG_DIM, _QCG_THRESHOLD = 909, 64, 0.62


def _classifier_gate_oracle() -> str:
    """DuckDB twin of the learned quality gate's DECISION surface under
    the PLANTED-model configuration: the keep/drop
    rule sigma(w.x+b) >= t  <=>  w.x+b >= logit(t), evaluated as the exact
    fixed-point fold z_q = floor(b*Q) + SUM_i floor(x_i*w_i*Q) against the
    integer literal floor(logit(t)*Q) — each term one deterministic IEEE
    double product (portable), the sum BIGINT (associativity-free), NO exp
    anywhere. The libm-exp blocker that keeps fit/score unit-only does not
    apply to the decision: ties are INTEGER equality, identical in every
    engine."""
    import math as _math

    from ..extensions.classifier import LOGREG_Q_SCALE, planted_logreg

    m = planted_logreg(_QCG_SEED, _QCG_DIM)
    q = float(LOGREG_Q_SCALE)
    b_q = int(_math.floor(float(m["bias"]) * LOGREG_Q_SCALE))
    thr_q = int(_math.floor(
        _math.log(_QCG_THRESHOLD / (1.0 - _QCG_THRESHOLD)) * LOGREG_Q_SCALE))
    chain = " + ".join(
        f"CAST(FLOOR(ve[{i + 1}]*{m['weights'][i]!r}*{q!r}) AS BIGINT)"
        for i in range(_QCG_DIM))
    return f"""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve,
             (embedding IS NULL OR len(embedding) != {_QCG_DIM}) AS mal
      FROM embeddings
    ), z AS (
      SELECT vec_id, mal,
             CASE WHEN mal THEN NULL
                  ELSE {b_q} + ({chain}) END AS z_q
      FROM v
    )
    SELECT vec_id, z_q,
           CASE WHEN mal THEN NULL ELSE z_q >= {thr_q} END AS keep
    FROM z
    """


@register("quality_classifier_gate", oracle=_classifier_gate_oracle())
def quality_classifier_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned quality classifier's keep/drop DECISION on the driver
    record (the fit stays unit-only because libm exp is not cross-engine
    bit-stable, but the GATE decision sigma(z) >= t <=> z >= logit(t)
    needs no exp): a planted-model
    (``classifier.planted_logreg`` — seeded weights, the
    ``planted_projection`` convention) fixed-point fold of w.x+b and the
    boolean keep, bit-portable like the PCA project stage. Value-checks
    ``classifier.logreg_gate_fold``, the one learned gate — per-row score
    fold + threshold compare — under constants both engines embed
    verbatim. NULL/wrong-length vectors gate NULL (no evidence). Plan: map-only
    expressions, weights as literals — no shuffle, no Python, no collect
    (a 100 TB gate is one scan)."""
    from ..extensions.classifier import logreg_gate_fold, planted_logreg

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return logreg_gate_fold(emb, planted_logreg(_QCG_SEED, _QCG_DIM),
                            threshold=_QCG_THRESHOLD)
