"""Recall checks for the approximate similarity paths (SURVEY.md §2.11).

The driver's embeddings are near-uniform random 64-dim vectors — they have
NO neighbor structure, so any sublinear index has provably poor recall on
them (for cos≈0.4 pairs, 8-bit hyperplane LSH collides with p≈0.63⁸≈2.5%).
The meaningful contract is recall on data WITH structure: plant near-dup
queries (small deterministic perturbations of base vectors, cosine ≈ 0.99)
and require the index to recover the planted source. Brute-force exactness
is separately pinned by the DuckDB oracle in test_queries_oracle.
"""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from data_engineering_etl_pipeline_spark.extensions.similarity import (
    cosine_topk, ivf_cosine_topk)
from data_engineering_etl_pipeline_spark.io import load_table
from .conftest import SF_DIR

K = 5
N_QUERIES = 20
NOISE = 0.15  # relative perturbation -> cosine ~0.99 to the source


def _planted(spark):
    """(base, queries, {query_id: planted source vec_id}) with deterministic
    perturbed copies of every 7th base vector as queries."""
    emb = load_table(spark, SF_DIR, "embeddings")
    sample = (emb.filter(F.col("vec_id") % 7 == 0)
              .orderBy("vec_id").limit(N_QUERIES)
              .select("vec_id", "embedding").collect())
    rows, truth = [], {}
    for i, r in enumerate(sample):
        rnd = random.Random(1000 + r.vec_id)
        v = [float(x) for x in r.embedding]
        scale = max(sum(x * x for x in v) ** 0.5, 1e-12) / len(v) ** 0.5
        q = [x + NOISE * scale * rnd.gauss(0, 1) for x in v]
        qid = 100000 + i
        rows.append((qid, q))
        truth[qid] = r.vec_id
    queries = spark.createDataFrame(rows, "query_id long, embedding array<double>")
    return emb, queries, truth


def _hits(df, truth):
    found = {(r.query_id, r.vec_id) for r in df.collect()}
    return sum((qid, src) in found for qid, src in truth.items()) / len(truth)


def test_brute_force_finds_planted(spark):
    emb, q, truth = _planted(spark)
    top = cosine_topk(emb, q, k=1)
    # the perturbed copy's nearest neighbor IS the source, at rank 1
    assert _hits(top, truth) == 1.0


def test_ivf_recall_on_planted(spark):
    emb, q, truth = _planted(spark)
    approx = ivf_cosine_topk(emb, q, k=K, n_centroids=16, nprobe=4)
    # a cos≈0.99 neighbor is near-certainly within the query's top-4 cells
    assert _hits(approx, truth) >= 0.8


def test_ivf_full_probe_equals_brute_force(spark):
    """nprobe = n_centroids degenerates to exact search — identical pairs to
    brute force (the IVF partition of the corpus is exhaustive)."""
    emb = load_table(spark, SF_DIR, "embeddings")
    q = (emb.filter(F.col("vec_id") < 10)
         .select(F.col("vec_id").alias("query_id"), "embedding"))
    exact = {(r.query_id, r.vec_id) for r in cosine_topk(emb, q, k=K).collect()}
    approx = {(r.query_id, r.vec_id)
              for r in ivf_cosine_topk(emb, q, k=K, n_centroids=8, nprobe=8).collect()}
    assert approx == exact


def test_bucketed_near_dup_finds_planted_duplicates(spark):
    """LSH-bucketed candidate generation for near-dup pairs: identical
    vectors produce identical hyperplane signatures in every table, so
    planted exact duplicates are found with probability 1 (no flakiness),
    and every emitted pair carries its exact verified cosine."""
    from data_engineering_etl_pipeline_spark.extensions.similarity import (
        cosine_near_dup_pairs, hyperplane_lsh_buckets)
    from data_engineering_etl_pipeline_spark.io import load_table
    from .conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    doubled = emb.unionByName(
        emb.filter(F.col("vec_id") % 7 == 0)
        .withColumn("vec_id", F.col("vec_id") + 1000000))
    sigs = hyperplane_lsh_buckets(doubled, n_planes=8, dim=64)

    got = cosine_near_dup_pairs(doubled, threshold=0.95,
                                bucket_signatures=sigs)
    rows = {(r.id_a, r.id_b): r.cosine for r in got.collect()}
    planted = [r.vec_id for r in
               emb.filter(F.col("vec_id") % 7 == 0).collect()]
    assert planted
    for vid in planted:
        assert rows.get((vid, vid + 1000000)) == 1.0


def test_blas_exact_path_refuses_oversized_build_side(spark):
    """The exact-GEMM near-dup path must refuse a build side past the
    broadcast budget with the bucket_signatures guidance, not collect it
    toward a driver OOM."""
    import pytest

    from data_engineering_etl_pipeline_spark.extensions.similarity import (
        cosine_near_dup_pairs)

    emb = load_table(spark, SF_DIR, "embeddings")
    spark.conf.set("spark.sql.graft.blasBroadcastRows", "10")
    try:
        with pytest.raises(ValueError, match="bucket_signatures"):
            cosine_near_dup_pairs(emb, threshold=0.95).collect()
    finally:
        spark.conf.unset("spark.sql.graft.blasBroadcastRows")


def _doubled_embeddings(spark):
    """The embedding_near_dup fixture: every 7th vector re-appended under a
    shifted id — exact copies, cosine 1.0 to their source."""
    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    return emb.unionByName(
        emb.filter(F.col("vec_id") % 7 == 0)
        .withColumn("vec_id", F.col("vec_id") + 1000000))


def _exact_drop_set(spark, docs):
    """Ground truth: exact all-pairs near-dup pairs -> connected components
    -> (drop, keeper) for every non-minimum member."""
    from data_engineering_etl_pipeline_spark.extensions.dedup import (
        dedup_clusters)
    from data_engineering_etl_pipeline_spark.extensions.similarity import (
        cosine_near_dup_pairs)

    pairs = cosine_near_dup_pairs(docs, threshold=0.95)
    comp = dedup_clusters(pairs.select("id_a", "id_b"))
    return {(r.member_id, r.cluster_id) for r in comp.collect()
            if r.member_id != r.cluster_id}


def test_semantic_dedup_one_cluster_equals_exact(spark):
    """n_clusters=1 degenerates SemDeDup to the exact all-pairs answer —
    the whole fit->assign->cluster-GEMM->verify->components machinery must
    reproduce the exact path bit-for-bit."""
    from data_engineering_etl_pipeline_spark.extensions.similarity import (
        semantic_dedup)

    docs = _doubled_embeddings(spark)
    truth = _exact_drop_set(spark, docs)
    got = {(r.vec_id, r.keeper_id)
           for r in semantic_dedup(docs, n_clusters=1).collect()}
    assert truth, "fixture must contain planted duplicates"
    assert got == truth


def test_semantic_dedup_clustered_finds_planted_copies(spark):
    """With real clustering (n_clusters=8): exact copies share a nearest
    centroid deterministically, so every planted duplicate must still be
    dropped against its source; and the exact-verify tail means no false
    positives — drops are a subset of the exact path's."""
    from data_engineering_etl_pipeline_spark.extensions.similarity import (
        semantic_dedup)

    docs = _doubled_embeddings(spark)
    truth = _exact_drop_set(spark, docs)
    got = {(r.vec_id, r.keeper_id)
           for r in semantic_dedup(docs, n_clusters=8).collect()}
    planted = {(m, k) for m, k in truth if m >= 1000000 and k == m - 1000000}
    assert planted <= got, "planted exact copy escaped its cluster"
    # Subset guarantee holds for DROPPED MEMBER IDS only: when clustering
    # splits a multi-pair component, a correct drop can surface with a
    # different (higher) min-id keeper than the exact path's, so comparing
    # (member, keeper) tuples would flag correct behavior (latent under
    # the current fixture, where components are planted pairs).
    assert {m for m, _ in got} <= {m for m, _ in truth}, (
        "false positive survived the exact-verify tail")


def _doubled(spark):
    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    return emb.unionByName(
        emb.filter(F.col("vec_id") % 7 == 0)
        .withColumn("vec_id", F.col("vec_id") + 1000000))


def test_blocked_gemm_pairs_equals_broadcast_path(spark):
    """The distributed block-pair GEMM (no driver collect) must be
    bit-identical to the broadcast exact path — same pairs, same rounded
    cosines — at several block counts, including the degenerate B=1 (one
    task holding the whole corpus) and a B larger than the partition
    count."""
    from data_engineering_etl_pipeline_spark.extensions.similarity import (
        cosine_near_dup_pairs)

    doubled = _doubled(spark)
    want = sorted((r.id_a, r.id_b, r.cosine)
                  for r in cosine_near_dup_pairs(doubled).collect())
    assert want  # fixture plants exact duplicates — a silent empty set
    for B in (1, 3, 8):
        got = sorted((r.id_a, r.id_b, r.cosine)
                     for r in cosine_near_dup_pairs(doubled, n_blocks=B)
                     .collect())
        assert got == want, f"n_blocks={B} diverged"


def test_blocked_path_survives_broadcast_budget(spark):
    """Past the broadcast budget the collect-based exact path must refuse
    (pointing at n_blocks / bucket_signatures), while the blocked path runs
    the same corpus to the same answer — the guard's escape hatch is real."""
    import pytest

    from data_engineering_etl_pipeline_spark.extensions.similarity import (
        cosine_near_dup_pairs)

    doubled = _doubled(spark)
    spark.conf.set("spark.sql.graft.blasBroadcastRows", "10")
    try:
        with pytest.raises(ValueError, match="n_blocks"):
            cosine_near_dup_pairs(doubled).collect()
        got = cosine_near_dup_pairs(doubled, n_blocks=4)
        planted = [r.vec_id for r in
                   doubled.filter((F.col("vec_id") % 7 == 0)
                                  & (F.col("vec_id") < 1000000)).collect()]
        rows = {(r.id_a, r.id_b): r.cosine for r in got.collect()}
        assert planted
        for vid in planted:
            assert rows.get((vid, vid + 1000000)) == 1.0
    finally:
        spark.conf.unset("spark.sql.graft.blasBroadcastRows")


def test_gemm_topk_bit_equals_brute(spark):
    """gemm_cosine_topk (Arrow-batched BLAS scoring, per-batch candidate
    pruning, exact re-rank) must reproduce cosine_topk bit-for-bit —
    including cosine rounding and rank numbers."""
    from data_engineering_etl_pipeline_spark.extensions.similarity import (
        gemm_cosine_topk)

    emb = load_table(spark, SF_DIR, "embeddings")
    q = (emb.filter(F.col("vec_id") < 10)
         .select(F.col("vec_id").alias("query_id"), "embedding"))
    want = sorted((r.query_id, r.vec_id, r.cosine, r.rank)
                  for r in cosine_topk(emb, q, k=K).collect())
    got = sorted((r.query_id, r.vec_id, r.cosine, r.rank)
                 for r in gemm_cosine_topk(emb, q, k=K).collect())
    assert got == want


def test_gemm_topk_ties_and_duplicate_vectors(spark):
    """Adversarial tie shape for the per-batch pruning margin: many EXACT
    duplicate vectors means the k-th best BLAS score ties with dozens of
    rows, and the winner is decided purely by the (rounded cosine, id)
    tiebreak. The pruned candidate set must still contain every tie member
    the brute path would rank."""
    import random as _random

    from data_engineering_etl_pipeline_spark.extensions.similarity import (
        gemm_cosine_topk)

    rnd = _random.Random(42)
    protos = [[rnd.gauss(0, 1) for _ in range(64)] for _ in range(8)]
    rows = [(i, protos[i % 8]) for i in range(80)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    emb = emb.repartition(7)  # many small batches -> per-batch pruning real
    q = (emb.filter(F.col("vec_id") < 4)
         .select(F.col("vec_id").alias("query_id"), "embedding"))
    want = sorted((r.query_id, r.vec_id, r.cosine, r.rank)
                  for r in cosine_topk(emb, q, k=K, dim=64).collect())
    got = sorted((r.query_id, r.vec_id, r.cosine, r.rank)
                 for r in gemm_cosine_topk(emb, q, k=K, dim=64).collect())
    assert got == want


def test_gemm_topk_short_corpus_and_zero_vectors(spark):
    """Corpus smaller than k with a zero vector: brute force ranks the
    zero vector's NULL cosine last but still emits it (rank <= k). The
    GEMM kernel's null-forwarding path must reproduce that exactly."""
    from data_engineering_etl_pipeline_spark.extensions.similarity import (
        gemm_cosine_topk)

    rows = [(0, [1.0] * 64), (1, [1.0] * 63 + [0.9]), (2, [0.0] * 64),
            (3, [-1.0] * 64)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = (emb.filter(F.col("vec_id") == 0)
         .select(F.col("vec_id").alias("query_id"), "embedding"))
    want = sorted(((r.query_id, r.vec_id, r.cosine, r.rank)
                   for r in cosine_topk(emb, q, k=K, dim=64).collect()),
                  key=lambda t: t[3])
    got = sorted(((r.query_id, r.vec_id, r.cosine, r.rank)
                  for r in gemm_cosine_topk(emb, q, k=K, dim=64).collect()),
                 key=lambda t: t[3])
    assert got == want
    assert len(got) == 3  # all non-self rows ranked, incl. the NULL cosine
    assert got[-1][2] is None  # zero vector sorts last


def test_distributed_gemm_family_string_keyed(spark):
    """String-keyed corpora through the distributed-GEMM family (blocked
    near-dup pairs and the GEMM top-k): a hardcoded 'long' schema would
    crash on string ids, so pair/candidate schemas must follow the id
    type, and the numpy kernels (np.full / np.sort / np.minimum on object
    arrays) must handle non-numeric ids."""
    import random as _random

    from data_engineering_etl_pipeline_spark.extensions.similarity import (
        cosine_near_dup_pairs, gemm_cosine_topk)

    rnd = _random.Random(7)
    protos = [[rnd.gauss(0, 1) for _ in range(16)] for _ in range(4)]
    rows = [(f"doc-{i:03d}", [x + 0.1 * (i % 3) * rnd.gauss(0, 1)
                              for x in protos[i % 4]])
            for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id string, embedding array<double>")
    q = (emb.limit(5)
         .select(F.col("vec_id").alias("query_id"), "embedding"))

    want_pairs = sorted((r.id_a, r.id_b, r.cosine)
                        for r in cosine_near_dup_pairs(
                            emb, threshold=0.9, dim=16).collect())
    got_pairs = sorted((r.id_a, r.id_b, r.cosine)
                       for r in cosine_near_dup_pairs(
                           emb, threshold=0.9, dim=16, n_blocks=3).collect())
    assert got_pairs == want_pairs and want_pairs

    want_top = sorted((r.query_id, r.vec_id, r.cosine, r.rank)
                      for r in cosine_topk(emb, q, k=3, dim=16).collect())
    got_gemm = sorted((r.query_id, r.vec_id, r.cosine, r.rank)
                      for r in gemm_cosine_topk(emb, q, k=3, dim=16).collect())
    assert got_gemm == want_top


def test_incremental_semantic_dedup_daily_ingest(spark):
    """The daily-ingest form of embedding near-dup removal (the
    semantic twin of dedup.incremental_exact_dedup): day-1 corpus → index;
    day-2 batch = replayed exact copies (identical vectors collide in
    EVERY LSH table → deterministic recall 1.0, all must drop against the
    index alone), sign-flipped vectors (cosine ≈ 0 to everything — all
    must survive), and a planted within-batch duplicate pair (min id
    survives). Replaying the same batch against the UPDATED index drops
    everything — idempotent ingest."""
    from data_engineering_etl_pipeline_spark.extensions.similarity import (
        embedding_signature_index, incremental_semantic_dedup)

    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    index = embedding_signature_index(emb)

    replayed = (emb.filter(F.col("vec_id") % 7 == 0)
                .withColumn("vec_id", F.col("vec_id") + 1000000))
    flipped = (emb.filter(F.col("vec_id") % 11 == 0)
               .withColumn("vec_id", F.col("vec_id") + 2000000)
               .withColumn("embedding",
                           F.transform(F.col("embedding"), lambda x: -x)))
    new_vec = emb.limit(1).select(
        F.transform(F.col("embedding"),
                    lambda x: x + F.lit(37.5)).alias("embedding"))
    in_batch_dup = new_vec.crossJoin(
        spark.range(2).select((F.col("id") + 3000000).alias("vec_id")))
    batch = (replayed.unionByName(flipped)
             .unionByName(in_batch_dup.select("vec_id", "embedding")))

    fresh, updated = incremental_semantic_dedup(batch, index)
    fresh_ids = {r.vec_id for r in fresh.select("vec_id").collect()}

    n_flip = flipped.count()
    assert n_flip and replayed.count()
    # replayed exact copies all dropped against the index
    assert not any(1000000 <= i < 2000000 for i in fresh_ids)
    # sign-flipped rows all survive (near-orthogonal to day-1 and each other)
    assert {i for i in fresh_ids if 2000000 <= i < 3000000} == \
        {r.vec_id for r in flipped.select("vec_id").collect()}
    # within-batch duplicate: min id kept, twin dropped
    assert 3000000 in fresh_ids and 3000001 not in fresh_ids

    # updated index keepers = day-1 keepers + exactly the fresh ids
    day1 = {r.vec_id for r in emb.select("vec_id").collect()}
    keepers = {r.keep_id for r in updated.select("keep_id").distinct().collect()}
    assert keepers == day1 | fresh_ids

    # idempotence: replaying the batch against the updated index is empty
    fresh2, _ = incremental_semantic_dedup(batch, updated)
    assert fresh2.count() == 0


def test_fold_kernel_matches_fold_expressions(spark):
    """`sig_mode='fold'` signatures are computed by an Arrow kernel
    whose np.cumsum prefix scan must perform the IDENTICAL float64
    addition sequence as the `aggregate(zip_with(...))` expression folds
    it replaced (the oracle-portability contract). Pin bucket-for-bucket
    equality against the expression form on adversarial inputs: seeded
    dense vectors, the all-zero vector (signed-zero dots — every bit
    set), a negated pair, NULL vector, short vector (both bucket 0 per
    table), and a NaN element (all bits set — Spark's NaN >= 0 is TRUE).
    The ONE documented divergence: a NULL element inside a non-NULL
    vector crosses the Arrow boundary as NaN, so the kernel signs it
    like NaN (all-ones) where the expression fold's NULL dot gave 0 —
    unreachable from every registry input, pinned here explicitly. If a
    future numpy vectorizes cumsum with a reassociating scan, this test
    is the tripwire."""
    from data_engineering_etl_pipeline_spark.extensions.similarity import (
        _multi_table_buckets, _plane_sign_bits)

    rnd = random.Random(7)
    rows = [(i, [rnd.gauss(0.0, 1.0) for _ in range(64)]) for i in range(64)]
    rows += [(100, [0.0] * 64),                       # zero vector
             (101, [-x for x in rows[0][1]]),         # negated
             (102, None),                             # NULL vector
             (103, [1.0, 2.0]),                       # short
             (104, [None] + rows[1][1][1:]),          # NULL element
             (105, [float("nan")] + rows[2][1][1:])]  # NaN element
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {(r.vec_id, r.table): r.bucket for r in _multi_table_buckets(
        df, "vec_id", "embedding", 8, 2, 64, sig_mode="fold").collect()}
    staged = df.withColumn(
        "__mtv", F.transform(F.col("embedding"), lambda x: x.cast("double")))
    sig_arr = F.array(*[_plane_sign_bits(F.col("__mtv"), 100 + t, 8, 64)
                        for t in range(2)])
    exp = {(r.vec_id, r.table): r.bucket for r in staged.select(
        "vec_id", F.posexplode(sig_arr).alias("table", "bucket")).collect()}
    all_ones = (1 << 8) - 1
    assert len(got) == 2 * len(rows)
    assert {k: v for k, v in got.items() if k[0] != 104} == \
           {k: v for k, v in exp.items() if k[0] != 104}
    # the degenerate conventions, pinned explicitly
    assert got[(100, 0)] == all_ones              # zero vector: all bits set
    assert got[(105, 0)] == all_ones == exp[(105, 0)]  # NaN: Spark NaN >= 0
    for vid in (102, 103):                        # NULL / short vector
        assert got[(vid, 0)] == 0 and got[(vid, 1)] == 0
    # the documented NULL-element divergence: NaN through Arrow (kernel)
    # vs NULL dot (expression fold)
    assert got[(104, 0)] == all_ones and exp[(104, 0)] == 0


def test_fold_signatures_agree_with_arrow_and_drive_ingest(spark):
    """The bit-portable `sig_mode='fold'`
    signature expressions must agree bucket-for-bucket with the Arrow
    matmul path on real embeddings (same seeded plane constants; a
    disagreement means a plane dot sat within reassociation ulps of
    zero — never observed, and the planted driver config's margins are
    measured ≥ 1e-4), and the fold-mode ingest must honor the same
    contracts as arrow mode (replayed copies drop, sign-flips survive).
    An unknown mode is refused."""
    import pytest as _pytest

    from data_engineering_etl_pipeline_spark.extensions.similarity import (
        _multi_table_buckets, embedding_signature_index,
        incremental_semantic_dedup)

    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    arrow = {(r.vec_id, r.table): r.bucket for r in _multi_table_buckets(
        emb, "vec_id", "embedding", 8, 2, 64, sig_mode="arrow").collect()}
    fold = {(r.vec_id, r.table): r.bucket for r in _multi_table_buckets(
        emb, "vec_id", "embedding", 8, 2, 64, sig_mode="fold").collect()}
    assert arrow == fold and len(fold) == 2 * emb.count()

    index = embedding_signature_index(emb, n_planes=8, n_tables=2,
                                      sig_mode="fold")
    batch = (emb.filter(F.col("vec_id") % 7 == 0)
             .withColumn("vec_id", F.col("vec_id") + 1000000)
             .unionByName(
                 emb.filter(F.col("vec_id") % 9 == 0)
                 .withColumn("vec_id", F.col("vec_id") + 2000000)
                 .withColumn("embedding", F.transform(F.col("embedding"),
                                                      lambda x: -x))))
    fresh, _ = incremental_semantic_dedup(batch, index, threshold=0.94,
                                          n_planes=8, n_tables=2,
                                          sig_mode="fold")
    fresh_ids = {r.vec_id for r in fresh.select("vec_id").collect()}
    assert not any(1000000 <= i < 2000000 for i in fresh_ids)
    assert {i for i in fresh_ids if i >= 2000000} == {
        r.vec_id + 2000000 for r in
        emb.filter(F.col("vec_id") % 9 == 0).select("vec_id").collect()}
    with _pytest.raises(ValueError, match="sig_mode"):
        _multi_table_buckets(emb, "vec_id", "embedding", 8, 2, 64,
                             sig_mode="blas")


def test_incremental_semantic_dedup_refuses_config_mismatch(spark):
    """An index built at one (n_planes, n_tables) must be REFUSED at
    another: signatures from a different config silently match nothing in
    the (table, bucket) join and would re-admit every indexed duplicate
    (the config rides the index rows)."""
    import pytest

    from data_engineering_etl_pipeline_spark.extensions.similarity import (
        embedding_signature_index, incremental_semantic_dedup)

    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    index = embedding_signature_index(emb, n_planes=8, n_tables=2)
    with pytest.raises(ValueError, match="n_planes"):
        incremental_semantic_dedup(emb, index)  # defaults (16, 4)


def test_semantic_index_manifest_config_check_is_metadata_only(spark):
    """Semantic twin of the minhash manifest check:
    embedding_signature_index attaches its LSH config to the built frame
    as ``_index_manifest``; incremental_semantic_dedup validates against
    the MANIFEST (rows say the right config here, the tampered manifest
    says another — a data scan would have passed, so the refusal proves
    the metadata-only path)."""
    import pytest

    from data_engineering_etl_pipeline_spark.extensions.similarity import (
        embedding_signature_index, incremental_semantic_dedup)

    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id",
                                                         "embedding")
    index = embedding_signature_index(emb)
    assert index._index_manifest == {"planes": 16, "tables": 4}
    index._index_manifest = {"planes": 8, "tables": 4}
    with pytest.raises(ValueError, match="manifest says"):
        incremental_semantic_dedup(emb, index)


def test_incremental_semantic_dedup_preserves_batch_columns(spark):
    """fresh must carry EVERY batch column (the incremental_exact_dedup
    contract this operator mirrors): payload projected away silently loses
    data on the daily sink."""
    from data_engineering_etl_pipeline_spark.extensions.similarity import (
        embedding_signature_index, incremental_semantic_dedup)

    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    index = embedding_signature_index(emb)
    batch = (emb.filter(F.col("vec_id") % 11 == 0)
             .withColumn("vec_id", F.col("vec_id") + 2000000)
             .withColumn("embedding",
                         F.transform(F.col("embedding"), lambda x: -x))
             .withColumn("url", F.concat(F.lit("u://"),
                                         F.col("vec_id").cast("string"))))
    fresh, _ = incremental_semantic_dedup(batch, index)
    assert set(fresh.columns) == {"vec_id", "embedding", "url"}
    rows = fresh.select("vec_id", "url").collect()
    assert rows and all(r.url == f"u://{r.vec_id}" for r in rows)


def test_gemm_topk_nan_vector_parity(spark):
    """A NaN-component vector must rank identically in brute and GEMM
    paths. Spark orders NaN above every number, so an unguarded inv would
    rank the NaN cosine FIRST in brute force while the Arrow kernel treats
    it as missing — with_vec_inv now nulls NaN norms (matching the DuckDB
    twin's CASE semantics), so both paths rank it with the NULL group."""
    from data_engineering_etl_pipeline_spark.extensions.similarity import (
        gemm_cosine_topk)

    rows = [(0, [1.0] * 64), (1, [0.9] * 64),
            (2, [float("nan")] + [1.0] * 63), (3, [-1.0] * 64),
            (4, [float("inf")] + [1.0] * 63)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = (emb.filter(F.col("vec_id") == 0)
         .select(F.col("vec_id").alias("query_id"), "embedding"))
    want = sorted(((r.query_id, r.vec_id, r.cosine, r.rank)
                   for r in cosine_topk(emb, q, k=K, dim=64).collect()),
                  key=lambda t: t[3])
    got = sorted(((r.query_id, r.vec_id, r.cosine, r.rank)
                  for r in gemm_cosine_topk(emb, q, k=K, dim=64).collect()),
                 key=lambda t: t[3])
    assert got == want
    # NaN AND Inf vectors rank in the NULL-cosine group (last), not first
    # (Inf: norm=inf -> inv would be 0.0 -> NaN cosine ranked FIRST by
    # Spark and dropped by numpy without the finite guard)
    assert want[0][1] not in (2, 4)
    assert {t[1] for t in want if t[2] is None} == {2, 4}


def test_cosine_cross_pairs_both_paths_equal_theta_join(spark):
    """Bipartite exact pairs: broadcast-GEMM and cogrouped block
    paths must both reproduce the naive theta cross-join bit-for-bit, and
    an id-name collision between the sides is refused."""
    import pytest

    from data_engineering_etl_pipeline_spark.extensions.similarity import (
        _cosine, cosine_cross_pairs, with_vec_inv)

    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    bench = (emb.filter(F.col("vec_id") % 13 == 0).limit(20)
             .select(F.col("vec_id").alias("bench_id"),
                     F.col("embedding")))
    lv = with_vec_inv(emb, "embedding", "vl", "il", 64)
    rv = with_vec_inv(bench, "embedding", "vr", "ir", 64)
    naive = (lv.select("vec_id", "vl", "il")
             .crossJoin(rv.select("bench_id", "vr", "ir"))
             .withColumn("cosine", _cosine(F.col("vl"), F.col("vr"),
                                           F.col("il"), F.col("ir"), 64))
             .filter(F.col("cosine") >= 0.8)
             .select("vec_id", "bench_id", "cosine"))
    want = sorted((r.vec_id, r.bench_id, r.cosine) for r in naive.collect())
    assert want  # bench ⊆ corpus → at least the self pairs at cosine 1.0
    got_b = sorted((r.vec_id, r.bench_id, r.cosine)
                   for r in cosine_cross_pairs(emb, bench, 0.8).collect())
    got_k = sorted((r.vec_id, r.bench_id, r.cosine)
                   for r in cosine_cross_pairs(emb, bench, 0.8,
                                               n_blocks=3).collect())
    assert got_b == want
    assert got_k == want
    with pytest.raises(ValueError, match="distinct column names"):
        cosine_cross_pairs(emb, emb, 0.95, left_id="vec_id",
                           right_id="vec_id")


def test_incremental_semantic_dedup_refuses_heterogeneous_index(spark):
    """A UNION of segments built at different LSH configs must be refused —
    a limit(1) probe would pass on a matching sample row while the other
    segment silently matches nothing."""
    import pytest

    from data_engineering_etl_pipeline_spark.extensions.similarity import (
        embedding_signature_index, incremental_semantic_dedup)

    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    mixed = embedding_signature_index(emb).unionByName(
        embedding_signature_index(
            emb.withColumn("vec_id", F.col("vec_id") + 1000000),
            n_planes=8, n_tables=2))
    with pytest.raises(ValueError, match="mixes LSH configs"):
        incremental_semantic_dedup(emb, mixed)


def test_cluster_balanced_sample_flattens_planted_clusters(spark):
    """Three tight planted clusters of sizes 120/60/12 with quota 20:
    the two head clusters must cap at 20 kept each and the tail keep all
    12 — the flattening this sampler exists for. Deterministic: two runs
    (and a repartitioned run) agree row-for-row; every row is flagged."""
    import random as _random

    from data_engineering_etl_pipeline_spark.extensions.similarity import (
        cluster_balanced_sample)

    rnd = _random.Random(3)
    protos = [[rnd.gauss(0, 1) for _ in range(16)] for _ in range(3)]
    rows, i = [], 0
    for p, size in enumerate((120, 60, 12)):
        for _ in range(size):
            r = _random.Random(10_000 + i)
            rows.append((i, [x + 0.05 * r.gauss(0, 1) for x in protos[p]]))
            i += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    out = cluster_balanced_sample(emb, quota_per_cluster=20, n_clusters=3,
                                  dim=16)
    got = {(r.vec_id, r.cid, r.kept) for r in out.collect()}
    assert len(got) == 192  # every row flagged exactly once

    import pandas as pd_
    pdf = pd_.DataFrame(sorted(got), columns=["vec_id", "cid", "kept"])
    kept_per_cluster = pdf[pdf.kept].groupby("cid").size()
    # head clusters cap at quota; the 12-row tail keeps everything
    assert sorted(kept_per_cluster.tolist()) == [12, 20, 20], kept_per_cluster
    # k-means actually separated the planted clusters (tight, well-spread
    # prototypes): each true cluster maps to one cid
    truth = pdf.assign(true=pdf.vec_id.apply(
        lambda v: 0 if v < 120 else (1 if v < 180 else 2)))
    assert (truth.groupby("true")["cid"].nunique() == 1).all()

    # rerun on the SAME input: bit-stable
    rerun = {(r.vec_id, r.cid, r.kept)
             for r in cluster_balanced_sample(
                 emb, quota_per_cluster=20, n_clusters=3, dim=16).collect()}
    assert rerun == got
    # repartitioned input: the codebook trains on a partition-dependent
    # Bernoulli sample (a property of the IVF fit), so both cid
    # labels AND boundaries may shift — the invariants that survive any
    # assignment are the quota cap per cluster and full row coverage
    rp = cluster_balanced_sample(emb.repartition(7), quota_per_cluster=20,
                                 n_clusters=3, dim=16).collect()
    assert len({r.vec_id for r in rp}) == 192
    by_cid: dict = {}
    for r in rp:
        by_cid[r.cid] = by_cid.get(r.cid, 0) + bool(r.kept)
    assert all(v <= 20 for v in by_cid.values()), by_cid


def test_tfidf_bridge_drives_incremental_semantic_dedup(spark):
    """The advertised text→vector bridge COMPOSED with
    the daily-ingest semantic dedup, end-to-end on text: day 1 fits the
    idf, vectorizes the corpus (hashed TF-IDF), and builds the signature
    index; day 2 vectorizes a TEXT batch under the FROZEN day-1 idf (the
    fit/apply split — a re-fit idf would re-weight every bucket and no
    cross-batch signature could match) and drops (a) exact text replays
    and (b) case-rewritten copies, which are vector-identical under the
    lowercasing tokenizer but raw-text-distinct — the class of near-dup
    incremental EXACT dedup provably readmits (asserted as the contrast).
    Distinct fresh text survives; replay against the updated index is
    empty (idempotent ingest)."""
    from data_engineering_etl_pipeline_spark.extensions.corpus import (
        fit_tfidf_idf, hashed_tfidf_vectors)
    from data_engineering_etl_pipeline_spark.extensions.dedup import (
        doc_fingerprints, incremental_exact_dedup)
    from data_engineering_etl_pipeline_spark.extensions.similarity import (
        embedding_signature_index, incremental_semantic_dedup)

    DIM = 128
    docs = (load_table(spark, SF_DIR, "documents")
            .select("doc_id", "text").filter(F.col("text").isNotNull()))
    idf = fit_tfidf_idf(docs, dim=DIM)
    vec1 = hashed_tfidf_vectors(docs, dim=DIM, idf=idf)
    index = embedding_signature_index(vec1, id_col="doc_id", dim=DIM)

    replay = (docs.filter(F.col("doc_id") % 13 == 0)
              .select((F.col("doc_id") + 1000000).alias("doc_id"), "text"))
    shouted = (docs.filter(F.col("doc_id") % 17 == 0)
               .select((F.col("doc_id") + 2000000).alias("doc_id"),
                       F.upper(F.col("text")).alias("text")))
    fresh_docs = spark.createDataFrame(
        [(3000000 + i,
          f"qz{i}alpha qz{i}beta qz{i}gamma qz{i}delta qz{i}epsilon")
         for i in range(5)], "doc_id long, text string")
    pair = spark.createDataFrame(
        [(4000000, "Quantum Zebra Lattice Manifold"),
         (4000001, "quantum zebra lattice manifold")],
        "doc_id long, text string")
    batch_docs = (replay.unionByName(shouted).unionByName(fresh_docs)
                  .unionByName(pair))
    # day-2 vectorization: map-only (no fit pass) under the frozen idf
    batch = batch_docs.join(
        hashed_tfidf_vectors(batch_docs, dim=DIM, idf=idf), "doc_id")

    fresh, updated = incremental_semantic_dedup(
        batch, index, id_col="doc_id", dim=DIM)
    fresh_ids = {r.doc_id for r in fresh.select("doc_id").collect()}
    assert replay.count() and shouted.count()
    # exact replays AND case-rewrites all drop against the index alone
    assert not any(1000000 <= i < 3000000 for i in fresh_ids), fresh_ids
    # distinctive fresh text survives, with its text payload intact
    assert {i for i in fresh_ids if i < 4000000} == {3000000 + i
                                                     for i in range(5)}
    assert set(fresh.columns) == {"doc_id", "text", "embedding"}
    # within-batch vector-identical pair: min id kept
    assert 4000000 in fresh_ids and 4000001 not in fresh_ids

    # the CONTRAST: incremental EXACT dedup (fingerprint index) readmits
    # every case-rewritten copy — the gap the semantic path closes
    fp_fresh, _ = incremental_exact_dedup(batch_docs,
                                          doc_fingerprints(docs))
    fp_ids = {r.doc_id for r in fp_fresh.select("doc_id").collect()}
    assert {i for i in fp_ids if 2000000 <= i < 3000000} == \
        {r.doc_id for r in shouted.select("doc_id").collect()}
    assert not any(1000000 <= i < 2000000 for i in fp_ids)

    # idempotent ingest: the whole batch drops against the updated index
    fresh2, _ = incremental_semantic_dedup(batch, updated,
                                           id_col="doc_id", dim=DIM)
    assert fresh2.count() == 0
    # the operator's documented contract for long-lived callers
    from data_engineering_etl_pipeline_spark.caching import release_engine_pins
    assert release_engine_pins() >= 2


def test_fold_and_gemm_assignment_agree_on_malformed_rows(spark):
    """Without an explicit length override a wrong-length vector's NULL
    dots fall through every WHEN of the fold CASE to the ELSE (cid k-1)
    while the gemm kernel zero-fills it to cid 0 — the two assignment
    twins would silently disagree on malformed rows. Both must send NULL
    AND wrong-length vectors to cid 0."""
    from data_engineering_etl_pipeline_spark.extensions.similarity import (
        _nearest_centroid_fold, _nearest_centroids, planted_centroids)

    cents = planted_centroids(777, 4, 8)
    rows = [(1, [0.5] * 8), (2, None), (3, [1.0, 2.0]),  # wrong length
            (4, [-0.5] * 8)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    fold = {r["vec_id"]: r["cid"]
            for r in _nearest_centroid_fold(df, "vec_id", "embedding",
                                            cents).collect()}
    gemm = {r["vec_id"]: r["cid"]
            for r in _nearest_centroids(df, "vec_id", "embedding", cents,
                                        nprobe=1).collect()}
    assert fold == gemm
    assert fold[2] == 0 and fold[3] == 0


def test_semantic_incr_mutant_margin_floor():
    """The incremental semantic-dedup oracle's hash
    parity near the 0.94 threshold rests on the planted zero-tail mutants
    keeping a decision margin far beyond the cross-engine float-chain
    reassociation window (~20 ulp). Re-measure that margin over EVERY
    cosine the operator could ever compare against the threshold — the
    full day2 × (index ∪ day2) superset of any signature-bucket candidate
    set — at every driver/bench SF present, and fail loudly below a 1e-5
    floor so a future data regeneration that plants a too-close mutant
    surfaces as a DATA problem, not an oracle flake."""
    import os

    import numpy as np
    import pyarrow.parquet as pq

    from data_engineering_etl_pipeline_spark.queries.vectors import (
        _ISD_TAIL, _ISD_THRESHOLD)

    checked = 0
    for sf in ("0.001", "0.01", "0.1"):
        path = f"/root/testdata/sf{sf}/embeddings.parquet"
        if not os.path.exists(path):
            continue
        tbl = pq.read_table(path).to_pydict()
        ids = np.asarray(tbl["vec_id"], dtype=np.int64)
        emb = np.asarray([list(v) for v in tbl["embedding"]],
                         dtype=np.float64)
        zt = emb[ids % 5 == 0].copy()
        zt[:, 64 - _ISD_TAIL:] = 0.0
        day2 = np.vstack([emb[ids % 7 == 0], zt, -emb[ids % 9 == 0]])
        pool = np.vstack([emb, day2])

        def unit(m):
            n = np.linalg.norm(m, axis=1)
            n[n == 0] = np.inf  # zero vectors have no cosine — drop
            return m / n[:, None]
        cos = unit(day2) @ unit(pool).T
        margin = np.abs(cos - _ISD_THRESHOLD).min()
        assert margin >= 1e-5, (
            f"sf{sf}: planted mutant cosine within {margin:.2e} of the "
            f"{_ISD_THRESHOLD} threshold — regenerate or re-plant the "
            "mutant population before trusting the incr oracle hash")
        checked += 1
    assert checked >= 2  # at least the driver (0.01) and local dev SFs
