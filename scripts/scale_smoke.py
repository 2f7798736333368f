#!/usr/bin/env python
"""Scale smoke: inflate the star schema Nx (default 16x -> ~9.6M lineitem
rows across 32 files so scans parallelize past the driver testdata's
single-row-group layout), then run the relational headline queries on the
inflated copy and report per-query seconds + million-rows-per-second.

The point is the scaling SHAPE: the same plans, 16x the data, should cost
~16x the single-thread work but run on 32 cores — wall time should grow
sub-linearly vs sf0.1 (which is scan-parallelism-starved at 1 task).

Usage: python scripts/scale_smoke.py [multiplier]
Writes inflated parquet under /tmp/etl_spark_scale_smoke/ (reused if
present for the same multiplier).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

QUERY_SET = [
    "pricing_summary",
    "monthly_top_customers",
    "canonical_part_agg",
    "rolling_price_stats",
    "daily_share_and_rank",
    "hml_lag_compliance",
    "quality_gate_summary",
    "supplier_declarative_agg",
    "sql_nation_revenue",
    "user_sessions",
    "doc_url_curation",
    "supplier_feature_matrix",
]

KEY_SHIFT = 1_000_000_000


def inflate(spark, mult: int, out_dir: str) -> None:
    """Replicate fact tables with shifted order/event keys (join integrity
    preserved; group-key cardinality for custkey/suppkey unchanged → per-key
    weight grows mult×, a mild skew stress). Dims copied as-is."""
    from data_engineering_etl_pipeline_spark.io import load_table

    os.makedirs(out_dir, exist_ok=True)
    rep = F.explode(
        F.sequence(F.lit(0).cast("long"), F.lit(mult - 1).cast("long"))
    ).alias("__rep")

    def write(df, name):
        df.repartition(32).write.mode("overwrite").parquet(
            os.path.join(out_dir, f"{name}.parquet"))

    orders = load_table(spark, SRC, "orders").select("*", rep)
    write(orders.withColumn(
        "o_orderkey", F.col("o_orderkey") + F.col("__rep") * KEY_SHIFT
    ).drop("__rep"), "orders")

    li = load_table(spark, SRC, "lineitem").select("*", rep)
    write(li.withColumn(
        "l_orderkey", F.col("l_orderkey") + F.col("__rep") * KEY_SHIFT
    ).drop("__rep"), "lineitem")

    ev = load_table(spark, SRC, "events").select("*", rep)
    write(ev.withColumn(
        "event_id", F.col("event_id") + F.col("__rep") * KEY_SHIFT
    ).drop("__rep"), "events")

    for t in ("region", "nation", "customer", "supplier", "part",
              "documents", "embeddings"):
        write(load_table(spark, SRC, t), t)


def _skewed_events(spark, mult: int, hot_frac_inv: int = 10):
    """Inflate events ``mult``× and remap ~1/``hot_frac_inv`` of all rows to
    ONE hot user — the adversarial shape for per-key join operators."""
    from data_engineering_etl_pipeline_spark.io import load_table

    rep = F.explode(
        F.sequence(F.lit(0).cast("long"), F.lit(mult - 1).cast("long"))
    ).alias("__rep")
    ev = (load_table(spark, SRC, "events").select("*", rep)
          .withColumn("event_id", F.col("event_id") + F.col("__rep") * KEY_SHIFT)
          .drop("__rep"))
    hot = F.pmod(F.xxhash64("event_id"), F.lit(hot_frac_inv)) == 0
    return ev.withColumn("user_id",
                         F.when(hot, F.lit(1)).otherwise(F.col("user_id")))


def skew_smoke(mult: int) -> int:
    """Hot-key stress for the as-of and interval joins:
    one user holds ~10% of ALL events; wall time of the skew-immune plans
    vs the naive key-equi-join-then-filter twins, plus the naive plans'
    ANALYTIC intermediate row count (Σ_user |purchases|·|views|) so the
    quadratic blow-up is visible even where running it would be absurd."""
    from data_engineering_etl_pipeline_spark.relational import (
        asof_join, binned_interval_join)
    from data_engineering_etl_pipeline_spark.session import get_spark

    spark = get_spark("skew-smoke")
    ev = _skewed_events(spark, mult).persist()
    n_events = ev.count()

    purchases = (ev.filter(F.col("event_type") == "purchase")
                 .select("event_id", "user_id", "ts",
                         F.col("value").alias("purchase_value")))
    views = (ev.filter(F.col("event_type") == "view")
             .select("user_id", "ts", F.col("value").alias("last_view_value")))

    # analytic naive-join intermediate: sum over users of |P_u| * |V_u|
    pc = purchases.groupBy("user_id").count().withColumnRenamed("count", "np")
    vc = views.groupBy("user_id").count().withColumnRenamed("count", "nv")
    naive_pairs = (pc.join(vc, "user_id")
                   .agg(F.sum(F.col("np") * F.col("nv"))).collect()[0][0])

    def run(df) -> float:
        t0 = time.time()
        df.write.format("noop").mode("overwrite").save()
        return round(time.time() - t0, 3)

    out = {"metric": "skew_smoke", "multiplier": mult, "events": n_events,
           "hot_user_events": ev.filter("user_id = 1").count(),
           "naive_asof_intermediate_rows": int(naive_pairs)}

    out["asof_seconds"] = run(
        asof_join(purchases, views, key="user_id", left_time="ts",
                  right_time="ts", value_cols=["last_view_value"], suffix=""))

    clicks = (ev.filter(F.col("event_type") == "click")
              .select("user_id", "ts", "value"))
    signups = (ev.filter(F.col("event_type") == "signup")
               .select("event_id", "user_id", F.col("ts").alias("__start"),
                       (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("__end")))
    out["interval_seconds"] = run(
        binned_interval_join(signups, clicks, key="user_id", start="__start",
                             end="__end", point_time="ts",
                             point_cols=["value"], bin_seconds=3600)
        .groupBy("event_id").agg(F.count(F.lit(1)).alias("n")))

    # naive twins (key equi-join, then time predicate) — the plan whose
    # intermediate IS naive_pairs rows. Guarded: only run when feasible.
    if naive_pairs <= 300_000_000:
        views_r = views.select("user_id", F.col("ts").alias("v_ts"),
                               "last_view_value")
        out["naive_asof_seconds"] = run(
            purchases.join(views_r, "user_id")
            .filter(F.col("v_ts") <= F.col("ts"))
            .groupBy("event_id")
            .agg(F.max_by("last_view_value", F.col("v_ts")).alias("v")))
        clicks_r = clicks.select("user_id", F.col("ts").alias("c_ts"), "value")
        out["naive_interval_seconds"] = run(
            signups.join(clicks_r, "user_id")
            .filter((F.col("c_ts") > F.col("__start"))
                    & (F.col("c_ts") <= F.col("__end")))
            .groupBy("event_id").agg(F.count(F.lit(1)).alias("n")))
    ev.unpersist()
    print(json.dumps(out))
    return 0


def dedup_smoke(mult: int) -> int:
    """Dedup-family scaling: inflate documents ``mult``× with a
    replica-unique suffix on EVERY token, so shingles never match across
    replicas — naive replication would make every replica of a doc a TRUE
    near-dup of every other (quadratic pair growth, a degenerate corpus);
    token-salted replicas keep each original near-dup pair appearing once
    per replica with its original jaccard, i.e. pairs scale exactly
    linearly, like a real corpus growing."""
    from data_engineering_etl_pipeline_spark.extensions.dedup import (
        ngram_jaccard_pairs)
    from data_engineering_etl_pipeline_spark.io import load_table
    from data_engineering_etl_pipeline_spark.queries import QUERIES
    from data_engineering_etl_pipeline_spark.session import get_spark

    def doc_ngram_jaccard(spark, sf_dir):
        # exact trigram Jaccard over the raw documents table (on the driver
        # record only as the `ngram` grain of doc_minhash_lsh)
        docs = load_table(spark, sf_dir, "documents")
        return ngram_jaccard_pairs(docs, "doc_id", "text", n=3,
                                   threshold=0.5)

    spark = get_spark("dedup-smoke")
    out_dir = f"/tmp/etl_spark_scale_smoke/docs_x{mult}"
    path = os.path.join(out_dir, "documents.parquet")
    if not os.path.exists(path):
        dedup_inflate_only(spark, mult, out_dir)

    n_docs = spark.read.parquet(path).count()
    queries = ["doc_exact_dedup", "doc_minhash_lsh",
               "doc_dedup_clusters", "doc_text_stats", "quality_classifier_gate",
               "doc_substring_dedup", "dsir_select", "doc_decontamination"]
    runners = {name: QUERIES[name] for name in queries}
    runners["doc_ngram_jaccard"] = doc_ngram_jaccard
    times: dict[str, float] = {}
    for name, fn in runners.items():   # pass 1: warm code
        fn(spark, out_dir).write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()
    for name, fn in runners.items():   # pass 2: steady state
        t0 = time.time()
        fn(spark, out_dir).write.format("noop").mode("overwrite").save()
        times[name] = round(time.time() - t0, 3)
        spark.catalog.clearCache()
    n_pairs = doc_ngram_jaccard(spark, out_dir).count()
    total = round(sum(times.values()), 3)
    print(json.dumps({
        "metric": "dedup_smoke_seconds", "multiplier": mult,
        "documents": n_docs, "ngram_pairs": n_pairs,
        "value": total, "unit": "sec", "queries": times,
    }))
    return 0


def bpe_smoke(mult: int) -> int:
    """BPE word-frequency-stage scaling: the ONE
    corpus-wide shuffle of the tokenizer trainer is the word-frequency
    aggregate; everything after it operates on the vocabulary-sized table.
    Inflate with token-salted replicas (suffixed tokens → replica-unique
    words, so the vocabulary grows ~linearly — the adversarial direction
    for a vocabulary-keyed aggregate) and report the stage's wall time and
    output (vocabulary) size vs corpus size."""
    from data_engineering_etl_pipeline_spark.extensions.bpe import (
        word_frequencies)
    from data_engineering_etl_pipeline_spark.session import get_spark

    spark = get_spark("bpe-smoke")
    out_dir = f"/tmp/etl_spark_scale_smoke/docs_x{mult}"
    if not os.path.exists(os.path.join(out_dir, "documents.parquet")):
        # reuse dedup_smoke's token-salted inflation
        dedup_inflate_only(spark, mult, out_dir)
    docs = spark.read.parquet(os.path.join(out_dir, "documents.parquet"))
    n_docs = docs.count()
    wf = word_frequencies(docs)
    wf.write.format("noop").mode("overwrite").save()   # warm
    t0 = time.time()
    wf.write.format("noop").mode("overwrite").save()
    dt = round(time.time() - t0, 3)
    print(json.dumps({
        "metric": "bpe_wordfreq_smoke", "multiplier": mult,
        "documents": n_docs, "vocab_rows": wf.count(),
        "value": dt, "unit": "sec",
    }))
    return 0


def embedding_smoke(mult: int) -> int:
    """Distributed exact-GEMM family scaling: inflate embeddings
    ``mult``× with per-replica deterministic SIGN FLIPS (replica r
    multiplies dimension i by ±1 from xxhash64(r, i)) — identical within-
    replica geometry (planted duplicates stay cosine 1.0) while the SAME
    base vector's replicas land near cosine 0, so near-dup pairs scale
    exactly linearly like a real corpus. Then time, at n = 2·base·mult
    (duplicates re-appended, the registry-row recipe):

    - all-pairs ≥0.95: broadcast-GEMM (driver collect) vs blocked
      block-pair GEMM (no collect) — same pair count by construction;
    - exact top-k for 32 queries: expression-chain + full n·q window
      (cosine_topk) vs Arrow GEMM + pruned window (gemm_cosine_topk).
    """
    from data_engineering_etl_pipeline_spark.extensions.similarity import (
        cosine_near_dup_pairs, cosine_topk, gemm_cosine_topk)
    from data_engineering_etl_pipeline_spark.io import load_table
    from data_engineering_etl_pipeline_spark.session import get_spark

    spark = get_spark("embedding-smoke")
    rep = F.explode(
        F.sequence(F.lit(0).cast("long"), F.lit(mult - 1).cast("long"))
    ).alias("__rep")
    base = (load_table(spark, SRC, "embeddings")
            .select("vec_id", "embedding", rep))
    flipped = F.zip_with(
        F.col("embedding"),
        F.transform(F.sequence(F.lit(0), F.lit(63)),
                    lambda i: F.when(
                        F.pmod(F.xxhash64(F.col("__rep"), i), F.lit(2)) == 0,
                        F.lit(1.0)).otherwise(F.lit(-1.0))),
        lambda x, s: x * s)
    emb = (base
           .withColumn("vec_id", F.col("vec_id") + F.col("__rep") * KEY_SHIFT)
           .withColumn("embedding", flipped)
           .drop("__rep"))
    doubled = emb.unionByName(
        emb.filter(F.col("vec_id") % 7 == 0)
        .withColumn("vec_id", F.col("vec_id") + 500_000))
    doubled = doubled.repartition(32).persist()
    n = doubled.count()

    def run(df) -> float:
        """Warm pass (count — also the sanity/row-count read) then the
        timed steady-state noop write, so every machine pays JVM/codegen
        warmup OUTSIDE its measurement and ordering cannot bias the
        comparison (persist order alone moved the cold-start penalty
        between paths — measured, hence this shape)."""
        df.count()
        t0 = time.time()
        df.write.format("noop").mode("overwrite").save()
        return round(time.time() - t0, 3)

    n_blocks = max(4, mult)
    out = {"metric": "embedding_gemm_smoke", "multiplier": mult,
           "vectors": n, "n_blocks": n_blocks}
    pairs_d = cosine_near_dup_pairs(doubled, threshold=0.95,
                                    n_blocks=n_blocks)
    out["pairs"] = pairs_d.count()
    out["pairs_blocked_seconds"] = run(pairs_d)
    # The collect-based twin materializes a (arrow-batch × n) float64 sims
    # block per task — past ~50k vectors that is GBs PER BATCH on this
    # host, which is precisely the regime the blocked path exists for.
    # Run it for the comparison only where it is sane; report the skip.
    if n <= 50_000:
        pairs_b = cosine_near_dup_pairs(doubled, threshold=0.95)
        assert pairs_b.count() == out["pairs"], "pair count diverged"
        out["pairs_broadcast_seconds"] = run(pairs_b)
    else:
        out["pairs_broadcast_seconds"] = None  # skipped: batch sims blow-up

    q = (doubled.filter(F.col("vec_id") < 32)
         .select(F.col("vec_id").alias("query_id"), "embedding"))
    out["topk_window_seconds"] = run(cosine_topk(doubled, q, k=5))
    out["topk_gemm_seconds"] = run(gemm_cosine_topk(doubled, q, k=5))
    doubled.unpersist()
    print(json.dumps(out))
    return 0


def moments_smoke(mult: int) -> int:
    """Exact-moment family scaling (covariance_exact / fit_pca_exact /
    kmeans_lloyd_refine): inflate embeddings ``mult``× with the sign-flip
    recipe (identical within-replica geometry, deterministic) and time the
    covariance kernel, the full PCA fit (kernel + collect + eigh), and one
    distributed Lloyd refinement iteration. All three are map-dominated
    with a codebook-sized shuffle, so wall time should scale ~linearly in
    rows and the reduce stays constant-size — the 100 TB design claim."""
    from data_engineering_etl_pipeline_spark.extensions.similarity import (
        covariance_exact, fit_pca_exact, kmeans_lloyd_refine,
        planted_centroids)
    from data_engineering_etl_pipeline_spark.io import load_table
    from data_engineering_etl_pipeline_spark.session import get_spark

    spark = get_spark("moments-smoke")
    rep = F.explode(
        F.sequence(F.lit(0).cast("long"), F.lit(mult - 1).cast("long"))
    ).alias("__rep")
    base = (load_table(spark, SRC, "embeddings")
            .select("vec_id", "embedding", rep))
    flipped = F.zip_with(
        F.col("embedding"),
        F.transform(F.sequence(F.lit(0), F.lit(63)),
                    lambda i: F.when(
                        F.pmod(F.xxhash64(F.col("__rep"), i), F.lit(2)) == 0,
                        F.lit(1.0)).otherwise(F.lit(-1.0))),
        lambda x, s: x * s)
    emb = (base
           .withColumn("vec_id", F.col("vec_id") + F.col("__rep") * KEY_SHIFT)
           .withColumn("embedding", flipped)
           .drop("__rep")
           .repartition(32).persist())
    n = emb.count()

    out = {"metric": "moments_smoke", "multiplier": mult, "vectors": n}
    cov = covariance_exact(emb)
    cov.count()  # warm pass: JVM/codegen outside the measurement
    t0 = time.time()
    cov.write.format("noop").mode("overwrite").save()
    out["covariance_seconds"] = round(time.time() - t0, 3)

    t0 = time.time()
    model = fit_pca_exact(emb, n_components=16)
    out["pca_fit_seconds"] = round(time.time() - t0, 3)
    out["pca_top_eigval"] = round(model["eigvals"][0], 6)

    cents = planted_centroids(42, 8, 64)
    t0 = time.time()
    kmeans_lloyd_refine(emb, cents, n_iters=1)
    out["kmeans_refine_iter_seconds"] = round(time.time() - t0, 3)
    emb.unpersist()
    print(json.dumps(out))
    return 0


def dedup_inflate_only(spark, mult: int, out_dir: str) -> None:
    """Token-salted document inflation shared by dedup/bpe smokes."""
    from data_engineering_etl_pipeline_spark.io import load_table

    rep = F.explode(
        F.sequence(F.lit(0).cast("long"), F.lit(mult - 1).cast("long"))
    ).alias("__rep")
    docs = load_table(spark, SRC, "documents").select("*", rep)
    salted = F.concat_ws(" ", F.transform(
        F.split(F.trim(F.col("text")), r"\s+"),
        lambda t: F.concat(t, F.lit("_"), F.col("__rep"))))
    docs = (docs
            .withColumn("doc_id", F.col("doc_id") + F.col("__rep") * KEY_SHIFT)
            .withColumn("text", F.when(F.col("__rep") == 0, F.col("text"))
                        .otherwise(salted))
            .withColumn("n_chars", F.length("text").cast("int"))
            .drop("__rep"))
    docs.repartition(32).write.mode("overwrite").parquet(
        os.path.join(out_dir, "documents.parquet"))


def ta_hot_smoke(mult: int, hot_frac_inv: int = 10) -> int:
    """Hot-entity stress for the TA kernel: inflate
    lineitem ``mult``× and remap ~1/``hot_frac_inv`` of ALL rows to ONE
    suppkey, then run the full recurrence kernel. The chunked
    ``mapInPandas`` form (ta.py run_partition) holds O(one Arrow batch +
    hottest entity) rows per task — this smoke drives the hottest-entity
    term to ~10% of the whole fact table and must still complete in
    near-flat wall time (the hot entity is ONE sequential recurrence; the
    other 31 cores keep the rest)."""
    from data_engineering_etl_pipeline_spark.io import load_table
    from data_engineering_etl_pipeline_spark.session import get_spark
    from data_engineering_etl_pipeline_spark.ta import ta_features

    spark = get_spark("ta-hot-smoke")
    rep = F.explode(
        F.sequence(F.lit(0).cast("long"), F.lit(mult - 1).cast("long"))
    ).alias("__rep")
    li = (load_table(spark, SRC, "lineitem")
          .select("l_suppkey", "l_shipdate", "l_orderkey", "l_linenumber",
                  "l_extendedprice", rep)
          .withColumn("l_orderkey",
                      F.col("l_orderkey") + F.col("__rep") * KEY_SHIFT)
          .drop("__rep"))
    hot = F.pmod(F.xxhash64("l_orderkey", "l_linenumber"),
                 F.lit(hot_frac_inv)) == 0
    li = li.withColumn("l_suppkey",
                       F.when(hot, F.lit(1)).otherwise(F.col("l_suppkey")))
    li = li.persist()
    n_rows = li.count()
    n_hot = li.filter("l_suppkey = 1").count()

    def run() -> float:
        t0 = time.time()
        ta_features(li, entity_col="l_suppkey",
                    order_cols=["l_shipdate", "l_orderkey", "l_linenumber"],
                    close="l_extendedprice").write.format("noop").mode(
                        "overwrite").save()
        return round(time.time() - t0, 3)

    run()                                   # warm
    dt = run()
    li.unpersist()
    print(json.dumps({
        "metric": "ta_hot_entity_smoke", "multiplier": mult,
        "rows": n_rows, "hot_entity_rows": n_hot,
        "value": dt, "unit": "sec",
    }))
    return 0


def prep_smoke(mult: int) -> int:
    """End-to-end composition scaling: run the full prep_training_corpus
    registry row against a token-salted inflated documents table. Every
    stage's scaling is individually pinned by the other smokes; this one
    checks the COMPOSITION (shared persists, the eager components stage,
    the packing windows) stays sublinear too."""
    from data_engineering_etl_pipeline_spark.queries import QUERIES
    from data_engineering_etl_pipeline_spark.session import get_spark

    spark = get_spark("prep-smoke")
    out_dir = f"/tmp/etl_spark_scale_smoke/docs_x{mult}"
    if not os.path.exists(os.path.join(out_dir, "documents.parquet")):
        dedup_inflate_only(spark, mult, out_dir)
    n_docs = spark.read.parquet(
        os.path.join(out_dir, "documents.parquet")).count()

    def run() -> float:
        t0 = time.time()
        QUERIES["prep_training_corpus"](spark, out_dir).write.format(
            "noop").mode("overwrite").save()
        spark.catalog.clearCache()
        return round(time.time() - t0, 3)

    run()                                   # warm
    dt = run()
    n_out = QUERIES["prep_training_corpus"](spark, out_dir).count()
    spark.catalog.clearCache()
    print(json.dumps({
        "metric": "prep_pipeline_smoke", "multiplier": mult,
        "documents": n_docs, "output_rows": n_out,
        "value": dt, "unit": "sec",
    }))
    return 0


def dedup_hot_smoke(mult: int, hot_frac_inv: int = 10) -> int:
    """Hot-CLUSTER stress for dedup_clusters: the
    adversarial shape for pointer jumping is ONE giant near-dup cluster
    (the boilerplate corpus). The dedup smoke scales uniformly; here
    ~1/``hot_frac_inv`` of a ``mult``×5000-doc corpus forms a single
    component wired as a CHAIN — the worst diameter for label
    propagation, where a non-jumping loop needs O(n) rounds — plus a
    background of small 2-node clusters. Records rounds + wall and
    asserts (a) bounded rounds (O(log d): ~log2(chain length) + slack),
    (b) the giant component resolved to one min-id label."""
    from data_engineering_etl_pipeline_spark.extensions.dedup import dedup_clusters
    from data_engineering_etl_pipeline_spark.session import get_spark

    spark = get_spark("dedup-hot-smoke")
    n_docs = 5000 * mult
    hot_n = n_docs // hot_frac_inv
    # chain over the hot ids: (i, i+1) for i in [0, hot_n-1)
    chain = spark.range(hot_n - 1).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b"))
    # background: disjoint 2-node clusters over the remaining id space
    bg = (spark.range(hot_n, n_docs - 1, 2)
          .select(F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")))
    pairs = chain.unionByName(bg)
    stats: dict = {}
    import math
    max_iter = int(math.log2(max(hot_n, 2))) + 8
    t0 = time.time()
    comp = dedup_clusters(pairs, max_iter=max_iter, stats=stats)
    hot_labels = (comp.filter(F.col("member_id") < hot_n)
                  .select("cluster_id").distinct().count())
    wall = round(time.time() - t0, 3)
    assert hot_labels == 1, f"giant cluster split into {hot_labels} labels"
    bound = int(math.log2(hot_n)) + 4
    assert stats["rounds"] <= bound, (
        f"rounds {stats['rounds']} exceed O(log d) bound {bound}")
    print(json.dumps({
        "metric": "dedup_hot_cluster_smoke", "multiplier": mult,
        "n_docs": n_docs, "hot_cluster_size": hot_n,
        "rounds": stats["rounds"], "log2_diameter_bound": bound,
        "value": wall, "unit": "sec",
    }))
    return 0


def main() -> int:
    if len(sys.argv) > 1 and sys.argv[1] == "--dedup-hot":
        return dedup_hot_smoke(int(sys.argv[2]) if len(sys.argv) > 2 else 16)
    if len(sys.argv) > 1 and sys.argv[1] == "--prep":
        return prep_smoke(int(sys.argv[2]) if len(sys.argv) > 2 else 4)
    if len(sys.argv) > 1 and sys.argv[1] == "--bpe":
        return bpe_smoke(int(sys.argv[2]) if len(sys.argv) > 2 else 4)
    if len(sys.argv) > 1 and sys.argv[1] == "--ta-hot":
        return ta_hot_smoke(int(sys.argv[2]) if len(sys.argv) > 2 else 4)
    if len(sys.argv) > 1 and sys.argv[1] == "--skew":
        return skew_smoke(int(sys.argv[2]) if len(sys.argv) > 2 else 4)
    if len(sys.argv) > 1 and sys.argv[1] == "--dedup":
        return dedup_smoke(int(sys.argv[2]) if len(sys.argv) > 2 else 4)
    if len(sys.argv) > 1 and sys.argv[1] == "--embedding":
        return embedding_smoke(int(sys.argv[2]) if len(sys.argv) > 2 else 4)
    if len(sys.argv) > 1 and sys.argv[1] == "--moments":
        return moments_smoke(int(sys.argv[2]) if len(sys.argv) > 2 else 16)
    mult = int(sys.argv[1]) if len(sys.argv) > 1 else 16
    out_dir = f"/tmp/etl_spark_scale_smoke/x{mult}"
    from data_engineering_etl_pipeline_spark.queries import QUERIES
    from data_engineering_etl_pipeline_spark.session import get_spark

    spark = get_spark("scale-smoke")
    if not os.path.exists(os.path.join(out_dir, "lineitem.parquet")):
        t0 = time.time()
        inflate(spark, mult, out_dir)
        print(f"# inflated x{mult} in {time.time()-t0:.1f}s", file=sys.stderr)

    n_li = spark.read.parquet(os.path.join(out_dir, "lineitem.parquet")).count()

    times: dict[str, float] = {}
    for name in QUERY_SET:           # pass 1: warm code
        QUERIES[name](spark, out_dir).write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()
    for name in QUERY_SET:           # pass 2: steady state
        t0 = time.time()
        QUERIES[name](spark, out_dir).write.format("noop").mode("overwrite").save()
        times[name] = round(time.time() - t0, 3)
        spark.catalog.clearCache()

    total = round(sum(times.values()), 3)
    print(json.dumps({
        "metric": "scale_smoke_seconds",
        "multiplier": mult,
        "lineitem_rows": n_li,
        "value": total,
        "unit": "sec",
        "mrows_per_sec_lineitem": round(n_li * len(times) / total / 1e6, 2),
        "queries": times,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
