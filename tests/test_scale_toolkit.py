"""Documented 100 TB approximate-aggregate swaps as TESTED contracts.

Each hot-path docstring names an approximate aggregate as its production
swap (HLL++ countDistinct, KLL-family percentile_approx). These units run
the swap at sf0.1 (the bench SF — 5k docs / 100k events gives the sketches
a real population) and assert the engine's DOCUMENTED error bound against
the exact path, so a Spark upgrade that degrades a sketch breaks a test,
not a production corpus.
"""

from __future__ import annotations

from pyspark.sql import functions as F

SF01 = "/root/testdata/sf0.1"


def test_approx_count_distinct_within_rsd_contract(spark):
    """A5 swap (queries/events.py event_type_profile): per-event-type
    approx_count_distinct(user_id, rsd=0.05) vs exact countDistinct.
    HLL++ is deterministic given the data, so the measured relative error
    (0.067 across all 5 types at sf0.1) is stable; the asserted ceiling is
    2×rsd — inside HLL++'s practical envelope, far above run-to-run noise
    (zero: no randomness), and tight enough to catch a broken sketch."""
    rsd = 0.05
    ev = spark.read.parquet(f"{SF01}/events.parquet")
    exact = {r["event_type"]: r["x"] for r in ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("x")).collect()}
    approx = {r["event_type"]: r["a"] for r in ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd).alias("a")).collect()}
    assert set(approx) == set(exact)
    for et, n in exact.items():
        rel = abs(approx[et] - n) / n
        assert rel <= 2 * rsd, (et, approx[et], n, rel)


def test_perplexity_buckets_approx_accuracy_contract(spark):
    """perplexity_buckets(approx_accuracy=N) (extensions/corpus.py): each
    approximate tercile cutoff's RANK in the exact xent distribution must
    be within n/N of the target rank — Spark's documented deterministic
    percentile_approx guarantee — and therefore at most 2*(n/N + 1) docs
    may change bucket vs the exact path. Measured at sf0.1 / N=1000:
    rank errors 4.7 and 2.3 against the 5.0 bound, bucket diffs ≤ 7."""
    import bisect

    from data_engineering_etl_pipeline_spark.extensions.corpus import (
        lm_cross_entropy, perplexity_buckets)

    acc = 1000
    docs = spark.read.parquet(f"{SF01}/documents.parquet")
    lw = lm_cross_entropy(docs)
    xs = sorted(r["xent"] for r in lw.select("xent").collect()
                if r["xent"] is not None)
    n = len(xs)
    cuts = lw.agg(F.percentile_approx(
        "xent", F.array(F.lit(1 / 3), F.lit(2 / 3)),
        F.lit(acc)).alias("c")).collect()[0]["c"]
    for p, cut in zip((1 / 3, 2 / 3), cuts):
        rank = bisect.bisect_right(xs, cut)
        assert abs(rank - p * n) <= n / acc + 1, (p, cut, rank, p * n)

    exact = {r["doc_id"]: r["ppl_bucket"]
             for r in perplexity_buckets(docs).collect()}
    approx = {r["doc_id"]: r["ppl_bucket"]
              for r in perplexity_buckets(docs, approx_accuracy=acc).collect()}
    diffs = sum(1 for d in exact if exact[d] != approx[d])
    assert diffs <= 2 * (n / acc + 1), diffs


def test_split_profile_approx_percentile_swap_contract(spark):
    """corpus_split_profile's documented swap (queries/text.py): the exact
    per-(split, lang) length percentile becomes percentile_approx at
    100 TB. Contract: for every group and every q in (.25, .5, .75, .95),
    the approx value's rank within the group's sorted lengths is within
    n_g/N + 1 of q*n_g (the per-group form of the same Spark guarantee;
    groups at sf0.1 are 100-2300 docs, so N=1000 forces exactness on the
    small groups and a real sketch bound on the large ones). Lengths are
    small integers with heavy ties, so a returned value occupies a rank
    INTERVAL [bisect_left, bisect_right] — the contract is that this
    interval intersects the target band, not that one arbitrary end of
    it does."""
    import bisect
    from collections import defaultdict

    acc = 1000
    qs = (0.25, 0.5, 0.75, 0.95)
    docs = spark.read.parquet(f"{SF01}/documents.parquet")
    hv = F.conv(F.substring(
        F.md5(F.concat(F.col("text"), F.lit("|split-v1"))), 1, 8),
        16, 10).cast("long")
    split = (F.when(hv % 100 < 90, F.lit("train")).otherwise(F.lit("val"))
             .alias("split"))
    base = docs.select(split, "lang", F.length("text").alias("ln"))
    groups = defaultdict(list)
    for r in base.collect():
        groups[(r["split"], r["lang"])].append(r["ln"])
    ap = base.groupBy("split", "lang").agg(F.percentile_approx(
        "ln", F.array(*[F.lit(q) for q in qs]), F.lit(acc)).alias("c"))
    for r in ap.collect():
        lens = sorted(groups[(r["split"], r["lang"])])
        ng = len(lens)
        for q, v in zip(qs, r["c"]):
            lo = bisect.bisect_left(lens, v)
            hi = bisect.bisect_right(lens, v)
            tgt, bound = q * ng, ng / acc + 1
            assert lo <= tgt + bound and hi >= tgt - bound, (
                r["split"], r["lang"], q, v, lo, hi, tgt)
