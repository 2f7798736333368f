"""Physical-plan contracts: the scale properties SURVEY.md §4 promises, pinned
as tests so a regression in join strategy, pushdown, or shuffle count fails
CI — "would this plan survive a 100× scale-up" encoded as assertions.

Counts come from ``explain("formatted")``: shuffle exchanges exclude
broadcast exchanges; "pushed" means a non-empty PushedFilters at the parquet
scan node.
"""

from __future__ import annotations

import contextlib
import io

import pytest

from data_engineering_etl_pipeline_spark import io as engine_io
from data_engineering_etl_pipeline_spark.queries import QUERIES
from .conftest import SF_DIR


@pytest.fixture(autouse=True)
def _floor_off(monkeypatch):
    """Pin the AT-SCALE plan shape: the io.load_table input-parallelism
    floor repartitions sub-128 MB documents scans — a deliberate
    small-input-only exchange that is structurally absent at 100 TB
    (where scans have thousands of splits). Disabling it here keeps
    every shuffle-count pin about the operator's own shape; the floor
    itself is pinned by test_small_scan_parallelism_floor below."""
    monkeypatch.setattr(engine_io, "_SCAN_FLOOR_BYTES", 0)


def test_small_scan_parallelism_floor(spark, monkeypatch):
    """The input-parallelism floor: a small documents scan gains
    EXACTLY one round-robin repartition right above the scan (guide §2.5
    — the testdata ships single-row-group parquet, which otherwise scans
    as ONE task and serializes the text family onto one core), filters
    still reach the scan through it, and non-floored tables (embeddings:
    measured BLAS loss; numeric star tables: partial-agg collapse) stay
    exchange-free."""
    from pyspark.sql import functions as F

    from data_engineering_etl_pipeline_spark.io import load_table

    monkeypatch.undo()  # the floor back on: _floor_off turned it off
    docs = load_table(spark, SF_DIR, "documents").filter(
        F.col("doc_id") > 10).select("doc_id")
    p = plan_text(docs)
    assert shuffles(p) == 1 and "ROUNDROBIN" in p.upper(), p
    assert pushed_filters(p) >= 1, p  # pushdown survives the repartition
    for name in ("embeddings", "lineitem"):
        q = plan_text(load_table(spark, SF_DIR, name).select(
            load_table(spark, SF_DIR, name).columns[0]))
        assert shuffles(q) == 0, f"{name} must not be floored:\n{q}"


def plan_text(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def plan_of(spark, name: str) -> str:
    return plan_text(QUERIES[name](spark, SF_DIR))


def shuffles(plan: str) -> int:
    return sum(1 for line in plan.splitlines()
               if line.strip().startswith("(") and "Exchange" in line
               and "Broadcast" not in line)


def pushed_filters(plan: str) -> int:
    return sum(1 for line in plan.splitlines()
               if "PushedFilters: [" in line and "PushedFilters: []" not in line)


def test_sql_nation_revenue_grouping_sets_one_agg_pass(spark):
    """The consolidated enriched SQL star (five frames, two
    grains) still broadcasts every dim, pushes the date filter, and plans
    the GROUPING SETS as ONE expand+aggregate — a second grain must not
    cost a second scan or join pass."""
    p = plan_of(spark, "sql_nation_revenue")
    assert p.count("BroadcastHashJoin") >= 4
    assert p.count("SortMergeJoin") == 0
    assert "Expand" in p
    assert shuffles(p) == 1
    assert pushed_filters(p) >= 1


def test_cluster_balanced_sample_two_phase_quota_selection(spark):
    """The scale contract of the quota selection: the ranking window must
    consume the MAP-SIDE candidate prune (mapInPandas, ≤ quota·k rows per
    partition), NOT the corpus — a single-window shape would shuffle every
    row into exactly k reducer partitions and fully sort each cluster.
    Assertions: (a) the fold assignment stays pure expressions (no
    row-at-a-time Python worker); (b) at most two
    non-broadcast exchanges, BOTH bounded away from the corpus — the
    candidate-sized ranking shuffle and the keeper-sized duplicate-id
    dedup (the M-step stages are literal relations computed at build
    time, no in-plan aggregate); (c) exactly one Window, and between it
    and the MapInPandas prune that feeds it there is NO corpus scan — the
    sort input is the pruned candidate set; (d) the keeper flag join is a
    broadcast join reading the pinned (id, cid) assignment."""
    p = plan_of(spark, "cluster_balanced_sample")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p
    assert 1 <= shuffles(p) <= 2, p
    assert p.count("MapInPandas") >= 1, p
    iw = p.index("Window")
    im = p.index("MapInPandas")
    assert iw < im, p  # tree prints parent-first: window above the prune
    seg = p[iw:im]
    assert "Scan parquet" not in seg and "InMemoryTableScan" not in seg, seg
    assert "BroadcastHashJoin" in p, p
    assert "InMemoryTableScan" in p, p  # the pinned (id, cid) assignment


def test_pca_moments_one_codebook_sized_exchange(spark):
    """The covariance row: exactly ONE Arrow mapInPandas kernel pass
    (the compose-from-moments shape re-ran the O(n·d²) kernel three times
    — Catalyst does not dedupe common subplans), ONE non-broadcast
    exchange (the (i, j) reduce — d(d+1)/2 keys, map-side combined so the
    covariance shuffle is codebook-sized at any corpus scale), and no
    join anywhere (first-moment partials ride the triangle rows)."""
    p = plan_of(spark, "embedding_pca_moments")
    kernel_nodes = sum(1 for line in p.splitlines()
                       if line.strip().startswith("(")
                       and "MapInPandas" in line)
    assert kernel_nodes == 1, p
    assert shuffles(p) == 1, p
    assert "partial_sum" in p, p
    assert "Join" not in p and "CartesianProduct" not in p, p


def test_pricing_summary_pushes_date_filter(spark):
    """The shipdate predicate must reach the parquet scan (row-group
    pruning), and the agg is one partial+final shuffle."""
    p = plan_of(spark, "pricing_summary")
    assert pushed_filters(p) >= 1
    assert shuffles(p) == 1


def test_pit_universe_join_broadcasts_universe(spark):
    """The PIT theta-join must broadcast the (tiny) universe side — a
    shuffle-based range join here would move the whole fact table."""
    p = plan_of(spark, "pit_universe_history")
    assert p.count("BroadcastHashJoin") + p.count("BroadcastNestedLoopJoin") >= 1
    assert p.count("SortMergeJoin") == 0


@pytest.mark.parametrize("name", [
    "canonical_part_agg",       # A1: ONE aggregate, no per-group Python
    "daily_share_and_rank",     # W2+W8 share one per-date exchange
    "rolling_price_stats",      # W5-W7 share one per-entity exchange
    "supplier_declarative_agg", # A2: max_by carries order through partial aggs
])
def test_single_shuffle_operators(spark, name):
    """Operators whose whole point is 'one shuffle, no Python in the hot
    path' — catch silent plan regressions (an extra exchange at 100 TB is
    the difference between one pass and two)."""
    p = plan_of(spark, name)
    assert shuffles(p) == 1, f"{name} grew extra shuffles:\n{p}"


def plan_nodes(plan: str, name: str) -> list[str]:
    """The detail blocks of every ``name`` node in a formatted plan."""
    return [b for b in plan.split("\n\n")
            if b.strip().split("\n")[0].split(" ")[1:2] == [name]]


def test_rolling_window_node_holds_one_aggregate_per_statistic(spark):
    """A 30-row rolling z-score is one count, one avg and one stddev over
    its frame, and a 20-row rolling mean one count and one avg: 5 window
    expressions in the one Window node. Spark dedupes no identical window
    expressions, so a z-score composed from rolling_mean/rolling_std
    emits 8 on its own, each a sliding aggregate evaluated per row."""
    from data_engineering_etl_pipeline_spark.windows import (rolling_mean,
                                                             rolling_zscore,
                                                             w_entity)

    df = spark.createDataFrame([(1, i, float(i)) for i in range(3)],
                               "k long, i long, x double")
    w = w_entity("k", "i")
    p = plan_text(df.select("*", rolling_zscore("x", 30, w).alias("z"),
                            rolling_mean("x", 20, w).alias("m")))
    windows = plan_nodes(p, "Window")
    assert len(windows) == 1, p
    assert windows[0].count("windowspecdefinition") == 5, windows[0]


def test_canonical_aggregate_one_max_by_per_side(spark):
    """canonical_aggregate picks every value column with ONE max_by over a
    struct of them, so each aggregate side builds and compares the
    priority struct once per row, not once per value column."""
    from data_engineering_etl_pipeline_spark.aggregates import (
        canonical_aggregate)

    df = spark.createDataFrame(
        [("a", "a", 1, 1.0, 2.0, 0.5, 1.5, 9.0, 3.0)],
        "c string, m string, d long, open double, high double, low double, "
        "close double, mcap double, vol double")
    p = plan_text(canonical_aggregate(
        df, "c", "m", "d", ["open", "high", "low", "close", "mcap"], ["vol"],
        "mcap", count_alias="n"))
    sides = [line for node in plan_nodes(p, "SortAggregate")
             for line in node.splitlines() if line.startswith("Functions")]
    assert len(sides) == 2, p
    for line in sides:
        assert line.count("max_by(") == 1, line


def test_exact_dedup_shuffles_fingerprints_not_text(spark):
    """Every exact-dedup exchange must key on the (xxhash64, length)
    fingerprint — 12-byte keys — never the raw document text. Text takes
    part only in the group/window keys above the fingerprint exchange,
    which already clusters them, so it never becomes an exchange key."""
    p = plan_of(spark, "doc_exact_dedup")
    assert "hashpartitioning(__fp" in p, f"fingerprint exchange missing:\n{p}"
    # none in any leg: the batch groups and the incremental legs'
    # within-batch dedup exchange on the fingerprint alone, and the index
    # join keys on fingerprints alone
    assert p.count("hashpartitioning(text") == 0, \
        "text-keyed exchange — raw documents are shuffling as keys"
    # the row is a 3-leg composition (batch + incr_fresh + index), so
    # the absolute bound covers all legs; each leg's exchanges carry
    # fingerprints/ids, never text keys (asserted above)
    assert shuffles(p) <= 16, f"exact dedup grew extra shuffles:\n{p}"


def _scrubbed_docs(spark):
    """The corpus pipeline's input to exact dedup: C4-cleaned, then
    PII-scrubbed text over one parquet scan of the documents table."""
    from pyspark.sql import functions as F

    from data_engineering_etl_pipeline_spark.extensions.cleaning import c4_stats
    from data_engineering_etl_pipeline_spark.extensions.pii import scrub_pii

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    cleaned = (docs.select("doc_id", *c4_stats("text"))
               .filter(F.col("keep_page"))
               .select("doc_id", F.col("cleaned").alias("text")))
    return cleaned.select("doc_id", scrub_pii("text").alias("text"))


@pytest.mark.parametrize("op", ["exact_dedup_keep_first",
                                "exact_dedup_groups"])
def test_exact_dedup_scans_once(spark, op):
    """Both exact-dedup operators (the deduped corpus and the group
    report) run their input lineage ONCE: over a cleaned and scrubbed
    parquet scan the plan holds one file scan and one shuffle, keyed on
    the fingerprint. A plan that feeds the input to several branches (a
    fingerprint count, the unique rows, the candidates) re-runs the scan
    and both regex map stages once per branch."""
    from data_engineering_etl_pipeline_spark.extensions import dedup

    p = plan_text(getattr(dedup, op)(_scrubbed_docs(spark), "doc_id", "text"))
    nodes = [line for line in p.splitlines() if line.strip().startswith("(")]
    assert sum("Scan parquet" in line for line in nodes) == 1, p
    assert shuffles(p) == 1, p
    assert "BroadcastExchange" not in p, p
    exchanges = [line for line in p.splitlines()
                 if "hashpartitioning(" in line]
    assert len(exchanges) == 1, p
    assert "hashpartitioning(__fp" in exchanges[0], p
    assert "hashpartitioning(text" not in p, p


def test_filter_over_exact_dedup_derives_text_once(spark):
    """A text filter downstream of ``exact_dedup_keep_first`` (the quality
    floor of the corpus pipeline) stays above the dedup's exchange, so the
    cleaned and scrubbed text is derived once per document: every PII
    placeholder appears in exactly one plan node, and no Filter below the
    exchange references it. Were ``text`` a partition key of the dedup
    window, Catalyst would push the filter below the window and the
    exchange, re-deriving the whole C4 + PII chain there from the raw
    page."""
    from data_engineering_etl_pipeline_spark.extensions import dedup
    from data_engineering_etl_pipeline_spark.extensions.pii import PII_PATTERNS
    from data_engineering_etl_pipeline_spark.extensions.text_stats import (
        quality_score)

    kept = dedup.exact_dedup_keep_first(
        _scrubbed_docs(spark), "doc_id", "text").filter(
            quality_score("text") >= 0.2)
    p = plan_text(kept)
    # node id → its detail block; the plan is one chain, and the formatted
    # ids number it bottom-up, so "below the exchange" is "a smaller id"
    nodes = {int(b[1:b.index(")")]): b for b in p.split("\n\n")
             if b.startswith("(")}
    exchange = min(i for i, b in nodes.items()
                   if b.startswith(f"({i}) Exchange"))
    for _, _, placeholder in PII_PATTERNS:
        holders = [i for i, b in nodes.items() if placeholder in b]
        assert len(holders) == 1, (placeholder, holders, p)
        assert not [i for i in holders if i < exchange
                    and nodes[i].startswith(f"({i}) Filter")], (placeholder, p)


def test_hml_factor_library_plan_single_shuffle(spark):
    """A10 long-short factor (``windows.long_short_factor``, on the driver
    record through hml_lag_compliance): percent_rank + conditional agg
    must stay ONE exchange."""
    from data_engineering_etl_pipeline_spark.io import load_table
    from data_engineering_etl_pipeline_spark.windows import long_short_factor

    li = load_table(spark, SF_DIR, "lineitem")
    p = plan_text(long_short_factor(li, "l_shipdate", "l_extendedprice",
                                    "l_discount", frac=0.3, min_group=10))
    assert shuffles(p) == 1, f"long_short_factor grew extra shuffles:\n{p}"


@pytest.mark.parametrize("kernel", ["ta_features", "streaming_macd"])
def test_python_kernel_exchange_is_coalescable(spark, kernel):
    """The Python-kernel stages repartition by key alone
    (``REPARTITION_BY_COL``), which AQE may coalesce: every Python task pays
    a fixed worker set-up whatever its row count. A user-fixed count
    (``REPARTITION_BY_NUM``) is left alone by AQE and would run
    ``spark.sql.shuffle.partitions`` tasks on any input size."""
    from data_engineering_etl_pipeline_spark.streaming import streaming_macd
    from data_engineering_etl_pipeline_spark.ta import ta_features

    df = spark.createDataFrame(
        [(k, i, 100.0 + i) for k in range(3) for i in range(5)],
        "k long, i long, close double")
    out = (ta_features(df, "k", ["i"], "close") if kernel == "ta_features"
           else streaming_macd(df, "k", "i", "close"))
    p = plan_text(out)
    assert "REPARTITION_BY_COL" in p, p
    assert "REPARTITION_BY_NUM" not in p, p


def test_feature_matrix_three_shuffles_two_sorts(spark):
    """E3 composed pipeline: panel agg + entity window family + cross-date
    window family = exactly 3 shuffles; all entity features (5 lags, 4
    rolling z/std, Bollinger width) must share ONE sort (a per-feature sort
    would be SURVEY §3 E3's repeated-exchange anti-pattern)."""
    p = plan_of(spark, "supplier_feature_matrix")
    assert shuffles(p) == 3, f"feature matrix grew extra shuffles:\n{p}"
    sorts = sum(1 for line in p.splitlines()
                if line.strip().startswith("(") and " Sort " in line)
    assert sorts <= 2, f"entity window family split into multiple sorts:\n{p}"


def test_monthly_top_customers_two_shuffles(spark):
    """Flagship: agg shuffle on (month, custkey) + window shuffle on month —
    the minimum for this shape (SURVEY §7.2)."""
    p = plan_of(spark, "monthly_top_customers")
    assert shuffles(p) <= 2


def test_asof_join_plan_is_joinless_single_shuffle(spark):
    """The as-of join must compile to union + sort-exchange + window — NO
    join operator at all (the naive key-join-then-filter plan is quadratic
    on hot keys; this shape is skew-immune by construction). The registry
    row runs duplicates='resolve_max' (deterministic under duplicate
    right keys), whose right-side dedup pre-aggregate is the ONE extra,
    partial-aggregatable exchange beyond the library's single sort — the
    bare duplicates='allow' library form stays single-shuffle, asserted
    separately below."""
    p = plan_of(spark, "purchase_last_view_asof")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p
    assert "BroadcastHashJoin" not in p
    assert shuffles(p) == 2, f"asof grew extra shuffles:\n{p}"

    from data_engineering_etl_pipeline_spark.io import load_table
    from data_engineering_etl_pipeline_spark.relational import asof_join
    from pyspark.sql import functions as F

    ev = load_table(spark, SF_DIR, "events")
    p2 = plan_text(asof_join(
        ev.filter(F.col("event_type") == "purchase")
          .select("event_id", "user_id", "ts"),
        ev.filter(F.col("event_type") == "view")
          .select("user_id", "ts", F.col("value").alias("v")),
        key="user_id", left_time="ts", right_time="ts",
        value_cols=["v"], suffix=""))
    assert shuffles(p2) == 1, f"library asof grew extra shuffles:\n{p2}"


@pytest.mark.parametrize("name", ["doc_ngram_jaccard", "doc_minhash_lsh"])
def test_near_dup_stats_pruned_by_candidate_semi_join(spark, name):
    """The exact-Jaccard verification stats (per-doc shingle sets) must be
    pruned to candidate-pair docs via a semi-join BEFORE the per-doc
    groupBy — without it the stats stage shuffles the whole corpus's
    shingles by doc_id, the kind of full-relation exchange that dies at
    100 TB. (doc_ngram_jaccard is ``ngram_jaccard_pairs`` over the raw
    documents table — on the driver record only as doc_minhash_lsh's
    `ngram` grain — so its plan contract is pinned on its own.)"""
    if name in QUERIES:
        p = plan_of(spark, name)
    else:
        from data_engineering_etl_pipeline_spark.extensions.dedup import (
            ngram_jaccard_pairs)
        from data_engineering_etl_pipeline_spark.io import load_table

        docs = load_table(spark, SF_DIR, "documents")
        p = plan_text(ngram_jaccard_pairs(docs, "doc_id", "text", n=3,
                                          threshold=0.5))
    assert "LeftSemi" in p, f"{name} lost the candidate-id stats prune:\n{p}"


def test_tfidf_near_dup_no_quadratic_join_operator(spark):
    """The TF-IDF→near-dup bridge must never plan a quadratic join: the
    all-pairs work lives in the BLAS GEMM candidate generator (bounded like
    a broadcast-join build side), and the exact re-score joins the
    candidate list back on plain id equi-joins."""
    p = plan_of(spark, "doc_tfidf_near_dup")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_interval_join_plan_equi_join_on_bins(spark):
    """The interval join must be an EQUI join on (key, bin) — never a range
    join (BroadcastNestedLoop/Cartesian), whose intermediate is quadratic
    per key. Fan-out is bounded by per-bin density."""
    p = plan_of(spark, "signup_click_funnel_1h")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert ("SortMergeJoin" in p or "ShuffledHashJoin" in p
            or "BroadcastHashJoin" in p)


def test_substring_dedup_single_window_exchange(spark):
    """Exact-substring dedup: the corpus-sized window relation must shuffle
    ONCE — the explicit repartition on the fingerprint feeds BOTH the
    duplicate-count aggregation and the probe side of the flag-back
    left-semi join. The static plan prints the repartition subtree twice
    (AQE materializes exchange reuse at RUNTIME, as skipped stages, not in
    explain output), so the pin is empirical: execute under a dedicated job
    group and assert at least one whole stage was skipped (its shuffle
    output came from the reused exchange — the window explode+hash map work
    ran once). Plus the static shape: flag-back is a semi-join, no cross
    product anywhere."""
    p = plan_of(spark, "doc_substring_dedup")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "LeftSemi" in p, f"flag-back must be a semi-join:\n{p}"

    sc = spark.sparkContext
    group = "substring-dedup-plan-contract"
    sc.setJobGroup(group, "exchange-reuse pin")
    try:
        QUERIES["doc_substring_dedup"](spark, SF_DIR).collect()
    finally:
        sc.setJobGroup(None, None)
    st = sc.statusTracker()
    stages = set()
    for j in st.getJobIdsForGroup(group):
        ji = st.getJobInfo(j)
        if ji:
            stages.update(ji.stageIds)
    infos = [st.getStageInfo(s) for s in stages]
    skipped = [si for si in infos if si and si.numCompletedTasks == 0]
    assert skipped, (
        "no stage was skipped — the window relation's exchange was NOT "
        "reused; both consumers re-ran the explode+fingerprint map")


def test_minhash_signature_build_runs_once(spark):
    """Minhash design contract: the banding self-join's two sides are
    the SAME signature-build subtree, and the plan intentionally carries no
    persist and no explicit repartition (both measured net costs; see the
    comment above the banding in ``dedup.minhash_lsh_pairs``) — so correctness
    of the cost model rests on Spark reusing the exchange at runtime. Pin it
    empirically: at least one stage of the job must be skipped (its shuffle
    output replayed from the reused exchange), proving the corpus shingle pass
    + signature aggregation executed once, not per join side."""
    sc = spark.sparkContext
    group = "minhash-exchange-reuse-contract"
    sc.setJobGroup(group, "exchange-reuse pin")
    try:
        QUERIES["doc_minhash_lsh"](spark, SF_DIR).collect()
    finally:
        sc.setJobGroup(None, None)
    st = sc.statusTracker()
    stages = set()
    for j in st.getJobIdsForGroup(group):
        ji = st.getJobInfo(j)
        if ji:
            stages.update(ji.stageIds)
    infos = [st.getStageInfo(s) for s in stages]
    skipped = [si for si in infos if si and si.numCompletedTasks == 0]
    assert skipped, (
        "no stage was skipped — the banding self-join re-ran the signature "
        "build per side; restore a persist or a shared exchange")


@pytest.mark.parametrize("name", ["doc_cleaning_suite", "doc_chunking"])
def test_map_only_cleaners_have_zero_shuffles(spark, name):
    """The redaction / line-filter / chunking passes are pure per-row
    column expressions — they must compile to ZERO shuffle exchanges (and
    no Python for the regexp families) so they stream through a 100 TB
    scan at scan speed. A shuffle appearing here means someone introduced
    an accidental wide dependency into a map-only cleaner.
    ``doc_chunking`` is ``corpus.chunk_documents`` over the raw documents
    table, not a registry row (it is the ``chunk`` grain of
    ``pack_sequences``, whose pack leg legitimately shuffles) — the
    map-only pin stays on the library chunker."""
    if name == "doc_chunking":
        from data_engineering_etl_pipeline_spark.extensions import corpus
        from data_engineering_etl_pipeline_spark.io import load_table

        docs = load_table(spark, SF_DIR, "documents")
        p = plan_text(corpus.chunk_documents(docs, window=64, stride=48))
    else:
        p = plan_of(spark, name)
    assert shuffles(p) == 0, f"{name} gained a shuffle:\n{p}"
    if name != "doc_chunking":
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, (
            f"{name} must stay Python-free:\n{p}")


def test_lsh_near_dup_plan_is_bucket_join_no_python_no_collect(spark):
    """The driver row for the 100 TB similarity path must actually RUN the
    bucketed plan: candidate generation is an equi-join
    on the signature column — no Python worker anywhere (the exact-GEMM
    path would show MapInPandas/ArrowEvalPython), no cartesian product,
    and signatures are computed by codegen'd expressions, so the whole
    query is joins + projections."""
    p = plan_of(spark, "embedding_lsh_near_dup")
    assert "__sig" in p, p
    assert "MapInPandas" not in p and "ArrowEvalPython" not in p, p
    assert "BatchEvalPython" not in p, p
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p, p


def test_blocked_gemm_pairs_plan_is_grouped_map_no_corpus_broadcast(spark):
    """The distributed exact all-pairs path: candidate generation is a
    grouped-map GEMM over block pairs — FlatMapGroupsInPandas above ONE
    hash exchange on (__g1, __g2) — with no cartesian product and no
    broadcast-nested-loop of the corpus. (That nothing collects to the
    driver is pinned behaviorally in tests/test_similarity_recall.py: the
    path runs past a shrunken broadcast budget.)"""
    from data_engineering_etl_pipeline_spark.extensions.similarity import (
        blocked_gemm_pairs, with_vec_inv)
    from data_engineering_etl_pipeline_spark.io import load_table

    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    v = with_vec_inv(emb, "embedding", "v", "i", 64)
    p = plan_text(blocked_gemm_pairs(v, "vec_id", 0.95, 64, 4))
    assert "FlatMapGroupsInPandas" in p, p
    assert "__g1" in p and "__g2" in p, p
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p, p
    assert shuffles(p) == 1, p  # ONE exchange: the block-pair groupBy


def test_doc_url_curation_plan_contracts(spark):
    """The URL-curation row: no cartesian product anywhere; the
    blocklist stage joins BROADCAST (LEFT ANTI — blocklists are MB-scale,
    the corpus streams map-side); the canon stage's dedup groups on the
    canonical URL's (md5, length) fingerprint so raw URLs never shuffle
    as groupBy keys; the quota stage's window consumes the mapInPandas
    prune, never a corpus relation (the two-phase contract, also pinned
    on the library form in tests/test_weburl.py)."""
    p = plan_of(spark, "doc_url_curation")
    assert "CartesianProduct" not in p and "NestedLoop" not in p, p
    assert "BroadcastHashJoin" in p, p
    assert "LeftAnti" in p, p
    assert "MapInPandas" in p, p
    assert "hashpartitioning(__fp" in p, p  # dedup keys on fingerprints
    assert "hashpartitioning(canonical_url" not in p, p  # never raw URLs
    iw = p.index("Window")
    im = p.index("MapInPandas")
    assert iw < im, p
    seg = p[iw:im]
    assert "Scan parquet" not in seg, seg


def test_token_budget_fill_two_phase_prefix_selection(spark):
    """The mixture fill (extensions/mixing.sample_to_token_budget)
    must keep the sampling family's two-phase shape: (a) the window's
    cumulative sum consumes the MAP-SIDE prefix prune (MapInPandas), not
    the corpus — no scan between Window and the prune; (b) exactly two
    non-broadcast exchanges, both candidate-sized (the (key,id) MAX-token
    collapse and the window sort); (c) the budget table and the keeper
    flag both join as broadcasts; (d) no row-at-a-time Python."""
    from pyspark.sql import functions as F

    from data_engineering_etl_pipeline_spark.caching import engine_pin_scope
    from data_engineering_etl_pipeline_spark.extensions.mixing import (
        sample_to_token_budget)
    from data_engineering_etl_pipeline_spark.io import load_table

    with engine_pin_scope():
        docs = load_table(spark, SF_DIR, "documents").select(
            "doc_id", "lang", F.length("text").alias("n_tokens"))
        out = sample_to_token_budget(docs, {"en": 5000, "de": 2000},
                                     key_col="lang", token_col="n_tokens",
                                     salt="plan-test")
        p = plan_text(out)
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p
    assert shuffles(p) == 2, p
    assert p.count("MapInPandas (") == 1, p  # tree node, printed once
    iw = p.index("Window")
    im = p.index("MapInPandas")
    assert iw < im, p
    seg = p[iw:im]
    assert "Scan parquet" not in seg and "InMemoryTableScan" not in seg, seg
    assert p.count("BroadcastHashJoin LeftOuter") == 2, p


def test_incremental_semantic_dedup_fused_verify_join_census(spark):
    """Fusion pin: the within-batch exact verify
    rides the bucket self-join's filter and the cross-batch cosine runs
    directly on candidate rows that already CARRY (v, inv) from the one
    staged signature pass — no verify join-backs against a separate
    vector relation anywhere. The plan census for ``fresh`` is exactly
    5 joins: the bucket self-join (verify fused), the survivors
    anti-join, the cross-batch index join, the hits anti-join, and the
    final fresh anti-join. A 6th join appearing here means someone
    reintroduced a join-back (each one re-shuffled vector payloads
    comparable to the signature exchange itself)."""
    import re

    from pyspark.sql import functions as F

    from data_engineering_etl_pipeline_spark.caching import pin
    from data_engineering_etl_pipeline_spark.extensions.similarity import (
        embedding_signature_index, incremental_semantic_dedup)
    from data_engineering_etl_pipeline_spark.io import load_table

    emb = load_table(spark, SF_DIR, "embeddings").select(
        "vec_id", "embedding")
    index = pin(embedding_signature_index(emb))
    batch = emb.withColumn("vec_id", F.col("vec_id") + 5_000_000)
    try:
        fresh, _ = incremental_semantic_dedup(batch, index)
        p = plan_text(fresh)
    finally:
        index.unpersist()
    joins = [l for l in p.splitlines()
             if re.search(r"\(\d+\)\s+\S*(Join|CartesianProduct)", l)]
    assert len(joins) == 5, f"join census changed ({len(joins)}):\n" + \
        "\n".join(joins)
    # (ArrowEvalPython nodes ARE expected here: the signatures come
    # from the documented Arrow kernel — the pin is the join census,
    # not Python-freedom)
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
