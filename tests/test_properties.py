"""Property-based tests (hypothesis): operator semantics on randomized
inputs, checked against independent pandas recomputations. Few examples per
property (each example is a Spark job); the value is the input-space
coverage pytest fixtures can't give — ragged groups, ties, gap edges,
shuffled input order.
"""

from __future__ import annotations

import datetime

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from data_engineering_etl_pipeline_spark.aggregates import (agg_dict,
                                                            canonical_aggregate)
from data_engineering_etl_pipeline_spark.relational import (
    asof_join, binned_interval_join)
from data_engineering_etl_pipeline_spark.streaming import sessionize_batch

SET = settings(max_examples=12, deadline=None,
               suppress_health_check=[HealthCheck.function_scoped_fixture,
                                      HealthCheck.too_slow])

# (user, minutes-offset, value) event streams
events_strategy = st.lists(
    st.tuples(st.integers(0, 2),                 # user_id
              st.integers(0, 600),               # minutes offset
              st.integers(-5, 5)),               # value
    min_size=1, max_size=40)


@SET
@given(events=events_strategy)
def test_sessionization_properties(spark, events):
    gap = 30
    base = datetime.datetime(2024, 1, 1)
    rows = [(u, base + datetime.timedelta(minutes=m), float(v))
            for u, m, v in events]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    out = sessionize_batch(df, "user_id", "ts", gap_minutes=gap).toPandas()

    # sessions partition the events exactly
    assert out["n_events"].sum() == len(rows)

    # independent oracle: sort per user, split where gap exceeds threshold
    pdf = pd.DataFrame(rows, columns=["user_id", "ts", "value"])
    want_sessions = 0
    for _, g in pdf.groupby("user_id"):
        ts = g["ts"].sort_values().tolist()
        want_sessions += 1 + sum(
            (b - a).total_seconds() > gap * 60 for a, b in zip(ts, ts[1:]))
    assert len(out) == want_sessions

    # session bounds are consistent and non-overlapping per user
    for _, g in out.groupby("user_id"):
        g = g.sort_values("session_start")
        assert (g["session_start"] <= g["session_end"]).all()
        gaps = (g["session_start"].iloc[1:].reset_index(drop=True)
                - g["session_end"].iloc[:-1].reset_index(drop=True))
        assert (gaps > pd.Timedelta(minutes=gap)).all()


members_strategy = st.lists(
    st.tuples(st.integers(0, 1),        # canonical group
              st.integers(0, 4),        # member id
              st.integers(0, 1),        # day index
              st.floats(0, 100, allow_nan=False, width=32),   # value
              st.floats(0, 1000, allow_nan=False, width=32)), # priority (mcap)
    min_size=1, max_size=30)


@SET
@given(members=members_strategy)
def test_canonical_aggregate_properties(spark, members):
    rows = [(c, m, d, float(v), float(p)) for c, m, d, v, p in members]
    df = spark.createDataFrame(
        rows, "canonical_id long, member_id long, d long, val double, prio double")
    out = canonical_aggregate(
        df, canonical_col="canonical_id", member_col="member_id",
        date_col="d", value_cols=["val"], sum_cols=["prio"],
        priority_col="prio", count_alias="n").toPandas()

    pdf = pd.DataFrame(rows, columns=["canonical_id", "member_id", "d",
                                      "val", "prio"])
    for _, r in out.iterrows():
        g = pdf[(pdf["canonical_id"] == r["canonical_id"])
                & (pdf["d"] == r["d"])]
        assert r["n"] == len(g)
        assert r["prio"] == pytest.approx(g["prio"].sum())
        native = g[g["member_id"] == g["canonical_id"]]
        if len(native):
            # native pick: highest (prio, member) among native rows
            cand = native.sort_values(["prio", "member_id"]).iloc[-1]
        else:
            cand = g.sort_values(["prio", "member_id"]).iloc[-1]
        assert r["val"] == pytest.approx(cand["val"])
    # every (canonical, d) combination appears exactly once
    assert len(out) == len(pdf[["canonical_id", "d"]].drop_duplicates())


_ROUND_DECIMALS = (0, 4, 16, -2)


def _fixed_round_inputs() -> list[float | None]:
    """Inputs every example of the round property carries: ±inf, NaN,
    NULL, ±0.0, each fast-path bound 10**(16-d) and its neighbours one and
    two ulps away on both signs, plus 2,000 seeded random bit patterns."""
    import math
    import random as _r
    import struct

    vals: list[float | None] = [math.inf, -math.inf, math.nan, None, 0.0,
                                -0.0, 0.5, -0.123456789012345678]
    for d in _ROUND_DECIMALS:
        t = float(10 ** (16 - d))
        near = [t, math.nextafter(t, 0.0), math.nextafter(t, math.inf)]
        near += [math.nextafter(near[1], 0.0), math.nextafter(near[2], math.inf)]
        vals += near + [-v for v in near]
    rnd = _r.Random(16)
    return vals + [struct.unpack("<d", struct.pack("<Q", rnd.getrandbits(64)))[0]
                   for _ in range(2000)]


@SET
@given(bits=st.lists(st.integers(0, 2**64 - 1), max_size=40),
       small=st.lists(st.floats(-1, 1, exclude_min=True, exclude_max=True),
                      max_size=20))
def test_standardize_precision_is_bitwise_round(spark, bits, small):
    """The gate's pass-through branch (``|x| >= 10**(16-d)`` returns x)
    must be invisible: for each d the column equals ``F.round(x, d)`` bit
    for bit (sign of zero included; NaN stays NaN), over random bit
    patterns, values in (-1, 1), the bounds ±1-2 ulps, ±inf, NaN and
    NULL."""
    import math
    import struct

    from data_engineering_etl_pipeline_spark.quality_gate import (
        standardize_precision)

    drawn = [struct.unpack("<d", struct.pack("<Q", b))[0] for b in bits]
    vals = _fixed_round_inputs() + drawn + small
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)],
                               "i long, x double")
    for d in _ROUND_DECIMALS:
        df = df.withColumn(f"std{d}", F.col("x")).withColumn(
            f"want{d}", F.round("x", d))
        df = standardize_precision(df, [f"std{d}"], d)
    got = df.collect()
    assert len(got) == len(vals)

    def bits_of(v):
        return (None if v is None else "nan" if math.isnan(v)
                else struct.pack("<d", v))

    for r in got:
        for d in _ROUND_DECIMALS:
            assert bits_of(r[f"std{d}"]) == bits_of(r[f"want{d}"]), (
                d, r["x"], r[f"std{d}"], r[f"want{d}"])


@SET
@given(rows=st.lists(st.tuples(st.integers(0, 2), st.integers(0, 50),
                               st.floats(-10, 10, allow_nan=False, width=32)),
                     min_size=1, max_size=30),
       seed=st.integers(0, 5))
def test_agg_dict_last_is_order_insensitive(spark, rows, seed):
    """pandas 'last' depends on insertion order; agg_dict with an order_col
    must give identical results no matter how the input rows arrive."""
    import random as _r
    data = [(k, o, float(v), i) for i, (k, o, v) in enumerate(rows)]
    shuffled = data[:]
    _r.Random(seed).shuffle(shuffled)
    schema = "k long, ord long, v double, uniq long"
    rules = {"v": "last", "uniq": "first"}

    def run(d):
        df = spark.createDataFrame(d, schema)
        df = df.withColumn("__o", F.struct("ord", "uniq"))
        return sorted(map(tuple, agg_dict(df, ["k"], rules, order_col="__o")
                          .collect()))

    assert run(data) == run(shuffled)


@SET
@given(
    lefts=st.lists(st.tuples(st.integers(0, 2), st.integers(0, 100)),
                   min_size=1, max_size=25),
    rights=st.lists(st.tuples(st.integers(0, 2), st.integers(0, 100),
                              st.one_of(st.none(),
                                        st.floats(-5, 5, allow_nan=False,
                                                  width=32))),
                    min_size=0, max_size=25),
)
def test_asof_join_matches_pandas_merge_asof(spark, lefts, rights):
    """asof_join ≡ pandas merge_asof on randomized frames, including NULL
    right values (the matched row's null must come through as null, never
    an older non-null — row-level as-of semantics) and ties on
    (key, right_time) resolved identically via duplicates='resolve_max'."""
    ldf = spark.createDataFrame([(k, t) for k, t in lefts], "k long, lt long")
    rdf = spark.createDataFrame([(k, t, v) for k, t, v in rights],
                                "k long, rt long, v double")
    got = sorted(map(tuple,
                     asof_join(ldf, rdf, "k", "lt", "rt", ["v"],
                               duplicates="resolve_max")
                     .select("k", "lt", "v_asof").collect()))

    lp = pd.DataFrame(lefts, columns=["k", "lt"]).sort_values("lt", kind="stable")
    rp = (pd.DataFrame(rights, columns=["k", "rt", "v"])
          if rights else pd.DataFrame(columns=["k", "rt", "v"]))
    # resolve_max tie rule: keep the max value struct per (k, rt) —
    # nulls sort FIRST (Spark struct ordering treats null as smallest),
    # and groupby().last() must not skip NaN, so take the last ROW by index
    rp = (rp.sort_values("v", na_position="first")
          .groupby(["k", "rt"], as_index=False).nth(-1)
          if len(rp) else rp)
    rp = rp.sort_values("rt", kind="stable")
    rp["rt"] = rp["rt"].astype("int64") if len(rp) else rp["rt"]
    merged = pd.merge_asof(lp, rp, left_on="lt", right_on="rt", by="k",
                           direction="backward") if len(rp) else lp.assign(v=None)
    want = sorted((int(r.k), int(r.lt), None if pd.isna(r.v) else float(r.v))
                  for r in merged.itertuples())
    assert got == want


@SET
@given(
    intervals=st.lists(st.tuples(st.integers(0, 2), st.integers(0, 200),
                                 st.integers(0, 100)),
                       min_size=1, max_size=20),
    points=st.lists(st.tuples(st.integers(0, 2), st.integers(0, 300),
                              st.integers(-5, 5)),
                    min_size=0, max_size=30),
)
def test_binned_interval_join_matches_brute_force(spark, intervals, points):
    """The binned equi-join must emit exactly the pairs the brute-force
    (start, end] containment produces, for every bin-width/interval-length
    relationship the random data generates (intervals shorter, longer, and
    equal to the bin width; empty point sets; boundary hits)."""
    import datetime

    base = datetime.datetime(2024, 1, 1)

    def ts(m):
        return base + datetime.timedelta(minutes=m)

    ivals = [(i, k, ts(s), ts(s + dur))
             for i, (k, s, dur) in enumerate(intervals)]
    pts = [(k, ts(m), float(v)) for k, m, v in points]
    idf = spark.createDataFrame(
        ivals, "iid long, k long, s timestamp, e timestamp")
    pdf_s = spark.createDataFrame(pts, "k long, pt timestamp, v double") \
        if pts else spark.createDataFrame([], "k long, pt timestamp, v double")
    got = sorted(map(tuple,
                     binned_interval_join(idf, pdf_s, key="k", start="s",
                                          end="e", point_time="pt",
                                          point_cols=["v"],
                                          bin_seconds=3600)
                     .select("iid", "v_pt").collect()))
    want = sorted((iid, v) for iid, k, s, e in ivals
                  for (pk, pt, v) in pts
                  if pk == k and s < pt <= e)
    assert got == want


# small token alphabet forces cross-doc and within-doc window collisions
docs_strategy = st.lists(
    st.lists(st.sampled_from(["a", "b", "c"]), min_size=0, max_size=14),
    min_size=1, max_size=8)


@SET
@given(token_docs=docs_strategy, width=st.integers(2, 4))
def test_duplicate_window_spans_matches_brute_force(spark, token_docs, width):
    """Exact-substring spans vs an independent Python recomputation:
    enumerate every width-token window, flag those whose text occurs >1
    time corpus-wide, merge overlapping/adjacent flags per doc, compare
    span counts, coverage, and fractions exactly."""
    from data_engineering_etl_pipeline_spark.extensions.dedup import (
        duplicate_window_spans)

    rows = [(i, " ".join(toks)) for i, toks in enumerate(token_docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["n_spans"], r["dup_tokens"], r["dup_frac"])
           for r in duplicate_window_spans(df, width=width).collect()}

    # brute force: the tokenization must match the operator's split(trim)
    wins: dict[tuple, int] = {}
    per_doc: dict[int, list[int]] = {}
    toks_of = {}
    for i, _ in rows:
        toks = [t for t in " ".join(token_docs[i]).strip().split() if t != ""]
        if token_docs[i] == []:
            toks = [""]  # split('') semantics: one empty token
        toks_of[i] = toks
        for s in range(len(toks) - width + 1):
            wins[tuple(toks[s:s + width])] = wins.get(
                tuple(toks[s:s + width]), 0) + 1
    want = {}
    for i, _ in rows:
        toks = toks_of[i]
        flagged = [s for s in range(len(toks) - width + 1)
                   if wins[tuple(toks[s:s + width])] > 1]
        if not flagged:
            continue
        spans = []
        for s in flagged:
            if spans and s <= spans[-1][1] + 1:  # overlap OR exact adjacency
                spans[-1][1] = max(spans[-1][1], s + width - 1)
            else:
                spans.append([s, s + width - 1])
        cov = sum(b - a + 1 for a, b in spans)
        want[i] = (len(spans), cov, round(cov / len(toks), 6))
    assert got == want


# Small alphabet so random corpora hit real duplicates AND same-length
# distinct texts (which the weak fingerprint forces through the
# collision-resolving phase-2 pass); None mixed in because SQL GROUP BY
# semantics put all NULL texts in ONE group (null-safe phase-2 join).
_texts_strategy = st.lists(
    st.one_of(st.none(), st.text(alphabet="ab ", min_size=0, max_size=6)),
    min_size=1, max_size=30)


@SET
@given(texts=_texts_strategy, weak=st.booleans())
def test_exact_dedup_two_phase_equals_text_groupby(spark, texts, weak):
    """The fingerprint-keyed plan must be bit-identical to a plain
    groupBy on raw text — for both the default xxhash64+length fingerprint
    and a deliberately colliding weak one (length only), which puts many
    distinct texts in one fingerprint group for the text key to split."""
    from data_engineering_etl_pipeline_spark.extensions.dedup import (
        exact_dedup_groups, exact_dedup_keep_first)

    from .conftest import partition_layouts

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fp = [F.length("text").alias("__fp")] if weak else None

    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    # dropna=False: SQL GROUP BY groups NULLs together, pandas drops them
    grp = pdf.groupby("text", dropna=False)["doc_id"].agg(["min", "count"])
    want = sorted((int(r["min"]), int(r["count"]))
                  for _, r in grp.iterrows() if r["count"] > 1)
    want_kept = sorted(
        int(v) for v in pdf.groupby("text", dropna=False)["doc_id"].min())
    for layout, frame in partition_layouts(df):
        got = sorted((r["keep_id"], r["n_copies"]) for r in
                     exact_dedup_groups(frame, "doc_id", "text",
                                        fingerprint=fp).collect())
        assert got == want, layout

        kept = sorted(r["doc_id"] for r in
                      exact_dedup_keep_first(frame, "doc_id", "text",
                                             fingerprint=fp).collect())
        assert kept == want_kept, layout


# corpora with dense duplicates and NULLs; the split index cuts the corpus
# into 1-3 ingest batches at arbitrary points
_incr_strategy = st.tuples(
    st.lists(st.one_of(st.none(),
                       st.text(alphabet="xy ", min_size=0, max_size=4)),
             min_size=1, max_size=24),
    st.data())


@SET
@given(args=_incr_strategy)
def test_incremental_dedup_batch_split_invariant(spark, args):
    """Ingesting a corpus in ANY batch split through
    incremental_exact_dedup (index threaded batch to batch) must keep
    exactly the same ids as one-shot exact_dedup_keep_first over the whole
    corpus — the operational guarantee that re-chunking an ingest stream
    never changes the deduped corpus. Ids ascend across batches, so
    keep-first(min id) is split-independent."""
    from data_engineering_etl_pipeline_spark.extensions.dedup import (
        doc_fingerprints, exact_dedup_keep_first, incremental_exact_dedup)

    texts, data = args
    rows = [(i, t) for i, t in enumerate(texts)]
    # at most len(rows)-1 distinct interior cut points exist
    n_cuts = data.draw(st.integers(0, min(2, len(rows) - 1)))
    cuts = sorted(data.draw(st.sets(st.integers(1, max(1, len(rows) - 1)),
                                    min_size=n_cuts, max_size=n_cuts)))
    bounds = [0] + cuts + [len(rows)]
    schema = "doc_id long, text string"

    want = sorted(r["doc_id"] for r in exact_dedup_keep_first(
        spark.createDataFrame(rows, schema)).collect())
    # both layouts: the in-batch phase is a keyed
    # kernel — duplicate texts co-located in one partition must still
    # resolve to keep-first(min id)
    for coalesce in (False, True):
        index = doc_fingerprints(spark.createDataFrame([], schema))
        kept: list[int] = []
        for lo, hi in zip(bounds, bounds[1:]):
            if lo == hi:
                continue
            batch = spark.createDataFrame(rows[lo:hi], schema)
            if coalesce:
                batch = batch.coalesce(1)
            fresh, index = incremental_exact_dedup(batch, index)
            kept.extend(r["doc_id"] for r in fresh.collect())
        assert sorted(kept) == want, f"coalesce={coalesce}"


# random small embedding corpora: a handful of prototype directions plus
# noise scale, so near-dup pairs actually exist; includes exact duplicates
# (same prototype, noise 0) and the occasional all-zero vector
_vec_corpus_strategy = st.lists(
    st.tuples(st.integers(0, 3),        # prototype index
              st.integers(0, 2),        # noise bucket (0 = exact duplicate)
              st.booleans()),           # zero-vector override
    min_size=2, max_size=24)


@SET
@given(corpus=_vec_corpus_strategy,
       n_blocks=st.integers(1, 5),
       threshold=st.sampled_from([0.5, 0.9, 0.95]))
def test_blocked_gemm_pairs_equals_broadcast_property(spark, corpus,
                                                      n_blocks, threshold):
    """Distributed block-pair GEMM ≡ broadcast exact GEMM on randomized
    corpora: any prototype mix, any block count (including blocks ≫ rows),
    any threshold, zero vectors included — same pairs, same rounded
    cosines. The per-example oracle is the collect-based path itself,
    whose SQL parity the driver row pins."""
    import random as _r

    from data_engineering_etl_pipeline_spark.extensions.similarity import (
        cosine_near_dup_pairs)

    dim = 8
    protos = [[_r.Random(100 + p).gauss(0, 1) for _ in range(dim)]
              for p in range(4)]
    rows = []
    for i, (p, nb, zero) in enumerate(corpus):
        if zero:
            rows.append((i, [0.0] * dim))
            continue
        rnd = _r.Random(1000 * p + nb)
        rows.append((i, [x + 0.15 * nb * rnd.gauss(0, 1) for x in protos[p]]))
    from .conftest import partition_layouts

    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    want = sorted((r.id_a, r.id_b, r.cosine)
                  for r in cosine_near_dup_pairs(
                      df, threshold=threshold, dim=dim).collect())
    # both layouts: the GEMM batcher is a
    # partition-local kernel — co-located duplicate vectors must not
    # change the pair set
    for layout, frame in partition_layouts(df):
        got = sorted((r.id_a, r.id_b, r.cosine)
                     for r in cosine_near_dup_pairs(
                         frame, threshold=threshold, dim=dim,
                         n_blocks=n_blocks).collect())
        assert got == want, layout


@SET
@given(corpus=_vec_corpus_strategy,
       k=st.integers(1, 6))
def test_gemm_topk_equals_brute_property(spark, corpus, k):
    """The candidate-pruned exact GEMM top-k ≡ brute force on randomized
    corpora: any k, duplicate vectors (mass rounded-cosine ties), zero
    vectors, corpora smaller than k. Queries =
    first three rows, so self-exclusion and query-as-duplicate cases
    occur naturally."""
    import random as _r

    from data_engineering_etl_pipeline_spark.extensions.similarity import (
        cosine_topk, gemm_cosine_topk)

    dim = 8
    protos = [[_r.Random(200 + p).gauss(0, 1) for _ in range(dim)]
              for p in range(4)]
    rows = []
    for i, (p, nb, zero) in enumerate(corpus):
        if zero:
            rows.append((i, [0.0] * dim))
            continue
        rnd = _r.Random(2000 * p + nb)
        rows.append((i, [x + 0.15 * nb * rnd.gauss(0, 1) for x in protos[p]]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = (df.filter(F.col("vec_id") < 3)
         .select(F.col("vec_id").alias("query_id"), "embedding"))
    want = sorted((r.query_id, r.vec_id, r.cosine, r.rank)
                  for r in cosine_topk(df, q, k=k, dim=dim).collect())
    got_g = sorted((r.query_id, r.vec_id, r.cosine, r.rank)
                   for r in gemm_cosine_topk(df, q, k=k, dim=dim).collect())
    assert got_g == want


# (cid, vector) assignments with ragged magnitudes incl. negatives/zeros
assigned_strategy = st.lists(
    st.tuples(st.integers(0, 2),
              st.lists(st.floats(-8.0, 8.0, allow_nan=False,
                                 width=32), min_size=3, max_size=3)),
    min_size=1, max_size=30)


@SET
@given(rows=assigned_strategy)
def test_kmeans_update_exact_properties(spark, rows):
    """The exact M-step on randomized inputs: (1) bit-identical under a
    relayout; (2) additive — the update of a concatenation equals the
    cell-wise integer sum of the parts' updates (the associativity that
    makes it streaming-composable); (3) equals an independent pandas
    recomputation of the quantize→sum convention."""
    import math

    from data_engineering_etl_pipeline_spark.extensions.similarity import (
        KMEANS_Q_SCALE, kmeans_update_exact)

    df = spark.createDataFrame(
        [(c, [float(x) for x in v]) for c, v in rows],
        "cid int, embedding array<float>")

    def cells(frame):
        return {(r["cid"], r["pos"]): (r["n_members"], r["sum_q"])
                for r in kmeans_update_exact(frame, dim=3).collect()}

    got = cells(df)
    assert got == cells(df.repartition(5))            # relayout-stable

    # independent per-row recomputation (float32 round-trip like Spark's
    # array<float> storage, then double math)
    import numpy as np
    want: dict = {}
    q = KMEANS_Q_SCALE
    for c, v in rows:
        v32 = np.asarray(v, dtype=np.float32)
        for pos, x in enumerate(np.asarray(v32, dtype=np.float64)):
            n, s = want.get((c, pos), (0, 0))
            want[(c, pos)] = (n + 1, s + math.floor(x * q))
    assert got == want

    # additivity across a split (first row vs rest)
    if len(rows) > 1:
        a = cells(spark.createDataFrame(
            [(rows[0][0], [float(x) for x in rows[0][1]])],
            "cid int, embedding array<float>"))
        b = cells(spark.createDataFrame(
            [(c, [float(x) for x in v]) for c, v in rows[1:]],
            "cid int, embedding array<float>"))
        merged: dict = {}
        for part in (a, b):
            for k2, (n, s) in part.items():
                pn, ps = merged.get(k2, (0, 0))
                merged[k2] = (pn + n, ps + s)
        assert merged == got


# --- URL canonicalization + generic balanced sampling properties ---

_url_strategy = st.lists(
    st.one_of(
        st.none(),
        # adversarial URL-ish strings: random placement of separators
        st.text(alphabet="abcXYZ:/?#&=._-% ", min_size=0, max_size=40),
        # well-formed-ish URLs with random decorations
        st.builds(
            lambda scheme, www, host, port, path, q, frag:
            f"{scheme}://{www}{host}{port}{path}{q}{frag}",
            st.sampled_from(["http", "HTTP", "https", "HTTPS", "ftp"]),
            st.sampled_from(["", "www.", "WWW."]),
            st.sampled_from(["ex.com", "a.b.Ex.co.uk", "x.org"]),
            st.sampled_from(["", ":80", ":443", ":8080"]),
            st.sampled_from(["", "/", "/p", "/p/", "/p//"]),
            st.sampled_from(["", "?b=2&a=1", "?utm_source=s&a=1",
                             "?a=1&a=1"]),
            st.sampled_from(["", "#f", "#f?fake=1"])),
    ),
    min_size=1, max_size=30)


@SET
@given(urls=_url_strategy)
def test_canonicalize_url_is_idempotent_and_null_safe(spark, urls):
    """For ANY input string: canonicalize(canonicalize(u)) ==
    canonicalize(u) (stored canonical URLs re-canonicalize to themselves
    — the incremental replay requirement), NULL stays NULL, and non-NULL
    input never becomes NULL (a URL the parser cannot read is returned
    trimmed, not destroyed)."""
    from data_engineering_etl_pipeline_spark.extensions.weburl import (
        canonicalize_url)

    df = spark.createDataFrame([(i, u) for i, u in enumerate(urls)],
                               "id long, url string")
    once = df.select("id", canonicalize_url("url").alias("c"))
    twice = once.select("id", canonicalize_url("c").alias("c"))
    a = {r["id"]: r["c"] for r in once.collect()}
    b = {r["id"]: r["c"] for r in twice.collect()}
    assert a == b
    for i, u in enumerate(urls):
        assert (a[i] is None) == (u is None), (u, a[i])


_keyed_strategy = st.lists(
    st.tuples(st.integers(0, 60),                       # id (dups possible)
              st.sampled_from(["a", "b", "c", None])),  # key incl. NULL
    min_size=1, max_size=50)


@SET
@given(rows=_keyed_strategy, quota=st.integers(0, 5))
def test_balanced_sample_by_key_properties(spark, rows, quota):
    """For ANY keyed input and quota, under BOTH the default partition
    layout and forced single-partition co-location (on local[32], tiny
    inputs spread ~1 row per partition, so the partition-local prune never
    sees co-located duplicate copies unless
    forced): (1) output has exactly the input rows (no inflation/loss);
    (2) per key, kept DISTINCT ids <= quota; (3) copies of one (id, key)
    share a flag; (4) when a key has <= quota distinct ids, ALL are kept
    (the cap flattens heads, never starves tails); (5) the kept set
    equals the naive global hash-rank twin over distinct ids."""
    import hashlib

    from data_engineering_etl_pipeline_spark.extensions.sampling import (
        balanced_sample_by_key)

    from .conftest import partition_layouts

    distinct: dict = {}
    for i, k in rows:
        distinct.setdefault(k, set()).add(i)
    df = spark.createDataFrame(rows, "id long, k string")
    for layout, frame in partition_layouts(df):
        out = balanced_sample_by_key(frame, quota, key_col="k",
                                     id_col="id", salt="prop-9").collect()
        assert len(out) == len(rows), layout
        by_key: dict = {}
        flag: dict = {}
        for r in out:
            by_key.setdefault(r["k"], set())
            if r["kept"]:
                by_key[r["k"]].add(r["id"])
            prev = flag.get((r["id"], r["k"]))
            # copies share the flag
            assert prev is None or prev == r["kept"], layout
            flag[(r["id"], r["k"])] = r["kept"]
        for k, kept_ids in by_key.items():
            assert len(kept_ids) <= quota, layout
            if len(distinct[k]) <= quota:
                assert kept_ids == distinct[k], (layout, k, kept_ids,
                                                 distinct[k])
        # naive twin: per key, quota smallest (md5-rank, id) distinct ids
        for k, ids in distinct.items():
            ranked = sorted(
                (int(hashlib.md5(f"{i}|prop-9".encode()).hexdigest()[:8],
                     16), i) for i in ids)
            want = {i for _, i in ranked[:quota]}
            assert by_key.get(k, set()) == want, (layout, k,
                                                  by_key.get(k), want)


# random hosts over a tiny label alphabet so suffix matches, exact-suffix
# hosts, deep subdomains, and unlisted TLDs all occur; the rule table is
# drawn per example (possibly empty) with all three PSL rule classes so
# wildcard/exception interplay is exercised
_host_strategy = st.lists(
    st.one_of(
        st.none(),
        st.lists(st.sampled_from(["a", "bb", "co", "uk", "io", "gh", "x"]),
                 min_size=1, max_size=5).map(".".join)),
    min_size=1, max_size=25)
_sfx_strategy = st.lists(
    st.tuples(
        st.lists(st.sampled_from(["co", "uk", "io", "gh", "x"]),
                 min_size=1, max_size=3).map(".".join),
        st.sampled_from(["rule", "wildcard", "exception"])),
    max_size=10, unique=True)


@SET
@given(hosts=_host_strategy, rules=_sfx_strategy)
def test_psl_registered_domain_matches_python_reference(spark, hosts,
                                                        rules):
    """with_registered_domain_psl on ANY host set and ANY rule table
    (plain + wildcard + exception rows) equals a direct pure-Python
    transcription of the publicsuffix.org algorithm: prevailing rule =
    longest match, wildcard *.P matches direct children of P (never P
    itself), a matching exception prevails over everything with public
    suffix = exception minus its leftmost label; host == public suffix
    -> ''; unlisted TLD -> implicit '*' (last two labels); NULL
    preserved."""
    from data_engineering_etl_pipeline_spark.extensions.weburl import (
        with_registered_domain_psl)

    plain = {s for s, kind in rules if kind == "rule"}
    wild = {s for s, kind in rules if kind == "wildcard"}
    exc = {s for s, kind in rules if kind == "exception"}

    def ref(host):
        if host is None:
            return None
        if host == "":
            return ""
        labels = host.split(".")
        k = 1  # implicit '*' rule
        for d in range(1, min(4, len(labels)) + 1):
            if ".".join(labels[-d:]) in plain:
                k = max(k, d)
            if d >= 2 and ".".join(labels[-(d - 1):]) in wild:
                k = max(k, d)
        for d in range(1, min(4, len(labels)) + 1):
            if ".".join(labels[-d:]) in exc:
                k = d - 1  # ascending: longest exception wins
        if len(labels) <= k:
            return ""
        return ".".join(labels[-(k + 1):])

    df = spark.createDataFrame(list(enumerate(hosts)),
                               "id long, host string")
    sfx = spark.createDataFrame(
        list(rules) or [(None, None)], "suffix string, kind string")
    got = {r["id"]: r["domain"] for r in
           with_registered_domain_psl(df, sfx, host_col="host").collect()}
    want = {i: ref(h) for i, h in enumerate(hosts)}
    assert got == want


_budget_rows_strategy = st.lists(
    st.tuples(st.integers(0, 40),                       # id (dups possible)
              st.sampled_from(["a", "b", None]),        # key incl. NULL
              st.one_of(st.none(), st.integers(0, 9))),  # tokens incl. NULL/0
    min_size=1, max_size=40)
_budget_map_strategy = st.fixed_dictionaries(
    {"a": st.integers(0, 25), "b": st.integers(0, 25),
     None: st.integers(0, 25)})


@SET
@given(rows=_budget_rows_strategy, budgets=_budget_map_strategy)
def test_token_budget_fill_matches_python_reference(spark, rows, budgets):
    """For ANY keyed token-bearing input (duplicate ids, NULL keys, NULL
    and zero token counts) and ANY budget map, under BOTH partition
    layouts (the co-location discipline): the two-phase fill equals
    the naive reference — per key, distinct (id, key) at MAX tokens
    (NULL → 0; max is the layout-sound resolution, see the prune
    comment), sorted by (portable md5 of id+salt, id), kept while the
    inclusive prefix sum stays within the budget — and the output has
    exactly the input's rows with copies sharing one flag."""
    import hashlib

    from data_engineering_etl_pipeline_spark.extensions.mixing import (
        sample_to_token_budget)

    from .conftest import partition_layouts

    resolved: dict = {}
    for i, k, t in rows:
        t0 = 0 if t is None else t
        cur = resolved.get((i, k))
        resolved[(i, k)] = t0 if cur is None else max(cur, t0)
    want: dict = {}
    by_key: dict = {}
    for (i, k), t in resolved.items():
        by_key.setdefault(k, []).append((i, t))
    for k, members in by_key.items():
        order = sorted(
            (int(hashlib.md5(f"{i}|prop-mix".encode()).hexdigest()[:8], 16),
             i, t) for i, t in members)
        cum = 0
        for _, i, t in order:
            cum += t
            want[(i, k)] = cum <= budgets[k]
    df = spark.createDataFrame(rows, "id long, k string, t long")
    for layout, frame in partition_layouts(df):
        out = sample_to_token_budget(frame, budgets, key_col="k",
                                     token_col="t", id_col="id",
                                     salt="prop-mix").collect()
        assert len(out) == len(rows), layout
        got: dict = {}
        for r in out:
            prev = got.get((r["id"], r["k"]))
            assert prev is None or prev == r["kept"], layout
            got[(r["id"], r["k"])] = r["kept"]
        assert got == want, (layout, got, want)
