"""Token-budget fill (extensions/mixing.py): the two-phase prefix fill,
one batch and across batches — value-checked against the DuckDB twin
(zero tolerance on the integer fill DECISION) plus the
duplicate/NULL-key/layout contracts the sampling family pins.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_engineering_etl_pipeline_spark.caching import engine_pin_scope
from data_engineering_etl_pipeline_spark.extensions.mixing import (
    sample_to_token_budget, token_budget_sql)
from data_engineering_etl_pipeline_spark.io import load_table

from .conftest import SF_DIR, assert_matches_oracle, partition_layouts

_BUDGETS = {"en": 5000, "de": 2000, "es": 800, "fr": 0}


def test_token_budget_fill_matches_duckdb_twin(spark, duck):
    """The fill DECISION on the real documents table (length(text) as the
    token mass — any integer both engines agree on exactly): same
    portable hash order, same inclusive-prefix rule, zero tolerance.
    'fr' proves a zero budget keeps nothing; any language absent from
    the dict (zh) keeps nothing."""
    with engine_pin_scope():
        docs = load_table(spark, SF_DIR, "documents").select(
            "doc_id", "lang", F.length("text").alias("n_tokens"))
        got = sample_to_token_budget(docs, _BUDGETS, key_col="lang",
                                     token_col="n_tokens",
                                     salt="mix-test-1")
        twin = token_budget_sql("doc_id", "lang", "length(text)",
                                _BUDGETS, "mix-test-1")
        sql = (f"SELECT id AS doc_id, key AS lang, tokens AS n_tokens, "
               f"kept FROM ({twin})")
        assert_matches_oracle(got, duck, sql, "token_budget_fill")


def test_duplicate_copies_share_one_slot_max_token_resolution(spark):
    """(id, key) copies consume ONE budget slot at the MAX token count
    (the layout-sound resolution — see the prune comment), every copy
    carries the shared flag, and the output row count equals the
    input's (the balanced_sample_by_key hygiene contract)."""
    rows = [(1, "a", 6), (1, "a", 100),  # copies: resolve to 100
            (2, "a", 5), (3, "a", 4)]
    with engine_pin_scope():
        df = spark.createDataFrame(rows, "id long, k string, t long")
        out = sample_to_token_budget(df, {"a": 10}, key_col="k",
                                     token_col="t", id_col="id",
                                     salt="dup-test").collect()
    assert len(out) == 4
    flags = {}
    for r in out:
        flags.setdefault(r["id"], set()).add(r["kept"])
    assert all(len(v) == 1 for v in flags.values())  # copies agree
    kept_ids = {r["id"] for r in out if r["kept"]}
    # id 1 resolves to 100 tokens: it can never fit the budget of 10,
    # and the kept prefix must stay budget-consistent
    assert 1 not in kept_ids
    sizes = {1: 100, 2: 5, 3: 4}
    assert sum(sizes[i] for i in kept_ids) <= 10
    # re-running with the SMALLER copy dropped (resolution unchanged)
    # must give the same decision
    with engine_pin_scope():
        df2 = spark.createDataFrame(
            [(1, "a", 100), (2, "a", 5), (3, "a", 4)],
            "id long, k string, t long")
        out2 = sample_to_token_budget(df2, {"a": 10}, key_col="k",
                                      token_col="t", id_col="id",
                                      salt="dup-test").collect()
    assert {r["id"] for r in out2 if r["kept"]} == kept_ids


def test_null_key_group_null_tokens_and_const_budget(spark):
    """A None budget entry reaches the NULL-key group (null-safe join in
    BOTH phases), NULL token counts cost 0, and an int budget applies to
    every key."""
    rows = [(1, None, 4), (2, None, 4), (3, None, None),
            (4, "a", 9), (5, "a", 9)]
    with engine_pin_scope():
        df = spark.createDataFrame(rows, "id long, k string, t long")
        out = {r["id"]: r["kept"] for r in sample_to_token_budget(
            df, {None: 8, "a": 9}, key_col="k", token_col="t",
            id_col="id", salt="null-test").collect()}
    # NULL group: two 4-token docs fill the budget of 8 exactly; the
    # NULL-token doc is free IF it lands within the prefix — either way
    # both 4-token docs fit and 'a' keeps exactly one 9-token doc
    assert sum(1 for i in (4, 5) if out[i]) == 1
    assert out[1] and out[2]
    with engine_pin_scope():
        const = {r["id"]: r["kept"] for r in sample_to_token_budget(
            df, 9, key_col="k", token_col="t", id_col="id",
            salt="null-test").collect()}
    assert sum(1 for i in (4, 5) if const[i]) == 1
    with pytest.raises(ValueError, match="budget"):
        sample_to_token_budget(df, -1, key_col="k", token_col="t",
                               id_col="id")
    with pytest.raises(ValueError, match="negative"):
        sample_to_token_budget(df, {"a": -5}, key_col="k", token_col="t",
                               id_col="id")


def test_two_phase_prune_layout_invariance(spark):
    """The partition-local prefix prune must be layout-invariant (the
    partition_layouts discipline): default spread and coalesce(1) give
    identical kept sets — and both equal the naive single-window Spark
    computation over the same hash order."""
    rows = [(i, "k" + str(i % 3), (i * 7) % 11 + 1) for i in range(120)]
    budgets = {"k0": 40, "k1": 15, "k2": 0}
    base = spark.createDataFrame(rows, "id long, k string, t long")
    kept_sets = []
    for label, df in partition_layouts(base):
        with engine_pin_scope():
            out = sample_to_token_budget(df, budgets, key_col="k",
                                         token_col="t", id_col="id",
                                         salt="layout-test")
            kept_sets.append((label,
                              {r["id"] for r in out.collect() if r["kept"]}))
    assert kept_sets[0][1] == kept_sets[1][1]
    from pyspark.sql import Window
    from data_engineering_etl_pipeline_spark.extensions.mixing import _hv
    w = (Window.partitionBy("k").orderBy(F.col("__hv").asc(),
                                         F.col("id").asc())
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    naive = (base.withColumn("__hv", _hv("id", "layout-test"))
             .withColumn("__cum", F.sum("t").over(w))
             .withColumn("__b", F.when(F.col("k") == "k0", 40)
                         .when(F.col("k") == "k1", 15).otherwise(0))
             .filter(F.col("__cum") <= F.col("__b")))
    assert {r["id"] for r in naive.collect()} == kept_sets[0][1]


def test_negative_tokens_clamped_and_null_ids_never_kept(spark, duck):
    """(a) Negative token counts (F.size of a NULL array is -1) are
    clamped to 0 in BOTH engines — a negative mass would break the
    prune's monotone-prefix soundness; (b) NULL
    ids are never budget candidates (kept=False, consuming nothing)
    and the twin mirrors by excluding them."""
    rows = [(1, "a", -7), (2, "a", 5), (None, "a", 1), (3, "a", 6)]
    with engine_pin_scope():
        df = spark.createDataFrame(rows, "id long, k string, t long")
        out = {r["id"]: (r["kept"], r["t"]) for r in
               sample_to_token_budget(df, {"a": 11}, key_col="k",
                                      token_col="t", id_col="id",
                                      salt="neg-test").collect()}
    assert len(out) == 4  # every row flagged, incl. the NULL id
    assert out[None][0] is False
    assert out[1][1] == 0  # clamped in the returned token column too
    # clamped doc 1 is free: 0 + 5 + 6 == 11 fits, all non-null kept
    assert out[1][0] and out[2][0] and out[3][0]
    # DuckDB twin agrees decision-for-decision on the same rows
    duck.execute("CREATE OR REPLACE TABLE negrows(id BIGINT, k VARCHAR, "
                 "t BIGINT)")
    duck.executemany("INSERT INTO negrows VALUES (?, ?, ?)", rows)
    twin = token_budget_sql("id", "k", "t", {"a": 11}, "neg-test",
                            table="negrows")
    want = {r[0]: r[3] for r in duck.execute(twin).fetchall()}
    assert want == {1: True, 2: True, 3: True}  # NULL id excluded
    duck.execute("DROP TABLE negrows")


def test_quoted_budget_keys(duck):
    """A budget key containing a single quote must embed as a
    doubled-quote SQL literal, not repr()'s double-quoted identifier."""
    twin = token_budget_sql("id", "k", "t", {"o'neil": 5}, "q-test",
                            table="(SELECT 1 AS id, 'o''neil' AS k, "
                                  "3 AS t)")
    rows = duck.execute(twin).fetchall()
    assert rows == [(1, "o'neil", 3, True)]


def test_incremental_fill_across_batches(spark, duck):
    """Continuous-ingest fill (the incremental_exact_dedup convention):
    (a) every batch's DECISION hash-matches the DuckDB twin under the
    REMAINING budgets; (b) total kept mass across batches never exceeds
    the budget; (c) earlier keepers are never displaced (ingest order
    is the semantics); (d) replaying a batch against the same state is
    idempotent; (e) the state equals the kept mass exactly."""
    from data_engineering_etl_pipeline_spark.extensions.mixing import (
        incremental_token_budget_fill)

    budgets = {"a": 20, "b": 4}
    b1 = spark.createDataFrame(
        [(1, "a", 7), (2, "a", 6), (3, "a", 9), (10, "b", 5)],
        "id long, k string, t long")
    b2 = spark.createDataFrame(
        [(4, "a", 7), (5, "a", 2), (11, "b", 3), (12, "b", 1)],
        "id long, k string, t long")
    with engine_pin_scope():
        f1, s1 = incremental_token_budget_fill(
            b1, None, budgets, key_col="k", token_col="t", id_col="id",
            salt="incr-mix")
        flags1 = {r["id"]: r["kept"] for r in f1.collect()}
        state1 = {r["k"]: r["consumed"] for r in s1.collect()}
    kept1_mass = {k: 0 for k in budgets}
    sizes = {1: 7, 2: 6, 3: 9, 10: 5, 4: 7, 5: 2, 11: 3, 12: 1}
    keys = {1: "a", 2: "a", 3: "a", 10: "b", 4: "a", 5: "a",
            11: "b", 12: "b"}
    for i, kept in flags1.items():
        if kept:
            kept1_mass[keys[i]] += sizes[i]
    # keys with zero kept mass are simply absent from the state
    assert state1 == {k: m for k, m in kept1_mass.items() if m}
    assert not flags1[10]  # b: 5 > 4, never fits
    with engine_pin_scope():
        f2, s2 = incremental_token_budget_fill(
            b2, s1, budgets, key_col="k", token_col="t", id_col="id",
            salt="incr-mix")
        flags2 = {r["id"]: r["kept"] for r in f2.collect()}
        state2 = {r["k"]: r["consumed"] for r in s2.collect()}
        # (d) replay idempotence: same state -> same flags
        f2r, _ = incremental_token_budget_fill(
            b2, s1, budgets, key_col="k", token_col="t", id_col="id",
            salt="incr-mix")
        assert {r["id"]: r["kept"] for r in f2r.collect()} == flags2
    # (b) budget never exceeded across batches
    total = dict(kept1_mass)
    for i, kept in flags2.items():
        if kept:
            total[keys[i]] += sizes[i]
    assert total["a"] <= 20 and total["b"] <= 4
    assert state2 == {k: m for k, m in total.items() if m}
    # (a) batch-2 decision hash-matches the twin under remaining budgets
    remaining = {k: budgets[k] - state1.get(k, 0) for k in budgets}
    duck.execute("CREATE OR REPLACE TABLE b2rows(id BIGINT, k VARCHAR, "
                 "t BIGINT)")
    duck.executemany("INSERT INTO b2rows VALUES (?, ?, ?)",
                     [(4, "a", 7), (5, "a", 2), (11, "b", 3),
                      (12, "b", 1)])
    twin = token_budget_sql("id", "k", "t", remaining, "incr-mix",
                            table="b2rows")
    want = {r[0]: r[3] for r in duck.execute(twin).fetchall()}
    assert want == flags2
    duck.execute("DROP TABLE b2rows")
    with pytest.raises(ValueError, match="negative"):
        incremental_token_budget_fill(b2, s1, {"a": -1}, key_col="k",
                                      token_col="t", id_col="id")


def test_incremental_fill_duplicate_copies_charge_budget_once(spark):
    """A batch carrying duplicate (id, key) copies
    must charge the consumed state ONCE per entity, at the MAX-resolved
    token — not once per copy — or later batches see a silently shrunken
    remaining budget."""
    from data_engineering_etl_pipeline_spark.extensions.mixing import (
        incremental_token_budget_fill)

    # id 1 appears THREE times (masses 2/5/5 -> entity mass 5); id 2 once
    b1 = spark.createDataFrame(
        [(1, "a", 2), (1, "a", 5), (1, "a", 5), (2, "a", 4)],
        "id long, k string, t long")
    with engine_pin_scope():
        f1, s1 = incremental_token_budget_fill(
            b1, None, {"a": 20}, key_col="k", token_col="t", id_col="id",
            salt="dup-incr")
        flags1 = {(r["id"], r["kept"]) for r in f1.collect()}
        state1 = {r["k"]: r["consumed"] for r in s1.collect()}
    assert flags1 == {(1, True), (2, True)}
    # entity grain: 5 (MAX of the copies) + 4 — NOT 2+5+5+4 = 16
    assert state1 == {"a": 9}
    # the surviving 11 tokens of budget admit an 11-token day-2 doc —
    # impossible under the per-copy overcount
    b2 = spark.createDataFrame([(3, "a", 11)], "id long, k string, t long")
    with engine_pin_scope():
        f2, s2 = incremental_token_budget_fill(
            b2, s1, {"a": 20}, key_col="k", token_col="t", id_col="id",
            salt="dup-incr")
        assert [r["kept"] for r in f2.collect()] == [True]
        assert {r["k"]: r["consumed"] for r in s2.collect()} == {"a": 20}


def test_token_budget_sql_empty_budgets_valid(spark, duck):
    """An empty budget dict must emit VALID SQL (a
    typed empty relation) reproducing the engine's all-budget-0 answer."""
    twin = token_budget_sql("id", "k", "t", {}, "empty-test",
                            table="(SELECT 1 AS id, 'a' AS k, 3 AS t "
                                  "UNION ALL SELECT 2, 'a', 0)")
    want = {r[0]: r[3] for r in duck.execute(twin).fetchall()}
    # the 3-token doc can never fit budget 0; the zero-token doc is free
    # only if it hash-orders first (prefix still within budget)
    assert want[1] is False
    df = spark.createDataFrame([(1, "a", 3), (2, "a", 0)],
                               "id long, k string, t long")
    with engine_pin_scope():
        got = {r["id"]: r["kept"] for r in
               sample_to_token_budget(df, {}, key_col="k", token_col="t",
                                      id_col="id",
                                      salt="empty-test").collect()}
    assert got == want
