"""Incremental MinHash-LSH near-dup index: the lexical twin of
incremental_semantic_dedup — a persisted (band, bh, keep_id, keep_sig)
index lets each ingest batch near-dup-dedup against everything seen so far
WITHOUT re-banding the corpus. Units: cross-batch drop equals the batch
rerun, idempotent replay, config refusal, the metadata-only config check,
shingle-less docs pass through un-indexed. The foreachBatch streaming e2e
lives in tests/test_streaming.py.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_engineering_etl_pipeline_spark.caching import engine_pin_scope
from data_engineering_etl_pipeline_spark.extensions.dedup import (
    dedup_clusters, incremental_minhash_lsh_dedup, minhash_band_index,
    minhash_lsh_pairs)

_SCHEMA = "doc_id long, text string"
_BASE_A = ("the quick brown fox jumps over the lazy dog and runs far "
           "away across the quiet field this morning ") * 3
_BASE_B = ("completely different prose about spark engines shuffles and "
           "distributed joins over bucketed parquet tables ") * 3
_BASE_C = ("genuinely novel content about volcanoes erupting in iceland "
           "with regular fountains of bright lava all week ") * 3


def _batch_rerun_kept(spark, rows) -> list[int]:
    """The one-shot oracle: LSH pairs over the whole union -> connected
    components -> min-id keeper per cluster."""
    union = spark.createDataFrame(rows, _SCHEMA)
    pairs = minhash_lsh_pairs(union)
    comp = dedup_clusters(pairs.select("id_a", "id_b"),
                          driver_budget=1_000_000)
    drops = {r["member_id"] for r in
             comp.filter(F.col("member_id") != F.col("cluster_id"))
             .collect()}
    return sorted(i for i, _ in rows if i not in drops)


def test_cross_batch_drop_equals_batch_rerun(spark):
    """Ingesting a corpus in batches through the persisted band index
    keeps exactly the ids a one-shot batch rerun keeps: exact copies and
    strong near-dups across batches drop against the index, in-batch dups
    resolve to the min id, distinct docs survive. Ids ascend across
    batches (the split-invariance precondition shared with the exact
    form)."""
    batches = [
        [(1, _BASE_A), (2, _BASE_B)],
        [(10, _BASE_A),                              # exact copy of 1
         (11, _BASE_A.replace("dog", "cat")),        # near-dup of 1
         (12, _BASE_C), (13, _BASE_C)],              # 13 in-batch dup of 12
        [(20, _BASE_C.replace("lava", "magma")),     # near-dup of 12
         (21, _BASE_B),                              # exact copy of 2
         (22, ("a fourth unrelated passage on tidal "  # genuinely new
               "marshes and migratory birds resting in "
               "the shallow estuary every autumn ") * 3)],
    ]
    with engine_pin_scope():
        index = minhash_band_index(spark.createDataFrame([], _SCHEMA))
        kept: list[int] = []
        for rows in batches:
            batch = spark.createDataFrame(rows, _SCHEMA)
            fresh, index = incremental_minhash_lsh_dedup(batch, index)
            kept.extend(r["doc_id"] for r in fresh.collect())
        want = _batch_rerun_kept(spark, [r for b in batches for r in b])
        assert sorted(kept) == want == [1, 2, 12, 22]
        # the index holds exactly the keepers' band rows
        assert {r["keep_id"] for r in index.collect()} == set(want)


def test_chain_through_dropped_doc_matches_cluster_semantics(spark):
    """The trickiest ordering semantic: batch has Y~X (near-dups of each
    other), X~H (an indexed keeper), but Y is NOT a near-dup of H
    directly. One-shot cluster semantics over the union: {H, X, Y} is one
    connected component -> keeper H, both X and Y drop. The incremental
    order — in-batch components FIRST (Y drops as non-keeper of {X, Y}),
    THEN cross-batch (X drops vs H) — reaches the same set. The reversed
    order (cross-batch first) would wrongly keep Y after its in-batch
    keeper X vanished; this unit pins the order."""
    h = _BASE_A                                   # history keeper
    x = _BASE_A.replace("dog", "cat")             # J(H,X)=0.727
    y = x.replace("fox", "ox").replace("quick", "slow")
    # J(X,Y)=0.583 >= 0.5; J(H,Y)=0.407 < 0.5 (measured exact 3-gram
    # Jaccards of these fixed strings)
    with engine_pin_scope():
        day1 = spark.createDataFrame([(1, h)], _SCHEMA)
        index = minhash_band_index(day1)
        batch = spark.createDataFrame([(10, x), (11, y)], _SCHEMA)
        # precondition: the pair structure is the intended chain
        pairs = {(r["id_a"], r["id_b"]) for r in minhash_lsh_pairs(
            spark.createDataFrame([(1, h), (10, x), (11, y)], _SCHEMA))
            .collect()}
        assert (1, 10) in pairs and (10, 11) in pairs, pairs
        assert (1, 11) not in pairs, pairs
        fresh, updated = incremental_minhash_lsh_dedup(batch, index)
        assert fresh.count() == 0
        assert {r["keep_id"] for r in updated.collect()} == {1}
        # equals the one-shot rerun
        assert _batch_rerun_kept(spark, [(1, h), (10, x), (11, y)]) == [1]


def test_replay_is_idempotent_and_preserves_columns(spark):
    """Re-ingesting an already-indexed batch drops every row; fresh rows
    preserve EVERY batch column (the incremental_exact_dedup contract)."""
    with engine_pin_scope():
        day1 = spark.createDataFrame(
            [(1, _BASE_A, "s3://a"), (2, _BASE_B, "s3://b")],
            "doc_id long, text string, uri string")
        empty = minhash_band_index(
            spark.createDataFrame([], "doc_id long, text string"))
        fresh, index = incremental_minhash_lsh_dedup(day1, empty)
        got = fresh.collect()
        assert sorted(r["doc_id"] for r in got) == [1, 2]
        assert set(fresh.columns) == {"doc_id", "text", "uri"}
        assert {r["uri"] for r in got} == {"s3://a", "s3://b"}
        fresh2, _ = incremental_minhash_lsh_dedup(day1, index)
        assert fresh2.count() == 0


def test_config_mismatch_and_missing_columns_refused(spark):
    """A mismatched (num_perm, bands, n, seed) index would silently match
    nothing and re-admit every indexed duplicate — refuse loudly, like
    the semantic form."""
    with engine_pin_scope():
        day1 = spark.createDataFrame([(1, _BASE_A)], _SCHEMA)
        index = minhash_band_index(day1, num_perm=64, bands=16)
        batch = spark.createDataFrame([(2, _BASE_B)], _SCHEMA)
        with pytest.raises(ValueError, match="built with"):
            incremental_minhash_lsh_dedup(batch, index, bands=8)
        with pytest.raises(ValueError, match="built with"):
            incremental_minhash_lsh_dedup(batch, index, seed=7)
        with pytest.raises(ValueError, match="missing columns"):
            incremental_minhash_lsh_dedup(batch, index.drop("keep_sig"))
        mixed = index.unionByName(
            minhash_band_index(day1, num_perm=64, bands=8))
        with pytest.raises(ValueError, match="mixes LSH configs"):
            incremental_minhash_lsh_dedup(batch, mixed)
        with pytest.raises(ValueError, match="must divide"):
            incremental_minhash_lsh_dedup(batch, index, num_perm=64,
                                          bands=7)
        # a base-hash mismatch (portable md5 index probed under the
        # xxhash64 default, or vice versa) is a config mismatch too
        with pytest.raises(ValueError, match="built with"):
            incremental_minhash_lsh_dedup(batch, index, hash_fn="md5")
        md5_index = minhash_band_index(day1, hash_fn="md5")
        with pytest.raises(ValueError, match="built with"):
            incremental_minhash_lsh_dedup(batch, md5_index)


def test_manifest_config_check_is_metadata_only(spark):
    """minhash_band_index attaches its LSH config to the built frame as
    ``_index_manifest`` and the incremental probe validates against IT —
    zero index scans. Proof of no-scan: an index whose ROWS say the
    default config but whose attached manifest says another is refused on
    the manifest (a data scan would have passed it). A derived frame such
    as a mixed-config union carries no manifest, so the fallback scan
    still refuses the mix."""
    with engine_pin_scope():
        day1 = spark.createDataFrame([(1, _BASE_A)], _SCHEMA)
        batch = spark.createDataFrame([(2, _BASE_B)], _SCHEMA)
        index = minhash_band_index(day1)
        assert index._index_manifest == {
            "nperm": 64, "nbands": 16, "ngram": 3, "mhseed": 42,
            "mhhash": "xxhash64"}
        # happy path: manifest matches the call -> runs
        fresh, _ = incremental_minhash_lsh_dedup(batch, index)
        assert sorted(r["doc_id"] for r in fresh.collect()) == [2]
        # manifest mismatch refuses, and on the MANIFEST: rows carry the
        # default config, so a scan-based check would have passed
        lying = minhash_band_index(day1)
        lying._index_manifest = dict(lying._index_manifest, nbands=8)
        with pytest.raises(ValueError, match="manifest says"):
            incremental_minhash_lsh_dedup(batch, lying)
        # a mixed-config union is a derived frame with NO manifest; the
        # fallback distinct scan refuses the mix
        mixed = index.unionByName(minhash_band_index(day1, bands=8))
        assert getattr(mixed, "_index_manifest", None) is None
        with pytest.raises(ValueError, match="mixes LSH configs"):
            incremental_minhash_lsh_dedup(batch, mixed)


def test_portable_md5_minhash_matches_duckdb(spark):
    """The cross-engine keystone: the md5 minhash
    config's per-shingle base hash AND full signature stream are
    BIT-identical in DuckDB — Spark's conv(substring(md5)) against the
    SQL strpos-digit fold, shared (a_i, b_i) coefficients. This is what
    makes the incremental cross-batch decision oracle-able (the driver's
    doc_minhash_lsh incr legs hash-check it end-to-end at sf0.01)."""
    import duckdb

    from data_engineering_etl_pipeline_spark.extensions.dedup import (
        minhash_coefficients, minhash_signatures, minhash_token_hash,
        minhash_token_hash_sql, shingles_from_tokens, tokenized_docs)

    docs = spark.createDataFrame(
        [(1, _BASE_A), (2, _BASE_B), (3, "x y z w v u t")], _SCHEMA)
    sh = shingles_from_tokens(tokenized_docs(docs))
    got_h = {(r["doc_id"], r["shingle"]): r["h"] for r in
             sh.select("doc_id", "shingle",
                       minhash_token_hash("md5").alias("h")).collect()}
    # register the Spark-derived shingles and recompute in DuckDB
    import pandas as pd

    con = duckdb.connect()
    h_sql = minhash_token_hash_sql("shingle")
    sh_pd = pd.DataFrame([(i, s) for (i, s) in got_h],
                         columns=["doc_id", "shingle"])
    con.register("sh_tbl", sh_pd)
    want_h = {(i, s): h for i, s, h in con.execute(
        f"SELECT doc_id, shingle, {h_sql} AS h FROM sh_tbl").fetchall()}
    assert got_h == want_h
    # full signatures: one groupBy in Spark vs the coeff-join in SQL
    sig = minhash_signatures(sh, "doc_id", num_perm=8, seed=42,
                             hash_fn="md5")
    got_sig = {r["doc_id"]: [r[f"mh_{i}"] for i in range(8)]
               for r in sig.collect()}
    coeffs = minhash_coefficients(8, 42)
    a_list = ", ".join(str(a) for a, _ in coeffs)
    b_list = ", ".join(str(b) for _, b in coeffs)
    rows = con.execute(f"""
        WITH coeffs AS (
          SELECT unnest(range(0, 8)) AS i,
                 unnest(CAST([{a_list}] AS BIGINT[])) AS a,
                 unnest(CAST([{b_list}] AS BIGINT[])) AS b
        ), hs AS (SELECT doc_id, {h_sql} AS h FROM sh_tbl)
        SELECT doc_id, i, MIN((a * h + b) % 2147483647) AS mh
        FROM hs CROSS JOIN coeffs GROUP BY 1, 2""").fetchall()
    want_sig: dict = {}
    for i, perm, mh in rows:
        want_sig.setdefault(i, [0] * 8)[perm] = mh
    assert got_sig == want_sig


def test_exact_copy_split_invariance_any_batching(spark):
    """Split-invariance on EXACT-copy corpora (the deterministic slice of
    the contract — signature equality needs no estimator luck): ingesting
    in ANY batch split keeps exactly the first copy of each distinct
    text, and shingle-less docs (short/NULL) always survive, whatever the
    split. Near-dup CHAINS are order-dependent by documented design; this
    pins the copy semantics the streaming e2e relies on."""
    pool = [_BASE_A, _BASE_B, _BASE_C,
            ("a fourth standalone passage on tidal marshes and migrating "
             "birds resting in the shallow estuary each autumn ") * 3]
    rows = [(i, pool[i % 4]) for i in range(12)] + [(20, None), (21, "x y")]
    first_copy = {0, 1, 2, 3, 20, 21}
    for cuts in ([], [5], [3, 9], [1, 2, 11]):
        with engine_pin_scope():
            bounds = [0] + cuts + [len(rows)]
            index = minhash_band_index(
                spark.createDataFrame([], _SCHEMA))
            kept: set[int] = set()
            for lo, hi in zip(bounds, bounds[1:]):
                if lo == hi:
                    continue
                batch = spark.createDataFrame(rows[lo:hi], _SCHEMA)
                fresh, index = incremental_minhash_lsh_dedup(batch, index)
                kept.update(r["doc_id"] for r in fresh.collect())
            assert kept == first_copy, cuts


def test_shingleless_docs_survive_and_stay_unindexed(spark):
    """NULL/short texts have empty shingle sets — never lexical near-dups
    (the batch path never pairs them), so they pass through every batch
    and contribute no index rows. The exact-dedup stage upstream is where
    repeated NULL/short texts get dropped in the full pipeline."""
    with engine_pin_scope():
        empty = minhash_band_index(spark.createDataFrame([], _SCHEMA))
        day1 = spark.createDataFrame(
            [(1, None), (2, "tiny"), (3, _BASE_A)], _SCHEMA)
        fresh, index = incremental_minhash_lsh_dedup(day1, empty)
        assert sorted(r["doc_id"] for r in fresh.collect()) == [1, 2, 3]
        assert {r["keep_id"] for r in index.collect()} == {3}
        day2 = spark.createDataFrame([(10, None), (11, "tiny")], _SCHEMA)
        fresh2, index2 = incremental_minhash_lsh_dedup(day2, index)
        assert sorted(r["doc_id"] for r in fresh2.collect()) == [10, 11]
        assert {r["keep_id"] for r in index2.collect()} == {3}
