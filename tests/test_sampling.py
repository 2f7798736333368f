"""Generic quota-bounded balanced sampling (extensions/sampling.py) on
key types beyond the cluster id it was extracted from: language caps, a
NULL-key group, quota=0, and the incremental-URL-dedup composition (the
weburl canonicalizer feeding the exact-dedup index machinery unchanged).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from data_engineering_etl_pipeline_spark.extensions.sampling import (
    balanced_sample_by_key)
from data_engineering_etl_pipeline_spark.io import load_table

from .conftest import SF_DIR, assert_matches_oracle


def test_language_caps_match_duckdb_single_window_twin(spark, duck):
    """Language-balanced sampling — the third key type (cluster, domain,
    lang) through one operator. The two-phase plan must be value-equal to
    the naive global rank (subset property)."""
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "lang")
    got = balanced_sample_by_key(docs, 25, key_col="lang",
                                 id_col="doc_id", salt="lang-balance-5")
    from data_engineering_etl_pipeline_spark.extensions.sampling import (
        quota_rank_sql)
    sql = f"""
    WITH r AS (
      SELECT doc_id, lang,
             {quota_rank_sql('doc_id', 'lang', 'lang-balance-5')} AS rn
      FROM documents)
    SELECT doc_id, lang, rn <= 25 AS kept FROM r
    """
    assert_matches_oracle(got, duck, sql, "lang_balanced_sample")


def test_null_keys_form_their_own_capped_group(spark):
    rows = [(i, "a" if i % 2 == 0 else None) for i in range(40)]
    df = spark.createDataFrame(rows, "id long, k string")
    out = balanced_sample_by_key(df, 5, key_col="k", id_col="id",
                                 n_keys_hint=2)
    got = out.collect()
    assert len(got) == 40  # every row flagged
    kept_null = sum(1 for r in got if r["k"] is None and r["kept"])
    kept_a = sum(1 for r in got if r["k"] == "a" and r["kept"])
    assert kept_null == 5 and kept_a == 5


def test_quota_zero_and_negative(spark):
    import pytest

    df = spark.createDataFrame([(1, "x")], "id long, k string")
    assert balanced_sample_by_key(df, 0, "k", "id").collect()[0]["kept"] \
        is False
    with pytest.raises(ValueError, match="quota"):
        balanced_sample_by_key(df, -1, "k", "id")


def test_incremental_url_dedup_composition(spark):
    """The weburl canonicalizer composes with the incremental exact-dedup
    index machinery UNCHANGED (text_col pointed at the canonical URL):
    day-2 replays of day-1 URLs — including tracking-param and www/port
    variants — drop against the persisted index; genuinely new URLs
    survive and extend it."""
    from data_engineering_etl_pipeline_spark.extensions.dedup import (
        doc_fingerprints, incremental_exact_dedup)
    from data_engineering_etl_pipeline_spark.extensions.weburl import (
        canonicalize_url)

    day1 = spark.createDataFrame(
        [(1, "https://ex.com/a"), (2, "https://ex.com/b")],
        "doc_id long, url string").withColumn(
            "curl", canonicalize_url("url"))
    index = doc_fingerprints(day1, text_col="curl")

    day2 = spark.createDataFrame(
        [(10, "HTTPS://WWW.ex.com:443/a?utm_source=s"),  # variant of day-1 /a
         (11, "https://ex.com/b#frag"),                  # variant of day-1 /b
         (12, "https://ex.com/c"),                       # new
         (13, "https://ex.com/c?utm_medium=m")],         # dup of 12 in-batch
        "doc_id long, url string").withColumn(
            "curl", canonicalize_url("url"))
    fresh, updated = incremental_exact_dedup(day2, index, text_col="curl")
    assert {r["doc_id"] for r in fresh.collect()} == {12}
    # replay against the updated index is empty (idempotent ingest)
    fresh2, _ = incremental_exact_dedup(day2, updated, text_col="curl")
    assert fresh2.count() == 0


def test_colocated_duplicate_copies_do_not_evict_distinct_ids(spark):
    """Exact repro of the duplicate-copy prune bug: duplicate (id, key)
    copies CO-LOCATED in one partition must not consume several phase-1
    quota slots — a key with <= quota distinct ids keeps ALL of them, whatever
    the hash order. On unfixed code, 3 copies of each id in coalesce(1)
    filled head(quota) with copies of the best-hash id and silently
    dropped the other distinct id from the candidate set."""
    import hashlib

    # both ids duplicated 3x: whichever hv-ranks first, its copies alone
    # fill a rows-counting head(2), so the test bites on unfixed code
    # regardless of the hash order
    rows = [(1, "k")] * 3 + [(2, "k")] * 3
    df = spark.createDataFrame(rows, "id long, k string").coalesce(1)
    out = balanced_sample_by_key(df, 2, key_col="k", id_col="id",
                                 n_keys_hint=1).collect()
    assert len(out) == len(rows)
    assert {r["id"] for r in out if r["kept"]} == {1, 2}

    # the verdict's literal shape: (a, a, b) one partition, hv(a) < hv(b),
    # quota 2 — a's duplicate copy must not evict b
    def hv(i, salt):
        return int(hashlib.md5(f"{i}|{salt}".encode()).hexdigest()[:8], 16)

    a, b = sorted((10, 11), key=lambda i: hv(i, "key-balance-42"))
    df2 = spark.createDataFrame([(a, "k"), (a, "k"), (b, "k")],
                                "id long, k string").coalesce(1)
    out2 = balanced_sample_by_key(df2, 2, key_col="k", id_col="id",
                                  n_keys_hint=1).collect()
    assert {r["id"] for r in out2 if r["kept"]} == {a, b}


def test_quota_rank_sql_dense_rank_matches_engine_on_duplicates(spark, duck):
    """The SQL twin uses DENSE_RANK so its kept set equals the engine's
    top-quota DISTINCT ids on DUPLICATE-bearing inputs too (copies of one
    (id, key) share the (hv, id) order tuple and therefore one rank). Duplicates co-located via coalesce(1) — the
    adversarial layout of the duplicate-copy prune bug."""
    from data_engineering_etl_pipeline_spark.extensions.sampling import (
        quota_rank_sql)

    rows = ([(i, "a") for i in range(8)] * 2        # every 'a' id twice
            + [(i, "b") for i in range(3)]           # under-quota key
            + [(0, "b"), (0, "b")])                  # extra copies of one id
    df = spark.createDataFrame(rows, "id long, k string").coalesce(1)
    got = balanced_sample_by_key(df, 4, key_col="k", id_col="id",
                                 salt="dup-oracle-3", n_keys_hint=2)
    duck.execute("CREATE OR REPLACE TEMP TABLE dup_keyed (id BIGINT, k VARCHAR)")
    duck.executemany("INSERT INTO dup_keyed VALUES (?, ?)", rows)
    sql = f"""
    SELECT id, k,
           {quota_rank_sql('id', 'k', 'dup-oracle-3')} <= 4 AS kept
    FROM dup_keyed
    """
    assert_matches_oracle(got, duck, sql, "dup_keyed_quota")
    duck.execute("DROP TABLE dup_keyed")


def test_duplicate_ids_share_one_slot_and_never_inflate_rows(spark):
    """Duplicate-id copies must not fan the flag join out (output rows >
    input rows) nor consume several quota slots."""
    rows = ([(i, "a") for i in range(10)]
            + [(3, "a"), (3, "a"), (7, "b"), (7, "a")])
    df = spark.createDataFrame(rows, "id long, k string")
    out = balanced_sample_by_key(df, 2, key_col="k", id_col="id",
                                 n_keys_hint=2).collect()
    assert len(out) == len(rows)  # no row inflation
    kept_ids_a = {r["id"] for r in out if r["k"] == "a" and r["kept"]}
    assert len(kept_ids_a) <= 2  # quota counts DISTINCT ids per key
