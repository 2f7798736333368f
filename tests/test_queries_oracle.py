"""The local mirror of the driver's t2 gate: every registered query with an
oracle must hash-match DuckDB on the same parquet; oracle-less queries must
at least run and return a stable schema."""

from __future__ import annotations

import pytest

from data_engineering_etl_pipeline_spark.queries import ORACLES, QUERIES
from .conftest import SF_DIR, assert_matches_oracle


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(name, spark, duck):
    df = QUERIES[name](spark, SF_DIR)
    if name in ORACLES:
        assert_matches_oracle(df, duck, ORACLES[name], name)
    else:
        n = df.count()
        assert n >= 0
        assert len(df.schema.fields) > 0


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert set(e.oracle_sql()) <= set(e.queries())


def test_event_time_windows_library_query_matches_oracle(spark, duck):
    """event_time_windows is on the driver record only as user_sessions'
    tumbling/sliding grains; its full value oracle keeps both window
    families hash-checked on their own."""
    from data_engineering_etl_pipeline_spark.queries.events import (
        EVENT_TIME_WINDOWS_ORACLE, event_time_windows)

    assert_matches_oracle(event_time_windows(spark, SF_DIR), duck,
                          EVENT_TIME_WINDOWS_ORACLE, "event_time_windows")


def test_doc_ngram_jaccard_library_query_matches_oracle(spark, duck):
    """ngram_jaccard_pairs over the raw documents table against its full
    value oracle (on the driver record it is only doc_minhash_lsh's
    'ngram' grain)."""
    from data_engineering_etl_pipeline_spark.extensions.dedup import (
        ngram_jaccard_pairs)
    from data_engineering_etl_pipeline_spark.io import load_table
    from data_engineering_etl_pipeline_spark.queries.text import (
        NGRAM_JACCARD_ORACLE)

    docs = load_table(spark, SF_DIR, "documents")
    assert_matches_oracle(
        ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5),
        duck, NGRAM_JACCARD_ORACLE, "doc_ngram_jaccard")


def test_doc_chunking_library_query_matches_oracle(spark, duck):
    """chunk_documents over the raw documents table against its full
    value oracle (on the driver record it is only pack_sequences' 'chunk'
    grain)."""
    from data_engineering_etl_pipeline_spark.extensions import corpus
    from data_engineering_etl_pipeline_spark.io import load_table
    from data_engineering_etl_pipeline_spark.queries.corpusq import (
        DOC_CHUNKING_ORACLE)

    docs = load_table(spark, SF_DIR, "documents")
    assert_matches_oracle(corpus.chunk_documents(docs, window=64, stride=48),
                          duck, DOC_CHUNKING_ORACLE, "doc_chunking")


def test_corpus_split_profile_library_query_matches_oracle(spark, duck):
    """corpus_split_profile is on the driver record only as
    prep_training_corpus' 'profile' grain; its full value oracle keeps the
    split+quantile construction hash-checked on its own."""
    from data_engineering_etl_pipeline_spark.queries.text import (
        CORPUS_SPLIT_PROFILE_ORACLE, corpus_split_profile)

    assert_matches_oracle(corpus_split_profile(spark, SF_DIR), duck,
                          CORPUS_SPLIT_PROFILE_ORACLE,
                          "corpus_split_profile")
