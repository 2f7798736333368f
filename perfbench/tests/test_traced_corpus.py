"""The traced corpus_prep materializes every layer's output at its span
boundary; its output must equal the untraced job's on the same input, and
its spans' self times must fit inside the job's wall time."""

from __future__ import annotations

import os

import pandas as pd
import pytest

from perfbench import check, gen, workloads
from perfbench.trace import NullTracer, Tracer


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    from data_engineering_etl_pipeline_spark.session import get_spark

    s = get_spark("perfbench-tests")
    yield s
    s.stop()


def _rows(path: str) -> pd.DataFrame:
    df = check._read_dir(path)
    df["shard"] = pd.to_numeric(df["shard"].astype(object), errors="coerce")
    return df.sort_values("doc_id").reset_index(drop=True)[
        ["doc_id", "text", "split", "n_tokens", "shard", "pack_id"]]


def test_traced_corpus_job_equals_untraced(spark, tmp_path):
    from data_engineering_etl_pipeline_spark import caching

    in_dir = str(tmp_path / "in")
    gen.make_corpus(in_dir, seed=3, n_docs=240)
    want = _rows(workloads.corpus_job(spark, in_dir, str(tmp_path / "a"),
                                      NullTracer()))
    caching.release_engine_pins()
    tr = Tracer(spark)
    with tr.span("job"):
        got = _rows(workloads.corpus_job(spark, in_dir, str(tmp_path / "b"),
                                         tr))
    tr.release()
    caching.release_engine_pins()
    assert len(want) > 100
    pd.testing.assert_frame_equal(got, want)
    # every stage ran as its own span under the job span
    names = {s["name"] for s in tr.spans if s["parent"] is not None}
    assert {"io", "extensions.cleaning", "extensions.pii", "extensions.dedup",
            "caching", "extensions.corpus", "extensions.text_stats"} <= names
    tr.harvest()
    selfs = tr.self_times()
    root = next(s for s in tr.spans if s["parent"] is None)
    assert sum(selfs.values()) <= root["end"] - root["start"] + 1e-9
