"""Structured Streaming tests (SURVEY.md §2.9): the batch plan is the oracle
for the streaming plan over the same bounded data.

Covers: file-source micro-batch read, tumbling-window agg with watermark,
the foreachBatch idempotent daily-snapshot sink (S10 streaming analog), and
live batch operators (MACD, incremental dedup, cleaning, covariance,
k-means) driven as streams.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from data_engineering_etl_pipeline_spark.io import load_table, snapshot_exists
from data_engineering_etl_pipeline_spark.streaming import (
    run_stream_to_memory, stream_events, windowed_agg)

SF_DIR = os.environ.get("SPARK_GRAFT_SMOKE_DIR", "/root/testdata/sf0.001")


def _collect_sorted(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_streaming_windowed_agg_matches_batch(spark):
    """Tumbling 1h window + watermark on a stream == the same F.window agg on
    the batch frame (complete mode flushes all windows on a bounded source)."""
    stream = stream_events(spark, SF_DIR)
    assert stream.isStreaming
    agg = windowed_agg(stream, "ts", "1 hour", keys=["event_type"],
                       watermark="2 hours")
    run_stream_to_memory(agg, "win_agg_test", output_mode="complete")
    got = spark.table("win_agg_test").select(
        F.col("window.start").alias("ws"), "event_type", "n_events", "sum_value")

    batch = load_table(spark, SF_DIR, "events")
    want = windowed_agg(batch, "ts", "1 hour", keys=["event_type"]).select(
        F.col("window.start").alias("ws"), "event_type", "n_events", "sum_value")

    cols = ["ws", "event_type", "n_events", "sum_value"]
    assert _collect_sorted(got, cols) == _collect_sorted(want, cols)
    assert got.count() > 0


def test_foreach_batch_idempotent_snapshot(spark, tmp_path):
    """S10 streaming analog: foreachBatch + idempotent daily-snapshot write.
    Re-running the stream over the same bounded source writes nothing new."""
    from data_engineering_etl_pipeline_spark.io import write_daily_snapshot

    root = str(tmp_path / "daily")
    writes: list[bool] = []

    def sink(batch_df, batch_id):
        daily = (batch_df
                 .withColumn("snapshot_date", F.to_date("ts"))
                 .groupBy("snapshot_date", "event_type")
                 .agg(F.count(F.lit(1)).alias("n")))
        writes.append(write_daily_snapshot(daily, root))

    def run_once():
        q = (stream_events(spark, SF_DIR)
             .writeStream.foreachBatch(sink)
             .option("checkpointLocation", str(tmp_path / "ckpt"))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        q.stop()

    run_once()
    assert writes and writes[0] is True
    first = spark.read.parquet(root)
    n_first = first.count()
    assert n_first > 0
    some_date = first.select(F.col("snapshot_date").cast("string")).first()[0]
    assert snapshot_exists(spark, root, some_date)

    # Second pass over the same data: checkpoint makes it a no-op batch; even
    # with a fresh checkpoint the sink itself refuses to rewrite existing days.
    writes.clear()
    q = (stream_events(spark, SF_DIR)
         .writeStream.foreachBatch(sink)
         .option("checkpointLocation", str(tmp_path / "ckpt2"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    q.stop()
    assert all(w is False for w in writes)
    assert spark.read.parquet(root).count() == n_first


def test_streaming_macd_single_batch_matches_kernel(spark):
    """The stateful incremental MACD on a batch frame must equal the batch
    TA kernel (same constants, same op order) — per (user, ts)-unique rows
    so tie order can't differ between the two sort paths."""
    from data_engineering_etl_pipeline_spark.streaming import streaming_macd
    from data_engineering_etl_pipeline_spark.ta import ta_features

    ev = load_table(spark, SF_DIR, "events")
    uniq = (ev.groupBy("user_id", "ts").count().filter("count = 1")
            .select("user_id", "ts"))
    ev = ev.join(uniq, ["user_id", "ts"]).select("user_id", "ts", "value")

    got = streaming_macd(ev, "user_id", "ts", "value").select(
        "user_id", "ts", F.round("macd", 9).alias("m"),
        F.round("macd_signal", 9).alias("s"))
    want = ta_features(ev, "user_id", ["ts"], "value").select(
        "user_id", "ts", F.round("macd", 9).alias("m"),
        F.round("macd_signal", 9).alias("s"))
    cols = ["user_id", "ts", "m", "s"]
    assert _collect_sorted(got, cols) == _collect_sorted(want, cols)
    assert got.count() > 0


def test_streaming_macd_state_spans_batches(spark, tmp_path):
    """Cross-batch state: two time-sliced files processed as two
    micro-batches must produce the SAME per-event MACD as one batch over
    the full history — i.e. the EMA state survives the batch boundary."""
    import os
    import time as _time

    from data_engineering_etl_pipeline_spark.streaming import streaming_macd

    ev = load_table(spark, SF_DIR, "events")
    uniq = (ev.groupBy("user_id", "ts").count().filter("count = 1")
            .select("user_id", "ts"))
    ev = ev.join(uniq, ["user_id", "ts"]).select("user_id", "ts", "value")
    cut = ev.agg(F.expr("percentile_approx(ts, 0.5)")).first()[0]

    stage = str(tmp_path / "sliced")
    os.makedirs(stage)
    for i, part in enumerate([ev.filter(F.col("ts") <= F.lit(cut)),
                              ev.filter(F.col("ts") > F.lit(cut))]):
        tmp_out = str(tmp_path / f"part{i}")
        part.coalesce(1).write.parquet(tmp_out)
        src = [f for f in os.listdir(tmp_out) if f.endswith(".parquet")][0]
        dst = os.path.join(stage, f"{i:02d}.parquet")
        os.rename(os.path.join(tmp_out, src), dst)
        # file-stream source orders by modification time: force batch order
        os.utime(dst, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))

    schema = ev.schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(stage))
    out = streaming_macd(stream, "user_id", "ts", "value")
    q = (out.writeStream.outputMode("append").format("memory")
         .queryName("macd_state_test")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    q.stop()
    got = spark.table("macd_state_test").select(
        "user_id", "ts", F.round("macd", 9).alias("m"),
        F.round("macd_signal", 9).alias("s"))

    want = streaming_macd(ev, "user_id", "ts", "value").select(
        "user_id", "ts", F.round("macd", 9).alias("m"),
        F.round("macd_signal", 9).alias("s"))
    cols = ["user_id", "ts", "m", "s"]
    assert _collect_sorted(got, cols) == _collect_sorted(want, cols)
    assert got.count() > 0


def test_windowed_agg_drops_late_data_after_window_eviction(spark, tmp_path):
    """Late-data DROP semantics, as the engine actually guarantees them: a
    straggler whose window has ALREADY been evicted (watermark crossed the
    window end at a prior batch boundary) is dropped — the finalized window
    is emitted exactly once with its on-time contents and is never
    resurrected as a duplicate append row — while the unfiltered batch twin
    keeps the straggler. (A straggler arriving in the SAME batch that
    evicts its window still merges; Spark's one-directional guarantee is
    only that in-horizon data is never dropped.)"""
    import datetime
    import os

    schema = "user_id long, ts timestamp, value double"

    def d(h, m=0):
        return datetime.datetime(2024, 3, 1, h, m)

    batches = [
        [(1, d(10), 1.0), (1, d(10, 5), 1.0)],  # the 10:00 window
        [(1, d(12), 1.0)],                      # end of batch: wm -> 11:30
        [(1, d(12, 30), 1.0)],                  # win 10:00 evicted+emitted
        [(1, d(10, 10), 100.0)],                # straggler AFTER eviction
        [(1, d(15), 1.0)],                      # advance wm, flush win 12:00
    ]
    stage = tmp_path / "src"
    stage.mkdir()
    for i, rows in enumerate(batches):
        out = str(tmp_path / f"p{i}")
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(out)
        src = [f for f in os.listdir(out) if f.endswith(".parquet")][0]
        dst = os.path.join(str(stage), f"{i:02d}.parquet")
        os.rename(os.path.join(out, src), dst)
        # file source orders batches by mtime: force arrival order
        os.utime(dst, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(str(stage)))
    agg = windowed_agg(stream, "ts", "1 hour", watermark="30 minutes")
    q = (agg.writeStream.outputMode("append").format("memory")
         .queryName("late_drop_test")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    dropped = sum(op.get("numRowsDroppedByWatermark", 0)
                  for p in q.recentProgress
                  for op in p.get("stateOperators", []))
    q.stop()
    rows = (spark.table("late_drop_test")
            .select(F.col("window.start").alias("ws"), "n_events",
                    "sum_value").collect())
    emitted = [(r.ws, r.n_events, r.sum_value) for r in rows]
    # exactly ONE emission of the 10:00 window, with on-time contents only
    win10 = [e for e in emitted if e[0] == d(10)]
    assert win10 == [(d(10), 2, 2.0)]
    assert dropped == 1  # the straggler was counted as watermark-dropped

    union = spark.read.parquet(str(stage))
    batch = {r.ws: (r.n_events, r.sum_value) for r in
             windowed_agg(union, "ts", "1 hour")
             .select(F.col("window.start").alias("ws"), "n_events",
                     "sum_value").collect()}
    assert batch[d(10)] == (3, 102.0)  # batch twin keeps the straggler


def test_cleaning_family_streams_map_only(spark, tmp_path):
    """The corpus-cleaning operators (C4 + Gopher + PII scrub) are pure
    map-only column expressions, so they run UNCHANGED on a streaming
    source in append mode with no watermark or state — and produce
    bit-identical rows to the batch run. This is the 100 TB ingest-time
    filtering path: clean/score documents as they land, before any
    batch job sees them."""
    from data_engineering_etl_pipeline_spark.extensions.cleaning import (
        c4_stats, gopher_stats)
    from data_engineering_etl_pipeline_spark.extensions.pii import scrub_pii
    from data_engineering_etl_pipeline_spark.io import load_table

    src = str(tmp_path / "docs_stream")
    docs = load_table(spark, SF_DIR.replace("0.01", "0.001"), "documents")
    docs.limit(200).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema

    def pipeline(df):
        return df.select(
            "doc_id", *c4_stats("text"), *gopher_stats("text"),
            scrub_pii("text").alias("scrubbed"))

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    out = pipeline(stream)
    assert out.isStreaming
    run_stream_to_memory(out, "clean_stream_test", output_mode="append")
    got = spark.table("clean_stream_test")
    want = pipeline(spark.read.parquet(src))
    cols = [c for c in want.columns]
    assert _collect_sorted(got, cols) == _collect_sorted(want, cols)
    assert got.count() == 200


def test_streaming_incremental_dedup_foreachbatch(spark, tmp_path):
    """Operational ingest dedup: micro-batches arrive as files; foreachBatch
    runs incremental_exact_dedup against a parquet-persisted fingerprint
    index, so every batch dedups against EVERYTHING seen so far (including
    earlier batches of the same stream) at index-join cost. The surviving
    rows must equal a batch keep-first dedup of the whole union, and the
    index must never store document text."""
    import os

    from data_engineering_etl_pipeline_spark.extensions.dedup import (
        doc_fingerprints, exact_dedup_keep_first, incremental_exact_dedup)

    schema = "doc_id long, text string"
    batches = [
        [(1, "alpha"), (2, "beta")],
        [(3, "alpha"), (4, "gamma"), (5, "gamma")],   # 3 dups 1; 5 dups 4
        [(6, "beta"), (7, "delta"), (8, None)],       # 6 dups 2
        [(9, None), (10, "epsilon")],                 # 9 dups 8 (NULL text)
    ]
    stage = tmp_path / "src"
    stage.mkdir()
    for i, rows in enumerate(batches):
        out = str(tmp_path / f"p{i}")
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(out)
        src = [f for f in os.listdir(out) if f.endswith(".parquet")][0]
        dst = os.path.join(str(stage), f"{i:02d}.parquet")
        os.rename(os.path.join(out, src), dst)
        os.utime(dst, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))

    index_dir = str(tmp_path / "fp_index")
    out_dir = str(tmp_path / "deduped")
    # seed an empty index so every batch follows the same read-join-write path
    doc_fingerprints(spark.createDataFrame([], schema)).write.parquet(index_dir)

    def sink(batch_df, batch_id):
        index = batch_df.sparkSession.read.parquet(index_dir)
        fresh, updated = incremental_exact_dedup(batch_df, index)
        fresh.write.mode("append").parquet(out_dir)
        # two-phase index swap: write-new-then-replace keeps the read path
        # consistent (a real deployment would version by batch_id)
        updated.write.mode("overwrite").parquet(index_dir + "_next")
        batch_df.sparkSession.read.parquet(index_dir + "_next") \
            .write.mode("overwrite").parquet(index_dir)

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(str(stage)))
    q = (stream.writeStream.foreachBatch(sink)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    q.stop()

    got = sorted(r["doc_id"] for r in spark.read.parquet(out_dir).collect())
    union = spark.read.parquet(str(stage))
    want = sorted(r["doc_id"] for r in
                  exact_dedup_keep_first(union).collect())
    assert got == want == [1, 2, 4, 7, 8, 10]
    # the persisted index carries fingerprints only, never text
    assert set(spark.read.parquet(index_dir).columns) == {
        "__fp", "__fplen", "keep_id"}


def test_streaming_incremental_semantic_dedup_foreachbatch(spark, tmp_path):
    """The semantic twin of the ingest-dedup e2e above: micro-batches
    of embeddings arrive as files; foreachBatch runs
    incremental_semantic_dedup against a parquet-persisted signature
    index, so every batch near-dup-dedups against everything seen so far
    at index-join cost — the historical corpus is never rescanned. One-hot
    test vectors make cross-id cosines exactly 0 and duplicates exactly 1,
    so the expected survivor set is deterministic (identical vectors
    collide in every LSH table)."""
    import os

    from data_engineering_etl_pipeline_spark.extensions.similarity import (
        embedding_signature_index, incremental_semantic_dedup)

    dim, planes, tables = 8, 8, 2
    schema = "vec_id long, embedding array<double>"

    def e(i, scale=1.0):
        v = [0.0] * dim
        v[i] = scale
        return v

    batches = [
        [(1, e(0)), (2, e(1))],
        [(3, e(0, 2.0)), (4, e(2)), (5, e(2, 3.0))],  # 3 dups 1; 5 dups 4
        [(6, e(1)), (7, e(3))],                       # 6 dups 2
    ]
    stage = tmp_path / "src"
    stage.mkdir()
    for i, rows in enumerate(batches):
        out = str(tmp_path / f"p{i}")
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(out)
        src = [f for f in os.listdir(out) if f.endswith(".parquet")][0]
        dst = os.path.join(str(stage), f"{i:02d}.parquet")
        os.rename(os.path.join(out, src), dst)
        os.utime(dst, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))

    index_dir = str(tmp_path / "sig_index")
    out_dir = str(tmp_path / "deduped")
    embedding_signature_index(
        spark.createDataFrame([], schema), n_planes=planes,
        n_tables=tables, dim=dim).write.parquet(index_dir)

    def sink(batch_df, batch_id):
        from data_engineering_etl_pipeline_spark.caching import (
            engine_pin_scope)

        # engine_pin_scope: each call pins two batch-sized relations
        # (sigs + fresh); an unreleased stream would accumulate one pinned
        # full-payload batch per micro-batch — this sink is the reference
        # pattern the operator docstring points at
        with engine_pin_scope():
            index = batch_df.sparkSession.read.parquet(index_dir)
            fresh, updated = incremental_semantic_dedup(
                batch_df, index, threshold=0.95, n_planes=planes,
                n_tables=tables, dim=dim)
            fresh.write.mode("append").parquet(out_dir)
            updated.write.mode("overwrite").parquet(index_dir + "_next")
            batch_df.sparkSession.read.parquet(index_dir + "_next") \
                .write.mode("overwrite").parquet(index_dir)

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(str(stage)))
    q = (stream.writeStream.foreachBatch(sink)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    q.stop()

    got = sorted(r["vec_id"] for r in spark.read.parquet(out_dir).collect())
    assert got == [1, 2, 4, 7]
    idx = spark.read.parquet(index_dir)
    assert sorted({r["keep_id"] for r in idx.collect()}) == [1, 2, 4, 7]
    assert set(idx.columns) == {"table", "bucket", "keep_id", "keep_vec",
                                "keep_inv", "planes", "tables"}


def test_streaming_incremental_minhash_foreachbatch(spark, tmp_path):
    """The lexical-LSH twin of the two ingest-dedup e2es above:
    micro-batches of documents arrive as files; foreachBatch runs
    incremental_minhash_lsh_dedup against a parquet-persisted band index,
    so every batch NEAR-dup-dedups (not just exact) against everything
    seen so far at index-join cost — the historical corpus is never
    re-banded. Exact copies and strong near-dups across batches drop; the
    survivor set equals the one-shot batch rerun over the union."""
    import os

    from data_engineering_etl_pipeline_spark.extensions.dedup import (
        dedup_clusters, incremental_minhash_lsh_dedup, minhash_band_index,
        minhash_lsh_pairs)

    schema = "doc_id long, text string"
    a = ("the quick brown fox jumps over the lazy dog and runs far away "
         "across the quiet field this morning ") * 3
    b = ("completely different prose about spark engines shuffles and "
         "distributed joins over bucketed parquet tables ") * 3
    c = ("genuinely novel content about volcanoes erupting in iceland "
         "with regular fountains of bright lava all week ") * 3
    batches = [
        [(1, a), (2, b)],
        [(3, a), (4, a.replace("dog", "cat")), (5, c)],  # 3 copy, 4 near
        [(6, c.replace("lava", "magma")), (7, b)],       # 6 near, 7 copy
    ]
    stage = tmp_path / "src"
    stage.mkdir()
    for i, rows in enumerate(batches):
        out = str(tmp_path / f"p{i}")
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(out)
        src = [f for f in os.listdir(out) if f.endswith(".parquet")][0]
        dst = os.path.join(str(stage), f"{i:02d}.parquet")
        os.rename(os.path.join(out, src), dst)
        os.utime(dst, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))

    index_dir = str(tmp_path / "mh_index")
    out_dir = str(tmp_path / "deduped")
    minhash_band_index(
        spark.createDataFrame([], schema)).write.parquet(index_dir)

    def sink(batch_df, batch_id):
        from data_engineering_etl_pipeline_spark.caching import (
            engine_pin_scope)

        # engine_pin_scope: each call pins batch-sized relations (tokens,
        # signatures, fresh); an unreleased stream would accumulate pinned
        # batches per micro-batch — same contract as the exact/semantic
        # sinks above
        with engine_pin_scope():
            index = batch_df.sparkSession.read.parquet(index_dir)
            fresh, updated = incremental_minhash_lsh_dedup(batch_df, index)
            fresh.write.mode("append").parquet(out_dir)
            updated.write.mode("overwrite").parquet(index_dir + "_next")
            batch_df.sparkSession.read.parquet(index_dir + "_next") \
                .write.mode("overwrite").parquet(index_dir)

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(str(stage)))
    q = (stream.writeStream.foreachBatch(sink)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    q.stop()

    got = sorted(r["doc_id"] for r in spark.read.parquet(out_dir).collect())
    # one-shot batch rerun over the union: LSH pairs -> components ->
    # min-id keeper
    union = spark.read.parquet(str(stage))
    comp = dedup_clusters(
        minhash_lsh_pairs(union).select("id_a", "id_b"),
        driver_budget=1_000_000)
    drop = {r["member_id"] for r in
            comp.filter("member_id != cluster_id").collect()}
    want = sorted(r["doc_id"] for r in union.collect()
                  if r["doc_id"] not in drop)
    assert got == want == [1, 2, 5]
    # the persisted index carries band rows + signatures, never text
    idx = spark.read.parquet(index_dir)
    assert sorted({r["keep_id"] for r in idx.collect()}) == [1, 2, 5]
    assert set(idx.columns) == {"band", "bh", "keep_id", "keep_sig",
                                "nperm", "nbands", "ngram", "mhseed",
                                "mhhash"}


def test_streaming_incremental_fill_foreachbatch(spark, tmp_path):
    """The mixture-budget twin of the ingest-dedup e2es above (the
    corpus_schedule family operationally): micro-batches of curated
    docs arrive as files; foreachBatch runs
    incremental_token_budget_fill against a parquet-persisted
    (key, consumed) state, so the run fills each source's REMAINING
    token budget in ingest order — earlier keepers are never displaced,
    the total kept mass never exceeds the budget, and the final state
    equals the kept mass exactly."""
    import os

    from data_engineering_etl_pipeline_spark.extensions.mixing import (
        incremental_token_budget_fill)

    schema = "doc_id long, lang string, n_tokens long"
    budgets = {"en": 20, "de": 7}
    batches = [
        [(1, "en", 9), (2, "de", 5), (3, "en", 8)],
        [(4, "en", 9), (5, "de", 5), (6, "en", 2)],   # de 5 > remaining 2
        [(7, "en", 1), (8, "de", 2), (9, "en", 50)],  # de 2 fits exactly
    ]
    stage = tmp_path / "src"
    stage.mkdir()
    for i, rows in enumerate(batches):
        out = str(tmp_path / f"p{i}")
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(out)
        src = [f for f in os.listdir(out) if f.endswith(".parquet")][0]
        dst = os.path.join(str(stage), f"{i:02d}.parquet")
        os.rename(os.path.join(out, src), dst)
        os.utime(dst, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))

    state_dir = str(tmp_path / "consumed")
    flags_dir = str(tmp_path / "flags")
    spark.createDataFrame([], "lang string, consumed long") \
        .write.parquet(state_dir)

    def sink(batch_df, batch_id):
        from data_engineering_etl_pipeline_spark.caching import (
            engine_pin_scope)

        with engine_pin_scope():
            consumed = batch_df.sparkSession.read.parquet(state_dir)
            flags, new_consumed = incremental_token_budget_fill(
                batch_df, consumed, budgets, key_col="lang",
                token_col="n_tokens", id_col="doc_id", salt="stream-fill")
            flags.write.mode("append").parquet(flags_dir)
            new_consumed.write.mode("overwrite").parquet(state_dir + "_n")
            batch_df.sparkSession.read.parquet(state_dir + "_n") \
                .write.mode("overwrite").parquet(state_dir)

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(str(stage)))
    q = (stream.writeStream.foreachBatch(sink)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    q.stop()

    flags = {r["doc_id"]: r["kept"]
             for r in spark.read.parquet(flags_dir).collect()}
    assert len(flags) == 9
    sizes = {i: t for rows in batches for i, _, t in rows}
    langs = {i: k for rows in batches for i, k, _ in rows}
    mass = {"en": 0, "de": 0}
    for i, kept in flags.items():
        if kept:
            mass[langs[i]] += sizes[i]
    # never exceed; de fills 5 (b1) + 2 (b3, after 5 > remaining-2 drops)
    assert mass["en"] <= 20 and mass["de"] == 7
    assert flags[2] and not flags[5] and flags[8]
    assert not flags[9]  # 50 tokens can never fit en's remainder
    state = {r["lang"]: r["consumed"]
             for r in spark.read.parquet(state_dir).collect()}
    assert state == {k: v for k, v in mass.items() if v}


def test_streaming_covariance_accumulator_matches_batch_bitwise(spark,
                                                                tmp_path):
    """The exact-moment machinery is STREAMING-COMPOSABLE with zero drift:
    integer fixed-point sums are associative/commutative, so maintaining
    the covariance over micro-batches (complete-mode agg on the same
    kernel) ends bit-identical to the one-shot batch computation — the
    property float accumulators cannot give an incremental pipeline."""
    from data_engineering_etl_pipeline_spark.extensions.similarity import (
        covariance_exact)
    from data_engineering_etl_pipeline_spark.streaming import (
        run_stream_to_memory)

    emb = load_table(spark, SF_DIR, "embeddings").select("embedding")
    src = os.path.join(str(tmp_path), "emb_stream")
    emb.repartition(3).write.parquet(src)  # 3 files -> 3 micro-batches

    stream = (spark.readStream.schema(emb.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    run_stream_to_memory(covariance_exact(stream, dim=64),
                         "cov_stream", output_mode="complete")
    got = {(r["i"], r["j"]): (r["n"], r["sum_q"], r["sum_qi"],
                              r["sum_qj"], r["cov"])
           for r in spark.table("cov_stream").collect()}
    want = {(r["i"], r["j"]): (r["n"], r["sum_q"], r["sum_qi"],
                               r["sum_qj"], r["cov"])
            for r in covariance_exact(emb, dim=64).collect()}
    assert got == want  # bit equality, floats included


def test_streaming_kmeans_update_matches_batch_bitwise(spark, tmp_path):
    """Same associativity property for the Lloyd M-step: fold assignment
    is a stateless expression, the update's integer sums merge across
    micro-batches — streaming centroid maintenance equals batch."""
    from data_engineering_etl_pipeline_spark.extensions.similarity import (
        _assign_with_vec, kmeans_update_exact, planted_centroids)
    from data_engineering_etl_pipeline_spark.streaming import (
        run_stream_to_memory)

    emb = load_table(spark, SF_DIR, "embeddings").select("embedding")
    cents = planted_centroids(42, 4, 64)
    src = os.path.join(str(tmp_path), "emb_stream_km")
    emb.repartition(3).write.parquet(src)

    stream = (spark.readStream.schema(emb.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    upd = kmeans_update_exact(
        _assign_with_vec(stream, "embedding", cents, assign="fold"))
    run_stream_to_memory(upd, "km_stream", output_mode="complete")
    got = {(r["cid"], r["pos"]): (r["n_members"], r["sum_q"], r["coord"])
           for r in spark.table("km_stream").collect()}
    want = {(r["cid"], r["pos"]): (r["n_members"], r["sum_q"], r["coord"])
            for r in kmeans_update_exact(
                _assign_with_vec(emb, "embedding", cents,
                                 assign="fold")).collect()}
    assert got == want


def test_streaming_url_dedup_foreachbatch(spark, tmp_path):
    """The weburl canonicalizer composes with the streaming ingest
    dedup UNCHANGED — micro-batches of (doc_id, url) dedup against a
    parquet-persisted fingerprint index keyed on the CANONICAL URL, so a
    later batch's tracking-param/www/port/fragment variant of an earlier
    batch's URL drops at index-join cost. Survivors equal a batch
    keep-first dedup of the canonicalized union; the index stores
    fingerprints only, never URLs."""
    import os

    from data_engineering_etl_pipeline_spark.extensions.dedup import (
        doc_fingerprints, exact_dedup_keep_first, incremental_exact_dedup)
    from data_engineering_etl_pipeline_spark.extensions.weburl import (
        canonicalize_url)

    schema = "doc_id long, url string"
    batches = [
        [(1, "https://ex.com/a"), (2, "https://ex.com/b")],
        [(3, "HTTPS://WWW.ex.com:443/a?utm_source=s"),   # variant of 1
         (4, "https://ex.com/c")],
        [(5, "https://ex.com/b#frag"),                   # variant of 2
         (6, "https://ex.com/c/"),                       # variant of 4
         (7, "https://ex.com/d")],
    ]
    stage = tmp_path / "src"
    stage.mkdir()
    for i, rows in enumerate(batches):
        out = str(tmp_path / f"p{i}")
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(out)
        src = [f for f in os.listdir(out) if f.endswith(".parquet")][0]
        dst = os.path.join(str(stage), f"{i:02d}.parquet")
        os.rename(os.path.join(out, src), dst)
        os.utime(dst, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))

    index_dir = str(tmp_path / "url_index")
    out_dir = str(tmp_path / "deduped")
    doc_fingerprints(
        spark.createDataFrame([], "doc_id long, curl string"),
        text_col="curl").write.parquet(index_dir)

    def sink(batch_df, batch_id):
        s = batch_df.sparkSession
        canon = batch_df.withColumn("curl", canonicalize_url("url"))
        fresh, updated = incremental_exact_dedup(
            canon, s.read.parquet(index_dir), text_col="curl")
        fresh.drop("curl").write.mode("append").parquet(out_dir)
        updated.write.mode("overwrite").parquet(index_dir + "_next")
        s.read.parquet(index_dir + "_next") \
            .write.mode("overwrite").parquet(index_dir)

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(str(stage)))
    q = (stream.writeStream.foreachBatch(sink)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    q.stop()

    got = sorted(r["doc_id"] for r in spark.read.parquet(out_dir).collect())
    union = spark.read.parquet(str(stage)).withColumn(
        "curl", canonicalize_url("url"))
    want = sorted(r["doc_id"] for r in
                  exact_dedup_keep_first(union, text_col="curl").collect())
    assert got == want == [1, 2, 4, 7]
    assert set(spark.read.parquet(index_dir).columns) == {
        "__fp", "__fplen", "keep_id"}
