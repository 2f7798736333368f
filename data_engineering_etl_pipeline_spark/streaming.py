"""Structured Streaming surface (SURVEY.md §2.9).

The reference has no streaming engine — its streaming-shaped behaviors are
daily idempotent snapshots and whole-world re-snapshots (derivatives
derivatives_snapshot_etl.py:48-56, live_data_pipeline.py:100-137). Here:

- ``windowed_agg``: tumbling/sliding event-time aggregation with watermark —
  works identically on a batch DataFrame (F.window is a plain function) and a
  streaming one, so batch queries double as the streaming oracle.
- ``sessionize_batch``: gap-based sessionization via lag+cumsum (batch) —
  the Window-function form of ``session_window`` for bounded data.
- ``run_stream_to_memory``: drive a streaming query from a bounded source to
  completion (availableNow semantics) for tests.

Scale: watermarks bound state; ``foreachBatch`` + idempotent partition
overwrite gives exactly-once daily sinks (the S10 pattern).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def stream_events(spark: SparkSession, sf_dir: str,
                  max_files_per_trigger: int | None = None) -> DataFrame:
    """File-source streaming read of the driver ``events`` table.

    ``ts`` is normalized to session-zoned TIMESTAMP exactly as the batch
    loader does (nanos-long → micros; ntz → cast), so batch results are the
    streaming oracle and watermarks (which require the zoned type) work. At scale this is the 'incremental cache-append'
    behavior of the reference (pipeline_helpers.py:333-375) — new files in
    the lake path become new micro-batches.
    """
    path = os.path.join(sf_dir, "events.parquet")
    from .io import require_utc_session

    require_utc_session(spark)  # the ntz→timestamp cast below needs UTC
    # Runtime-set so the read works in any session (see io.load_table).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(path).schema
    # The driver stores the table as a single FILE; the file-stream source
    # requires a DIRECTORY (its basePath). Stage a link/copy into a scratch
    # dir once per (process, sf_dir) — a test-harness shim only; a real lake
    # path is already a directory of files, streamed as-is.
    import hashlib
    import shutil
    import tempfile

    st = os.stat(path)
    # Hash the path and the stat SEPARATELY: the path tag identifies all
    # stagings of this source file across regenerations, so stale siblings
    # (older mtime/size of the same path) can be removed instead of
    # orphaning a full parquet copy in /tmp per regeneration.
    path_tag = hashlib.md5(os.path.abspath(path).encode()).hexdigest()[:8]
    stat_tag = hashlib.md5(
        f"{st.st_mtime_ns}|{st.st_size}".encode()).hexdigest()[:8]
    tmp = tempfile.gettempdir()
    stage = os.path.join(tmp, f"etl_spark_stream_{path_tag}_{stat_tag}")
    staged = os.path.join(stage, "events.parquet")
    if not os.path.exists(staged):
        import glob

        # Only reap stale siblings while NO streaming query is active in
        # this session — a running query may still read an old staging dir
        # (its next micro-batch or checkpoint restart would hit
        # FileNotFound). Orphaning until the next quiet call is the safe
        # fallback.
        if not spark.streams.active:
            for old in glob.glob(
                    os.path.join(tmp, f"etl_spark_stream_{path_tag}_*")):
                if old != stage:
                    shutil.rmtree(old, ignore_errors=True)
        os.makedirs(stage, exist_ok=True)
        try:
            os.link(path, staged)
        except OSError:
            shutil.copyfile(path, staged)
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.parquet(stage)
    # shared normalization with io.load_table — batch is the streaming
    # oracle, so the two must use literally the same code. (The nanosAsLong
    # conf set above is deliberately NOT restored here, unlike the batch
    # loader: a streaming source resolves the physical type per micro-batch
    # for the life of the query, so an early restore would break it.)
    from .io import normalize_event_ts

    return normalize_event_ts(df)


def windowed_agg(df: DataFrame, ts_col: str, window_len: str,
                 slide: str | None = None, keys: list[str] | None = None,
                 watermark: str | None = None) -> DataFrame:
    """Tumbling (or sliding) event-time window aggregation: count + sum(value).

    On a streaming df pass ``watermark`` (e.g. '10 minutes') to bound late
    data state; on batch it is ignored semantically but kept for parity.

    Late-data semantics (engine-verified, pinned in test_streaming.py): the
    watermark's hard guarantee is one-directional — data within the horizon
    is never dropped and state for windows past it is evicted. A straggler
    arriving in the same micro-batch that evicts its window still MERGES
    before the append-mode emission; only once the window has been evicted
    at a prior batch boundary are stragglers dropped (counted in
    ``numRowsDroppedByWatermark``), and an emitted window is never
    resurrected as a duplicate append row.
    """
    if watermark and df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    win = F.window(F.col(ts_col), window_len, slide) if slide else F.window(F.col(ts_col), window_len)
    group = [win] + [F.col(k) for k in (keys or [])]
    return df.groupBy(*group).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


def sessionize_batch(df: DataFrame, entity_col: str, ts_col: str,
                     gap_minutes: int = 30) -> DataFrame:
    """Gap-based sessionization on bounded data: a new session starts when
    the gap to the previous event exceeds ``gap_minutes``. One shuffle on
    the entity key; session ids are cumulative sums of boundary flags.

    Returns per-session rows: entity, session_id, session_start, session_end,
    n_events, sum_value.
    """
    w = Window.partitionBy(entity_col).orderBy(ts_col)
    gap_s = gap_minutes * 60
    prev_ts = F.lag(F.col(ts_col)).over(w)
    new_sess = (
        prev_ts.isNull()
        | ((F.col(ts_col).cast("long") - prev_ts.cast("long")) > gap_s)
    ).cast("long")
    with_id = df.withColumn(
        "session_id",
        F.sum(new_sess).over(w.rowsBetween(Window.unboundedPreceding, 0)))
    return (
        with_id.groupBy(entity_col, "session_id")
        .agg(
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )


def streaming_macd(df: DataFrame, entity_col: str, ts_col: str,
                   close_col: str) -> DataFrame:
    """Custom stateful operator (§2.9/§2.10): incremental MACD(12,26,9) per
    entity across micro-batches via ``applyInPandasWithState``.

    EMA recurrences carry infinite-memory per-entity state, which no
    built-in streaming aggregate expresses — THE case for the custom-state
    escape hatch. State = (ema12, ema26, signal) three doubles per entity;
    each micro-batch folds its (event-time-sorted) rows through the same
    constants and op order as the batch kernel (ta.py), so the batch
    ``ta_features`` output is the streaming oracle. Late rows arriving in a
    later batch than their timestamp would fold late (state is a running
    fold, not a reorder buffer) — same caveat as any incremental indicator
    feed; the bounded-source tests feed time-ordered batches.

    Works on a batch DataFrame too (one "batch", empty initial state), so
    batch results double as the single-batch streaming check.
    """
    import pandas as pd

    a12, a26, a9 = 2.0 / 13.0, 2.0 / 27.0, 2.0 / 10.0
    ent_type = dict(df.dtypes)[entity_col]
    out_schema = (f"`{entity_col}` {ent_type}, `{ts_col}` timestamp, "
                  f"`{close_col}` double, macd double, macd_signal double")
    state_schema = "ema12 double, ema26 double, sig double"

    def fold(key, pdfs, state):
        rows = pd.concat(list(pdfs)).sort_values(ts_col)
        c_ser = rows[close_col].astype(float)
        if state.exists:
            # seeded fold: carry the prior (ema12, ema26, sig) through the
            # same per-row recurrence — micro-batches are small, and the
            # op order must stay identical to the empty-state path below.
            e12, e26, sig = state.get
            macds, sigs = [], []
            for c in c_ser:
                e12 = (1 - a12) * e12 + a12 * c
                e26 = (1 - a26) * e26 + a26 * c
                sig = (1 - a9) * sig + a9 * (e12 - e26)
                macds.append(e12 - e26)
                sigs.append(sig)
            macd = pd.Series(macds, index=rows.index)
            signal = pd.Series(sigs, index=rows.index)
            e12_last, e26_last, sig_last = e12, e26, sig
        else:
            # empty state = the whole history is in this batch: the loop IS
            # pandas ewm(adjust=False) — y_t = (1-a)·y_{t-1} + a·x_t, seeded
            # y_0 = x_0 (and signal seeded 0 because macd_0 = 0) — which is
            # bit-equal to the per-row fold AND to the recursive-CTE oracle
            # (see ta.py constant notes). Vectorized: ~100× the loop.
            ema12 = c_ser.ewm(span=12, adjust=False).mean()
            ema26 = c_ser.ewm(span=26, adjust=False).mean()
            macd = ema12 - ema26
            signal = macd.ewm(span=9, adjust=False).mean()
            if len(c_ser):
                e12_last = float(ema12.iloc[-1])
                e26_last = float(ema26.iloc[-1])
                sig_last = float(signal.iloc[-1])
            else:
                e12_last = e26_last = sig_last = None
        if e12_last is not None:
            state.update((float(e12_last), float(e26_last), float(sig_last)))
        out = rows[[entity_col, ts_col, close_col]].copy()
        out[close_col] = out[close_col].astype(float)
        out["macd"] = macd
        out["macd_signal"] = signal
        yield out

    if df.isStreaming:
        from pyspark.sql.streaming.state import GroupStateTimeout

        return (df.select(entity_col, ts_col, close_col)
                .groupBy(entity_col)
                .applyInPandasWithState(fold, out_schema, state_schema,
                                        "append",
                                        GroupStateTimeout.NoTimeout))

    # Batch twin: identical recurrence over the bounded input. NOT
    # groupBy().applyInPandas — per-group Arrow framing costs ~4 ms/group,
    # which at high group counts dwarfs the math (measured 6.9 s → ~1.5 s at
    # 100k rows × 1500 entities). Instead: hash-repartition by entity, one
    # mapInPandas per partition, pandas groupby().ewm (Cython per-group
    # iteration) — the same ewm(adjust=False) fold the empty-state stream
    # path runs, so batch output remains the streaming oracle.
    def run_partition(batches):
        chunks = list(batches)
        if not chunks:
            return
        pdf = pd.concat(chunks).sort_values([entity_col, ts_col])
        c = pdf[close_col].astype(float)
        pdf[close_col] = c
        g12 = c.groupby(pdf[entity_col], sort=False)
        ema12 = g12.ewm(span=12, adjust=False).mean().reset_index(
            level=0, drop=True)
        ema26 = c.groupby(pdf[entity_col], sort=False).ewm(
            span=26, adjust=False).mean().reset_index(level=0, drop=True)
        macd = ema12 - ema26
        signal = macd.groupby(pdf[entity_col], sort=False).ewm(
            span=9, adjust=False).mean().reset_index(level=0, drop=True)
        pdf["macd"] = macd
        pdf["macd_signal"] = signal
        yield pdf[[entity_col, ts_col, close_col, "macd", "macd_signal"]]

    from .session import shuffle_partitions
    n_parts = shuffle_partitions(df.sparkSession)
    return (df.select(entity_col, ts_col, close_col)
            .repartition(n_parts, entity_col)
            .mapInPandas(run_partition, out_schema))


def run_stream_to_memory(stream_df: DataFrame, query_name: str,
                         output_mode: str = "append"):
    """Drive a (bounded-source) streaming DataFrame to completion into an
    in-memory table; returns the StreamingQuery (stopped). Test harness for
    the streaming path."""
    q = (stream_df.writeStream.outputMode(output_mode)
         .format("memory").queryName(query_name).start())
    q.processAllAvailable()
    q.stop()
    return q
