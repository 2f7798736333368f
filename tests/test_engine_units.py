"""Engine-module unit tests: semantics that the oracle queries can't cover —
canonical-agg backfill, circuit breaker, TA kernel vs native twin,
idempotent snapshot sink, multimodal plumbing."""

from __future__ import annotations

import math
import os
import tempfile

import pandas as pd
import pytest
from pyspark.sql import functions as F

from data_engineering_etl_pipeline_spark.aggregates import canonical_aggregate
from data_engineering_etl_pipeline_spark.io import write_daily_snapshot
from data_engineering_etl_pipeline_spark.quality_gate import (
    CircuitBreakerTripped, apply_gate)
from data_engineering_etl_pipeline_spark.ta import ta_features
from data_engineering_etl_pipeline_spark.extensions.multimodal import (
    extract_features, make_fake_media)


def test_canonical_aggregate_native_pick_and_backfill(spark):
    """Reference semantics (historical_data_etl.py:59-87): native row wins
    over higher-mcap member; null criticals backfill from any member."""
    rows = [
        # native present but with null open → open backfills from member
        ("btc", "btc", "2024-01-01", None, 100.0, 10.0),
        ("btc", "wbtc", "2024-01-01", 99.5, 90.0, 5.0),
        # no native → max-mcap member chosen
        ("eth", "weth", "2024-01-02", 10.0, 50.0, 1.0),
        ("eth", "steth", "2024-01-02", 11.0, 60.0, 2.0),
    ]
    df = spark.createDataFrame(
        rows, "canonical_id string, coin_id string, date string, "
              "open double, market_cap double, volume double")
    out = canonical_aggregate(
        df, "canonical_id", "coin_id", "date",
        value_cols=["open", "market_cap"], sum_cols=["volume"],
        priority_col="market_cap").collect()
    by_id = {r["canonical_id"]: r for r in out}
    assert by_id["btc"]["market_cap"] == 100.0          # native row wins
    assert by_id["btc"]["open"] == 99.5                  # backfilled from member
    assert by_id["btc"]["volume"] == 15.0                # summed across members
    assert by_id["eth"]["open"] == 11.0                  # max-mcap member
    assert by_id["eth"]["volume"] == 3.0


def test_circuit_breaker_trips(spark):
    df = spark.createDataFrame(
        [(3.0, 2.0, 5.0)] * 90 + [(9.0, 2.0, 5.0)] * 10,  # 10% violations
        "close double, low double, high double")
    with pytest.raises(CircuitBreakerTripped):
        apply_gate(df, required=["close", "low", "high"], price_cols=["close"],
                   max_loss_pct=5.0)
    cleaned = apply_gate(df, required=["close"], price_cols=["close"],
                         max_loss_pct=15.0)
    assert cleaned.count() == 90
    # exactly at the threshold does not trip: the breaker fires on loss
    # strictly above max_loss_pct
    at_five = spark.createDataFrame(
        [(3.0, 2.0, 5.0)] * 95 + [(9.0, 2.0, 5.0)] * 5,  # 5% violations
        "close double, low double, high double")
    assert apply_gate(at_five, required=["close"], price_cols=["close"],
                      max_loss_pct=5.0).count() == 95
    # an empty frame has no loss and does not trip
    empty = spark.createDataFrame([], "close double, low double, high double")
    assert apply_gate(empty, required=["close"], price_cols=["close"],
                      max_loss_pct=5.0).count() == 0


def test_gate_missing_columns(spark):
    df = spark.createDataFrame([(1.0,)], "close double")
    with pytest.raises(ValueError, match="Missing required"):
        apply_gate(df, required=["close", "low", "high"], price_cols=["close"])


def test_ta_kernel_matches_native_bollinger(spark):
    """The mapInPandas kernel's SMA-based Bollinger must equal the native
    window-expression twin (cross-check of the kernel's ordering/grouping)."""
    import numpy as np

    rng = np.random.default_rng(7)
    rows = [(int(k), int(i), float(p)) for k in range(3)
            for i, p in enumerate(rng.uniform(50, 150, size=60))]
    df = spark.createDataFrame(rows, "k long, i long, close double")
    kernel = ta_features(df, "k", ["i"], "close").select("k", "i", "bb_mid").toPandas()

    from data_engineering_etl_pipeline_spark.windows import rolling_mean, w_entity
    w = w_entity("k", "i")
    native = df.select("k", "i", rolling_mean("close", 20, w).alias("bb_mid")).toPandas()
    m = kernel.merge(native, on=["k", "i"], suffixes=("_kernel", "_native"))
    both = m.dropna()
    assert len(both) == 3 * (60 - 19)
    assert (both.bb_mid_kernel - both.bb_mid_native).abs().max() < 1e-9


def test_ta_vectorized_equals_per_asset_twin(spark):
    """The partition-vectorized kernel (mapInPandas + pandas groupby
    recurrences) must be bit-identical to the per-asset reference fold
    ``_ta_one_asset`` on every indicator, including NaN placement — OHLC
    with distinct high/low so ATR's true-range path is exercised."""
    import numpy as np
    import pandas as pd

    from data_engineering_etl_pipeline_spark.ta import _ta_one_asset

    rng = np.random.default_rng(11)
    rows = []
    for k in range(5):
        close = rng.uniform(50, 150, size=45)
        for i, c in enumerate(close):
            rows.append((int(k), int(i), float(c),
                         float(c + rng.uniform(0, 5)),
                         float(c - rng.uniform(0, 5))))
    df = spark.createDataFrame(rows, "k long, i long, close double, high double, low double")
    got = (ta_features(df, "k", ["i"], "close", "high", "low")
           .toPandas().sort_values(["k", "i"]).reset_index(drop=True))
    pdf = pd.DataFrame(rows, columns=["k", "i", "close", "high", "low"])
    # explicit per-group loop instead of GroupBy.apply: pandas is flipping
    # apply's include_groups default, which would silently drop the group
    # column from the twin
    want = (pd.concat([_ta_one_asset(g, ["i"], "close", "high", "low")
                       for _, g in pdf.groupby("k")])
            .sort_values(["k", "i"]).reset_index(drop=True))
    for c in got.columns:
        g, w = got[c], want[c]
        assert ((g == w) | (g.isna() & w.isna())).all(), f"{c} diverged"


@pytest.mark.parametrize("shuffle_partitions", ["1", "8"])
def test_ta_kernel_chunked_batches_bit_equal(spark, shuffle_partitions):
    """The kernel's streaming entity chunker (bounded task memory) must be
    bit-identical across Arrow batch sizes: force tiny batches so entities
    straddle batch boundaries and the carry-buffer path is exercised.
    The shuffle-partition count must not move a bit either: at 1 every
    entity shares one partition, which is what AQE coalescing produces."""
    import pandas as pd

    rows = [(int(k), int(i), 100.0 + ((k * 31 + i * 7) % 23))
            for k in range(6) for i in range(40)]
    df = spark.createDataFrame(rows, "k long, i long, close double")
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    parts_key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key, None)
    old_parts = spark.conf.get(parts_key)
    spark.conf.set(key, "7")  # 40-row entities span ~6 batches each
    spark.conf.set(parts_key, shuffle_partitions)
    try:
        tiny = (ta_features(df, "k", ["i"], "close")
                .toPandas().sort_values(["k", "i"]).reset_index(drop=True))
    finally:
        spark.conf.set(key, old) if old else spark.conf.unset(key)
        spark.conf.set(parts_key, old_parts)
    whole = (ta_features(df, "k", ["i"], "close")
             .toPandas().sort_values(["k", "i"]).reset_index(drop=True))
    pd.testing.assert_frame_equal(tiny, whole)


def test_ta_rsi_constant_series(spark):
    """RSI of a strictly increasing series → 100; constant series → NaN/None
    (zero avg loss)."""
    rows = [(1, i, 100.0 + i) for i in range(30)]
    df = spark.createDataFrame(rows, "k long, i long, close double")
    out = ta_features(df, "k", ["i"], "close").filter(F.col("i") == 29).collect()[0]
    assert out["rsi_14"] == pytest.approx(100.0)


def test_idempotent_snapshot_sink(spark):
    df = spark.createDataFrame([("2024-01-01", 1.0), ("2024-01-02", 2.0)],
                               "snapshot_date string, v double")
    with tempfile.TemporaryDirectory() as root:
        sink = os.path.join(root, "snaps")
        assert write_daily_snapshot(df, sink) is True
        # second write with same dates is skipped
        assert write_daily_snapshot(df, sink) is False
        back = spark.read.parquet(sink)
        assert back.count() == 2
        # new date appends, old partitions untouched
        df2 = spark.createDataFrame([("2024-01-03", 3.0)],
                                    "snapshot_date string, v double")
        assert write_daily_snapshot(df2, sink) is True
        assert spark.read.parquet(sink).count() == 3


def test_multimodal_real_ppm_decode(spark):
    """The PPM decode is REAL: parse the distributed output and recompute
    every width/height/mean from the byte recipe in plain Python."""
    media = make_fake_media(spark, n=12)
    feats = extract_features(media).toPandas().set_index("media_id")
    assert len(feats) == 12
    for i in range(12):
        row = feats.loc[i]
        if i % 3 == 0:      # image
            w, h = 8 + (i % 5) * 4, 6 + (i % 7) * 2
            n = w * h * 3
            want_mean = sum((i * 7 + k * 13) % 256 for k in range(n)) / n
            assert (row["width"], row["height"]) == (w, h)
            assert row["mean_val"] == pytest.approx(want_mean, abs=1e-12)
            assert row["decode_ok"]
        elif i % 3 == 1:    # audio
            n = 256 + (i % 5) * 64
            want_mean = sum((i * 11 + k * 5) % 256 for k in range(n)) / n
            assert row["n_samples"] == n
            assert row["mean_val"] == pytest.approx(want_mean, abs=1e-12)
            assert row["decode_ok"]
        else:               # video: real Y4M parse
            w, h = 8 + (i % 5) * 4, 6 + (i % 4) * 2
            n = 30 * 3 * w * h
            want_mean = sum((i * 3 + k * 13) % 256 for k in range(n)) / n
            assert (row["width"], row["height"]) == (w, h)
            assert row["n_samples"] == n
            assert row["mean_val"] == pytest.approx(want_mean, abs=1e-12)
            assert row["decode_ok"]


def test_multimodal_sampled_frame_means_match_recipe(spark):
    """sample_frames really decodes the Y4M container: every sampled
    frame's mean equals the closed-form payload recipe."""
    from data_engineering_etl_pipeline_spark.extensions.multimodal import (
        sample_frames)

    media = make_fake_media(spark, n=12)
    got = sample_frames(media, every_n=10).toPandas()
    assert set(got["frame_idx"]) == {0, 10, 20}
    for _, r in got.iterrows():
        i = int(r["media_id"])
        w, h = 8 + (i % 5) * 4, 6 + (i % 4) * 2
        fs = 3 * w * h
        f = int(r["frame_idx"])
        want = sum((i * 3 + k * 13) % 256
                   for k in range(f * fs, (f + 1) * fs)) / fs
        assert r["frame_mean"] == pytest.approx(want, abs=1e-12)


def test_multimodal_compressed_decode_stub_raises():
    """JPEG/MP4 magic bytes hit the honest NotImplementedError seams
    where PIL/opencv/ffmpeg would plug in (PNG is not a seam — it decodes
    for real); malformed payloads fail loudly too."""
    from data_engineering_etl_pipeline_spark.extensions.multimodal import (
        decode_image, decode_video)

    with pytest.raises(NotImplementedError, match="PPM"):
        decode_image(b"\xff\xd8\xff\xe0fakejpeg")
    with pytest.raises(ValueError, match="PPM payload"):
        decode_image(b"P6\n4 4\n255\n" + b"\x00" * 7)
    with pytest.raises(NotImplementedError, match="ffmpeg"):
        decode_video(b"\x00\x00\x00\x18ftypmp42fakemp4")
    with pytest.raises(NotImplementedError, match="C444"):
        decode_video(b"YUV4MPEG2 W4 H4 C420jpeg\nFRAME\n" + b"\x00" * 24)
    with pytest.raises(ValueError, match="frame payload"):
        decode_video(b"YUV4MPEG2 W4 H4 C444\nFRAME\n" + b"\x00" * 7)


def _rfc2083_unfilter(rows, ch):
    """Independent scalar PNG unfilter transcribed LITERALLY from RFC 2083
    §6.3-6.6 pseudocode (Recon(x) = Filt(x) + predictor, all mod 256;
    Paeth ties a→b→c). Deliberately shares no code with the numpy
    decoder: if encoder and decoder both misread the spec in a cancelling
    way, this reference disagrees."""
    out = []
    stride = len(rows[0]) - 1
    prior = [0] * stride
    for row in rows:
        ft, filt = row[0], list(row[1:])
        recon = [0] * stride
        for x in range(stride):
            a = recon[x - ch] if x >= ch else 0
            b = prior[x]
            c = prior[x - ch] if x >= ch else 0
            if ft == 0:
                pred = 0
            elif ft == 1:
                pred = a
            elif ft == 2:
                pred = b
            elif ft == 3:
                pred = (a + b) // 2
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            recon[x] = (filt[x] + pred) % 256
        out.append(recon)
        prior = recon
    return out


def test_png_decode_matches_recipe_all_filters():
    """PNG decodes for real. The deterministic encoder
    cycles scanline filter types 0-4 (h ≥ 5 covers all five), the decoder
    must invert every one of them to land on the container-independent
    closed-form mean — the exact value PPM yields over the same recipe —
    and the numpy unfilter must agree byte-for-byte with an RFC-literal
    scalar reference, so encoder+decoder cannot hide a shared spec
    misreading."""
    import zlib

    from data_engineering_etl_pipeline_spark.extensions.multimodal import (
        _PNG_CHANNELS, _png_bytes, _ppm_bytes, decode_image, decode_png)

    for mid, w, h in ((0, 8, 6), (3, 20, 12), (17, 9, 7), (63, 12, 5)):
        pw, ph, pmean = decode_png(_png_bytes(mid, w, h))
        assert (pw, ph) == (w, h)
        # container-independent: PPM over the same recipe, bit-equal mean
        assert decode_image(_ppm_bytes(mid, w, h)) == (w, h, pmean)
        n = w * h * 3
        expect = sum((mid * 7 + k * 13) % 256 for k in range(n)) / n
        assert pmean == expect
        # magic dispatch: decode_image routes PNG blobs to decode_png
        assert decode_image(_png_bytes(mid, w, h)) == (w, h, pmean)

    # byte-level parity vs the independent RFC transcription, per color
    # type (gray=1, RGB=3, RGBA=4 channels)
    for ctype in (0, 2, 6):
        ch = _PNG_CHANNELS[ctype]
        blob = bytes(_png_bytes(11, 7, 6, color_type=ctype))
        # pull the IDAT back out (single chunk by construction)
        at = blob.index(b"IDAT")
        ln = int.from_bytes(blob[at - 4:at], "big")
        raw = zlib.decompress(blob[at + 4:at + 4 + ln])
        stride = 7 * ch
        rows = [raw[r * (stride + 1):(r + 1) * (stride + 1)]
                for r in range(6)]
        ref = _rfc2083_unfilter(rows, ch)
        flat = [b for row in ref for b in row]
        _, _, mean = decode_png(blob)
        assert mean == sum(flat) / len(flat)
        expect = sum((11 * 7 + k * 13) % 256
                     for k in range(7 * 6 * ch)) / (7 * 6 * ch)
        assert mean == expect


def test_png_decode_seams_and_malformed():
    """Unsupported PNG shapes stay honest seams (16-bit, palette, Adam7);
    malformed streams fail loudly with ValueError — the decode_ok=False
    path in extract_features, not a silent wrong mean."""
    from data_engineering_etl_pipeline_spark.extensions.multimodal import (
        _PNG_SIG, _png_bytes, _png_chunk, decode_png)

    def ihdr(depth, ctype, interlace=0):
        return _PNG_SIG + _png_chunk(
            b"IHDR", (4).to_bytes(4, "big") + (4).to_bytes(4, "big")
            + bytes([depth, ctype, 0, 0, interlace]))

    with pytest.raises(NotImplementedError, match="bit depth 16"):
        decode_png(ihdr(16, 2))
    with pytest.raises(NotImplementedError, match="color type 3"):
        decode_png(ihdr(8, 3))
    with pytest.raises(NotImplementedError, match="Adam7"):
        decode_png(ihdr(8, 2, interlace=1))
    with pytest.raises(ValueError, match="not a PNG"):
        decode_png(b"\x89PNX" + b"\x00" * 16)
    good = bytes(_png_bytes(5, 6, 6))
    # truncate INTO the IDAT data (IEND is the last 12 bytes, IDAT's CRC
    # the 4 before it — the walk reads declared lengths, so only a cut
    # into chunk DATA is detectable without CRC checking)
    with pytest.raises(ValueError, match="truncated PNG chunk"):
        decode_png(good[:len(good) - 25])
    # corrupt IDAT payload length -> raw-size mismatch
    at = good.index(b"IDAT")
    ln = int.from_bytes(good[at - 4:at], "big")
    import zlib

    bad_idat = zlib.compress(b"\x00" * 5)
    rebuilt = (good[:at - 4] + _png_chunk(b"IDAT", bad_idat)
               + _png_chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="raw size"):
        decode_png(rebuilt)


def test_gate_null_prices_kept_not_counted(spark):
    """NULL-price rows make the violation predicate NULL: they must be KEPT
    by the filter and NOT counted as violations (pandas parity — NaN
    comparisons are False), instead of silently vanishing from the output
    without registering in the breaker's loss percentage."""
    from data_engineering_etl_pipeline_spark.quality_gate import gate_report
    from data_engineering_etl_pipeline_spark.relational import ohlc_violation

    df = spark.createDataFrame(
        [(3.0, 2.0, 5.0)] * 8 + [(9.0, 2.0, 5.0)] * 2      # 2 real violations
        + [(None, 2.0, 5.0), (3.0, None, 5.0)],             # 2 null-price rows
        "close double, low double, high double")
    cleaned = apply_gate(df, required=["close"], price_cols=["close"],
                         max_loss_pct=50.0)
    assert cleaned.count() == 10  # 8 clean + 2 null-price kept, 2 dropped
    rep = gate_report(df, ohlc_violation(), max_loss_pct=50.0).collect()[0]
    assert rep["total_rows"] == 12 and rep["violation_rows"] == 2


def test_agg_dict_last_first_skip_nulls(spark):
    """pandas GroupBy 'last'/'first' skip NaN: a group whose last row holds
    a null must yield the last NON-NULL value, not null."""
    from data_engineering_etl_pipeline_spark.aggregates import agg_dict

    df = spark.createDataFrame(
        [(1, 1, None, 10.0), (1, 2, 7.0, None), (1, 3, None, None),
         (2, 1, None, None)],
        "k long, ord long, v double, w double")
    out = {r["k"]: r for r in
           agg_dict(df, ["k"], {"v": "last", "w": "first"},
                    order_col="ord").collect()}
    assert out[1]["v"] == 7.0       # last non-null, not the null at ord=3
    assert out[1]["w"] == 10.0      # first non-null at ord=1
    assert out[2]["v"] is None and out[2]["w"] is None  # all-null group


def test_asof_join_semantics(spark):
    """Pin merge_asof/ASOF-JOIN edge semantics: equal timestamps match
    (inclusive <=), no prior right row yields null, carry-forward picks the
    GREATEST prior time per key, and keys never bleed into each other."""
    from data_engineering_etl_pipeline_spark.relational import asof_join

    left = spark.createDataFrame(
        [(1, 5, "a"), (1, 10, "b"), (1, 20, "c"), (2, 10, "d"), (3, 10, "e")],
        "k long, t long, tag string")
    right = spark.createDataFrame(
        [(1, 5, 50.0), (1, 15, 150.0), (2, 11, 999.0)],
        "k long, t long, v double")
    out = {r["tag"]: r["v"] for r in
           asof_join(left, right, key="k", left_time="t", right_time="t",
                     value_cols=["v"], suffix="").collect()}
    assert out["a"] == 50.0     # tie at t=5: inclusive
    assert out["b"] == 50.0     # t=10: prior is t=5, not t=15
    assert out["c"] == 150.0    # greatest prior wins
    assert out["d"] is None     # right row exists but only at t=11 > 10
    assert out["e"] is None     # key with no right rows at all


def test_binned_interval_join_boundaries(spark):
    """Bin-edge hazards: a point just inside the next hour-bin must still
    match (interval explodes to every covered bin), the exclusive start /
    inclusive end predicate must hold exactly, and no match may duplicate
    (each point lives in exactly one bin)."""
    from data_engineering_etl_pipeline_spark.relational import binned_interval_join

    iv = spark.createDataFrame(
        [(1, "2024-01-01 10:30:00", "2024-01-01 11:30:00", "a")],
        "k long, s string, e string, tag string"
    ).select("k", "tag", F.to_timestamp("s").alias("s"),
             F.to_timestamp("e").alias("e"))
    pts = spark.createDataFrame(
        [(1, "2024-01-01 10:30:00", 1.0),   # == start: excluded
         (1, "2024-01-01 10:59:59", 2.0),   # same bin as start
         (1, "2024-01-01 11:00:01", 3.0),   # next bin — needs bin explosion
         (1, "2024-01-01 11:30:00", 4.0),   # == end: included
         (1, "2024-01-01 11:30:01", 5.0),   # past end: excluded
         (2, "2024-01-01 11:00:00", 6.0)],  # other key
        "k long, t string, v double"
    ).select("k", F.to_timestamp("t").alias("t"), "v")
    out = binned_interval_join(iv, pts, key="k", start="s", end="e",
                               point_time="t", point_cols=["v"],
                               bin_seconds=3600)
    vals = sorted(r["v_pt"] for r in out.collect())
    assert vals == [2.0, 3.0, 4.0]


def test_asof_join_null_values_and_atomicity(spark):
    """Row-level as-of semantics: when the most-recent prior
    right row carries a NULL value, the output is NULL — not an older
    non-null value — and with multiple value_cols every output column comes
    from the SAME matched right row (struct-packed carry)."""
    from data_engineering_etl_pipeline_spark.relational import asof_join

    left = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (1, 30, "c")],
        "k long, t long, tag string")
    right = spark.createDataFrame(
        [(1, 5, 50.0, "x"), (1, 15, None, "y"), (1, 25, 250.0, None)],
        "k long, t long, v double, s string")
    out = {r["tag"]: (r["v"], r["s"]) for r in
           asof_join(left, right, key="k", left_time="t", right_time="t",
                     value_cols=["v", "s"], suffix="").collect()}
    assert out["a"] == (50.0, "x")
    assert out["b"] == (None, "y")    # matched row's NULL survives
    assert out["c"] == (250.0, None)  # both cols from the t=25 row, atomically


def test_asof_join_duplicate_right_modes(spark):
    """duplicates= guard: 'error' raises on non-unique (key, time) right
    rows; 'resolve_max'/'resolve_min' pick a deterministic row."""
    from data_engineering_etl_pipeline_spark.relational import asof_join

    left = spark.createDataFrame([(1, 10)], "k long, t long")
    right = spark.createDataFrame(
        [(1, 5, 1.0), (1, 5, 2.0)], "k long, t long, v double")
    with pytest.raises(ValueError, match="duplicate"):
        asof_join(left, right, key="k", left_time="t", right_time="t",
                  value_cols=["v"], duplicates="error")
    hi = asof_join(left, right, key="k", left_time="t", right_time="t",
                   value_cols=["v"], duplicates="resolve_max").collect()
    lo = asof_join(left, right, key="k", left_time="t", right_time="t",
                   value_cols=["v"], duplicates="resolve_min").collect()
    assert hi[0]["v_asof"] == 2.0 and lo[0]["v_asof"] == 1.0
    with pytest.raises(ValueError, match="allow|resolve"):
        asof_join(left, right, key="k", left_time="t", right_time="t",
                  value_cols=["v"], duplicates="bogus")


def test_load_table_restores_nanos_conf(spark, tmp_path):
    """load_table('events') must not leave nanosAsLong=true behind: a later
    unrelated nanos-parquet read in the same session would silently get
    bigint. Self-contained: writes a TIMESTAMP(NANOS) events
    parquet with pyarrow, so the nanos fallback stays verified even though
    current driver testdata stores micros (ts arrives timestamp_ntz and the
    fallback is a no-op there — also asserted)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_engineering_etl_pipeline_spark.io import load_table

    ns = pa.table({
        "event_id": pa.array([1, 2], pa.int64()),
        # 1.5 s and 2.000000001 s after epoch, nanosecond precision
        "ts": pa.array([1_500_000_000, 2_000_000_001], pa.timestamp("ns")),
        "value": pa.array([1.0, 2.0], pa.float64()),
    })
    pq.write_table(ns, str(tmp_path / "events.parquet"),
                   store_schema=False, coerce_timestamps=None)

    key = "spark.sql.legacy.parquet.nanosAsLong"
    spark.conf.set(key, "false")
    ev = load_table(spark, str(tmp_path), "events")
    assert spark.conf.get(key) == "false"       # restored
    assert dict(ev.dtypes)["ts"] == "timestamp"
    rows = {r["event_id"]: r["ts"] for r in ev.collect()}
    # nanos truncated to micros (same as DuckDB's reader)
    assert rows[1].microsecond == 500000 and rows[2].microsecond == 0
    # a direct nanos read in the restored session behaves exactly as in a
    # fresh conf=false session: Spark 4 rejects TIMESTAMP(NANOS) outright —
    # the strongest proof the read-time conf did not leak
    from pyspark.errors.exceptions.captured import AnalysisException
    with pytest.raises(AnalysisException, match="PARQUET_TYPE_ILLEGAL"):
        spark.read.parquet(str(tmp_path / "events.parquet")).schema
    spark.conf.unset(key)
    # current driver testdata stores micros: loader passes it through intact
    real = load_table(spark, os.environ.get("SPARK_GRAFT_TEST_SF_DIR",
                                            "/root/testdata/sf0.001"), "events")
    assert dict(real.dtypes)["ts"].startswith("timestamp")
    assert real.count() > 0


def test_exact_dedup_collision_path(spark):
    """Two DISTINCT same-length texts forced onto ONE fingerprint (weak
    injected hash = length only) must come out as two separate duplicate
    groups — proving the text in the group key actually splits colliding
    fingerprint groups instead of trusting the hash."""
    from pyspark.sql import functions as F

    from data_engineering_etl_pipeline_spark.extensions.dedup import (
        exact_dedup_groups, exact_dedup_keep_first)

    docs = spark.createDataFrame(
        [(1, "aaaa"), (2, "aaaa"),      # dup group A (len 4)
         (3, "bbbb"), (4, "bbbb"), (5, "bbbb"),  # dup group B (len 4!)
         (6, "unique doc"),             # singleton
         (7, "solo"), (8, "also"),      # len-4 singletons colliding w/ A+B
         (9, None), (10, None)],        # NULL texts: ONE group (SQL GROUP BY)
        "doc_id long, text string")
    weak = [F.length("text").alias("__fp")]
    got = sorted((r["keep_id"], r["n_copies"]) for r in
                 exact_dedup_groups(docs, "doc_id", "text",
                                    fingerprint=weak).collect())
    assert got == [(1, 2), (3, 3), (9, 2)], got
    # default (strong) fingerprint agrees
    got2 = sorted((r["keep_id"], r["n_copies"]) for r in
                  exact_dedup_groups(docs, "doc_id", "text").collect())
    assert got2 == [(1, 2), (3, 3), (9, 2)], got2
    # keep-first form: keeper rows of both groups + all singletons survive
    kept = sorted(r["doc_id"] for r in
                  exact_dedup_keep_first(docs, "doc_id", "text",
                                         fingerprint=weak).collect())
    assert kept == [1, 3, 6, 7, 8, 9], kept
    kept2 = sorted(r["doc_id"] for r in
                   exact_dedup_keep_first(docs, "doc_id", "text").collect())
    assert kept2 == [1, 3, 6, 7, 8, 9], kept2


def test_dedup_clusters_nonconvergence_raises(spark):
    """A component deeper than max_iter must fail loudly (partial labels
    would silently be wrong clusters)."""
    from data_engineering_etl_pipeline_spark.extensions.dedup import dedup_clusters

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 8)], "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="converge"):
        dedup_clusters(chain, max_iter=1)


def test_rolling_fingerprint_udf_matches_fold_and_expression(spark):
    """The vectorized fingerprint (numpy Horner closed form over UTF-32
    codepoints) must equal both the pure-Python per-char fold and the
    column-expression form, including unicode beyond the BMP, empty
    strings, and nulls."""
    from data_engineering_etl_pipeline_spark.extensions.text_stats import (
        rolling_fingerprint, rolling_fingerprint_udf)

    rows = [(0, ""), (1, "a"), (2, "hello world"),
            (3, "Ünïcødé ♜ 中文 𐍈"), (4, None), (5, "x" * 5000)]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {r.id: r.fp for r in
           df.select("id", rolling_fingerprint_udf("text").alias("fp"))
           .collect()}
    expr = {r.id: r.fp for r in
            df.select("id", rolling_fingerprint("text").alias("fp"))
            .collect()}

    def fold(t):
        if t is None:
            return None  # NULL → NULL in all three forms (mapping NULL
            # to 0 would collide with empty docs)
        h = 0
        for ch in t:
            h = (h * 31 + ord(ch)) % 1_000_000_007
        return h

    for i, t in rows:
        assert got[i] == fold(t), (i, t)
        assert expr[i] == fold(t), (i, t)


def test_event_loader_requires_utc_session(spark):
    """The ntz→timestamp cast in the event loaders is epoch-preserving only
    under a UTC session timezone; a non-UTC session must fail loudly, not
    silently shift instants relative to the oracle."""
    from data_engineering_etl_pipeline_spark.io import load_table
    from .conftest import SF_DIR

    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        with pytest.raises(ValueError, match="timeZone=UTC"):
            load_table(spark, SF_DIR, "events")
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    assert load_table(spark, SF_DIR, "events").count() > 0


def test_incremental_exact_dedup_across_batches(spark):
    """Operational dedup: batch 2 must drop texts already fingerprinted by
    batch 1 (via the persisted index alone, never the historical rows),
    dedup within itself, pass genuinely fresh docs, and extend the index
    so a batch-3 replay of ANY seen text is dropped."""
    from pyspark.sql import functions as F

    from data_engineering_etl_pipeline_spark.extensions.dedup import (
        doc_fingerprints, incremental_exact_dedup)

    b1 = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, None)], "doc_id long, text string")
    index = doc_fingerprints(b1)
    assert index.count() == 3

    b2 = spark.createDataFrame(
        [(10, "alpha"),          # seen in batch 1 -> dropped via index
         (11, "gamma"), (12, "gamma"),  # in-batch dup -> keep min id only
         (13, None),             # NULL text seen in batch 1 -> dropped
         (14, "delta")],         # fresh
        "doc_id long, text string")
    fresh, index2 = incremental_exact_dedup(b2, index)
    assert sorted(r["doc_id"] for r in fresh.collect()) == [11, 14]
    assert index2.count() == 5   # alpha, beta, NULL, gamma, delta

    b3 = spark.createDataFrame(
        [(20, "gamma"), (21, "delta"), (22, "epsilon")],
        "doc_id long, text string")
    fresh3, index3 = incremental_exact_dedup(b3, index2)
    assert sorted(r["doc_id"] for r in fresh3.collect()) == [22]
    assert index3.count() == 6
    # the index never stores text
    assert set(index3.columns) == {"__fp", "__fplen", "keep_id"}


def test_incremental_exact_dedup_legacy_index_refused(spark):
    """The NULL-__fplen migration guard: an index
    persisted BEFORE the fingerprint became total must be refused loudly
    (plain-equality keys would silently re-admit indexed NULL-text
    duplicates every batch). A doc_fingerprints-built frame carries
    fp_total metadata and skips the probe (fast path) — but the
    metadata dies with derived frames, so a legacy index can never
    smuggle itself past the guard by construction."""
    from pyspark.sql import functions as F

    from data_engineering_etl_pipeline_spark.extensions.dedup import (
        doc_fingerprints, incremental_exact_dedup)

    legacy = spark.createDataFrame(
        [(123456789, 5, 1), (987654321, None, 3)],
        "__fp long, __fplen long, keep_id long")
    batch = spark.createDataFrame([(10, "alpha")], "doc_id long, text string")
    with pytest.raises(ValueError, match="NULL __fplen"):
        incremental_exact_dedup(batch, legacy)

    # the builder's manifest marks the fingerprint total...
    built = doc_fingerprints(spark.createDataFrame(
        [(1, "alpha"), (2, None)], "doc_id long, text string"))
    assert built._index_manifest == {"fp_total": True}
    fresh, _ = incremental_exact_dedup(batch, built)
    assert fresh.count() == 0  # alpha already indexed
    # ...and a derived frame drops it, falling back to the probe (which
    # passes here: the built index genuinely has no NULL __fplen)
    derived = built.select("__fp", "__fplen", "keep_id")
    assert getattr(derived, "_index_manifest", None) is None
    fresh2, _ = incremental_exact_dedup(batch, derived)
    assert fresh2.count() == 0


def test_write_training_shards_manifest_and_layout(spark, tmp_path):
    """The shard sink writes one directory per shard (NULL shards, the
    unpacked rows, in Spark's NULL directory), and the manifest's per-shard
    row/file/token counts equal the written data exactly. The input is
    spread over four partitions, so every shard lands in several files and
    ``n_files``, which comes from the committed-file listing, is checked
    against more than the trivial one."""
    import os

    from data_engineering_etl_pipeline_spark.io import (read_shard_manifest,
                                                        write_training_shards)

    rows = [(i, i % 3 if i % 5 else None, 10 + i % 7) for i in range(90)]
    df = spark.createDataFrame(
        rows, "doc_id long, shard int, n_tokens long").repartition(4)
    out = str(tmp_path / "shards")
    manifest = write_training_shards(df, out).collect()
    got = {r["shard"]: (r["n_rows"], r["n_tokens"]) for r in manifest}
    want = {}
    for _, s, t in rows:
        n, tk = want.get(s, (0, 0))
        want[s] = (n + 1, tk + t)
    assert got == want
    n_files_got = {r["shard"]: r["n_files"] for r in manifest}
    for s in (0, 1, 2, None):
        d = os.path.join(out, "shard=" + (
            "__HIVE_DEFAULT_PARTITION__" if s is None else str(s)))
        files = [f for f in os.listdir(d) if f.endswith(".parquet")]
        assert len(files) > 1, (s, files)
        assert n_files_got[s] == len(files), (s, files)
        assert spark.read.parquet(d).count() == want[s][0]
    # manifest readable through the pointer-resolving reader
    assert read_shard_manifest(spark, out).count() == 4


def test_write_training_shards_job_count(spark, tmp_path):
    """One shard write costs the write, the aggregate's one shuffle and
    the manifest write: three Spark jobs, none outside a SQL execution.
    A job outside every SQL execution is a parquet schema inference (the
    read-back of the shards or of the manifest); the sink knows both
    schemas, so it pays none. Counted through the status tracker."""
    from data_engineering_etl_pipeline_spark.io import write_training_shards

    df = spark.createDataFrame([(i, i % 3, 10 + i % 7) for i in range(30)],
                               "doc_id long, shard int, n_tokens long")
    sc = spark.sparkContext
    group = "shard-sink-job-count"
    sc.setJobGroup(group, "shard sink jobs")
    try:
        write_training_shards(df, str(tmp_path / "shards"))
    finally:
        sc.setJobGroup(None, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = set(sc.statusTracker().getJobIdsForGroup(group))
    executions = spark._jsparkSession.sharedState().statusStore() \
        .executionsList()
    in_sql = set()
    for i in range(executions.size()):
        it = executions.apply(i).jobs().keysIterator()
        while it.hasNext():
            in_sql.add(int(it.next()))
    assert not jobs - in_sql, f"schema-inference jobs: {sorted(jobs - in_sql)}"
    assert len(jobs) <= 3, sorted(jobs)


def test_write_training_shards_from_pin_one_file_per_shard(spark, tmp_path):
    """A pinned frame written as shards lands in one file per shard
    directory: AQE may coalesce a cached plan's shuffle like any other
    (``session.get_spark``), so a small pin does not keep one partition,
    and hence one file per shard, per ``spark.sql.shuffle.partitions``."""
    from data_engineering_etl_pipeline_spark.caching import (
        engine_pin_scope, pin)
    from data_engineering_etl_pipeline_spark.io import write_training_shards

    df = spark.createDataFrame(
        [(i, i % 3, 10 + i % 7) for i in range(90)],
        "doc_id long, shard int, n_tokens long").repartition("doc_id")
    out = str(tmp_path / "shards")
    with engine_pin_scope():
        write_training_shards(pin(df), out)
    for s in (0, 1, 2):
        files = [f for f in os.listdir(os.path.join(out, f"shard={s}"))
                 if f.endswith(".parquet")]
        assert len(files) == 1, (s, files)


def test_shard_manifest_concurrent_reader_never_sees_gap(spark, tmp_path):
    """During publishes a concurrent reader must always
    resolve SOME complete manifest — never a missing path, never a torn
    (partially-visible) one."""
    import threading

    from data_engineering_etl_pipeline_spark.io import (read_shard_manifest,
                                                        write_training_shards)

    df = spark.createDataFrame([(i, i % 3, 2) for i in range(30)],
                               "doc_id long, shard int, n_tokens long")
    out = str(tmp_path / "shards")
    write_training_shards(df, out)

    valid_totals = {30, 3, 4, 5, 6}  # the first write, then each rewrite
    errors: list[Exception] = []
    seen: set[int] = set()
    stop = threading.Event()

    def reader():
        while not stop.is_set():
            try:
                total = sum(r["n_rows"]
                            for r in read_shard_manifest(spark, out).collect())
                seen.add(total)
            except Exception as e:  # noqa: BLE001 — the assertion target
                errors.append(e)
                return

    t = threading.Thread(target=reader, daemon=True)
    t.start()
    try:
        for b in range(4):
            batch = spark.createDataFrame(
                [(1000 + 10 * b + i, i % 3, 2) for i in range(3 + b)],
                "doc_id long, shard int, n_tokens long")
            write_training_shards(batch, out)
    finally:
        stop.set()
        t.join(timeout=30)
    assert not errors, errors
    assert seen <= valid_totals, seen
    final = sum(r["n_rows"] for r in read_shard_manifest(spark, out).collect())
    assert final == 6


def test_daily_snapshot_restores_partition_overwrite_mode(spark, tmp_path):
    """write_daily_snapshot must not leak partitionOverwriteMode=dynamic
    into the session: a later full partitioned overwrite would silently
    keep stale partitions."""
    from data_engineering_etl_pipeline_spark.io import write_daily_snapshot

    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key, None)
    df = spark.createDataFrame([("2024-02-01", 1.0)],
                               "snapshot_date string, v double")
    assert write_daily_snapshot(df, str(tmp_path / "snap")) is True
    assert spark.conf.get(key, None) == before


def test_snapshot_exists_escapes_partition_values(spark, tmp_path):
    """Partition values with characters Spark escapes in directory names
    (e.g. ':' in a timestamp) must still be found by the idempotency
    probe — otherwise every rerun rewrites."""
    from data_engineering_etl_pipeline_spark.io import (snapshot_exists,
                                                       write_daily_snapshot)

    root = str(tmp_path / "snap2")
    df = spark.createDataFrame([("2024-02-01 00:00:00", 1.0)],
                               "snapshot_date string, v double")
    assert write_daily_snapshot(df, root) is True
    assert snapshot_exists(spark, root, "2024-02-01 00:00:00")
    # and the sink's own rerun check now no-ops
    assert write_daily_snapshot(df, root) is False


def test_media_corrupt_blob_flags_row_not_job(spark):
    """One corrupt blob must flag ITS row (decode_ok=False, NULL metrics)
    instead of killing the stage — that is what decode_ok is for. The
    unsupported-codec seam still raises: it is a documented
    boundary, not bad data."""
    from data_engineering_etl_pipeline_spark.extensions.multimodal import (
        MEDIA_SCHEMA, _ppm_bytes, extract_features)

    rows = [
        (0, "image", bytearray(_ppm_bytes(0, 4, 4)), 4, 4, None, None),
        (1, "image", bytearray(b"P6\n4 4\n255\nshort"), 4, 4, None, None),
        (2, "audio", bytearray(b""), None, None, 16000, None),
    ]
    media = spark.createDataFrame(rows, schema=MEDIA_SCHEMA)
    got = {r["media_id"]: r for r in extract_features(media).collect()}
    assert got[0]["decode_ok"] and got[0]["mean_val"] is not None
    assert got[1]["decode_ok"] is False and got[1]["mean_val"] is None
    # empty audio: decodes to 0 samples with NULL mean, ok stays True
    assert got[2]["decode_ok"] and got[2]["n_samples"] == 0
    assert got[2]["mean_val"] is None

    # the codec seam still raises loudly
    import pytest as _pytest

    jpeg = [(3, "image", bytearray(b"\xff\xd8\xff rest"), 2, 2, None, None)]
    bad = spark.createDataFrame(jpeg, schema=MEDIA_SCHEMA)
    with _pytest.raises(Exception, match="NotImplementedError|PPM"):
        extract_features(bad).collect()


def test_repaint_check_flags_null_repaints(spark):
    """A repaint TO or FROM NULL must surface as a violation — the naive
    abs-diff predicate evaluated NULL and silently passed the worst kind
    of repaint; null↔null stays unchanged."""
    from data_engineering_etl_pipeline_spark.audits import repaint_check

    old = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, 5.0), (4, None)], "k long, v double")
    new = spark.createDataFrame(
        [(1, None), (2, 7.0), (3, 5.0), (4, None)], "k long, v double")
    got = sorted(r["k"] for r in
                 repaint_check(old, new, ["k"], ["v"]).collect())
    assert got == [1, 2], got
    with pytest.raises(ValueError, match="value_cols"):
        repaint_check(old, new, ["k"], [])


def test_run_sql_survives_new_session_and_sf_switch(spark):
    """Temp views are per-SparkSession: a sibling from spark.newSession()
    shares the applicationId but NOT the views, so an appId-keyed memo
    skipped registration and queries failed with TABLE_OR_VIEW_NOT_FOUND.
    Also: a direct register_star_views call between run_sql calls must not
    leave run_sql trusting stale views."""
    from data_engineering_etl_pipeline_spark.sql_interface import (
        register_star_views, run_sql)
    from .conftest import SF_DIR

    q = "SELECT count(*) AS n FROM region"
    n1 = run_sql(spark, SF_DIR, q).collect()[0]["n"]
    sibling = spark.newSession()
    try:
        n2 = run_sql(sibling, SF_DIR, q).collect()[0]["n"]
        assert n1 == n2 == 5
    finally:
        # drop the sibling's views so later suite queries never resolve
        # against a half-configured session by accident
        for t in ("region",):
            sibling.catalog.dropTempView(t)
    # direct registration against another dir updates the memo — run_sql
    # must re-register rather than silently reuse the repointed views
    register_star_views(spark, SF_DIR)
    n3 = run_sql(spark, SF_DIR, q).collect()[0]["n"]
    assert n3 == n1


def test_engine_pin_release_leaves_caller_caches_alone(spark):
    """The persist-release contract: engine-internal
    persists route through caching.pin and release_engine_pins drops
    exactly them — a caller's own persisted frame survives, so long-lived
    sessions no longer need (or risk) blanket clearCache."""
    from data_engineering_etl_pipeline_spark.caching import (
        engine_pin_scope, pin, release_engine_pins)
    from data_engineering_etl_pipeline_spark.io import load_table
    from .conftest import SF_DIR

    release_engine_pins()  # clean slate
    caller = load_table(spark, SF_DIR, "region").persist()
    caller.count()
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    pinned = pin(docs)
    pinned.count()
    assert pinned.storageLevel.useMemory
    n = release_engine_pins()
    assert n == 1
    assert not pinned.storageLevel.useMemory and not pinned.storageLevel.useDisk
    assert caller.storageLevel.useMemory, "caller cache must survive"
    # queries that pin internally (e.g. the tfidf vectorizer) are released
    # by one engine-level call after their action
    from data_engineering_etl_pipeline_spark.queries import QUERIES
    QUERIES["doc_tfidf_near_dup"](spark, SF_DIR).count()
    assert release_engine_pins() >= 1
    # scope form: pins taken inside die on exit, prior pins survive
    outer = pin(load_table(spark, SF_DIR, "nation"))
    with engine_pin_scope():
        inner = pin(load_table(spark, SF_DIR, "supplier"))
        inner.count()
    assert not inner.storageLevel.useMemory and not inner.storageLevel.useDisk
    assert release_engine_pins() == 1  # exactly the outer pin remains
    caller.unpersist()


def test_fingerprint_index_parquet_roundtrip_dedup(spark, tmp_path):
    """Values through the DISK path: persist the day-1 index as parquet,
    read it back, and run the day-2 incremental dedup against the disk
    copy — the fresh set must equal the in-memory-index run exactly. The
    re-read frame carries no manifest, so this also runs the NULL-__fplen
    migration probe, and the write/read must lose no rows, including the
    NULL-text sentinel group."""
    from data_engineering_etl_pipeline_spark.extensions.dedup import (
        doc_fingerprints, incremental_exact_dedup)

    day1 = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma"), (3, None), (4, "alpha beta")],
        "doc_id long, text string")
    day2 = spark.createDataFrame(
        [(10, "alpha beta"),   # dup of day-1 -> drop
         (11, None),           # NULL-text dup of day-1 NULL -> drop
         (12, "delta new"),    # fresh
         (13, "delta new"),    # in-batch dup -> drop
         (14, "epsilon")],     # fresh
        "doc_id long, text string")
    index = doc_fingerprints(day1, "doc_id", "text")
    fresh_mem, _ = incremental_exact_dedup(day2, index, "doc_id", "text")
    want = {r["doc_id"] for r in fresh_mem.collect()}
    assert want == {12, 14}

    index.write.parquet(str(tmp_path / "fp_index"))
    disk = spark.read.parquet(str(tmp_path / "fp_index"))
    fresh_disk, updated = incremental_exact_dedup(day2, disk,
                                                  "doc_id", "text")
    assert {r["doc_id"] for r in fresh_disk.collect()} == want
    # updated index: day-1 keepers {1 (alpha), 2, 3 (NULL)} + fresh {12, 14}
    assert ({r["keep_id"] for r in updated.collect()} == {1, 2, 3, 12, 14})
