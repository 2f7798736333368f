"""Technical-analysis kernel (SURVEY.md §2.5 W9-W12, §2.10 UD2-UD3).

The reference computes RSI-14, MACD(12,26,9), Bollinger(20,2) and ATR-14 via
TA-Lib per asset (feature_calculation_functions.py:44-92). RSI/MACD/ATR are
Wilder/EMA *recurrences* — infinite-memory per-asset state that no Spark
window frame expresses — so they run as one Arrow-batched ``mapInPandas``
kernel per partition, partitions sized by AQE (one shuffle on the asset
key, all four indicators in a single pass).
Bollinger is SMA-based and therefore ALSO implemented natively
(windows.rolling_mean/std) — the native/twin pair cross-checks the kernel.

Scale notes: per-asset sequential state means an asset never spans two
partitions; skew = one giant asset dominating a task. The kernel is O(n)
per asset and numpy-vectorized (scan recurrences via pandas ewm), so
throughput is Arrow-bound. No TA-Lib dependency — formulas are standard
public recurrences (Wilder 1978; Appel MACD; Bollinger 1980s), implemented
on pandas.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _wilder_ema(s: pd.Series, n: int) -> pd.Series:
    """Wilder-alpha smoothing: EMA with alpha=1/n via pandas
    ``ewm(adjust=False)``, which seeds from the FIRST VALUE — NOT the
    first-n SMA seed that Wilder's book / TA-Lib use. The two recurrences
    converge exponentially (identical steady state; values differ most in
    the bars right after warm-up). The ewm form is this repo's pinned convention:
    the DuckDB recursive-CTE oracle, the streaming-state MACD twin, and
    the per-asset reference fold all implement exactly it, so every check
    is internally consistent — swap in an SMA seed here only together
    with all three twins if TA-Lib bit-parity is ever required."""
    return s.ewm(alpha=1.0 / n, min_periods=n, adjust=False).mean()


def _ta_one_asset(pdf: pd.DataFrame, order_cols: list[str], close: str,
                  high: str, low: str) -> pd.DataFrame:
    pdf = pdf.sort_values(order_cols).reset_index(drop=True)
    c = pdf[close].astype(float)

    # RSI-14 (Wilder): 100 - 100/(1+RS), RS = smoothed gain / smoothed loss.
    delta = c.diff()
    gain = delta.clip(lower=0.0)
    loss = (-delta).clip(lower=0.0)
    avg_gain = _wilder_ema(gain, 14)
    avg_loss = _wilder_ema(loss, 14)
    rs = avg_gain / avg_loss
    pdf["rsi_14"] = 100.0 - 100.0 / (1.0 + rs)

    # MACD 12/26/9 (standard EMA, adjust=False matches streaming recurrence).
    ema12 = c.ewm(span=12, adjust=False).mean()
    ema26 = c.ewm(span=26, adjust=False).mean()
    macd = ema12 - ema26
    signal = macd.ewm(span=9, adjust=False).mean()
    pdf["macd"] = macd
    pdf["macd_signal"] = signal
    pdf["macd_hist"] = macd - signal

    # Bollinger 20/2 + width (SMA-based; native twin in windows.py).
    mid = c.rolling(20).mean()
    sd = c.rolling(20).std()
    pdf["bb_mid"] = mid
    pdf["bb_upper"] = mid + 2 * sd
    pdf["bb_lower"] = mid - 2 * sd
    pdf["bb_width"] = (pdf["bb_upper"] - pdf["bb_lower"]) / mid

    # ATR-14: true range then Wilder smoothing.
    if high in pdf and low in pdf:
        h = pdf[high].astype(float)
        lo = pdf[low].astype(float)
        prev_c = c.shift(1)
        tr = pd.concat([(h - lo), (h - prev_c).abs(), (lo - prev_c).abs()], axis=1).max(axis=1)
        if len(tr):
            tr.iloc[0] = float("nan")  # no prior close → TR undefined on row 0
        pdf["atr_14"] = _wilder_ema(tr, 14)
    else:
        pdf["atr_14"] = float("nan")
    return pdf


def _ta_partition(pdf: pd.DataFrame, entity_col: str, order_cols: list[str],
                  close: str, high: str, low: str) -> pd.DataFrame:
    """Vectorized partition kernel: all entities of a partition in ONE frame,
    recurrences via pandas groupby().ewm/rolling/diff/shift (Cython
    per-group iteration) — bit-identical to ``_ta_one_asset`` per group
    (pinned by a unit test) without one Arrow batch per entity."""
    pdf = pdf.sort_values([entity_col, *order_cols]).reset_index(drop=True)
    ent = pdf[entity_col]
    c = pdf[close].astype(float)

    def gewm(s: pd.Series, **kw) -> pd.Series:
        return (s.groupby(ent, sort=False).ewm(adjust=False, **kw).mean()
                .reset_index(level=0, drop=True))

    # RSI-14 (Wilder)
    delta = c.groupby(ent, sort=False).diff()
    gain = delta.clip(lower=0.0)
    loss = (-delta).clip(lower=0.0)
    rs = gewm(gain, alpha=1.0 / 14, min_periods=14) \
        / gewm(loss, alpha=1.0 / 14, min_periods=14)
    pdf["rsi_14"] = 100.0 - 100.0 / (1.0 + rs)

    # MACD 12/26/9
    macd = gewm(c, span=12) - gewm(c, span=26)
    signal = (macd.groupby(ent, sort=False).ewm(span=9, adjust=False).mean()
              .reset_index(level=0, drop=True))
    pdf["macd"] = macd
    pdf["macd_signal"] = signal
    pdf["macd_hist"] = macd - signal

    # Bollinger 20/2 + width
    groll = c.groupby(ent, sort=False).rolling(20)
    mid = groll.mean().reset_index(level=0, drop=True)
    sd = groll.std().reset_index(level=0, drop=True)
    pdf["bb_mid"] = mid
    pdf["bb_upper"] = mid + 2 * sd
    pdf["bb_lower"] = mid - 2 * sd
    pdf["bb_width"] = (pdf["bb_upper"] - pdf["bb_lower"]) / mid

    # ATR-14: true range (first row of each entity undefined), Wilder EMA
    h = pdf[high].astype(float)
    lo = pdf[low].astype(float)
    prev_c = c.groupby(ent, sort=False).shift(1)
    tr = pd.concat([(h - lo), (h - prev_c).abs(), (lo - prev_c).abs()],
                   axis=1).max(axis=1)
    tr[ent.ne(ent.shift(1))] = float("nan")
    pdf["atr_14"] = gewm(tr, alpha=1.0 / 14, min_periods=14)
    return pdf


def ta_features(df: DataFrame, entity_col: str, order_cols: list[str],
                close: str, high: str | None = None, low: str | None = None) -> DataFrame:
    """Append rsi_14, macd(_signal,_hist), bb_(mid,upper,lower,width), atr_14
    per entity — one hash-repartition on the entity key, then a vectorized
    Arrow pass per PARTITION (``mapInPandas`` + pandas groupby recurrences),
    not one Python call per entity: per-group Arrow framing dominated the
    kernel cost once entities number in the thousands (same fix as the
    streaming MACD batch twin, streaming.py).

    The repartition names only the key, not a count, so AQE may coalesce
    its partitions: each Python task carries a fixed ~0.2 s of worker
    set-up whatever its row count, so the stage gets as many tasks as its
    data needs rather than ``spark.sql.shuffle.partitions`` of them.
    Coalescing merges whole hash partitions, so an entity still never
    spans two tasks, and the chunker below takes any number of entities
    per partition.

    ``order_cols`` must be a deterministic total order within each entity
    (include a unique tiebreaker — recurrences are order-sensitive, so a
    nondeterministic sort would make results unstable across runs).
    """
    high = high or close
    low = low or close
    out_schema = ", ".join(
        [f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields]
        + ["rsi_14 double", "macd double", "macd_signal double", "macd_hist double",
           "bb_mid double", "bb_upper double", "bb_lower double", "bb_width double",
           "atr_14 double"]
    )
    cols = [f.name for f in df.schema.fields]
    out_cols = cols + ["rsi_14", "macd", "macd_signal", "macd_hist",
                       "bb_mid", "bb_upper", "bb_lower", "bb_width", "atr_14"]

    def run_partition(batches):
        # Streaming chunker: input arrives sorted by (entity, order) via
        # sortWithinPartitions, so entities are contiguous. Process every
        # COMPLETE entity as soon as its last row has arrived and carry
        # only the trailing (possibly incomplete) entity into the next
        # batch — peak task memory is O(one Arrow batch + hottest single
        # entity), NOT partition-sized: concatenating the whole partition
        # would make `spark.sql.execution.arrow.maxRecordsPerBatch` a no-op
        # and spill on hot entities. A single entity bigger than memory
        # is the inherent floor of sequential per-entity recurrences.
        # The carry is a LIST of chunks, concatenated once at flush time:
        # re-concatenating a growing buffer every batch copies O(k²) bytes
        # for an entity spanning k batches — the exact skew case this
        # chunker exists for. _ta_partition groups by entity internally,
        # so a flush containing the tail entity's earlier chunks plus new
        # complete entities is still correct.
        bufs: list[pd.DataFrame] = []
        for pdf in batches:
            tail_mask = pdf[entity_col] == pdf[entity_col].iloc[-1]
            head = pdf[~tail_mask]
            if len(head):
                full = (pd.concat(bufs + [head], ignore_index=True)
                        if bufs else head)
                bufs = []
                yield _ta_partition(full, entity_col, list(order_cols),
                                    close, high, low)[out_cols]
            bufs.append(pdf[tail_mask])
        if bufs:
            yield _ta_partition(pd.concat(bufs, ignore_index=True),
                                entity_col, list(order_cols),
                                close, high, low)[out_cols]

    # The entity/order sort runs in Spark's (spillable) sorter, not pandas:
    # the kernel's own sort_values would materialize the whole partition —
    # the memory profile this chunked form exists to avoid.
    return (df.repartition(entity_col)
            .sortWithinPartitions(entity_col, *order_cols)
            .mapInPandas(run_partition, out_schema))
