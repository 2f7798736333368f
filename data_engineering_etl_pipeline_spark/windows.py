"""Window/analytics operators (SURVEY.md §2.5 W1-W13, §2.6 O1-O4).

The reference computes every per-asset feature with
``groupby(asset).rolling/shift/pct_change`` and every cross-sectional one
with ``groupby(date).rank/transform`` (feature_calculation_functions.py).
Spark-side these are two window families:

- ``w_entity(entity, order)`` — partition by asset, order by date: lags,
  pct-change, rolling moments, z-scores.
- ``w_cross(date)`` — partition by date: ranks, dominance shares, top-k.

Scale note: all features over the same window family share ONE exchange —
compute every ``w_entity`` feature in one select, then every ``w_cross``
feature in a second (SURVEY §3 E3). Rolling frames are ROWS-based (pandas
``rolling(n)`` is positional, not calendar — SURVEY §7.4 hazard 8).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F


def w_entity(entity_cols: Sequence[str] | str, order_cols: Sequence[str] | str) -> WindowSpec:
    """Per-asset ordered window (the reference's ``groupby(ASSET_ID)`` +
    date sort, test_data_integrity.py:237,274)."""
    e = [entity_cols] if isinstance(entity_cols, str) else list(entity_cols)
    o = [order_cols] if isinstance(order_cols, str) else list(order_cols)
    return Window.partitionBy(*e).orderBy(*o)


def w_cross(date_cols: Sequence[str] | str) -> WindowSpec:
    """Cross-sectional (per-date) window."""
    d = [date_cols] if isinstance(date_cols, str) else list(date_cols)
    return Window.partitionBy(*d)


def pct_change(col: str, periods: int, w: WindowSpec) -> Column:
    """W3 positional percent change over k rows (reference:
    feature_calculation_functions.py:30-34; k ∈ {1,3,7,14,30}).
    ``try_divide``: a zero previous value yields NULL instead of raising
    DIVIDE_BY_ZERO under Spark 4's default ANSI mode. The pandas reference
    yields inf, which it then nulls via its replace-inf convention, so
    NULL is the faithful port."""
    prev = F.lag(F.col(col), periods).over(w)
    return F.try_divide(F.col(col), prev) - 1


def rolling_mean(col: str, n: int, w: WindowSpec) -> Column:
    """W5 rolling mean with pandas ``rolling(n)`` semantics: null until the
    frame holds ``n`` observations (pandas' default ``min_periods=n`` —
    SURVEY §7.4 hazard 2)."""
    frame = w.rowsBetween(-(n - 1), 0)
    cnt = F.count(F.col(col)).over(frame)
    return F.when(cnt >= n, F.avg(F.col(col)).over(frame))


def rolling_std(col: str, n: int, w: WindowSpec) -> Column:
    """W5/W7 rolling sample std (pandas default ddof=1 ⇔ ``stddev_samp``),
    null until the frame holds ``n`` observations."""
    frame = w.rowsBetween(-(n - 1), 0)
    cnt = F.count(F.col(col)).over(frame)
    return F.when(cnt >= n, F.stddev_samp(F.col(col)).over(frame))


def rolling_zscore(col: str, n: int, w: WindowSpec) -> Column:
    """W6/UD6 rolling z-score with zero-std and ±inf guards (reference:
    feature_calculation_functions.py:16-21 replaces ±inf with NaN).

    NULL below ``n`` observations (as :func:`rolling_mean` and
    :func:`rolling_std`), at zero std and for a NULL value. Built from
    one ``count``, one ``avg`` and one ``stddev_samp`` over the frame
    rather than from those two helpers: Spark dedupes neither identical
    window expressions nor repeated sub-expressions across them, so
    composing them puts 8 sliding aggregates in the ``Window`` operator
    where 3 do. ``nullif`` turns a zero std into NULL before the divide,
    which ANSI mode would otherwise reject."""
    frame = w.rowsBetween(-(n - 1), 0)
    x = F.col(col)
    z = (x - F.avg(x).over(frame)) / F.nullif(F.stddev_samp(x).over(frame),
                                              F.lit(0.0))
    return F.when(F.count(x).over(frame) >= n, z)


def dominance_share(col: str, w: WindowSpec) -> Column:
    """W8 share of per-date total (reference:
    feature_calculation_functions.py:123-124): ``x / sum(x) over (date)``.
    ``try_divide``: an all-zero date yields NULL shares instead of raising
    under ANSI mode (the same inf→null convention as pct_change)."""
    return F.try_divide(F.col(col), F.sum(F.col(col)).over(w))


def rank_desc(col: str, w_keys: Sequence[str] | str, method: str = "first",
              tiebreak: Sequence[str] | str | None = None) -> Column:
    """W1/W2 descending rank within group.

    ``method='first'`` ≡ ``row_number`` with a deterministic tiebreak column
    (pandas ties-by-input-order is nondeterministic under distribution —
    SURVEY §7.4 hazard 3); ``method='min'`` ≡ SQL ``rank``.
    """
    keys = [w_keys] if isinstance(w_keys, str) else list(w_keys)
    order = [F.col(col).desc()]
    if tiebreak:
        tb = [tiebreak] if isinstance(tiebreak, str) else list(tiebreak)
        order += [F.col(c).asc() for c in tb]
    w = Window.partitionBy(*keys).orderBy(*order)
    if method == "first":
        return F.row_number().over(w)
    if method == "min":
        return F.rank().over(w)
    if method == "dense":
        return F.dense_rank().over(w)
    raise ValueError(f"unsupported rank method {method!r}")


def top_k_per_group(df: DataFrame, keys: Sequence[str], order_col: str, k: int,
                    tiebreak: Sequence[str] | None = None,
                    rank_col: str = "rn") -> DataFrame:
    """O3 per-group top-k (reference: universe_generation_pipeline.py:159-164
    rank ≤ N). One shuffle on ``keys``; at 100 TB AQE handles hot groups."""
    rn = rank_desc(order_col, keys, "first", tiebreak)
    return df.withColumn(rank_col, rn).filter(F.col(rank_col) <= k)


def rank_desc_average(df: DataFrame, col: str, keys: Sequence[str] | str,
                      tiebreak: Sequence[str],
                      out_col: str = "__rank_avg",
                      rn_out: str | None = None) -> DataFrame:
    """W2 descending rank with EXACT pandas ``rank(method='average')``
    semantics: min-rank + (ties−1)/2, computed as the mean ``row_number``
    inside each (keys, col) tie group. ``daily_share_and_rank`` and
    ``supplier_feature_matrix`` both call it, so the tie-window invariant
    below has one home instead of two hand-rolled copies.

    The invariant this helper holds in one place: the tie window's
    (keys, col) clustering is a PREFIX of the row_number sort
    (keys, col desc, tiebreak), so both windows share one sort-exchange —
    a per-window sort would double the family's exchanges."""
    ks = [keys] if isinstance(keys, str) else list(keys)
    order_w = Window.partitionBy(*ks).orderBy(
        F.col(col).desc(), *[F.col(c) for c in tiebreak])
    ties_w = Window.partitionBy(*ks, col)
    rn = rn_out or "__rda_rn"
    out = (df.withColumn(rn, F.row_number().over(order_w))
           .withColumn(out_col, F.avg(rn).over(ties_w)))
    return out if rn_out else out.drop(rn)


def percent_rank_asc(col: str, keys: Sequence[str] | str) -> Column:
    """W13/O4 percent_rank for top-/bottom-fraction selection (reference:
    test_data_integrity.py:117-123 nlargest/nsmallest(0.3·n)). Ties share
    a rank, so no tiebreak column is needed for a deterministic result."""
    ks = [keys] if isinstance(keys, str) else list(keys)
    return F.percent_rank().over(
        Window.partitionBy(*ks).orderBy(F.col(col).asc()))


def long_short_factor(df: DataFrame, date_col: str, score_col: str, ret_col: str,
                      frac: float = 0.3, min_group: int = 10) -> DataFrame:
    """A10 daily long-short (HML-style) factor.

    Per date: mean ``ret_col`` of the top ``frac`` by ``score_col`` minus the
    bottom ``frac``; dates with < ``min_group`` scored rows yield null
    (reference: test_data_integrity.py:117-123). Implemented as
    percent_rank + two conditional averages — one shuffle, no per-group
    Python. NULL-score rows are dropped before ranking: Spark's ascending
    sort puts nulls FIRST, which would seat them in the bottom bucket and
    push real low scores out, while the pandas reference's
    nsmallest/nlargest excludes NaN entirely.
    """
    pr = percent_rank_asc(score_col, date_col)
    tagged = df.filter(F.col(score_col).isNotNull()).withColumn("__pr", pr)
    return (
        tagged.groupBy(date_col)
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.avg(F.when(F.col("__pr") >= 1 - frac, F.col(ret_col))).alias("__top"),
            F.avg(F.when(F.col("__pr") <= frac, F.col(ret_col))).alias("__bot"),
        )
        .select(
            F.col(date_col),
            F.when(F.col("__n") >= min_group, F.col("__top") - F.col("__bot"))
             .alias("factor"),
        )
    )
