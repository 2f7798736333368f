"""Relational core: projections, filters, joins, set ops, null handling
(SURVEY.md §2.2 P1-P12, §2.3 J1-J9, §2.7 U1-U5).

Everything here is a thin, intention-revealing composition of built-in
DataFrame ops — Catalyst handles pushdown, pruning, join selection. The two
patterns that deserve names:

- ``map_join``: the reference's dict-lookup "joins" (``col.map(ticker_map)``,
  pipeline_helpers.py:250; historical_data_etl.py:186) become broadcast hash
  joins against a tiny dimension — the scale-correct form of a Python dict.
- ``pit_cutoff_join``: the point-in-time universe slice
  (historical_data_etl.py:159-168) becomes a theta join
  ``fact.date <= universe.month_end`` with the (small) universe broadcast, so
  the big fact table never shuffles for it.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def canonicalize(df: DataFrame, col: str, mapping: Mapping[str, str],
                 out_col: str | None = None) -> DataFrame:
    """P9/J5: null-coalescing dict-map lookup.

    Reference: ``df[col].map(canonical_map).fillna(df[col])``
    (historical_data_etl.py:186, live_data_pipeline.py:152,
    coinbase_universe_pipeline.py:145). Implemented as a literal MapType
    expression (constant-folded by Catalyst) — no shuffle, no UDF. For maps
    too big to inline (>~10k entries) use ``map_join`` instead.
    """
    out_col = out_col or col
    if not mapping:
        return df.withColumn(out_col, F.col(col))
    pairs = [F.lit(x) for kv in mapping.items() for x in kv]
    m = F.create_map(*pairs)
    return df.withColumn(out_col, F.coalesce(m[F.col(col)], F.col(col)))


def map_join(df: DataFrame, dim: DataFrame, key: str, value_col: str,
             out_col: str, default_col: str | None = None) -> DataFrame:
    """J5 as a broadcast join: left-join a small dim ``(key, value_col)`` and
    coalesce with a fallback column — the distributed form of
    ``col.map(d).fillna(col)``.

    PRECONDITION: ``dim`` keys must be unique (a dict's keys are by
    construction — callers build dims from mapping literals via
    ``records_to_df``). A duplicate-keyed dim would fan out fact rows,
    which a dict lookup can never do; this function does not pay a
    validation job to check it — dedupe upstream if the dim comes from an
    appendable source."""
    dim = F.broadcast(dim.select(F.col(key), F.col(value_col).alias("__mapped")))
    out = df.join(dim, on=key, how="left")
    fallback = F.col(default_col) if default_col else F.lit(None)
    return out.withColumn(out_col, F.coalesce(F.col("__mapped"), fallback)).drop("__mapped")


def ohlc_violation(close: str = "close", low: str = "low", high: str = "high",
                   tol: float = 1e-6) -> Column:
    """P7 compound predicate (reference: data_quality_gate.py:52-56):
    close must lie in [low - tol, high + tol]."""
    return (F.col(close) < F.col(low) - tol) | (F.col(close) > F.col(high) + tol)


def pit_cutoff_join(fact: DataFrame, universe: DataFrame, fact_key: str,
                    fact_date: str, uni_key: str, uni_month: str) -> DataFrame:
    """P6/J9 point-in-time membership join.

    For each ``(month, member)`` universe row, keep fact rows of that member
    with ``fact_date <= month`` (the reference slices
    ``history[history['date'] <= period_date]`` per month,
    historical_data_etl.py:159-168). The universe is small (months × top-N)
    → broadcast, so the fact side streams through map-side without a shuffle.
    """
    return fact.join(
        F.broadcast(universe),
        on=[fact[fact_key] == universe[uni_key], fact[fact_date] <= universe[uni_month]],
        how="inner",
    )


def distinct_keys(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """P12/U5 row dedup via distinct projection (reference:
    historical_data_etl.py:132 set-comprehension)."""
    return df.select(*cols).distinct()


def asof_join(left: DataFrame, right: DataFrame, key: str, left_time: str,
              right_time: str, value_cols: Sequence[str],
              suffix: str = "_asof",
              duplicates: str = "allow") -> DataFrame:
    """As-of (most-recent-prior) join: for each left row, the right row of
    the same ``key`` with the greatest ``right_time <= left_time`` — the
    time-series stitch Spark has no built-in for (DuckDB/kdb ``ASOF JOIN``,
    pandas ``merge_asof``).

    Plan shape (the 100 TB-safe one): tag both sides, union, ONE
    sort-exchange on ``(key, time, side)`` (right sorts before left at equal
    times so ties are visible), then ``last(row_struct, ignorenulls)`` over
    the unbounded-preceding frame carries each right ROW forward to every
    later left row. No range join, no per-key explosion: cost is one
    shuffle of |L|+|R| rows — versus the naive key-join-then-filter, whose
    intermediate is Σ_key |L_k|·|R_k| (quadratic on hot keys).

    All ``value_cols`` ride together in ONE struct: a right row always
    emits a non-null struct (even when its individual values are null), so
    the matched row's nulls come through as nulls and the output never
    mixes columns from different right rows — row-level as-of semantics,
    matching DuckDB ASOF JOIN and pandas ``merge_asof``. The left row rides
    the union packed in its own struct, so arbitrary left/right column-name
    overlap is fine.

    ``duplicates`` controls right rows sharing one ``(key, right_time)``
    ("the" prior row is otherwise ill-defined on every engine):
    - ``"allow"``  — caller guarantees uniqueness (no extra work);
    - ``"resolve_max"`` / ``"resolve_min"`` — deterministically keep the
      max/min ``value_cols`` struct per ``(key, right_time)`` (one extra
      partial-aggregatable groupBy on the RIGHT side only);
    - ``"error"``  — eagerly count duplicate groups and raise (an action;
      use in validation runs, not hot paths).
    """
    if duplicates not in ("allow", "resolve_max", "resolve_min", "error"):
        raise ValueError(f"duplicates must be allow|resolve_max|resolve_min|error, got {duplicates!r}")
    if duplicates == "error":
        n_dup = (right.groupBy(key, right_time).count()
                 .filter(F.col("count") > 1).count())
        if n_dup:
            raise ValueError(
                f"asof_join: right side has {n_dup} duplicate ({key}, "
                f"{right_time}) groups — pre-aggregate or pass "
                "duplicates='resolve_max'/'resolve_min'")
    elif duplicates in ("resolve_max", "resolve_min"):
        agg = F.max if duplicates == "resolve_max" else F.min
        right = (right.groupBy(key, right_time)
                 .agg(agg(F.struct(*[F.col(c) for c in value_cols])).alias("__r"))
                 .select(key, right_time,
                         *[F.col(f"__r.{c}").alias(c) for c in value_cols]))
    lcols = left.columns
    lrow_type = left.select(F.struct(*lcols).alias("r")).schema["r"].dataType
    rrow = F.struct(*[F.col(c) for c in value_cols])
    rrow_type = right.select(rrow.alias("r")).schema["r"].dataType
    tagged_l = left.select(
        F.col(key).alias("__k"), F.col(left_time).alias("__t"),
        F.lit(1).alias("__side"), F.struct(*lcols).alias("__lrow"),
        F.lit(None).cast(rrow_type).alias("__rrow"),
    )
    tagged_r = right.select(
        F.col(key).alias("__k"), F.col(right_time).alias("__t"),
        F.lit(0).alias("__side"), F.lit(None).cast(lrow_type).alias("__lrow"),
        rrow.alias("__rrow"),
    )
    w = (Window.partitionBy("__k").orderBy("__t", "__side")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    carried = tagged_l.unionByName(tagged_r).select(
        "__side", "__lrow",
        F.last("__rrow", ignorenulls=True).over(w).alias("__m"),
    )
    return carried.filter(F.col("__side") == 1).select(
        "__lrow.*",
        *[F.col(f"__m.{c}").alias(f"{c}{suffix}") for c in value_cols])


def binned_interval_join(intervals: DataFrame, points: DataFrame, key: str,
                         start: str, end: str, point_time: str,
                         point_cols: Sequence[str], bin_seconds: int,
                         suffix: str = "_pt") -> DataFrame:
    """Range (interval) join: pair each ``intervals`` row with every
    ``points`` row of the same ``key`` whose ``point_time`` lies in
    ``(start, end]`` — without the quadratic key-equi-join-then-filter
    plan (Σ_key |I_k|·|P_k| intermediate rows on hot keys).

    The scale shape: both sides are bucketed into ``bin_seconds``-wide
    epoch bins (an interval explodes to every bin it covers — pick
    ``bin_seconds`` ≈ typical interval length so that's O(1) bins), the
    join becomes an equi-join on ``(key, bin)``, and the exact range
    predicate filters the candidates. Shuffle cost is |I|·bins + |P|,
    fan-out bounded by per-bin density instead of per-key cardinality.
    Interval rows ride packed in a struct, so column overlap with
    ``points`` is safe. Output: interval columns + ``point_cols``
    (suffixed) for every match — aggregate downstream as needed.
    """
    icols = intervals.columns
    s_sec = F.unix_timestamp(F.col(start))
    e_sec = F.unix_timestamp(F.col(end))
    tagged_i = intervals.select(
        F.col(key).alias("__k"), F.col(start).alias("__s"),
        F.col(end).alias("__e"), F.struct(*icols).alias("__irow"),
        F.explode(F.sequence(F.floor(s_sec / bin_seconds),
                             F.floor(e_sec / bin_seconds))).alias("__bin"),
    )
    tagged_p = points.select(
        F.col(key).alias("__k"), F.col(point_time).alias("__pt"),
        F.floor(F.unix_timestamp(F.col(point_time)) / bin_seconds)
        .alias("__bin"),
        *[F.col(c).alias(f"{c}{suffix}") for c in point_cols],
    )
    matched = (tagged_i.join(tagged_p, ["__k", "__bin"])
               .filter((F.col("__pt") > F.col("__s"))
                       & (F.col("__pt") <= F.col("__e"))))
    return matched.select("__irow.*",
                          *[f"{c}{suffix}" for c in point_cols])
