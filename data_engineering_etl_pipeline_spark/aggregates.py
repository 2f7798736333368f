"""Aggregations (SURVEY.md §2.4 A1-A11), headline: canonical asset aggregation.

The reference's most distinctive operator is ``aggregate_canonical_data``
(historical_data_etl.py:59-87, duplicated at live_data_pipeline.py:50-78): a
Python ``groupby().apply`` that, per ``(canonical_id, date)`` group,

  1. takes the *native* row (``coin_id == canonical_id``) if present, else
     the max-market-cap row, for the OHLC/mcap columns;
  2. sums ``volume`` across all group members;
  3. backfills any still-null critical column from any member that has it.

That Python-loop-per-group shape is the reference's single biggest
bottleneck; here it is pure native Spark: one aggregate with
``max_by(struct(values), priority)`` + ``sum`` + ``first(ignorenulls)``.
The planner makes it a ``SortAggregate`` on both the partial and the final
side, not a hash aggregate: the ``max_by`` struct buffer is not
fixed-width. Map-side partial aggregation still comes free — no Python in
the hot path, one shuffle on the group key.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def canonical_aggregate(df: DataFrame,
                        canonical_col: str,
                        member_col: str,
                        date_col: str,
                        value_cols: Sequence[str],
                        sum_cols: Sequence[str],
                        priority_col: str,
                        count_alias: str | None = None) -> DataFrame:
    """A1 canonical aggregation, native-Spark form.

    Priority: native member first (member == canonical), then highest
    ``priority_col`` (reference uses market_cap,
    historical_data_etl.py:70-75). Null criticals backfill from any member
    (``first(col, ignorenulls=True)`` ≈ reference :80-86 — the reference
    takes "any member's value"; we take the first non-null in group-scan
    order, deterministic given the agg's sort-free semantics is acceptable
    because backfill only fires when the chosen row is null).

    All value columns come from the one winning row, so one ``max_by``
    picks them as a struct. A ``max_by`` per column would build and
    compare the priority struct once per column per row, on both the
    partial and the final aggregate side: Spark shares neither the
    argument nor the comparison across aggregate functions. The struct's
    fields get positional names (``_0``, ``_1``, …), read back with
    ``getField``, so a value column's own name (dotted, say) never has to
    be resolved a second time.
    """
    is_native = (F.col(member_col) == F.col(canonical_col)).cast("int")
    # max_by over a lexicographic priority struct: (native?, priority, member)
    # member as final tiebreak makes the pick deterministic under priority ties.
    priority = F.struct(
        is_native.alias("native"),
        F.col(priority_col).alias("prio"),
        F.col(member_col).alias("tie"),
    )
    chosen = F.max_by(
        F.struct(*[F.col(c).alias(f"_{i}") for i, c in enumerate(value_cols)]),
        priority)
    aggs: list[Column] = [
        F.coalesce(chosen.getField(f"_{i}"),
                   F.first(F.col(c), ignorenulls=True)).alias(c)
        for i, c in enumerate(value_cols)]
    for c in sum_cols:
        aggs.append(F.sum(F.col(c)).alias(c))
    if count_alias:
        aggs.append(F.count(F.lit(1)).alias(count_alias))
    return df.groupBy(canonical_col, date_col).agg(*aggs)


def agg_dict(df: DataFrame, keys: Sequence[str], rules: dict[str, str],
             order_col: str | None = None) -> DataFrame:
    """A2 declarative agg-dict (reference: coinbase_universe_pipeline.py:149-159).

    Supports the reference's rule set {'sum','last','first','mean','min','max'}.
    pandas ``'last'`` means "last row in group order"; Spark ``F.last`` is
    nondeterministic without an ordering (SURVEY §7.4 hazard 9), so when an
    ``order_col`` is given, 'last'/'first' become ``max_by``/``min_by`` over
    it — deterministic and shuffle-free beyond the one groupBy exchange.
    Rules for columns absent from ``df`` are dropped, mirroring the
    reference's defensive ``valid_rules`` filter (coinbase…py:158).
    """
    have = set(df.columns)
    exprs: list[Column] = []
    for col, rule in rules.items():
        if col not in have:
            continue
        c = F.col(col)
        if rule == "sum":
            e = F.sum(c)
        elif rule == "mean":
            e = F.avg(c)
        elif rule == "min":
            e = F.min(c)
        elif rule == "max":
            e = F.max(c)
        elif rule == "last":
            # max_by over an order key nulled-out for null values: pandas
            # GroupBy 'last' SKIPS NaN, so the pick must be "last row whose
            # value is non-null", not "value at the last row" (which may be
            # null). Rows with a NULL ordering never win max_by/min_by.
            e = (F.max_by(c, F.when(c.isNotNull(), F.col(order_col)))
                 if order_col else F.last(c, ignorenulls=True))
        elif rule == "first":
            e = (F.min_by(c, F.when(c.isNotNull(), F.col(order_col)))
                 if order_col else F.first(c, ignorenulls=True))
        else:
            raise ValueError(f"unsupported agg rule {rule!r}")
        exprs.append(e.alias(col))
    return df.groupBy(*keys).agg(*exprs)


def violation_loss(df: DataFrame, violation: Column) -> DataFrame:
    """A6 boolean-sum + loss fraction (reference: data_quality_gate.py:57,101-106)
    as a single-pass aggregate: total rows, violating rows, loss percent.
    NULL predicate values (null inputs to a comparison) count as
    non-violations — pandas parity, where NaN comparisons are False.
    Empty input yields loss_pct 0.0 (coalesced), the same decision
    apply_gate makes — not NULL."""
    violation = F.coalesce(violation, F.lit(False))
    bad = F.coalesce(F.sum(violation.cast("long")), F.lit(0))
    loss = F.coalesce(F.try_divide(100.0 * bad, F.count(F.lit(1))), F.lit(0.0))
    return df.agg(
        F.count(F.lit(1)).alias("total_rows"),
        bad.alias("violation_rows"),
        F.round(loss, 6).alias("loss_pct"),
    )
