"""Data quality gate: validate → standardize → filter → circuit-break
(SURVEY.md §3 E3; reference: all-etl-pipelines/data_quality_gate.py:63-117).

The reference gate: (1) required-column check, raise on missing (:32-36);
(2) precision standardization — round prices to 16 dp (:38-44); (3) drop rows
whose close lies outside [low−tol, high+tol] (:46-61); (4) circuit breaker —
abort the pipeline when row loss exceeds a threshold (default 5%, :30,
:101-110).

Spark shape: the breaker forces ONE eager action mid-pipeline (the
``aggregates.violation_loss`` aggregate) — an intentional materialization
barrier. Everything else stays lazy. At 100 TB the total and violation
counts are map-side partial aggregates over one scan, not two full passes
over Python.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .aggregates import violation_loss
from .relational import ohlc_violation
from .schema import validate_schema

DEFAULT_MAX_LOSS_PCT = 5.0  # reference: data_quality_gate.py:30
PRICE_DECIMALS = 16         # reference: data_quality_gate.py:26,43


class CircuitBreakerTripped(RuntimeError):
    """Raised when the gate would drop more than ``max_loss_pct`` of rows —
    the Spark analog of the reference's ``sys.exit(1)``
    (data_quality_gate.py:107-110)."""


def standardize_precision(df: DataFrame, cols: Sequence[str],
                          decimals: int = PRICE_DECIMALS) -> DataFrame:
    """Round price columns to a fixed precision (reference :38-44).

    Bit for bit ``F.round(c, decimals)``, but a double column skips the
    round where it cannot change the value. Spark rounds a double as
    ``BigDecimal.valueOf(x).setScale(d, HALF_UP).doubleValue()``, and
    ``valueOf`` parses ``Double.toString(x)``. Below 10**17 that string
    has at most 17 significant digits; above it, JDK 17 may print 18, but
    every such double is an integer and so is its string. Hence for
    ``0 <= d <= 16`` and ``|x| >= 10**(16-d)`` the string has at most
    ``d`` fractional digits, ``setScale`` only pads zeros, and the parse
    returns ``x``. The gate's prices (d = 16, ``|x| >= 1``) all take the
    pass-through branch, which saves a BigDecimal per value per plan node
    the gated frame feeds. NULL, ``|x| < 1`` and -0.0 still take the round
    branch; NaN and ±inf compare >= any bound in Spark and pass through,
    which is what Spark's round returns for them. Non-double columns and
    ``d`` outside [0, 16] (where large values really change, or the bound
    is no exact double) keep the plain round."""
    types = dict(df.dtypes)

    def std(c: str) -> Column:
        rounded = F.round(F.col(c), decimals)
        if types.get(c) != "double" or not 0 <= decimals <= 16:
            return rounded
        return F.when(F.abs(F.col(c)) >= float(10 ** (16 - decimals)),
                      F.col(c)).otherwise(rounded)

    return df.withColumns({c: std(c) for c in cols})


def apply_gate(df: DataFrame,
               required: Sequence[str],
               price_cols: Sequence[str],
               max_loss_pct: float = DEFAULT_MAX_LOSS_PCT) -> DataFrame:
    """Full gate: rounds ``price_cols`` to ``PRICE_DECIMALS`` and drops
    ``ohlc_violation()`` rows. Returns the cleaned DataFrame or raises
    :class:`CircuitBreakerTripped` / ``ValueError`` (missing columns)."""
    validate_schema(df, required)
    df = standardize_precision(df, price_cols, PRICE_DECIMALS)
    cond = ohlc_violation()
    # Null-price rows make the raw predicate NULL: sum(cast) would not count
    # them but filter(~cond) would silently DROP them — rows vanishing
    # without contributing to the breaker's loss percentage. Normalize to
    # False (pandas parity: NaN comparisons are False, rows are kept).
    cond = F.coalesce(cond, F.lit(False))
    stats = violation_loss(df, cond).first()
    total, bad = stats["total_rows"], stats["violation_rows"]
    # trip on the exact ratio, not the rounded loss_pct column: rounding
    # could move a decision that sits at the boundary
    loss_pct = 100.0 * bad / total if total else 0.0
    if loss_pct > max_loss_pct:
        raise CircuitBreakerTripped(
            f"data loss {loss_pct:.2f}% > {max_loss_pct}% ({bad}/{total} rows)")
    return df.filter(~cond)


def gate_report(df: DataFrame, violation: Column,
                max_loss_pct: float = DEFAULT_MAX_LOSS_PCT) -> DataFrame:
    """Single-row gate summary (total/violations/loss%/would-trip) as a
    DataFrame — the queryable form of the breaker decision. Like
    :func:`apply_gate` it is built on ``aggregates.violation_loss``, so the
    count / NULL-coalesce / sum trio exists once. Empty input reports loss
    0.0 / tripped false, agreeing with apply_gate's decision."""
    return violation_loss(df, violation).withColumn(
        "breaker_tripped", F.col("loss_pct") > max_loss_pct)
