"""Schema contracts & validation (SURVEY.md §1.3, §2.7 U2, §2.2 P2).

The reference enforces schema only at the quality gate's required-column
check (data_quality_gate.py:23,32-36) and in pytest assertions
(test_data_integrity.py:40-41,317-328); everywhere else columns are probed
defensively. Here each lake layer gets an explicit contract and a validator.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame

# Canonical long-format fact contracts (reference: historical_data/README.md §6,
# unit-tests/test_data_integrity.py:40-41).
BRONZE_REQUIRED = ("canonical_id", "date", "open", "high", "low", "close")
SILVER_REQUIRED = BRONZE_REQUIRED + ("returns_1d", "market_cap")


def missing_columns(df: DataFrame, required: Iterable[str]) -> list[str]:
    """U2 schema set-difference (reference: data_quality_gate.py:34)."""
    have = set(df.columns)
    return [c for c in required if c not in have]


def validate_schema(df: DataFrame, required: Iterable[str]) -> None:
    """Raise (fail-fast, like the reference's gate at data_quality_gate.py:32-36)
    when required columns are absent."""
    missing = missing_columns(df, required)
    if missing:
        raise ValueError(f"Missing required columns: {missing}")
