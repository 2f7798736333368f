"""Data-integrity audit queries (SURVEY.md §5; reference:
unit-tests/test_data_integrity.py). The reference's pytest invariants become
ordinary distributed queries — each returns the VIOLATING rows (empty = pass),
so they run as first-class jobs at any scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def backfill_bias(old: DataFrame, new: DataFrame, entity_col: str,
                  date_col: str) -> DataFrame:
    """Per-entity earliest date must not move EARLIER between snapshot
    versions (reference: test_data_integrity.py:54-68). Two partial-agg
    ``min`` shuffles + a join on the (small) per-entity frames.

    Returns ``(entity, old_min_date, new_min_date)`` for violators.
    """
    o = old.groupBy(entity_col).agg(F.min(date_col).alias("old_min_date"))
    n = new.groupBy(entity_col).agg(F.min(date_col).alias("new_min_date"))
    return (
        o.join(n, entity_col, "inner")
        .filter(F.col("new_min_date") < F.col("old_min_date"))
        .select(entity_col, "old_min_date", "new_min_date")
    )


def repaint_check(old: DataFrame, new: DataFrame, keys: list[str],
                  value_cols: list[str], tol: float = 1e-9) -> DataFrame:
    """Historical immutability: aligned (entity, date) cells must not change
    between versions (reference: test_data_integrity.py:125-161). Inner join
    on the composite key, then an any-column |Δ|>tol filter.

    Returns key columns + ``(old_<c>, new_<c>)`` for each changed cell row.

    Null-safe: a repaint TO or FROM NULL is a change —
    the naive ``abs(old−new) > tol`` evaluates to NULL there and the
    filter silently passed the worst kind of repaint. null↔null is
    unchanged.
    """
    if not value_cols:
        raise ValueError("repaint_check: value_cols must be non-empty")
    o = old.select(*keys, *[F.col(c).alias(f"old_{c}") for c in value_cols])
    n = new.select(*keys, *[F.col(c).alias(f"new_{c}") for c in value_cols])
    joined = o.join(n, keys, "inner")
    changed = None
    for c in value_cols:
        oc, nc = F.col(f"old_{c}"), F.col(f"new_{c}")
        d = ((oc.isNull() != nc.isNull())
             | (F.abs(oc - nc) > tol))
        changed = d if changed is None else (changed | d)
    return joined.filter(changed)
