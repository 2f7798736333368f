"""Precedence-based category classifier (SURVEY.md §2.10 UD5; reference:
cg_attributes/coingecko_asset_attributes_pipeline.py:82-103,147-149).

The reference walks a precedence-ordered taxonomy: the first taxonomy
bucket whose keyword matches wins. Row-wise Python there; here it is one
chained ``F.when`` expression — whole-stage-codegen'd, zero Python at
runtime, and constant-folded when the taxonomy is a literal.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F


def classify_scalar_by_keywords(text_col: str | Column,
                                taxonomy: Sequence[tuple[str, Sequence[str]]],
                                default: str = "Other") -> Column:
    """Return the first taxonomy label with a keyword contained in the
    string column (star-schema analog: classify ``p_type`` by keyword).

    ``taxonomy`` is precedence-ordered ``[(label, [keyword, ...]), ...]``;
    a match is substring containment, mirroring the reference's
    ``keyword in tag`` check (cg_attributes…py:100).
    """
    text = F.col(text_col) if isinstance(text_col, str) else text_col
    expr: Column = F.lit(default)
    for label, keywords in reversed(list(taxonomy)):
        cond = None
        for kw in keywords:
            hit = text.contains(kw)
            cond = hit if cond is None else (cond | hit)
        expr = F.when(cond, F.lit(label)).otherwise(expr)
    return expr
