"""Query registry: every implemented operator exposed as a (spark, sf_dir) ->
DataFrame callable plus, where SQL-expressible, a DuckDB oracle string.

Conventions (driver contract, see repo-root ``__spark_entry__.py``):
- column names identical between Spark result and oracle SQL;
- every computed float rounded identically on both sides (the driver hashes
  values — cross-engine float summation order must not leak into the hash);
- results kept small-ish (aggregated) unless the operator is row-level.

Modules register into ``QUERIES`` / ``ORACLES`` at import time.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    """Decorator: add a query (and optional DuckDB oracle) to the registry."""
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn
    return deco


# `vectors` registers before `text` so that, if the registry ever exceeds
# the driver's 50-entry check budget again, the embedding family is not the
# silently-dropped tail. Keep len(QUERIES) <= 50 —
# tests/test_pipeline_e2e.py pins the budget.
from . import (analytics, core, events, features, joins, pipeline,  # noqa: E402
               quality, scalars, sqlq, tech, vectors, text, corpusq)  # noqa: F401
