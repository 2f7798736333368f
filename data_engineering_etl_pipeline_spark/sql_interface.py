"""SQL-text interface: the star schema as temp views + ``spark.sql``.

The reference has no SQL layer (every query is a pandas script); on Spark
the same engine serves both APIs — a SQL string and the DataFrame chain
compile to identical Catalyst plans. This module is the thin registration
shim; `queries/sqlq.py` registers a query expressed PURELY as SQL text to
pin that parity (its DuckDB oracle is nearly the same string — the point).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .io import STAR_TABLES, load_table


def register_star_views(spark: SparkSession, sf_dir: str,
                        tables=STAR_TABLES) -> None:
    """Create/replace one temp view per star table (idempotent; views are
    lazy — no data moves until a query runs). Updates the ``run_sql`` memo
    so a direct call here cannot leave a later ``run_sql`` trusting views
    that point at a different scale factor."""
    for t in tables:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    # partial registration (tables ⊂ STAR_TABLES) must NOT mark the whole
    # star fresh — only a full pass earns the memo entry
    if set(tables) == set(STAR_TABLES):
        _REGISTERED[id(spark)] = sf_dir
        _SESSIONS[id(spark)] = spark
    else:
        _REGISTERED.pop(id(spark), None)


#: last-registered sf_dir per SparkSession — registration is memoized
#: (ten driver-side schema reads per call otherwise) but re-runs whenever
#: the TARGET sf_dir changes, so views never go stale across scale factors
#: in one session. Keyed on the SESSION, not the applicationId: temp
#: views are per-session state, and a sibling from
#: ``spark.newSession()`` shares the appId but NOT the views.
#: WeakValueDictionary so dead sessions don't pin memo entries.
import weakref

_REGISTERED: dict[int, str] = {}
_SESSIONS: "weakref.WeakValueDictionary[int, SparkSession]" = \
    weakref.WeakValueDictionary()


def run_sql(spark: SparkSession, sf_dir: str, sql: str) -> DataFrame:
    key = id(spark)
    # prune memo entries whose session died (the weak map forgot them) —
    # without this the int-keyed dict grows with session churn and a
    # recycled id() could resurrect a stale sf_dir
    for k in [k for k in _REGISTERED if k not in _SESSIONS]:
        _REGISTERED.pop(k, None)
    # id() can be recycled after a session is garbage-collected; the weak
    # map proves the memo entry still describes THIS session object. A
    # direct register_star_views() call in between can also repoint views,
    # so verify a sentinel view actually exists before trusting the memo.
    fresh = (_REGISTERED.get(key) == sf_dir
             and _SESSIONS.get(key) is spark
             and spark.catalog.tableExists("region"))
    if not fresh:
        register_star_views(spark, sf_dir)
        _REGISTERED[key] = sf_dir
        _SESSIONS[key] = spark
    return spark.sql(sql)
