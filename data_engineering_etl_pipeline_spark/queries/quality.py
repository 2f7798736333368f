"""Quality-gate & audit queries (SURVEY.md §3 E3, §5) on the star schema:
the reference's circuit-breaker gate and pytest data-integrity invariants as
distributed queries (empty / summary results = healthy).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..audits import backfill_bias, repaint_check
from ..io import load_table
from ..quality_gate import gate_report
from ..windows import long_short_factor, w_entity
from . import register


@register(
    "quality_gate_summary",
    oracle="""
    SELECT COUNT(*) AS total_rows,
           CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 0.08
                      OR l_quantity <= 0 OR l_extendedprice <= 0
                    THEN 1 ELSE 0 END) AS BIGINT) AS violation_rows,
           ROUND(100.0 * SUM(CASE WHEN l_discount < 0 OR l_discount > 0.08
                                    OR l_quantity <= 0 OR l_extendedprice <= 0
                                  THEN 1 ELSE 0 END) / COUNT(*), 6) AS loss_pct,
           (100.0 * SUM(CASE WHEN l_discount < 0 OR l_discount > 0.08
                               OR l_quantity <= 0 OR l_extendedprice <= 0
                             THEN 1 ELSE 0 END) / COUNT(*)) > 5.0 AS breaker_tripped
    FROM lineitem
    """,
)
def quality_gate_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 gate decision as one aggregate pass (reference
    data_quality_gate.py:46-61,101-110): row-validity predicate → violation
    count, loss %, and whether the 5% circuit breaker would trip."""
    li = load_table(spark, sf_dir, "lineitem")
    bad = (
        (F.col("l_discount") < 0) | (F.col("l_discount") > 0.08)
        | (F.col("l_quantity") <= 0) | (F.col("l_extendedprice") <= 0)
    )
    return gate_report(li, bad, max_loss_pct=5.0)


@register(
    "backfill_bias_audit",
    oracle="""
    WITH old_v AS (
      SELECT o_custkey, MIN(o_orderdate) AS old_min_date
      FROM orders WHERE o_orderkey % 97 <> 0 GROUP BY 1
    ), new_v AS (
      SELECT o_custkey, MIN(o_orderdate) AS new_min_date
      FROM orders GROUP BY 1
    )
    SELECT o.o_custkey, o.old_min_date, n.new_min_date
    FROM old_v o JOIN new_v n USING (o_custkey)
    WHERE n.new_min_date < o.old_min_date
    """,
)
def backfill_bias_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8 backfill-bias audit (reference test_data_integrity.py:54-68): an
    entity's earliest date must not move earlier between snapshot versions.
    'Old' snapshot simulated deterministically by dropping every 97th order."""
    orders = load_table(spark, sf_dir, "orders")
    old = orders.filter(F.col("o_orderkey") % 97 != 0)
    return backfill_bias(old, orders, "o_custkey", "o_orderdate")


@register(
    "repaint_audit",
    oracle="""
    WITH old_v AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 101 = 0 THEN o_totalprice * 1.001
                  ELSE o_totalprice END AS old_o_totalprice
      FROM orders
    )
    SELECT n.o_orderkey,
           ROUND(o.old_o_totalprice, 6) AS old_price,
           ROUND(n.o_totalprice, 6) AS new_price
    FROM old_v o JOIN orders n USING (o_orderkey)
    WHERE (o.old_o_totalprice IS NULL) <> (n.o_totalprice IS NULL)
       OR ABS(o.old_o_totalprice - n.o_totalprice) > 1e-9
    """,
)
def repaint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7 historical-immutability audit (reference
    test_data_integrity.py:125-161): aligned cells must not change between
    versions. 'Old' version has every 101st price deterministically
    perturbed so the audit has positives."""
    orders = load_table(spark, sf_dir, "orders")
    old = orders.select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 101 == 0, F.col("o_totalprice") * 1.001)
         .otherwise(F.col("o_totalprice")).alias("o_totalprice"),
    )
    out = repaint_check(old, orders, ["o_orderkey"], ["o_totalprice"], tol=1e-9)
    # round-6 is lossless for price*1.001 (≤5 decimals); round-4 would sit
    # exactly on half-boundaries where engine rounding of doubles diverges.
    return out.select(
        "o_orderkey",
        F.round("old_o_totalprice", 6).alias("old_price"),
        F.round("new_o_totalprice", 6).alias("new_price"),
    )


# P12/U5 row-level dedup (reference set-based dedup,
# historical_data_etl.py:132) is driver-checked through `doc_exact_dedup`
# (hash-groupBy dedup with injected duplicates).


# Decimal length of a 2-dp price, computed EXACTLY cross-engine: cents =
# round(x*100) recovers the integer cents (FP error << 0.5), then divisibility
# gives the count. String-formatting doubles (the reference's
# astype(str).split('.') at test_data_integrity.py:86) is NOT portable between
# Spark and DuckDB — this integer construction is.
_CENTS = "CAST(ROUND(o_totalprice * 100) AS BIGINT)"
_DEC_SQL = (f"CASE WHEN {_CENTS} % 100 = 0 THEN 0 "
            f"WHEN {_CENTS} % 10 = 0 THEN 1 ELSE 2 END")


@register(
    "precision_stability_audit",
    oracle=f"""
    WITH dec AS (
      SELECT o_custkey, {_DEC_SQL} AS d,
             ROW_NUMBER() OVER w AS rn, COUNT(*) OVER (PARTITION BY o_custkey) AS n
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ), halves AS (
      SELECT o_custkey, CASE WHEN rn * 2 <= n THEN 1 ELSE 2 END AS half, d
      FROM dec
    ), moments AS (
      SELECT o_custkey, half, COUNT(*) AS n,
             SUM(d) AS s1, SUM(d * d) AS s2
      FROM halves GROUP BY 1, 2
    ), wide AS (
      SELECT a.o_custkey,
             a.n AS n1, b.n AS n2,
             a.s1 * 1.0 / a.n AS m1, b.s1 * 1.0 / b.n AS m2,
             (a.s2 - a.s1 * 1.0 * a.s1 / a.n) / (a.n - 1) AS v1,
             (b.s2 - b.s1 * 1.0 * b.s1 / b.n) / (b.n - 1) AS v2
      FROM moments a JOIN moments b USING (o_custkey)
      WHERE a.half = 1 AND b.half = 2 AND a.n >= 2 AND b.n >= 2
    )
    SELECT o_custkey, n1, n2,
           ROUND(m1, 6) AS mean_dec_h1, ROUND(m2, 6) AS mean_dec_h2,
           ROUND(CASE WHEN v1 / n1 + v2 / n2 > 0
                      THEN (m1 - m2) / SQRT(v1 / n1 + v2 / n2) END, 4) + 0.0
             AS welch_t
    FROM wide
    """,
)
def precision_stability_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§5 precision-stability audit (reference test_data_integrity.py:77-94,
    205-227): Welch t-test of price decimal-length between the first and
    second half of each entity's ordered history — silent precision drift
    shows up as |t| >> 0. Moments from EXACT integer sums (decimal counts are
    small ints) so Spark and the oracle agree bit-for-bit before the final
    double division; the t-stat itself assembles driver-free in one pass."""
    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    d = (F.when(cents % 100 == 0, 0).when(cents % 10 == 0, 1).otherwise(2)
         .alias("d"))
    w = w_entity("o_custkey", ["o_orderdate", "o_orderkey"])
    wn = Window.partitionBy("o_custkey")
    dec = o.select("o_custkey", d,
                   F.row_number().over(w).alias("rn"),
                   F.count(F.lit(1)).over(wn).alias("n"))
    halves = dec.select(
        "o_custkey",
        F.when(F.col("rn") * 2 <= F.col("n"), 1).otherwise(2).alias("half"),
        "d")
    m = (halves.groupBy("o_custkey", "half")
         .agg(F.count(F.lit(1)).alias("n"),
              F.sum("d").alias("s1"),
              F.sum(F.col("d") * F.col("d")).alias("s2")))
    a = m.filter((F.col("half") == 1) & (F.col("n") >= 2)).select(
        "o_custkey", F.col("n").alias("n1"),
        F.col("s1").alias("a1"), F.col("s2").alias("a2"))
    b = m.filter((F.col("half") == 2) & (F.col("n") >= 2)).select(
        "o_custkey", F.col("n").alias("n2"),
        F.col("s1").alias("b1"), F.col("s2").alias("b2"))
    wide = a.join(b, "o_custkey")
    m1 = F.col("a1") * 1.0 / F.col("n1")
    m2 = F.col("b1") * 1.0 / F.col("n2")
    v1 = (F.col("a2") - F.col("a1") * 1.0 * F.col("a1") / F.col("n1")) / (F.col("n1") - 1)
    v2 = (F.col("b2") - F.col("b1") * 1.0 * F.col("b1") / F.col("n2")) / (F.col("n2") - 1)
    se2 = v1 / F.col("n1") + v2 / F.col("n2")
    return wide.select(
        "o_custkey", "n1", "n2",
        F.round(m1, 6).alias("mean_dec_h1"),
        F.round(m2, 6).alias("mean_dec_h2"),
        (F.round(F.when(se2 > 0, (m1 - m2) / F.sqrt(se2)), 4) + F.lit(0.0))
        .alias("welch_t"),
    )


@register(
    "error_predictability_audit",
    oracle="""
    WITH ret AS (
      SELECT l_shipdate, l_discount, l_quantity, l_extendedprice,
             LEAD(l_extendedprice, 1) OVER (
               PARTITION BY l_suppkey
               ORDER BY l_shipdate, l_orderkey, l_linenumber)
             / l_extendedprice - 1 AS fwd_ret
      FROM lineitem
    ), daily AS (
      SELECT l_shipdate, AVG(fwd_ret) AS err_ret
      FROM ret
      WHERE l_discount > 0.06 AND fwd_ret IS NOT NULL
      GROUP BY 1
    )
    SELECT COUNT(*) AS n_days,
           ROUND(AVG(err_ret), 6) + 0.0 AS mean_daily_ret,
           ROUND(AVG(err_ret) / (STDDEV_SAMP(err_ret) / SQRT(COUNT(*))), 4)
             + 0.0 AS t_stat,
           ROUND(AVG(err_ret) / STDDEV_SAMP(err_ret) * SQRT(365), 4) + 0.0
             AS ann_sharpe
    FROM daily
    """,
)
def error_predictability_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§5 'trade the bug' audit (reference test_data_integrity.py:229-264):
    rows flagged by a quality predicate must not predict next-period returns.
    Pipeline: per-entity forward return (W4 lead) → per-day mean over error
    rows only (A8) → whole-series t-stat and annualized Sharpe from moments
    (A9), all in one lazy chain — the reference computes the same via scipy
    on collected arrays; here the moments never leave the cluster."""
    li = load_table(spark, sf_dir, "lineitem")
    w = w_entity("l_suppkey", ["l_shipdate", "l_orderkey", "l_linenumber"])
    ret = li.select(
        "l_shipdate", "l_discount",
        (F.lead("l_extendedprice", 1).over(w) / F.col("l_extendedprice") - 1)
        .alias("fwd_ret"))
    daily = (ret.filter((F.col("l_discount") > 0.06) & F.col("fwd_ret").isNotNull())
             .groupBy("l_shipdate")
             .agg(F.avg("fwd_ret").alias("err_ret")))
    mean, sd, n = F.avg("err_ret"), F.stddev_samp("err_ret"), F.count(F.lit(1))
    return daily.agg(
        n.alias("n_days"),
        (F.round(mean, 6) + F.lit(0.0)).alias("mean_daily_ret"),
        (F.round(mean / (sd / F.sqrt(n)), 4) + F.lit(0.0)).alias("t_stat"),
        (F.round(mean / sd * F.sqrt(F.lit(365.0)), 4) + F.lit(0.0)).alias("ann_sharpe"),
    )


_HML_VARIANT_SQL = """
      SELECT l_shipdate,
             CASE WHEN COUNT(*) >= 10 THEN
               AVG(CASE WHEN pr >= 0.7 THEN l_discount END)
               - AVG(CASE WHEN pr <= 0.3 THEN l_discount END)
             END AS factor
      FROM {src} GROUP BY l_shipdate
"""


@register(
    "hml_lag_compliance",
    oracle=f"""
    WITH lagged AS (
      SELECT l_shipdate, l_discount,
             LAG(l_extendedprice, 1) OVER (
               PARTITION BY l_suppkey
               ORDER BY l_shipdate, l_orderkey, l_linenumber) AS pit_score
      FROM lineitem
    ), stored_pr AS (
      SELECT l_shipdate, l_discount,
             PERCENT_RANK() OVER (PARTITION BY l_shipdate
                                  ORDER BY l_extendedprice ASC) AS pr
      FROM lineitem
    ), pit_pr AS (
      SELECT l_shipdate, l_discount,
             PERCENT_RANK() OVER (PARTITION BY l_shipdate
                                  ORDER BY pit_score ASC) AS pr
      FROM lagged WHERE pit_score IS NOT NULL
    ), stored_f AS ({_HML_VARIANT_SQL.format(src='stored_pr')}),
    pit_f AS ({_HML_VARIANT_SQL.format(src='pit_pr')})
    SELECT CAST(COALESCE(s.l_shipdate, p.l_shipdate) AS DATE) AS d,
           ROUND(s.factor, 6) + 0.0 AS factor_stored,
           ROUND(p.factor, 6) + 0.0 AS factor_pit,
           CASE WHEN s.factor IS NULL AND p.factor IS NULL THEN FALSE
                WHEN s.factor IS NULL OR p.factor IS NULL THEN TRUE
                ELSE ABS(s.factor - p.factor) > 1e-9 END AS lookahead_flag
    FROM stored_f s FULL OUTER JOIN pit_f p USING (l_shipdate)
    """,
)
def hml_lag_compliance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§5 publication-lag compliance (reference test_data_integrity.py:266-297):
    recompute the long-short factor with a strictly lagged (point-in-time)
    signal and diff against the stored factor at 1e-9 — any date where they
    differ used same-day information. Both variants are one percent_rank +
    conditional-avg pass (A10); the diff is a full-outer date join."""
    li = load_table(spark, sf_dir, "lineitem")
    w = w_entity("l_suppkey", ["l_shipdate", "l_orderkey", "l_linenumber"])
    lagged = li.select(
        "l_shipdate", "l_discount",
        F.lag("l_extendedprice", 1).over(w).alias("pit_score"),
    ).filter(F.col("pit_score").isNotNull())
    stored = (long_short_factor(li, "l_shipdate", "l_extendedprice",
                                "l_discount", frac=0.3, min_group=10)
              .withColumnRenamed("factor", "factor_stored"))
    pit = (long_short_factor(lagged, "l_shipdate", "pit_score",
                             "l_discount", frac=0.3, min_group=10)
           .withColumnRenamed("factor", "factor_pit"))
    joined = stored.join(pit, "l_shipdate", "full_outer")
    s, p = F.col("factor_stored"), F.col("factor_pit")
    return joined.select(
        F.to_date("l_shipdate").alias("d"),
        (F.round(s, 6) + F.lit(0.0)).alias("factor_stored"),
        (F.round(p, 6) + F.lit(0.0)).alias("factor_pit"),
        F.when(s.isNull() & p.isNull(), F.lit(False))
         .when(s.isNull() | p.isNull(), F.lit(True))
         .otherwise(F.abs(s - p) > 1e-9).alias("lookahead_flag"),
    )
