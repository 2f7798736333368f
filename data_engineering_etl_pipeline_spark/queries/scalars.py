"""Scalar-function & classifier queries (SURVEY.md §2.8 F1-F18, §2.10 UD5):
date arithmetic, string functions, null handling, and the precedence
taxonomy classifier — all native column expressions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load_table
from ..relational import canonicalize
from ..taxonomy import classify_scalar_by_keywords
from . import register

# Precedence-ordered taxonomy over part types (star-schema analog of the
# reference's crypto category taxonomy, cg_attributes…py:45-80). Classified
# per-row inside scalar_function_suite (UD5), which checks every row's class
# rather than a per-class aggregate.
_PART_TAXONOMY = [
    ("Premium Metal", ["STEEL", "COPPER"]),
    ("Coated", ["ANODIZED", "PLATED", "POLISHED"]),
    ("Finished", ["BRUSHED", "BURNISHED"]),
]


@register(
    "scalar_function_suite",
    oracle="""
    SELECT 'orders' AS src, o_orderkey AS row_id,
           CAST(o_orderdate AS DATE) AS d,
           CAST(year(o_orderdate) AS INT) AS yr,
           CAST(month(o_orderdate) AS INT) AS mo,
           CAST(quarter(o_orderdate) AS INT) AS qtr,
           strftime(o_orderdate, '%Y-%m-01') AS month_key,
           CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
           CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s,
           NULL AS brand_u, CAST(NULL AS INT) AS name_len,
           CAST(NULL AS BOOLEAN) AS is_brushed, NULL AS first_word,
           CAST(NULL AS INT) AS n_vowels, CAST(NULL AS DOUBLE) AS price_round,
           NULL AS standard_category,
           NULL AS segment_canon, CAST(NULL AS DOUBLE) AS bal_or_null,
           CAST(NULL AS DOUBLE) AS bal_filled,
           CAST(NULL AS BOOLEAN) AS bal_is_null,
           CAST(NULL AS DOUBLE) AS seg_avg_nonnull
    FROM orders
    UNION ALL
    SELECT 'part' AS src, p_partkey AS row_id,
           CAST(NULL AS DATE) AS d, CAST(NULL AS INT) AS yr,
           CAST(NULL AS INT) AS mo, CAST(NULL AS INT) AS qtr,
           NULL AS month_key, CAST(NULL AS DATE) AS month_start,
           CAST(NULL AS BIGINT) AS epoch_s,
           upper(p_brand) AS brand_u,
           CAST(length(p_name) AS INT) AS name_len,
           contains(p_type, 'BRUSHED') AS is_brushed,
           string_split(p_name, ' ')[1] AS first_word,
           CAST(length(regexp_replace(p_name, '[^aeiou]', '', 'g')) AS INT) AS n_vowels,
           round(p_retailprice, 0) AS price_round,
           CASE
             WHEN contains(p_type, 'STEEL') OR contains(p_type, 'COPPER')
               THEN 'Premium Metal'
             WHEN contains(p_type, 'ANODIZED') OR contains(p_type, 'PLATED')
                  OR contains(p_type, 'POLISHED')
               THEN 'Coated'
             WHEN contains(p_type, 'BRUSHED') OR contains(p_type, 'BURNISHED')
               THEN 'Finished'
             ELSE 'Other'
           END AS standard_category,
           NULL AS segment_canon, CAST(NULL AS DOUBLE) AS bal_or_null,
           CAST(NULL AS DOUBLE) AS bal_filled,
           CAST(NULL AS BOOLEAN) AS bal_is_null,
           CAST(NULL AS DOUBLE) AS seg_avg_nonnull
    FROM part
    UNION ALL
    SELECT 'customer' AS src, c_custkey AS row_id,
           CAST(NULL AS DATE) AS d, CAST(NULL AS INT) AS yr,
           CAST(NULL AS INT) AS mo, CAST(NULL AS INT) AS qtr,
           NULL AS month_key, CAST(NULL AS DATE) AS month_start,
           CAST(NULL AS BIGINT) AS epoch_s,
           NULL AS brand_u, CAST(NULL AS INT) AS name_len,
           CAST(NULL AS BOOLEAN) AS is_brushed, NULL AS first_word,
           CAST(NULL AS INT) AS n_vowels, CAST(NULL AS DOUBLE) AS price_round,
           NULL AS standard_category,
           COALESCE(CASE c_mktsegment WHEN 'BUILDING' THEN 'B2B'
                                      WHEN 'AUTOMOBILE' THEN 'CONSUMER'
                    END, c_mktsegment) AS segment_canon,
           CASE WHEN c_acctbal < 0 THEN NULL
                ELSE c_acctbal END AS bal_or_null,
           COALESCE(CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END,
                    0.0) AS bal_filled,
           (CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END) IS NULL
             AS bal_is_null,
           ROUND(AVG(CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END)
                   OVER (PARTITION BY
                     COALESCE(CASE c_mktsegment WHEN 'BUILDING' THEN 'B2B'
                                                WHEN 'AUTOMOBILE' THEN 'CONSUMER'
                              END, c_mktsegment)), 4) AS seg_avg_nonnull
    FROM customer
    """,
)
def scalar_function_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1-F12/F16 scalar-function suite plus the UD5 precedence taxonomy
    and the P8/P9/P11/F17/F18 null-handling family in one registry row
    (one slot under the driver's 50-entry cap; the classifier and the
    null-handling columns are checked per-row here — strictly stronger
    than per-class/per-segment aggregates).

    Date family on orders (reference pd.to_datetime().dt
    pipeline_helpers.py:213,243; month truncation universe…py:153;
    'YYYY-MM-01' formatting universe…py:170; epoch arithmetic :223-238 —
    UTC session TZ keeps epoch values oracle-identical) united by name with
    the string/math family on part (upper/length/contains/split-index/regex/
    round — reference historical_data_etl.py:120, cg_attributes…py:100,
    test_data_integrity.py:86) and the null-handling family on customer
    (conditional nulling, dict-map canonicalization with fallback —
    reference col.map(m).fillna(col), historical_data_etl.py:186 —
    fillna-zero, per-cell null test). The union itself is U1/A11
    (unionByName(allowMissingColumns=True), the reference's pd.concat of
    heterogeneous per-source frames with null-filled missing columns)."""
    o = load_table(spark, sf_dir, "orders")
    p = load_table(spark, sf_dir, "part")
    c = load_table(spark, sf_dir, "customer")
    dates = o.select(
        F.lit("orders").alias("src"),
        F.col("o_orderkey").alias("row_id"),
        F.to_date("o_orderdate").alias("d"),
        F.year("o_orderdate").cast("int").alias("yr"),
        F.month("o_orderdate").cast("int").alias("mo"),
        F.quarter("o_orderdate").cast("int").alias("qtr"),
        F.date_format("o_orderdate", "yyyy-MM-01").alias("month_key"),
        F.trunc("o_orderdate", "MM").alias("month_start"),
        F.unix_timestamp("o_orderdate").alias("epoch_s"),
    )
    strings = p.select(
        F.lit("part").alias("src"),
        F.col("p_partkey").alias("row_id"),
        F.upper("p_brand").alias("brand_u"),
        F.length("p_name").cast("int").alias("name_len"),
        F.col("p_type").contains("BRUSHED").alias("is_brushed"),
        F.split(F.col("p_name"), " ").getItem(0).alias("first_word"),
        F.length(F.regexp_replace("p_name", "[^aeiou]", "")).cast("int").alias("n_vowels"),
        F.round("p_retailprice", 0).alias("price_round"),
        classify_scalar_by_keywords("p_type", _PART_TAXONOMY, default="Other")
        .alias("standard_category"),
    )
    nulls = canonicalize(
        c.withColumn(
            "bal_or_null",
            F.when(F.col("c_acctbal") < 0, F.lit(None))
            .otherwise(F.col("c_acctbal"))),
        "c_mktsegment", {"BUILDING": "B2B", "AUTOMOBILE": "CONSUMER"},
        out_col="segment_canon",
    ).select(
        F.lit("customer").alias("src"),
        F.col("c_custkey").alias("row_id"),
        "segment_canon",
        "bal_or_null",
        F.coalesce("bal_or_null", F.lit(0.0)).alias("bal_filled"),
        F.col("bal_or_null").isNull().alias("bal_is_null"),
        # null-SKIPPING aggregation semantics stay oracle-pinned: a
        # per-segment AVG, kept as a per-row window aggregate so the
        # per-row check covers it
        F.round(F.avg("bal_or_null").over(
            Window.partitionBy("segment_canon")), 4).alias("seg_avg_nonnull"),
    )
    return (dates.unionByName(strings, allowMissingColumns=True)
            .unionByName(nulls, allowMissingColumns=True))


