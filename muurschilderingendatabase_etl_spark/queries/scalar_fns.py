"""Scalar functions (SURVEY.md §2.3 'Scalar fns'): string, date, math,
conditional — all `pyspark.sql.functions` built-ins inside codegen.

The regexp_replace query reproduces the reference's RM-prefix strip
(transform_datamodel.py:93-96, SURVEY O12) as a declarative expression.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from muurschilderingendatabase_etl_spark.registry import query
from muurschilderingendatabase_etl_spark.tables import t


@query(
    "scalar_string_fns",
    oracle="""
    SELECT
      c_custkey,
      UPPER(c_mktsegment)                          AS seg_upper,
      SUBSTR(c_name, 10)                           AS cust_number,
      CONCAT(c_mktsegment, ':', c_name)            AS tagged,
      CAST(LENGTH(c_name) AS INT)                  AS name_len,
      REGEXP_REPLACE(c_name, '^Customer#0*', '')   AS short_id
    FROM customer
    WHERE c_custkey < 100
    """,
)
def scalar_string_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    # REGEXP_REPLACE('^Customer#0*') mirrors the reference's leading-"RM"
    # strip (transform_datamodel.py:93-96) — JVM-side, no Python UDF.
    return (
        t(spark, sf_dir, "customer")
        .where(F.col("c_custkey") < 100)
        .select(
            "c_custkey",
            F.upper("c_mktsegment").alias("seg_upper"),
            F.substr("c_name", F.lit(10)).alias("cust_number"),
            F.concat_ws(":", "c_mktsegment", "c_name").alias("tagged"),
            F.length("c_name").alias("name_len"),
            F.regexp_replace("c_name", "^Customer#0*", "").alias("short_id"),
        )
    )


@query(
    "scalar_date_fns",
    oracle="""
    SELECT
      CAST(EXTRACT(year FROM o_orderdate) AS BIGINT)  AS order_year,
      CAST(EXTRACT(month FROM o_orderdate) AS BIGINT) AS order_month,
      CAST(COUNT(*) AS BIGINT) AS n_orders,
      CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
        AS total
    FROM orders
    GROUP BY order_year, order_month
    """,
)
def scalar_date_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    # total rides the exact integer-cents money path (queries/money.py):
    # a month of orders is exactly the group size where ROUND(SUM(double))
    # starts flipping cents (the class seen at sf10 in agg_pricing_summary).
    from muurschilderingendatabase_etl_spark.queries import money

    return (
        t(spark, sf_dir, "orders")
        .groupBy(
            F.year("o_orderdate").cast("long").alias("order_year"),
            F.month("o_orderdate").cast("long").alias("order_month"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            money.sum_money(F.col("o_totalprice")).alias("total"),
        )
    )


@query(
    "scalar_date_trunc_diff",
    oracle="""
    SELECT
      strftime(date_trunc('month', l_shipdate), '%Y-%m-%d') AS ship_month,
      CAST(COUNT(*) AS BIGINT) AS n_lines,
      ROUND(AVG(date_diff('day', o_orderdate, l_shipdate)), 2) AS avg_ship_delay_days
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY ship_month
    """,
)
def scalar_date_trunc_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    joined = t(spark, sf_dir, "lineitem").join(
        t(spark, sf_dir, "orders"), F.col("l_orderkey") == F.col("o_orderkey")
    )
    return joined.groupBy(
        F.date_format(F.date_trunc("month", "l_shipdate"), "yyyy-MM-dd").alias("ship_month")
    ).agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.round(
            F.avg(F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))), 2
        ).alias("avg_ship_delay_days"),
    )


@query(
    "scalar_math_fns",
    oracle="""
    SELECT
      l_linenumber,
      ROUND(SUM(ABS(l_discount - 0.05)), 4)       AS sum_abs_dev,
      ROUND(SUM(CEIL(l_quantity)), 1)             AS sum_ceil_qty,
      ROUND(SUM(FLOOR(l_quantity)), 1)            AS sum_floor_qty,
      ROUND(SUM(SQRT(l_extendedprice)), 2)        AS sum_sqrt_price,
      ROUND(SUM(POWER(l_tax, 2)), 6)              AS sum_tax_sq,
      CAST(SUM(CAST(l_orderkey % 7 AS BIGINT)) AS BIGINT) AS sum_mod7
    FROM lineitem
    GROUP BY l_linenumber
    """,
)
def scalar_math_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documented OUT of the exact-cents money class: these sums
    aggregate irrational terms (SQRT of a price) or non-money rate
    statistics (squared tax, |discount - 0.05| deviation), where no
    integer-cents representation exists. Both engines sum the same
    doubles; the 4-6dp rounding granularity sits well above 1-ulp drift
    at these magnitudes, and any residual flip would be caught by the
    parity gate, not shipped silently."""
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_linenumber").agg(
        F.round(F.sum(F.abs(F.col("l_discount") - 0.05)), 4).alias("sum_abs_dev"),
        # Spark ceil/floor return LONG while DuckDB's return DOUBLE —
        # cast so the output schema matches the oracle exactly.
        F.round(F.sum(F.ceil("l_quantity")).cast("double"), 1).alias("sum_ceil_qty"),
        F.round(F.sum(F.floor("l_quantity")).cast("double"), 1).alias("sum_floor_qty"),
        F.round(F.sum(F.sqrt("l_extendedprice")), 2).alias("sum_sqrt_price"),
        F.round(F.sum(F.pow("l_tax", F.lit(2))), 6).alias("sum_tax_sq"),
        F.sum(F.col("l_orderkey") % 7).alias("sum_mod7"),
    )


@query(
    "scalar_conditional",
    oracle="""
    SELECT
      CASE
        WHEN o_totalprice < 50000 THEN 'low'
        WHEN o_totalprice < 200000 THEN 'mid'
        ELSE 'high'
      END AS price_tier,
      CAST(COUNT(*) AS BIGINT) AS n,
      ROUND(AVG(o_totalprice), 2) AS avg_price
    FROM orders
    GROUP BY price_tier
    """,
)
def scalar_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    tier = (
        F.when(F.col("o_totalprice") < 50_000, "low")
        .when(F.col("o_totalprice") < 200_000, "mid")
        .otherwise("high")
    )
    return (
        t(spark, sf_dir, "orders")
        .groupBy(tier.alias("price_tier"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("o_totalprice"), 2).alias("avg_price"),
        )
    )
