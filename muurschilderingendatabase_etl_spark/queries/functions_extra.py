"""Scalar/aggregate function coverage beyond the core set (SURVEY.md
§2.3 'Scalar fns' / 'Aggregation'): argmin/argmax aggregates, conditional
aggregates, calendar arithmetic, array higher-order functions, regexp
group extraction, and null-handling combinators.

All pure built-ins inside whole-stage codegen; every computed column is
aliased identically on both sides of the oracle per the repo convention.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from muurschilderingendatabase_etl_spark.registry import query
from muurschilderingendatabase_etl_spark.tables import t


@query(
    "agg_min_by_max_by",
    oracle="""
    SELECT o_custkey,
           arg_min(o_orderkey,
                   lpad(CAST(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)
                             AS VARCHAR), 12, '0')
                   || lpad(CAST(o_orderkey AS VARCHAR), 12, '0'))
             AS cheapest_order,
           arg_max(o_orderkey,
                   lpad(CAST(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)
                             AS VARCHAR), 12, '0')
                   || lpad(CAST(o_orderkey AS VARCHAR), 12, '0'))
             AS priciest_order,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders
    GROUP BY o_custkey
    HAVING COUNT(*) >= 2
    """,
)
def agg_min_by_max_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """min_by/max_by (argmin/argmax) — fetch the extreme row's OTHER
    column without a self-join or window.

    The ordering key is the STRUCT (price-in-cents, orderkey), NOT the
    raw price: min_by under a tie returns an engine-arbitrary row, and
    an sf10 parity check caught exactly that — with 1.5M customers
    the cent-quantized price space collides within a customer a couple
    of times per corpus, and Spark and DuckDB picked different orders.
    The composite key is a total order, so the argmin is well-defined
    at every scale on both engines. Spark orders structs
    lexicographically, so MIN(struct).k IS the argmin and stays on
    vectorized integer comparison (the first fix encoded the key as a
    zero-padded string on both sides; 1.7x slower from per-row lpad).
    The ORACLE keeps the zero-padded-string arg_min — the identical
    total order for non-negative ints inside the pad width — because
    DuckDB's arg_min accepts no struct ordering and its struct MIN/MAX
    holds per-group struct state (120 GB OOM at sf10), while the
    string arg_min verified fine there.

    NULL prices: a struct with a NULL field still participates in
    Spark's MIN and sorts smallest, while arg_min skips NULL keys — so
    the key is NULLed wholesale when the price is NULL (MIN/MAX ignore
    NULL inputs), matching arg_min's skip semantics exactly."""
    key = F.when(
        F.col("o_totalprice").isNotNull(),
        F.struct(
            F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("p"),
            F.col("o_orderkey").alias("k"),
        ),
    )
    return (
        t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.min(key)["k"].alias("cheapest_order"),
            F.max(key)["k"].alias("priciest_order"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .where(F.col("n_orders") >= 2)
    )


@query(
    "agg_conditional",
    oracle="""
    SELECT l_returnflag,
           CAST(count_if(l_discount > 0.05) AS BIGINT)     AS n_discounted,
           bool_or(l_quantity > 49)                        AS any_bulk,
           bool_and(l_extendedprice > 0)                   AS all_positive,
           CAST(COUNT(*) AS BIGINT)                        AS n
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count_if(F.col("l_discount") > 0.05).alias("n_discounted"),
        F.bool_or(F.col("l_quantity") > 49).alias("any_bulk"),
        F.bool_and(F.col("l_extendedprice") > 0).alias("all_positive"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "scalar_calendar_arith",
    oracle="""
    SELECT o_orderkey,
           strftime(o_orderdate + INTERVAL 3 MONTH, '%Y-%m-%d')  AS plus_3_months,
           strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_end,
           ROUND(12 * (EXTRACT(year FROM TIMESTAMP '1998-06-15')
                       - EXTRACT(year FROM o_orderdate))
                 + (EXTRACT(month FROM TIMESTAMP '1998-06-15')
                    - EXTRACT(month FROM o_orderdate))
                 + (15 - EXTRACT(day FROM o_orderdate)) / 31.0, 4) AS months_to_ref,
           CAST(EXTRACT(quarter FROM o_orderdate) AS INT) AS q,
           CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow
    FROM orders
    WHERE o_orderkey < 200
    """,
)
def scalar_calendar_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar arithmetic: add_months / last_day / months_between /
    quarter / dayofweek. months_between's day-fraction convention (/31,
    day-of-month difference) is reproduced arithmetically in the oracle;
    the reference date's day (15) avoids both engines' end-of-month
    special cases. DuckDB's dayofweek is 0-based Sunday, Spark's is
    1-based Sunday — hence the +1."""
    o = t(spark, sf_dir, "orders").where(F.col("o_orderkey") < 200)
    return o.select(
        "o_orderkey",
        F.date_format(F.add_months("o_orderdate", 3), "yyyy-MM-dd").alias(
            "plus_3_months"
        ),
        F.date_format(F.last_day("o_orderdate"), "yyyy-MM-dd").alias("month_end"),
        F.round(
            F.months_between(F.lit("1998-06-15").cast("timestamp"), "o_orderdate"), 4
        ).alias("months_to_ref"),
        F.quarter("o_orderdate").alias("q"),
        F.dayofweek("o_orderdate").alias("dow"),
    )


@query(
    "array_higher_order",
    oracle="""
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS words FROM documents
      WHERE doc_id < 100
    )
    SELECT doc_id,
           CAST(len(list_filter(words, x -> length(x) > 6)) AS INT) AS n_long,
           EXISTS (SELECT 1 FROM unnest(words) AS u(x) WHERE length(x) > 10)
             AS has_very_long,
           CAST(list_aggregate(list_transform(words, x -> length(x)), 'sum')
                AS BIGINT) AS total_chars
    FROM w
    """,
)
def array_higher_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array higher-order functions: filter / exists / transform+aggregate
    — per-row set processing without explode (no row blow-up, stays in
    codegen)."""
    docs = (
        t(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 100)
        .select("doc_id", F.split("text", " ").alias("words"))
    )
    return docs.select(
        "doc_id",
        F.size(F.filter("words", lambda x: F.length(x) > 6)).alias("n_long"),
        F.exists("words", lambda x: F.length(x) > 10).alias("has_very_long"),
        F.aggregate(
            F.transform("words", lambda x: F.length(x).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, n: acc + n,
        ).alias("total_chars"),
    )


@query(
    "scalar_regexp_extract",
    oracle="""
    SELECT c_custkey,
           regexp_extract(c_name, 'Customer#(0*)([1-9][0-9]*)', 2) AS cust_num,
           CAST(length(regexp_extract(c_name, 'Customer#(0*)([1-9][0-9]*)', 1))
                AS INT) AS n_leading_zeros
    FROM customer
    WHERE c_custkey BETWEEN 1 AND 300
    """,
)
def scalar_regexp_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """regexp_extract with capture groups (reference's key-normalization
    pattern, generalized)."""
    c = t(spark, sf_dir, "customer").where(F.col("c_custkey").between(1, 300))
    pat = r"Customer#(0*)([1-9][0-9]*)"
    return c.select(
        "c_custkey",
        F.regexp_extract("c_name", pat, 2).alias("cust_num"),
        F.length(F.regexp_extract("c_name", pat, 1)).alias("n_leading_zeros"),
    )


@query(
    "scalar_null_combinators",
    oracle="""
    SELECT e.event_id,
           COALESCE(c.c_name, 'anonymous') AS who,
           nullif(e.event_type, 'error')   AS non_error_type,
           CASE WHEN c.c_custkey IS NOT NULL THEN 'known' ELSE 'unknown' END
             AS visitor_class,
           ifnull(CAST(c.c_custkey AS BIGINT), -1) AS custkey_or_default
    FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
    WHERE e.event_id < 500
    """,
)
def scalar_null_combinators(spark: SparkSession, sf_dir: str) -> DataFrame:
    """coalesce / nullif / nvl2-style / ifnull over an outer join's null
    stream — the null-handling surface on realistically null data."""
    ev = t(spark, sf_dir, "events").where(F.col("event_id") < 500)
    c = t(spark, sf_dir, "customer")
    j = ev.join(c, ev.user_id == c.c_custkey, "left")
    return j.select(
        "event_id",
        F.coalesce("c_name", F.lit("anonymous")).alias("who"),
        F.nullif("event_type", F.lit("error")).alias("non_error_type"),
        F.when(F.col("c_custkey").isNotNull(), "known")
        .otherwise("unknown")
        .alias("visitor_class"),
        F.ifnull(F.col("c_custkey").cast("long"), F.lit(-1)).alias(
            "custkey_or_default"
        ),
    )
