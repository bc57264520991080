"""Flagship query (SURVEY.md §7 milestone 0): revenue by nation.

lineitem ⋈ orders ⋈ customer ⋈ nation with a date-range filter, hash
aggregation over the join, descending sort — one plan exercising scan,
pushdown filter, three joins (one broadcast), partial+final agg, sort.

Scale notes: the lineitem→orders and orders→customer joins are shuffle
joins on their keys (AQE picks sort-merge vs shuffled-hash and handles
skew); nation is 25 rows at every SF and is broadcast explicitly. The
date predicate and 4-column projection push into the Parquet scan.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from muurschilderingendatabase_etl_spark.registry import query
from muurschilderingendatabase_etl_spark.tables import t

_ORACLE = """
SELECT
  n_name,
  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l_discount AS DECIMAL(4,2)))), 2)
       AS DOUBLE) AS revenue,
  COUNT(*) AS line_count
FROM lineitem
JOIN orders   ON l_orderkey  = o_orderkey
JOIN customer ON o_custkey   = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


@query("flagship_revenue_by_nation", oracle=_ORACLE)
def flagship_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    orders = (
        t(spark, sf_dir, "orders")
        .where(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .select("o_orderkey", "o_custkey")
    )
    customer = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = t(spark, sf_dir, "nation").select("n_nationkey", "n_name")

    # Revenue sums exactly on the integer-cents path — order-independent
    # at any corpus size (sibling double sums flipped a cent at sf10;
    # see queries.money and agg_pricing_summary).
    from muurschilderingendatabase_etl_spark.queries import money

    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            money.sum_disc_price(
                F.col("l_extendedprice"), F.col("l_discount")
            ).alias("revenue"),
            F.count(F.lit(1)).alias("line_count"),
        )
        .orderBy(F.desc("revenue"), "n_name")
    )
