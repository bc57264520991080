"""Spark SQL text API (north star: "DataFrame transformations + Spark
SQL"). The rest of the suite exercises the DataFrame API; these queries
run as SQL text through ``spark.sql`` over registered temp views —
identical Catalyst plans, second front door.

Also here: the salted two-phase aggregation pattern (the hand-rolled
skew-mitigation every 100-TB pipeline eventually needs when one group
key dominates: pre-aggregate on (key, salt), then combine on key — the
heavy key's rows spread over N salt buckets instead of one reducer) and
ordered string_agg.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from muurschilderingendatabase_etl_spark.registry import query
from muurschilderingendatabase_etl_spark.tables import t

_N_SALT = 16


def _view(spark: SparkSession, sf_dir: str, name: str) -> None:
    t(spark, sf_dir, name).createOrReplaceTempView(name)


@query(
    "sql_shipping_priority",
    oracle="""
    SELECT l_orderkey,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                          * (1 - CAST(l_discount AS DECIMAL(4,2)))), 2)
                AS DOUBLE) AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
           o_orderpriority AS orderpriority
    FROM customer, orders, lineitem
    WHERE c_mktsegment = 'BUILDING'
      AND c_custkey = o_custkey
      AND l_orderkey = o_orderkey
      AND o_orderdate < DATE '1997-03-15'
      AND l_shipdate > DATE '1997-03-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
)
def sql_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape, submitted as SQL text via spark.sql.

    Revenue rides the exact integer-cents path (queries.money): here a
    1-ulp cent flip wouldn't just flip a cell, it could reorder the
    ORDER BY revenue LIMIT 10 answer SET."""
    for name in ("customer", "orders", "lineitem"):
        _view(spark, sf_dir, name)
    from muurschilderingendatabase_etl_spark.queries.money import (
        SQL_SUM_DISC_PRICE,
    )

    return spark.sql(
        f"""
        SELECT l_orderkey,
               {SQL_SUM_DISC_PRICE} AS revenue,
               date_format(o_orderdate, 'yyyy-MM-dd') AS orderdate,
               o_orderpriority AS orderpriority
        FROM customer, orders, lineitem
        WHERE c_mktsegment = 'BUILDING'
          AND c_custkey = o_custkey
          AND l_orderkey = o_orderkey
          AND o_orderdate < DATE '1997-03-15'
          AND l_shipdate > DATE '1997-03-15'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, o_orderdate, l_orderkey
        LIMIT 10
        """
    )


@query(
    "sql_local_supplier_volume",
    oracle="""
    SELECT n_name,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                          * (1 - CAST(l_discount AS DECIMAL(4,2)))), 2)
                AS DOUBLE) AS revenue
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey
      AND l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey
      AND c_nationkey = s_nationkey
      AND s_nationkey = n_nationkey
      AND n_regionkey = r_regionkey
      AND r_name = 'ASIA'
      AND o_orderdate >= DATE '1996-01-01'
      AND o_orderdate < DATE '1997-01-01'
    GROUP BY n_name
    ORDER BY revenue DESC
    """,
)
def sql_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape (6-way join) as SQL text — Catalyst picks the join
    order and broadcasts the dims; no hand-scheduling."""
    for name in ("customer", "orders", "lineitem", "supplier", "nation", "region"):
        _view(spark, sf_dir, name)
    # Revenue sums exactly on the integer-cents path (see queries.money;
    # the oracle keeps the clearer all-DECIMAL spelling — same exact
    # rational on both sides).
    from muurschilderingendatabase_etl_spark.queries.money import (
        SQL_SUM_DISC_PRICE,
    )

    return spark.sql(
        f"""
        SELECT n_name,
               {SQL_SUM_DISC_PRICE} AS revenue
        FROM customer, orders, lineitem, supplier, nation, region
        WHERE c_custkey = o_custkey
          AND l_orderkey = o_orderkey
          AND l_suppkey = s_suppkey
          AND c_nationkey = s_nationkey
          AND s_nationkey = n_nationkey
          AND n_regionkey = r_regionkey
          AND r_name = 'ASIA'
          AND o_orderdate >= DATE '1996-01-01'
          AND o_orderdate < DATE '1997-01-01'
        GROUP BY n_name
        ORDER BY revenue DESC
        """
    )


@query(
    "agg_salted_two_phase",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE)
             AS total
    FROM events
    GROUP BY event_type
    """,
)
def agg_salted_two_phase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-phase aggregation: phase 1 groups on (key, salt) so a
    dominant key spreads over _N_SALT reducers, phase 2 combines the
    partials per key. Result is identical to the direct groupBy (the
    oracle IS the direct groupBy) — exactly, because the partials carry
    integer cents (queries.money): raw double partials would make the
    total depend on the salt fan-out's summation order."""
    from muurschilderingendatabase_etl_spark.queries import money

    ev = t(spark, sf_dir, "events").withColumn(
        "salt", (F.rand(seed=7) * _N_SALT).cast("int")
    )
    partial = ev.groupBy("event_type", "salt").agg(
        F.count(F.lit(1)).alias("pn"),
        F.sum(money.cents(F.col("value")).cast("decimal(20,0)")).alias(
            "psum_cents"
        ),
    )
    return partial.groupBy("event_type").agg(
        F.sum("pn").alias("n"),
        F.round(F.sum("psum_cents") / 100, 2).cast("double").alias("total"),
    )


@query(
    "agg_string_agg_ordered",
    oracle="""
    SELECT r_regionkey,
           string_agg(n_name, ',' ORDER BY n_name) AS nations
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_regionkey
    """,
)
def agg_string_agg_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation: collect_list → array_sort →
    concat_ws (deterministic regardless of row arrival order)."""
    joined = t(spark, sf_dir, "nation").join(
        F.broadcast(t(spark, sf_dir, "region")),
        F.col("n_regionkey") == F.col("r_regionkey"),
    )
    return joined.groupBy("r_regionkey").agg(
        F.concat_ws(",", F.array_sort(F.collect_list("n_name"))).alias("nations")
    )


@query(
    "sql_recursive_closure",
    oracle="""
    WITH RECURSIVE d(k, depth) AS (
      SELECT CAST(1 AS BIGINT) AS k, CAST(0 AS BIGINT) AS depth
      UNION ALL
      SELECT s.s_suppkey, d.depth + 1
      FROM supplier s JOIN d ON CAST(s.s_suppkey // 2 AS BIGINT) = d.k
      WHERE s.s_suppkey >= 2
    )
    SELECT depth, CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM d GROUP BY depth ORDER BY depth
    """,
)
def sql_recursive_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE (Spark 4 SQL): transitive closure over the
    implicit binary tree on supplier keys (parent = key div 2),
    returning node counts per depth.

    Scale shape: each recursion step is one equi-join of the frontier
    against the (pushdown-filtered) supplier scan — state is the
    frontier, not the closure, and Catalyst plans every step. Recursion
    depth is O(log n) HERE because the tree is balanced; for arbitrary
    deep graphs the DataFrame pointer-jumping in
    dedup_connected_components (O(log diameter) rounds) is the engine's
    preferred formulation — this query is the SQL-front-door twin."""
    _view(spark, sf_dir, "supplier")
    return spark.sql(
        """
        WITH RECURSIVE d(k, depth) AS (
          SELECT CAST(1 AS BIGINT) AS k, CAST(0 AS BIGINT) AS depth
          UNION ALL
          SELECT s.s_suppkey, d.depth + 1
          FROM supplier s JOIN d ON CAST(s.s_suppkey DIV 2 AS BIGINT) = d.k
          WHERE s.s_suppkey >= 2
        )
        SELECT depth, CAST(COUNT(*) AS BIGINT) AS n_nodes
        FROM d GROUP BY depth ORDER BY depth
        """
    )
