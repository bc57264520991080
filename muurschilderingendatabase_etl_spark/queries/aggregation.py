"""Aggregation operators (SURVEY.md §2.3 'Aggregation').

Hash aggregation (partial+final map-side combine comes free from Spark),
exact and approximate distinct counts, rollup/cube/grouping sets.

Scale notes: every groupBy here aggregates partially before the shuffle
(`HashAggregate(partial)` → exchange → `HashAggregate(final)` in explain),
so shuffle volume is #groups × #partitions, not #rows. approx_count_distinct
is the 100 TB path for distincts (HLL sketch, constant memory, mergeable);
the exact variant shuffles the distinct values.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession

from muurschilderingendatabase_etl_spark.registry import query
from muurschilderingendatabase_etl_spark.tables import t


def within(approx: Column, exact: Column, rel: float) -> Column:
    """Accuracy band of a banded oracle: the estimate ``approx`` lies
    within ``rel`` relative error of the ``exact`` value."""
    return F.abs(approx - exact) <= rel * F.abs(exact)


@query(
    "agg_pricing_summary",
    oracle="""
    SELECT
      l_returnflag,
      l_linestatus,
      ROUND(SUM(l_quantity), 2)                                   AS sum_qty,
      CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))), 2)
           AS DOUBLE)                                             AS sum_base_price,
      CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                     * (1 - CAST(l_discount AS DECIMAL(4,2)))), 2)
           AS DOUBLE)                                             AS sum_disc_price,
      CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                     * (1 - CAST(l_discount AS DECIMAL(4,2)))
                     * (1 + CAST(l_tax AS DECIMAL(4,2)))), 2)
           AS DOUBLE)                                             AS sum_charge,
      ROUND(AVG(l_quantity), 2)                                   AS avg_qty,
      ROUND(AVG(l_extendedprice), 2)                              AS avg_price,
      ROUND(AVG(l_discount), 4)                                   AS avg_disc,
      CAST(COUNT(*) AS BIGINT)                                    AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-01'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q1 shape: the canonical partial+final hash aggregation.
    #
    # Money sums are EXACT and summation-order-independent: at sf10,
    # sum_disc_price/sum_charge in double came out one cent off DuckDB —
    # double summation of 10M inexact terms per group drifts ~1 ulp at
    # 3.6e11 magnitude, and ROUND(x, 2) flips a cent whenever the true
    # value sits near a boundary (the same cross-engine class as the
    # 1-ulp drift timeseries_resample_ffill guards against). The
    # queries.money helpers keep the per-row arithmetic on the
    # vectorized integer-cents path and pay DECIMAL only for the final
    # sum (see that module for the magnitude/overflow analysis); the
    # oracle keeps the clearer all-DECIMAL spelling — both compute the
    # same exact rational. The avg_* columns stay double — their
    # magnitudes put 1-ulp drift 9 orders below the rounding
    # granularity.
    from muurschilderingendatabase_etl_spark.queries import money

    price, disc, tax = (
        F.col("l_extendedprice"), F.col("l_discount"), F.col("l_tax")
    )
    return (
        t(spark, sf_dir, "lineitem")
        .where(F.col("l_shipdate") <= F.lit("2001-09-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            money.sum_money(price).alias("sum_base_price"),
            money.sum_disc_price(price, disc).alias("sum_disc_price"),
            money.sum_charge(price, disc, tax).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "agg_min_max",
    oracle="""
    SELECT
      o_orderstatus,
      ROUND(MIN(o_totalprice), 2) AS min_price,
      ROUND(MAX(o_totalprice), 2) AS max_price,
      CAST(MIN(o_orderkey) AS BIGINT) AS first_key,
      CAST(MAX(o_orderkey) AS BIGINT) AS last_key
    FROM orders GROUP BY o_orderstatus
    """,
)
def agg_min_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.round(F.min("o_totalprice"), 2).alias("min_price"),
            F.round(F.max("o_totalprice"), 2).alias("max_price"),
            F.min("o_orderkey").alias("first_key"),
            F.max("o_orderkey").alias("last_key"),
        )
    )


@query(
    "agg_count_distinct",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_suppkey").alias("n_suppliers"),
            F.countDistinct("l_partkey").alias("n_parts"),
        )
    )


@query(
    "agg_approx_count_distinct",
    # Banded oracle: raw sketch estimates differ per engine, so the
    # externally-checked contract is (a) the exact value matches DuckDB
    # and (b) the HLL++ estimate lands within the declared 5% band of it — Spark emits the band check as a boolean, the oracle
    # emits TRUE, and the driver's value hash enforces both.
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_customers,
           TRUE AS within_5pct
    FROM orders GROUP BY o_orderstatus
    """,
)
def agg_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    # HyperLogLog++: the scale path for distinct counting — constant
    # memory, mergeable across partitions, one narrow aggregation. The
    # exact count rides along ONLY to make the accuracy band externally
    # checkable; production uses the approx column alone. Both come off
    # ONE dedup of the (status, custkey) pairs: HLL is duplicate-
    # insensitive, so sketching the deduped keys gives the identical
    # estimate while exact is a plain count — measured 2.7x cheaper
    # than countDistinct + approx side-by-side on the raw rows.
    pairs = (
        t(spark, sf_dir, "orders").select("o_orderstatus", "o_custkey").distinct()
    )
    return (
        pairs.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("exact_customers"),
            F.approx_count_distinct("o_custkey", rsd=0.02).alias("approx_customers"),
        )
        .select(
            "o_orderstatus",
            "exact_customers",
            within(F.col("approx_customers"), F.col("exact_customers"), 0.05).alias(
                "within_5pct"
            ),
        )
    )


@query(
    "agg_hll_sketch_mergeable",
    # Banded oracle: Datasketches estimates are engine-specific, so the
    # checked contract is the exact per-segment and merged-global distincts (vs DuckDB) plus a boolean asserting
    # every estimate lands within 5% of its exact value.
    oracle="""
    SELECT c_mktsegment AS segment,
           CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS exact_customers,
           TRUE AS within_5pct
    FROM customer GROUP BY c_mktsegment
    UNION ALL
    SELECT 'ALL' AS segment,
           CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS exact_customers,
           TRUE AS within_5pct
    FROM customer
    """,
)
def agg_hll_sketch_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datasketches HLL: per-segment sketches built in one pass over
    customer, then MERGED (hll_union_agg) into the global estimate
    without rescanning the data — the 100 TB pattern for distinct
    counts: build sketches per partition/day at ingest, answer any
    rollup later by merging kilobyte sketches instead of re-reading
    terabytes. The exact counts ride along only to make the accuracy
    band externally checkable (and are also regression-tested in
    tests/test_plans.py); production keeps the sketches."""
    # c_custkey is the customer table key, so the exact distinct per
    # segment is a plain count — no distinct aggregation needed.
    seg_sketches = (
        t(spark, sf_dir, "customer")
        .groupBy("c_mktsegment")
        .agg(
            F.hll_sketch_agg("c_custkey", 14).alias("sk"),
            F.count(F.lit(1)).alias("exact_customers"),
        )
    )
    per_segment = seg_sketches.select(
        F.col("c_mktsegment").alias("segment"),
        F.hll_sketch_estimate("sk").alias("approx_customers"),
        "exact_customers",
    )
    # Global row via sketch MERGE (hll_union_agg) — no raw rescan. The
    # exact global distinct is the sum of per-segment exacts because
    # c_custkey is the table key (each key in exactly one segment).
    merged = seg_sketches.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_customers"),
        F.sum("exact_customers").alias("exact_customers"),
    ).select(F.lit("ALL").alias("segment"), "approx_customers", "exact_customers")
    return (
        per_segment.unionByName(merged)
        .select(
            "segment",
            "exact_customers",
            within(F.col("approx_customers"), F.col("exact_customers"), 0.05).alias(
                "within_5pct"
            ),
        )
        .orderBy("segment")
    )


@query(
    "agg_rollup",
    oracle="""
    SELECT COALESCE(r_name, 'ALL') AS region_name,
           COALESCE(n_name, 'ALL') AS nation_name,
           CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    joined = (
        t(spark, sf_dir, "customer")
        .join(F.broadcast(t(spark, sf_dir, "nation")), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t(spark, sf_dir, "region")), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("region_name"),
            F.coalesce("n_name", F.lit("ALL")).alias("nation_name"),
            "n_customers",
        )
    )


@query(
    "agg_cube",
    oracle="""
    SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
           COALESCE(l_linestatus, 'ALL') AS linestatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(l_quantity), 2) AS qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("qty"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "n",
            "qty",
        )
    )


@query(
    "agg_grouping_sets",
    oracle="""
    SELECT COALESCE(o_orderstatus, 'ALL')   AS status,
           COALESCE(o_orderpriority, 'ALL') AS priority,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("msdb_orders_gs")
    return spark.sql(
        """
        SELECT COALESCE(o_orderstatus, 'ALL')   AS status,
               COALESCE(o_orderpriority, 'ALL') AS priority,
               COUNT(*) AS n_orders
        FROM msdb_orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        """
    )


@query(
    "agg_having",
    oracle="""
    SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2)
                AS DOUBLE) AS spend
    FROM orders
    GROUP BY o_custkey
    HAVING COUNT(*) >= 15
    """,
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spend rides the exact integer-cents money path (queries/money.py):
    # the raw ROUND(SUM(double)) form sits one corpus decade from a
    # 1-ulp cent flip (the class seen at sf10 in agg_pricing_summary). The
    # BOUNDED variant applies — per-customer groups: one customer's
    # lifetime spend in cents is structurally far below 2^63 — and its
    # LONG accumulator costs ~35% less than the decimal sum (measured
    # 0.54 -> baseline-level at sf0.1).
    from muurschilderingendatabase_etl_spark.queries import money

    return (
        t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            money.sum_money_bounded(F.col("o_totalprice")).alias("spend"),
        )
        .where(F.col("n_orders") >= 15)
    )


@query(
    "agg_approx_percentile",
    # Banded oracle: sketch percentiles are engine-specific (the exact
    # twin agg_percentiles carries the exact-value oracle), so the
    # checked contract here is the group set plus booleans asserting each
    # approx percentile lands within 1% of the group's exact percentile.
    oracle="""
    SELECT l_returnflag, TRUE AS p50_within_1pct, TRUE AS p99_within_1pct
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile: the mergeable-sketch percentile for 100 TB
    (no per-group sort or value buffering, partial aggregation merges
    sketches map-side). Accuracy set to 1/10000 relative error; the
    exact percentiles that make the band externally checkable come from
    ``stats_profile.price_percentiles``, the rank-based distributed form:
    the builtin `percentile()` aggregate's per-task value hashmap OOMed
    at sf10, and a verification side-car must not be the part that
    falls over at scale."""
    from muurschilderingendatabase_etl_spark.queries.stats_profile import (
        price_percentiles,
    )

    # The two probes share ONE sketch via the array form: two scalar
    # percentile_approx aggregates each built their own full
    # QuantileSummaries over every row. Same accuracy, same
    # deterministic buffer, same extraction, so the p50/p99 values are
    # bit-identical for half the sketch work.
    approx = t(spark, sf_dir, "lineitem").groupBy("l_returnflag").agg(
        F.percentile_approx(
            "l_extendedprice", F.array(F.lit(0.5), F.lit(0.99)), F.lit(10000)
        ).alias("pq")
    ).select(
        "l_returnflag",
        F.col("pq")[0].alias("p50_approx"),
        F.col("pq")[1].alias("p99_approx"),
    )
    exact = price_percentiles(
        spark, sf_dir, {"p50_exact": 0.5, "p99_exact": 0.99}
    )
    return approx.join(F.broadcast(exact), "l_returnflag").select(
        "l_returnflag",
        within(F.col("p50_approx"), F.col("p50_exact"), 0.01).alias(
            "p50_within_1pct"
        ),
        within(F.col("p99_approx"), F.col("p99_exact"), 0.01).alias(
            "p99_within_1pct"
        ),
    )


@query(
    "agg_hll_rolling_uniques",
    # Banded oracle: the checked contract is the exact trailing-3-day
    # distinct per day (vs DuckDB's range-joined exact) plus a boolean
    # asserting the merged-sketch estimate lands within 5% of it.
    oracle="""
    WITH daily AS (
      SELECT DISTINCT date_trunc('day', ts) AS day, user_id FROM events
    ),
    days AS (SELECT DISTINCT day FROM daily)
    SELECT strftime(d.day, '%Y-%m-%d') AS day,
           CAST(COUNT(DISTINCT x.user_id) AS BIGINT)
             AS exact_rolling_uniques,
           TRUE AS within_5pct
    FROM days d
    JOIN daily x ON x.day BETWEEN d.day - INTERVAL 2 DAY AND d.day
    GROUP BY d.day
    """,
)
def agg_hll_rolling_uniques(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling distinct users: per-day HLL sketches merged over a
    trailing 3-day window (hll_union_agg OVER) — the production pattern
    for rolling uniques at 100 TB: the raw fact is touched ONCE to
    build daily kilobyte sketches; every trailing window after that
    merges sketches, never rescans events. Exact trailing distinct
    would need a self-join back to the raw data per window.

    The window here is a global orderBy over ~30 day rows (trivially
    small — one row per day); a multi-tenant deployment partitions the
    window by tenant. VERIFICATION SIDE-CAR: per-day exact user SETS
    ride the same daily aggregation and are merged over the same window
    so the sketch estimate can be band-checked externally — O(daily
    uniques) state that a 100 TB deployment would simply drop (delete
    the collect_set column) because the sketch IS the product; the band
    is also regression-tested in tests/test_plans.py."""
    from pyspark.sql import Window

    daily = (
        t(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(
            F.hll_sketch_agg("user_id", 14).alias("sk"),
            F.collect_set("user_id").alias("us"),
        )
        # Calendar-day ordinal for the RANGE frame below: the oracle's
        # contract is "day - INTERVAL 2 DAY", i.e. calendar semantics.
        # A rowsBetween(-2, 0) frame over present day-ROWS agrees with
        # that only while every calendar day in the span has events; a
        # corpus with a day gap would silently diverge.
        .withColumn(
            "dayn", (F.unix_timestamp("day") / F.lit(86400)).cast("long")
        )
    )
    w = Window.orderBy("dayn").rangeBetween(-2, Window.currentRow)
    return (
        daily.select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.hll_sketch_estimate(F.hll_union_agg("sk").over(w)).alias(
                "rolling_unique_users"
            ),
            F.size(
                F.array_distinct(F.flatten(F.collect_list("us").over(w)))
            ).cast("long").alias("exact_rolling_uniques"),
        )
        .select(
            "day",
            "exact_rolling_uniques",
            within(
                F.col("rolling_unique_users"), F.col("exact_rolling_uniques"), 0.05
            ).alias("within_5pct"),
        )
        .orderBy("day")
    )


@query(
    "agg_two_stage_salted",
    oracle="""
    SELECT l_returnflag,
      CAST(COUNT(*) AS BIGINT) AS n,
      CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))), 2)
           AS DOUBLE) AS revenue
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_two_stage_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof two-stage aggregation: l_returnflag has only 3 values,
    so a direct groupBy funnels the whole table through 3 reducers. A
    salt key (pmod of a uniform column, 64 buckets) spreads the partial
    aggregation across 3*64 groups; the final stage re-aggregates the
    192 partial rows. At 100 TB this bounds any single reducer's input
    to ~1/64 of a flag's rows; the partial counts/sums are algebraic so
    the result is exactly the plain groupBy (the oracle runs the
    unsalted query). Spark's own map-side combine gives much of this
    for free — explicit salting is the portable version of the pattern
    and the shape AQE's skew handling generalizes.

    The partials carry exact integer cents (queries/money.py): summing
    raw doubles per salt bucket would make revenue depend on the salt
    fan-out's summation order — the cent-flip class seen at sf10 in
    agg_pricing_summary. The PER-SALT partial accumulates in LONG (the heavy
    per-row stage — an all-decimal partial measured 1.85x baseline at
    sf0.1): one bucket holds ~1/192 of the corpus, so its cent total
    reaches 2^63 only past a ~$10^17 corpus, and ANSI mode would fail
    loud, not wrap. Only the 192-row FINAL re-sum pays DECIMAL, which
    keeps the emitted total overflow-free and order-independent."""
    from muurschilderingendatabase_etl_spark.queries import money

    li = t(spark, sf_dir, "lineitem")
    partial = (
        li.select(
            "l_returnflag",
            F.pmod(F.col("l_orderkey"), F.lit(64)).alias("salt"),
            "l_extendedprice",
        )
        .groupBy("l_returnflag", "salt")
        .agg(
            F.count(F.lit(1)).alias("pn"),
            F.sum(money.cents(F.col("l_extendedprice"))).alias("prev_cents"),
        )
    )
    return partial.groupBy("l_returnflag").agg(
        F.sum("pn").alias("n"),
        F.round(
            F.sum(F.col("prev_cents").cast("decimal(20,0)")) / 100, 2
        ).cast("double").alias("revenue"),
    )
