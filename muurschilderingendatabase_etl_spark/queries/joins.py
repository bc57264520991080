"""Join operators (SURVEY.md §2.3 'Joins').

Every join flavor: inner/left/right/full equi-joins, broadcast, left_semi
and left_anti (the Spark expression of the reference's customvocab
anti-join O4 and enrichment semi-join O13), theta/range join, cross join,
and an as-of join.

Scale notes:
- Fact-to-fact equi-joins (lineitem⋈orders) shuffle on the key; AQE picks
  sort-merge vs shuffled-hash and splits skewed partitions.
- Fixed-size dims (nation=25, region=5) are broadcast explicitly —
  zero-shuffle map-side joins at any SF.
- The theta join keeps the small side broadcast so the non-equi condition
  becomes a broadcast-nested-loop over 4 rows, not an O(n²) shuffle.
- The as-of join uses the union+window carry-forward formulation: ONE
  shuffle on (user_id), no range-explosion — the pattern that survives
  100 TB where a naive range join would not.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from muurschilderingendatabase_etl_spark.registry import query
from muurschilderingendatabase_etl_spark.tables import t


@query(
    "join_inner_three_way",
    oracle="""
    SELECT r_name, n_name, CAST(COUNT(*) AS BIGINT) AS n_suppliers,
           CAST(ROUND(SUM(CAST(s_acctbal AS DECIMAL(18,2))), 2)
                AS DOUBLE) AS total_bal
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    """,
)
def join_inner_three_way(spark: SparkSession, sf_dir: str) -> DataFrame:
    # total_bal rides the exact integer-cents money path (queries/money.py).
    from muurschilderingendatabase_etl_spark.queries import money

    supplier = t(spark, sf_dir, "supplier")
    nation = F.broadcast(t(spark, sf_dir, "nation"))
    region = F.broadcast(t(spark, sf_dir, "region"))
    return (
        supplier.join(nation, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(region, F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            money.sum_money(F.col("s_acctbal")).alias("total_bal"),
        )
    )


@query(
    "join_left_outer",
    oracle="""
    SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS n_orders,
           CAST(ROUND(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 0), 2)
                AS DOUBLE) AS spend
    FROM customer
    LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey
    """,
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spend rides the exact integer-cents money path (queries/money.py),
    # in the BOUNDED long-accumulator form (per-customer groups);
    # customers with no orders coalesce to 0.0 on both sides.
    from muurschilderingendatabase_etl_spark.queries import money

    customer = t(spark, sf_dir, "customer").select("c_custkey")
    orders = t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_totalprice")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(
                money.sum_money_bounded(F.col("o_totalprice")), F.lit(0.0)
            ).alias("spend"),
        )
    )


@query(
    "join_right_outer",
    oracle="""
    SELECT n_name, CAST(COUNT(s_suppkey) AS BIGINT) AS n_suppliers
    FROM supplier
    RIGHT JOIN nation ON s_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def join_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    supplier = t(spark, sf_dir, "supplier")
    nation = t(spark, sf_dir, "nation")
    return (
        supplier.join(nation, F.col("s_nationkey") == F.col("n_nationkey"), "right")
        .groupBy("n_name")
        .agg(F.count("s_suppkey").alias("n_suppliers"))
    )


@query(
    "join_full_outer",
    oracle="""
    WITH cn AS (SELECT DISTINCT c_nationkey FROM customer),
         sn AS (SELECT DISTINCT s_nationkey FROM supplier)
    SELECT
      COALESCE(c_nationkey, -1) AS cust_nation,
      COALESCE(s_nationkey, -1) AS supp_nation
    FROM cn FULL OUTER JOIN sn ON c_nationkey = s_nationkey
    """,
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    cn = t(spark, sf_dir, "customer").select("c_nationkey").distinct()
    sn = t(spark, sf_dir, "supplier").select("s_nationkey").distinct()
    return cn.join(sn, cn.c_nationkey == sn.s_nationkey, "full").select(
        F.coalesce("c_nationkey", F.lit(-1)).alias("cust_nation"),
        F.coalesce("s_nationkey", F.lit(-1)).alias("supp_nation"),
    )


@query(
    "join_left_semi",
    oracle="""
    SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM customer
    WHERE c_custkey IN (
      SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    )
    GROUP BY c_nationkey
    """,
)
def join_left_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Semi-join: the Spark form of the reference's enrichment membership
    # test (transform_datamodel.py:105, SURVEY O13).
    urgent = (
        t(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    return (
        t(spark, sf_dir, "customer")
        .join(urgent, F.col("c_custkey") == F.col("o_custkey"), "left_semi")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@query(
    "join_left_anti",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE c_custkey NOT IN
      (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
    """,
)
def join_left_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Anti-join: the intended semantics of the reference's dead customvocab
    # filter (export_from_omeka_s.py:60-65, SURVEY O4).
    orders = (
        t(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    return (
        t(spark, sf_dir, "customer")
        .join(orders, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
    )


@query(
    "join_broadcast_dim",
    oracle="""
    SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                          * (1 - CAST(l_discount AS DECIMAL(4,2)))), 2)
                AS DOUBLE) AS revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand
    """,
)
def join_broadcast_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Explicit broadcast of the part dim: the fact side never shuffles.
    # Revenue sums exactly on the integer-cents path (at sf10 the double
    # sum came out one cent off the oracle — 1-ulp
    # drift at 1.4e11 magnitude landing on a ROUND boundary; see
    # queries.money for the mechanism and agg_pricing_summary for the
    # full account).
    from muurschilderingendatabase_etl_spark.queries import money

    part = F.broadcast(t(spark, sf_dir, "part").select("p_partkey", "p_brand"))
    lineitem = t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_extendedprice", "l_discount"
    )
    return (
        lineitem.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            money.sum_disc_price(
                F.col("l_extendedprice"), F.col("l_discount")
            ).alias("revenue"),
        )
    )


@query(
    "join_theta_range",
    oracle="""
    WITH bands(band, lo, hi) AS (
      VALUES ('small', 0.0, 50000.0), ('medium', 50000.0, 150000.0),
             ('large', 150000.0, 300000.0), ('huge', 300000.0, 1e18)
    )
    SELECT band, CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(AVG(o_totalprice), 2) AS avg_price
    FROM orders JOIN bands ON o_totalprice >= lo AND o_totalprice < hi
    GROUP BY band
    """,
)
def join_theta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Pure inequality join; tiny band table broadcast -> nested-loop over
    # 4 rows per record instead of a shuffle.
    bands = spark.createDataFrame(
        [
            ("small", 0.0, 50_000.0),
            ("medium", 50_000.0, 150_000.0),
            ("large", 150_000.0, 300_000.0),
            ("huge", 300_000.0, 1e18),
        ],
        "band string, lo double, hi double",
    )
    orders = t(spark, sf_dir, "orders").select("o_totalprice")
    return (
        orders.join(
            F.broadcast(bands),
            (F.col("o_totalprice") >= F.col("lo")) & (F.col("o_totalprice") < F.col("hi")),
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.avg("o_totalprice"), 2).alias("avg_price"),
        )
    )


@query(
    "join_cross",
    oracle="""
    SELECT r_name, os AS order_status
    FROM region CROSS JOIN (SELECT DISTINCT o_orderstatus AS os FROM orders)
    """,
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = t(spark, sf_dir, "region").select("r_name")
    statuses = (
        t(spark, sf_dir, "orders")
        .select(F.col("o_orderstatus").alias("order_status"))
        .distinct()
    )
    return region.crossJoin(statuses)


@query(
    "join_asof_event_order",
    oracle="""
    WITH purchases AS (
      SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'
    ),
    views AS (
      SELECT user_id, ts, event_id FROM events WHERE event_type = 'view'
    )
    SELECT p.event_id,
           p.user_id,
           p.value AS purchase_value,
           v.event_id AS prior_view_event
    FROM purchases p
    ASOF LEFT JOIN views v
      ON p.user_id = v.user_id AND p.ts >= v.ts
    """,
)
def join_asof_event_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the latest view of the same
    user at-or-before its timestamp.

    Implementation: union both streams, window per user ordered by (ts,
    side), carry the last view's event_id forward with `last(..,
    ignorenulls)`. One shuffle on user_id; no range cross-product. At
    100 TB this beats any range-join formulation because state per key is
    O(1) in the running window.

    Tie semantics: a view at exactly the purchase ts IS eligible (p.ts >=
    v.ts) — the union sorts views before purchases at equal ts.
    """
    events = t(spark, sf_dir, "events")
    purchases = events.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value", F.lit(1).alias("is_purchase")
    )
    views = events.where(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts", F.lit(None).cast("double").alias("value"),
        F.lit(0).alias("is_purchase"),
    )
    unioned = purchases.unionByName(views).withColumn(
        "view_event", F.when(F.col("is_purchase") == 0, F.col("event_id"))
    )
    # views sort before purchases at equal ts -> ">=" as-of semantics.
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_purchase", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        unioned.withColumn("prior_view_event", F.last("view_event", ignorenulls=True).over(w))
        .where(F.col("is_purchase") == 1)
        .select(
            "event_id",
            "user_id",
            F.col("value").alias("purchase_value"),
            "prior_view_event",
        )
    )


@query(
    "join_fuzzy_levenshtein",
    oracle="""
    WITH blocked AS (
      SELECT c_custkey, c_name, substr(c_name, 1, 16) AS blk FROM customer
      WHERE c_custkey < 6000
    )
    SELECT CAST(lev AS BIGINT) AS lev, CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM (
      SELECT levenshtein(a.c_name, b.c_name) AS lev
      FROM blocked a JOIN blocked b
        ON a.blk = b.blk AND a.c_custkey < b.c_custkey
    )
    WHERE lev <= 2
    GROUP BY lev
    ORDER BY lev
    """,
)
def join_fuzzy_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy self-join (entity resolution): candidate pairs share
    a 16-char name-prefix block, then edit distance <= 2 verifies — the
    classic two-stage shape that turns an O(n²) string comparison into
    per-block work. The equi-join on the block key is the only shuffle;
    levenshtein evaluates JVM-side post-join. At 100 TB the block key
    becomes phonetic/q-gram signatures (possibly several, unioned), and
    skewed blocks get the same salting treatment as any hot join key."""
    # The key-range cap bounds bench cost (pair count = blocks ×
    # block_size²/2 is the real cost driver); sf0.01 is unaffected.
    blocked = (
        t(spark, sf_dir, "customer")
        .where(F.col("c_custkey") < 6000)
        .select("c_custkey", "c_name", F.substring("c_name", 1, 16).alias("blk"))
    )
    # Parallelism: synthetic names share ONE 16-char
    # prefix block, so the broadcast join's pair generation runs
    # entirely inside however many tasks the probe-side SCAN has — one,
    # for a single small parquet file: 18M levenshtein evaluations on
    # one core while 31 idle (measured 3.3 s warm). Widening the probe
    # side to the core count spreads the block's pair space across
    # every core (the build side is broadcast, so any probe split
    # works). Only widen — never shrink a big scan's parallelism at
    # real SFs. AQE can't fix this one: the hot key sits in ONE task of
    # a broadcast join, not a shuffle it could split.
    par = spark.sparkContext.defaultParallelism
    a = blocked
    if a.rdd.getNumPartitions() < par:
        a = a.repartition(par)
    a, b = a.alias("a"), blocked.alias("b")
    # Threshold levenshtein (less per-pair work): the banded
    # O(len·k) form early-exits pairs whose distance exceeds 2 — the
    # overwhelming majority — instead of filling the full O(len²) DP
    # table and discarding the result. Returns -1 above the threshold,
    # so BETWEEN 0 AND 2 keeps exactly the pairs `lev <= 2` kept
    # before, with identical lev values (the threshold form is exact
    # within the band).
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.c_custkey") < F.col("b.c_custkey")),
        )
        .select(
            F.levenshtein(F.col("a.c_name"), F.col("b.c_name"), 2)
            .cast("long")
            .alias("lev")
        )
        .where(F.col("lev").between(0, 2))
        .groupBy("lev")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("lev")
    )


@query(
    "join_interval_bucketed",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND(AVG((CAST(epoch_us(b.ts) AS BIGINT)
                      - CAST(epoch_us(a.ts) AS BIGINT)) / 1000000.0), 4)
             AS avg_gap_s
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND a.event_type = 'view' AND b.event_type = 'purchase'
     AND epoch_us(b.ts) > epoch_us(a.ts)
     AND epoch_us(b.ts) <= epoch_us(a.ts) + 300000000
    """,
)
def join_interval_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """View→purchase conversions within 5 minutes, executed as a
    BUCKETED interval join: probe-side rows are exploded into their two
    candidate 5-minute buckets and the join runs as an equi-join on
    (user, bucket) with the exact time predicate verifying post-join.

    This is THE scale rewrite for range joins: a naive theta join on
    (user, time-range) degenerates to a per-user cross product (hot
    users explode); bucketing bounds candidates to adjacent buckets, so
    the shuffle is an ordinary hash exchange and the worst key costs
    2× duplication instead of O(events²). Each true pair is produced
    exactly once (the build side keeps its single bucket). Timestamps
    compare as integer microseconds on both engines."""
    ev = t(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    bucket_us = 300 * 1_000_000
    views = (
        ev.where(F.col("event_type") == "view")
        .withColumn("b0", F.floor(F.col("us") / bucket_us))
        .withColumn("jb", F.explode(F.array(F.col("b0"), F.col("b0") + 1)))
        .select("user_id", F.col("us").alias("a_us"), "jb")
    )
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("us").alias("b_us"),
            F.floor(F.col("us") / bucket_us).alias("jb"),
        )
    )
    pairs = views.join(purchases, ["user_id", "jb"]).where(
        (F.col("b_us") > F.col("a_us"))
        & (F.col("b_us") <= F.col("a_us") + bucket_us)
    )
    return pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(F.avg((F.col("b_us") - F.col("a_us")) / 1e6), 4).alias(
            "avg_gap_s"
        ),
    )


@query(
    "join_asof_forward_tolerance",
    oracle="""
    WITH views AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'
    ),
    purchases AS (
      SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'
    )
    SELECT v.event_id, v.user_id,
      (SELECT p.event_id FROM purchases p
       WHERE p.user_id = v.user_id AND p.ts >= v.ts
         AND p.ts <= v.ts + INTERVAL 24 HOUR
       ORDER BY p.ts, p.event_id LIMIT 1) AS next_purchase_event
    FROM views v
    """,
)
def join_asof_forward_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join with tolerance (merge_asof
    direction='forward'): each view matched to the earliest purchase of
    the same user at-or-after its timestamp, within 24 h (else null).

    Same union + carry formulation as the backward as-of, run in
    reverse time order: one shuffle on user_id, O(1) window state, the
    tolerance applied as a post-carry null-out — still no range
    cross-product. Tie semantics: a purchase at exactly the view ts is
    eligible; equal-ts purchases resolve to the smallest event_id
    (purchases sort before views at equal ts in the reversed order, and
    among purchases the DESC event_id ordering makes the LAST-carried
    one the smallest)."""
    events = t(spark, sf_dir, "events")
    views = events.where(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts", F.lit(1).alias("is_view")
    )
    purchases = events.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", F.lit(0).alias("is_view")
    )
    unioned = views.unionByName(purchases).select(
        "*",
        F.when(F.col("is_view") == 0, F.col("event_id")).alias("p_event"),
        F.when(F.col("is_view") == 0, F.col("ts")).alias("p_ts"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.desc("ts"), "is_view", F.desc("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.select(
        "*",
        F.last("p_event", ignorenulls=True).over(w).alias("next_event"),
        F.last("p_ts", ignorenulls=True).over(w).alias("next_ts"),
    )
    in_tolerance = F.col("next_ts") <= F.col("ts") + F.expr("INTERVAL 24 HOURS")
    return (
        carried.where(F.col("is_view") == 1)
        .select(
            "event_id",
            "user_id",
            F.when(in_tolerance, F.col("next_event")).alias(
                "next_purchase_event"
            ),
        )
    )


@query(
    "join_interval_overlap",
    oracle="""
    WITH s AS (
      SELECT event_id AS s_id, user_id,
             ts AS s_lo, ts + INTERVAL 30 MINUTE AS s_hi
      FROM events WHERE event_type = 'signup'
    ),
    v AS (
      SELECT event_id AS v_id, user_id,
             ts AS v_lo, ts + INTERVAL 45 MINUTE AS v_hi
      FROM events WHERE event_type = 'view'
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_overlaps,
           CAST(COUNT(DISTINCT s_id) AS BIGINT) AS n_signup_windows,
           CAST(MIN(s_id) AS BIGINT) AS min_s_id
    FROM s JOIN v USING (user_id)
    WHERE s_lo < v_hi AND v_lo < s_hi
    """,
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-OVERLAP join (interval x interval — the sibling of
    join_interval_bucketed's point-in-interval): signup windows
    [ts, ts+30m] against view windows [ts, ts+45m] of the same user,
    pairs whose ranges intersect. The classic predicate
    (a_lo < b_hi AND b_lo < a_hi) is a non-equi condition Spark would
    nest-loop; the user_id equi-key bounds each comparison block, and
    at 100 TB the standard rewrite adds a coarse time-bucket to the
    key with each interval exploded to the buckets it touches (exactly
    join_interval_bucketed's machinery, reused for two interval sets).
    Here the per-user blocks are small, so the equi+filter plan is the
    right one, and the oracle runs the same bounded quadratic."""
    ev = t(spark, sf_dir, "events")
    s = ev.where(F.col("event_type") == "signup").select(
        F.col("event_id").alias("s_id"),
        "user_id",
        F.col("ts").alias("s_lo"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("s_hi"),
    )
    v = ev.where(F.col("event_type") == "view").select(
        F.col("event_id").alias("v_id"),
        "user_id",
        F.col("ts").alias("v_lo"),
        (F.col("ts") + F.expr("INTERVAL 45 MINUTES")).alias("v_hi"),
    )
    joined = s.join(v, "user_id").where(
        (F.col("s_lo") < F.col("v_hi")) & (F.col("v_lo") < F.col("s_hi"))
    )
    return joined.agg(
        F.count(F.lit(1)).alias("n_overlaps"),
        F.countDistinct("s_id").alias("n_signup_windows"),
        F.min("s_id").alias("min_s_id"),
    )
