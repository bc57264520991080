"""Time-series operators over the events table: grid resampling with
forward-fill — the feature-engineering shape (regular observations from
irregular events) that feeds sequence models.

Bucket indexes are integer epoch/21600 (6-hour buckets) on BOTH engines,
sidestepping every timestamp-zone/precision trap; the dense grid is a
per-user explode of the global bucket range.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from muurschilderingendatabase_etl_spark.registry import query
from muurschilderingendatabase_etl_spark.tables import t

_BUCKET_S = 21600  # 6 hours


@query(
    "timeseries_resample_ffill",
    oracle=f"""
    WITH obs AS (
      SELECT user_id,
             CAST(floor(epoch(ts) / {_BUCKET_S}) AS BIGINT) AS bucket,
             CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2)
                  AS DOUBLE) AS v
      FROM events WHERE user_id < 20
      GROUP BY 1, 2
    ),
    bounds AS (
      SELECT MIN(bucket) AS mn, MAX(bucket) AS mx FROM obs
    ),
    grid AS (
      SELECT u.user_id, g.bucket
      FROM (SELECT DISTINCT user_id FROM obs) u
      CROSS JOIN (
        SELECT unnest(generate_series(
          (SELECT mn FROM bounds), (SELECT mx FROM bounds))) AS bucket
      ) g
    ),
    filled AS (
      SELECT g.user_id, g.bucket, obs.v,
        LAST_VALUE(obs.v IGNORE NULLS) OVER (
          PARTITION BY g.user_id ORDER BY g.bucket
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) AS v_filled
      FROM grid g LEFT JOIN obs USING (user_id, bucket)
    )
    SELECT user_id,
      CAST(COUNT(*) AS BIGINT) AS n_buckets,
      CAST(COUNT(v) AS BIGINT) AS n_observed,
      CAST(COUNT(v_filled) AS BIGINT) AS n_filled,
      CAST(ROUND(SUM(CAST(v_filled AS DECIMAL(18,2))), 2) AS DOUBLE)
        AS filled_sum
    FROM filled
    GROUP BY user_id
    """,
)
def timeseries_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample irregular events onto a regular 6-hour grid per user and
    forward-fill gaps (last observation carried forward). Leading gaps
    before a user's first observation stay null — n_filled counts the
    carried series.

    The per-bucket aggregate is SUM rounded to cents, not AVG: event
    values are cent-quantized, so every bucket value is an exact cent
    multiple that both engines round to the identical double, and the
    final filled_sum of cent multiples is again boundary-free. With
    AVG-rounded-to-4dp, a 1-ulp cross-engine divergence in ONE bucket
    flips the 4th decimal, forward-fill replicates that bucket across
    the gap, and the amplified drift crosses a 2dp rounding boundary —
    observed as a 0.01 filled_sum mismatch in an sf1 oracle-parity
    sweep.

    Scale shape: the observation aggregation shuffles on (user, bucket);
    the dense grid is generated per user with explode(sequence(...)) —
    rows are born distributed, there is no driver-side loop; the
    forward-fill is one window partitioned by user; both money sums
    ride the exact integer-cents path (queries/money.py). Grid density is
    (span/step) × users — at 100 TB you'd bound the span per partition
    (e.g. day files) so the generated grid stays proportional to the
    data it fills."""
    from muurschilderingendatabase_etl_spark.queries import money

    obs = (
        t(spark, sf_dir, "events")
        .where(F.col("user_id") < 20)
        .groupBy(
            "user_id",
            F.floor(F.unix_timestamp("ts") / _BUCKET_S)
            .cast("long")
            .alias("bucket"),
        )
        .agg(money.sum_money(F.col("value")).alias("v"))
    )
    bounds = obs.agg(
        F.min("bucket").alias("mn"), F.max("bucket").alias("mx")
    )
    users = obs.select("user_id").distinct()
    grid = users.join(F.broadcast(bounds)).select(
        "user_id",
        F.explode(F.sequence(F.col("mn"), F.col("mx"))).alias("bucket"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = grid.join(obs, ["user_id", "bucket"], "left").withColumn(
        "v_filled", F.last("v", ignorenulls=True).over(w)
    )
    return filled.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.count("v").alias("n_observed"),
        F.count("v_filled").alias("n_filled"),
        money.sum_money(F.col("v_filled")).alias("filled_sum"),
    )


@query(
    "scd2_from_changelog",
    oracle="""
    WITH ch AS (
      SELECT user_id, ts, value, event_id FROM events
      WHERE event_type = 'purchase' AND user_id % 50 = 0
    )
    SELECT user_id,
      CAST(ROW_NUMBER() OVER w AS BIGINT) AS version,
      strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
      COALESCE(strftime(LEAD(ts) OVER w, '%Y-%m-%d %H:%M:%S'),
               '9999-12-31 00:00:00') AS valid_to,
      CASE WHEN LEAD(ts) OVER w IS NULL THEN 1 ELSE 0 END AS is_current,
      ROUND(value, 2) AS value
    FROM ch
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def scd2_from_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2 from a changelog: each user's
    purchase history becomes versioned rows with [valid_from, valid_to)
    ranges — valid_to is the NEXT change's timestamp (lead), the open
    version gets a sentinel end date and is_current=1. One window over
    (user_id ORDER BY ts, event_id); at 100 TB the partition key is the
    dimension's natural key, so state per partition is one entity's
    history — bounded and skew-free. The user_id % 50 predicate stands
    in for the incremental-batch filter a production merge would push
    down to the changelog scan."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ch = (
        t(spark, sf_dir, "events")
        .where((F.col("event_type") == "purchase") & (F.col("user_id") % 50 == 0))
        .select("user_id", "ts", "value", "event_id")
    )
    nxt = F.lead("ts").over(w)
    return ch.select(
        "user_id",
        F.row_number().over(w).cast("long").alias("version"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
        F.coalesce(
            F.date_format(nxt, "yyyy-MM-dd HH:mm:ss"),
            F.lit("9999-12-31 00:00:00"),
        ).alias("valid_to"),
        F.when(nxt.isNull(), 1).otherwise(0).alias("is_current"),
        F.round("value", 2).alias("value"),
    )


@query(
    "trend_week_over_week",
    oracle="""
    WITH wk AS (
      SELECT strftime(date_trunc('week', o_orderdate), '%Y-%m-%d') AS week,
             CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2)
                  AS DOUBLE) AS revenue,
             CAST(COUNT(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY 1
    )
    SELECT week, revenue, n_orders,
      ROUND((revenue - LAG(revenue) OVER (ORDER BY week))
            / LAG(revenue) OVER (ORDER BY week), 6) AS wow_growth
    FROM wk
    """,
)
def trend_week_over_week(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week revenue trend: weekly rollup, then a lag window
    for the growth ratio. The ratio divides the ALREADY-2dp-ROUNDED
    weekly revenues (identical doubles on both engines — exact via the
    integer-cents path in queries/money.py, since a week of orders is
    squarely in the ROUND(SUM(double)) cent-flip class), so the 6dp
    growth figure is deterministic. The global orderBy window runs
    over one row per week — thousands of rows at any fact scale."""
    from muurschilderingendatabase_etl_spark.queries import money

    wk = (
        t(spark, sf_dir, "orders")
        .groupBy(
            F.date_format(F.date_trunc("week", "o_orderdate"), "yyyy-MM-dd")
            .alias("week")
        )
        .agg(
            money.sum_money(F.col("o_totalprice")).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )
    w = Window.orderBy("week")
    prev = F.lag("revenue").over(w)
    return wk.select(
        "week",
        "revenue",
        "n_orders",
        F.round((F.col("revenue") - prev) / prev, 6).alias("wow_growth"),
    )
