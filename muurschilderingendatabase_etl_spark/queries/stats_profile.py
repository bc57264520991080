"""Statistical profiling operators: sample moments / correlation,
equal-width histograms, and exact interpolated percentiles.

These are the data-profiling passes run over a corpus or fact table
before modeling decisions (feature scaling, outlier bounds, skew
detection). All are single-aggregation plans — partial (map-side)
aggregation does the heavy lifting, so the shuffle carries one row per
(group, grid cell), never raw data; that is the property that holds at
100 TB.

Determinism note vs the DuckDB oracle: only ANSI aggregates with fixed
definitions are used (corr / covar_samp / stddev_samp / var_samp /
percentile-continuous); results are rounded in-query on BOTH sides so
summation-order noise cannot flip the driver's value hash.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession

from muurschilderingendatabase_etl_spark.queries import money
from muurschilderingendatabase_etl_spark.registry import query
from muurschilderingendatabase_etl_spark.tables import t

N_BINS = 10

# The probes of the two exact-percentile queries, by output name.
PRICE_PROBES = {"p25": 0.25, "p50": 0.5, "p75": 0.75, "p875": 0.875}


def pearson(x: str, y: str) -> Column:
    """Pearson correlation of columns ``x`` and ``y`` as
    try_divide(covar_samp, sd·sd), not the builtin corr: under ANSI mode
    Spark's corr ABORTS THE JOB on a zero-variance group (its internal
    ck/sqrt(xMk·yMk) divides by zero) where DuckDB returns NULL, and
    corr is undefined there, so NULL is the right answer. The (n-1)
    factors cancel exactly, making this the same statistic to within
    1 ulp, far inside the 6 dp output rounding of both callers (parity
    checked at sf0.01 and sf10)."""
    return F.try_divide(F.covar_samp(x, y), F.stddev_samp(x) * F.stddev_samp(y))


def price_percentiles(
    spark: SparkSession, sf_dir: str, ps: dict[str, float]
) -> DataFrame:
    """Exact linear-interpolation percentiles of ``l_extendedprice`` per
    ``l_returnflag``: one dollar column per ``ps`` entry (output name ->
    probe). PERCENTILE_CONT semantics, the same as Spark's
    ``percentile`` and DuckDB's ``quantile_cont``.

    Computed by the rank-based distributed form
    (``exact_group_percentiles``), not the builtin aggregate: Spark's
    ``percentile()`` buffers a per-task value->count hashmap whose
    serialized state OOMed an 8 GiB heap at sf10
    (TypedAggregateWithHashMapAsBuffer, ~60M distinct prices x 32
    concurrent tasks). The rank form is one spillable range-shuffle sort
    plus a broadcast pick of the bracketing ranks, memory-bounded at any
    corpus size.

    Cross-engine determinism: the price is lifted to INTEGER cents
    (``money.cents``), and for dyadic probes (1/4, 1/2, 3/4, 7/8) the
    interpolation position (n-1)*p and the blend a + (b-a)*frac are
    EXACT in IEEE double no matter how either engine associates the
    arithmetic, so both engines produce bit-identical values. Monetary
    data interpolates onto .xx5 midpoints constantly, and rounding a
    raw-dollar interpolation that differs by half an ulp between the
    engines to 2 dp flips the cent (seen at sf0.001)."""
    from muurschilderingendatabase_etl_spark.queries.distributed import (
        exact_group_percentiles,
    )

    li = t(spark, sf_dir, "lineitem").select(
        "l_returnflag", money.cents(F.col("l_extendedprice")).alias("cents")
    )
    qs = exact_group_percentiles(li, "l_returnflag", "cents", list(ps.values()))
    return qs.select(
        "l_returnflag",
        *[(F.col("qs")[i] / 100.0).alias(name) for i, name in enumerate(ps)],
    )


@query(
    "stats_corr_moments",
    oracle="""
    SELECT l_returnflag,
      CAST(COUNT(*) AS BIGINT) AS n,
      ROUND(corr(l_quantity, l_extendedprice), 6) AS qty_price_corr,
      ROUND(covar_samp(l_quantity, l_extendedprice), 2) AS qty_price_covar,
      ROUND(stddev_samp(l_quantity), 4) AS qty_stddev,
      ROUND(var_samp(l_quantity), 4) AS qty_var,
      ROUND(AVG(l_quantity), 4) AS qty_mean
    FROM lineitem GROUP BY l_returnflag
    """,
)
def stats_corr_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group second-moment profile: Pearson correlation, sample
    covariance/variance/stddev, mean. One hash aggregation; every
    statistic is an algebraic aggregate (mergeable partial states), so
    the plan map-side-combines and the exchange carries 3 rows. The
    correlation is ``pearson``, NULL on a zero-variance group."""
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(pearson("l_quantity", "l_extendedprice"), 6).alias(
            "qty_price_corr"
        ),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias(
            "qty_price_covar"
        ),
        F.round(F.stddev_samp("l_quantity"), 4).alias("qty_stddev"),
        F.round(F.var_samp("l_quantity"), 4).alias("qty_var"),
        F.round(F.avg("l_quantity"), 4).alias("qty_mean"),
    )


@query(
    "stats_histogram_bins",
    oracle=f"""
    WITH mm AS (
      SELECT MIN(o_totalprice) AS mn, MAX(o_totalprice) AS mx FROM orders
    ),
    b AS (
      SELECT CAST(least(floor(((o_totalprice - mn) / (mx - mn)) * {N_BINS}.0),
                        {N_BINS - 1}) AS BIGINT) AS bin,
             mn, mx
      FROM orders, mm
    )
    SELECT bin,
      CAST(COUNT(*) AS BIGINT) AS n,
      ROUND(mn + bin * ((mx - mn) / {N_BINS}.0), 2) AS bin_lo,
      ROUND(mn + (bin + 1) * ((mx - mn) / {N_BINS}.0), 2) AS bin_hi
    FROM b GROUP BY bin, mn, mx
    """,
)
def stats_histogram_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-width histogram of order totals: global min/max from a
    first aggregation, broadcast back as a 1-row frame, then a
    bin-assignment projection + count. Two scans but zero wide
    shuffles — the per-bin counts partial-aggregate map-side. The bin
    arithmetic is written identically on both engines so edge values
    fall in the same bin."""
    orders = t(spark, sf_dir, "orders")
    mm = orders.agg(
        F.min("o_totalprice").alias("mn"), F.max("o_totalprice").alias("mx")
    )
    # try_divide: a constant column (mx == mn) has zero range — the span
    # is NULL (DuckDB's x/0), least() skips the NULL on both engines and
    # every row lands in the top bin, instead of an ANSI job abort.
    span = F.try_divide(
        F.col("o_totalprice") - F.col("mn"), F.col("mx") - F.col("mn")
    )
    bin_ = F.least(
        F.floor(span * float(N_BINS)), F.lit(N_BINS - 1)
    ).cast("long")
    width = (F.col("mx") - F.col("mn")) / float(N_BINS)
    return (
        orders.crossJoin(F.broadcast(mm))
        .select(bin_.alias("bin"), "mn", "mx")
        .groupBy("bin", "mn", "mx")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "bin",
            "n",
            F.round(F.col("mn") + F.col("bin") * width, 2).alias("bin_lo"),
            F.round(F.col("mn") + (F.col("bin") + 1) * width, 2).alias(
                "bin_hi"
            ),
        )
    )


@query(
    "stats_percentiles_exact",
    oracle="""
    WITH c AS (
      SELECT l_returnflag,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents
      FROM lineitem
    )
    SELECT l_returnflag,
      quantile_cont(cents, 0.25)  / 100.0 AS p25,
      quantile_cont(cents, 0.50)  / 100.0 AS p50,
      quantile_cont(cents, 0.75)  / 100.0 AS p75,
      quantile_cont(cents, 0.875) / 100.0 AS p875
    FROM c GROUP BY l_returnflag
    """,
)
def stats_percentiles_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact price percentiles per return flag, through
    ``price_percentiles``; the sketch alternative for 100 TB is
    ``approx_percentile`` (see agg_approx_percentile)."""
    return price_percentiles(spark, sf_dir, PRICE_PROBES)


@query(
    "profile_expectations",
    oracle="""
    SELECT
      CAST(COUNT(*) AS BIGINT) AS n_rows,
      CAST(COUNT(*) - COUNT(o_custkey) AS BIGINT) AS custkey_nulls,
      CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS custkey_distinct,
      CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS status_distinct,
      MIN(o_orderstatus) AS status_min,
      MAX(o_orderstatus) AS status_max,
      ROUND(MIN(o_totalprice), 2) AS price_min,
      ROUND(MAX(o_totalprice), 2) AS price_max,
      CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT)
        AS price_nonpositive,
      CAST(SUM(CASE WHEN o_orderdate < TIMESTAMP '1992-01-01'
                      OR o_orderdate >= TIMESTAMP '2026-01-01'
               THEN 1 ELSE 0 END) AS BIGINT) AS orderdate_out_of_range
    FROM orders
    """,
)
def profile_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-validation expectations in one scan: null counts, distinct
    cardinalities, min/max bounds, and violation counters (non-positive
    price, out-of-range date) — the checks a pipeline gate asserts
    before promoting a batch. Everything is an algebraic aggregate over
    a single pass, so the cost at 100 TB is the scan itself; in
    production the same expressions ride an ``observe`` on the main job
    instead of a separate query."""
    o = t(spark, sf_dir, "orders")
    return o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.count(F.lit(1)) - F.count("o_custkey")).alias("custkey_nulls"),
        F.countDistinct("o_custkey").alias("custkey_distinct"),
        F.countDistinct("o_orderstatus").alias("status_distinct"),
        F.min("o_orderstatus").alias("status_min"),
        F.max("o_orderstatus").alias("status_max"),
        F.round(F.min("o_totalprice"), 2).alias("price_min"),
        F.round(F.max("o_totalprice"), 2).alias("price_max"),
        F.sum((F.col("o_totalprice") <= 0).cast("long")).alias(
            "price_nonpositive"
        ),
        F.sum(
            (
                (F.col("o_orderdate") < F.lit("1992-01-01").cast("timestamp"))
                | (
                    F.col("o_orderdate")
                    >= F.lit("2026-01-01").cast("timestamp")
                )
            ).cast("long")
        ).alias("orderdate_out_of_range"),
    )


@query(
    "stats_chi_square_contingency",
    oracle="""
    WITH obs AS (
      SELECT c.c_mktsegment AS seg, o.o_orderpriority AS pri,
             CAST(COUNT(*) AS DOUBLE) AS o_cnt
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    ),
    tot AS (
      SELECT seg, pri, o_cnt,
        SUM(o_cnt) OVER (PARTITION BY seg) AS row_tot,
        SUM(o_cnt) OVER (PARTITION BY pri) AS col_tot,
        SUM(o_cnt) OVER () AS n
      FROM obs
    )
    SELECT
      CAST(COUNT(*) AS BIGINT) AS n_cells,
      CAST((COUNT(DISTINCT seg) - 1) * (COUNT(DISTINCT pri) - 1) AS BIGINT)
        AS dof,
      ROUND(SUM(pow(o_cnt - row_tot * col_tot / n, 2)
                / (row_tot * col_tot / n)), 4) AS chi2
    FROM tot
    """,
)
def stats_chi_square_contingency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence between customer market segment
    and order priority: observed cell counts from one join+aggregate,
    marginals via windows over the tiny 25-cell contingency frame, then
    the test statistic. All heavy lifting is the first aggregation
    (partial map-side combine); everything after operates on
    |segments| x |priorities| rows, so scale cost is one fact-table
    pass regardless of cardinality of the input."""
    from pyspark.sql import Window

    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    obs = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            F.col("o_orderpriority").alias("pri"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("o_cnt"))
    )
    tot = obs.select(
        "seg",
        "pri",
        "o_cnt",
        F.sum("o_cnt").over(Window.partitionBy("seg")).alias("row_tot"),
        F.sum("o_cnt").over(Window.partitionBy("pri")).alias("col_tot"),
        F.sum("o_cnt").over(
            Window.partitionBy()
        ).alias("n"),
    )
    expected = F.col("row_tot") * F.col("col_tot") / F.col("n")
    return tot.agg(
        F.count(F.lit(1)).alias("n_cells"),
        (
            (F.countDistinct("seg") - 1) * (F.countDistinct("pri") - 1)
        ).alias("dof"),
        F.round(
            F.sum(F.pow(F.col("o_cnt") - expected, 2) / expected), 4
        ).alias("chi2"),
    )
