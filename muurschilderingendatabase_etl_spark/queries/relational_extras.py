"""Additional relational operators rounding out SURVEY.md §2.3: pivot,
multiset set-ops (EXCEPT ALL / INTERSECT ALL), union-by-name with missing
columns, exact percentiles, correlation/covariance aggregates,
positional explode, and seeded sampling.

Scale notes: the pivot passes an explicit value list (no extra distinct
pass over the data to discover pivot columns); percentiles use the exact
`percentile` aggregate here where the oracle needs exactness — at 100 TB
you'd reach for `approx_percentile` (t-digest, mergeable sketches, no
global sort) and accept the documented error bound.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from muurschilderingendatabase_etl_spark.registry import query
from muurschilderingendatabase_etl_spark.tables import t

# TPC-H market segments are a fixed domain; passing them explicitly keeps
# pivot from running a discovery job over the fact table.
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


@query(
    "pivot_segment_by_year",
    oracle=f"""
    SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS order_year,
           {", ".join(
               f"CAST(ROUND(SUM(CASE WHEN c_mktsegment = '{s}' THEN"
               f" CAST(o_totalprice AS DECIMAL(18,2)) END), 2) AS DOUBLE)"
               f" AS {s}" for s in _SEGMENTS
           )}
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY order_year
    """,
)
def pivot_segment_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: revenue per market segment (columns) by order year (rows).
    Cell sums ride the exact integer-cents path (queries/money.py) — a
    year×segment cell aggregates enough rows at scale to sit in the
    ROUND(SUM(double)) cent-flip class (seen at sf10 in
    agg_pricing_summary)."""
    from muurschilderingendatabase_etl_spark.queries import money

    orders = t(spark, sf_dir, "orders")
    customer = t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = orders.join(
        customer, orders.o_custkey == customer.c_custkey
    ).select(
        F.year("o_orderdate").cast("long").alias("order_year"),
        "c_mktsegment",
        "o_totalprice",
    )
    pivoted = (
        joined.groupBy("order_year")
        .pivot("c_mktsegment", _SEGMENTS)
        .agg(money.sum_money(F.col("o_totalprice")))
    )
    return pivoted


@query(
    "setop_except_all",
    oracle="""
    SELECT o_custkey FROM orders
    EXCEPT ALL
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
)
def setop_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset difference: each duplicate survives count(left)-count(right)
    times, unlike EXCEPT's set semantics."""
    orders = t(spark, sf_dir, "orders")
    left = orders.select("o_custkey")
    right = orders.where(F.col("o_orderstatus") == "F").select("o_custkey")
    return left.exceptAll(right)


@query(
    "setop_intersect_all",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    INTERSECT ALL
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    """,
)
def setop_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    left = orders.where(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    right = orders.where(F.col("o_orderstatus") == "O").select("o_custkey")
    return left.intersectAll(right)


@query(
    "setop_union_by_name",
    oracle="""
    SELECT n_name AS name, CAST(n_nationkey AS BIGINT) AS key, 'nation' AS kind
    FROM nation
    UNION ALL BY NAME
    SELECT 'region' AS kind, r_name AS name, CAST(r_regionkey + 1000 AS BIGINT) AS key
    FROM region
    """,
)
def setop_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unionByName: schemas align by column NAME, not position — the
    second input deliberately presents its columns in a different order."""
    nations = t(spark, sf_dir, "nation").select(
        F.col("n_name").alias("name"),
        F.col("n_nationkey").cast("long").alias("key"),
        F.lit("nation").alias("kind"),
    )
    regions = t(spark, sf_dir, "region").select(
        F.lit("region").alias("kind"),
        F.col("r_name").alias("name"),
        (F.col("r_regionkey") + 1000).cast("long").alias("key"),
    )
    return nations.unionByName(regions)


@query(
    "agg_percentiles",
    oracle="""
    SELECT l_returnflag,
           ROUND(quantile_cont(ROUND(l_extendedprice * 100, 0), 0.25)  / 100, 5) AS p25,
           ROUND(quantile_cont(ROUND(l_extendedprice * 100, 0), 0.5)   / 100, 5) AS p50,
           ROUND(quantile_cont(ROUND(l_extendedprice * 100, 0), 0.75)  / 100, 5) AS p75,
           ROUND(quantile_cont(ROUND(l_extendedprice * 100, 0), 0.875) / 100, 5) AS p875
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per return flag, through
    ``stats_profile.price_percentiles`` (the rank-based form and the
    cent-exact interpolation argument are there).

    The output rounds to FIVE decimals, not four: cents interpolated at
    eighths carry at most 3 fractional digits (.875), i.e. 5 decimals
    after /100, so ROUND(x, 5) is a no-op. ROUND(x, 4) would land on the
    true decimal midpoint X.xx875, where Spark's and DuckDB's
    tie-breaking disagree (p875 off by exactly 1e-4 in an sf10 parity
    check)."""
    from muurschilderingendatabase_etl_spark.queries.stats_profile import (
        PRICE_PROBES,
        price_percentiles,
    )

    return price_percentiles(spark, sf_dir, PRICE_PROBES).select(
        "l_returnflag", *[F.round(name, 5).alias(name) for name in PRICE_PROBES]
    )


@query(
    "agg_corr_covar",
    oracle="""
    SELECT l_returnflag,
           ROUND(corr(l_quantity, l_extendedprice), 6)       AS corr_qty_price,
           ROUND(covar_samp(l_quantity, l_extendedprice), 2) AS covar_qty_price,
           ROUND(stddev_samp(l_extendedprice), 2)            AS sd_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_corr_covar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlation (``stats_profile.pearson``, NULL on a zero-variance
    group), covariance and price stddev per return flag."""
    from muurschilderingendatabase_etl_spark.queries.stats_profile import pearson

    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(pearson("l_quantity", "l_extendedprice"), 6).alias(
            "corr_qty_price"
        ),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias(
            "covar_qty_price"
        ),
        F.round(F.stddev_samp("l_extendedprice"), 2).alias("sd_price"),
    )


@query(
    "project_posexplode",
    oracle="""
    SELECT doc_id,
           CAST(generate_subscripts(string_split(text, ' '), 1) - 1 AS INT) AS pos,
           unnest(string_split(text, ' ')) AS word
    FROM documents
    WHERE doc_id < 20
    """,
)
def project_posexplode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode: one row per word with its 0-based position."""
    return (
        t(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 20)
        .select("doc_id", F.posexplode(F.split("text", " ")).alias("pos", "word"))
    )


@query(
    "sample_seeded",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_source,
           TRUE AS deterministic,
           TRUE AS fraction_in_band
    FROM orders
    """,
)
def sample_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bernoulli sample with a fixed seed, value-checked IN-BAND (the
    pattern of the HLL and ANN queries — the RNG stream is
    engine-specific, so no external oracle can name the sampled rows,
    but the sample's
    CONTRACT is checkable inside the query):
    - deterministic: a second sample with the same seed selects the
      identical row set (count equality + key-join coverage; o_orderkey
      is unique in orders) — the property reproducible pipelines build
      on, now externally gated instead of only unit-tested.
    - fraction_in_band: the realized fraction sits within 4.5 sigma of
      the requested 0.1 (sigma = sqrt(0.1*0.9/N); one fixed draw lies
      outside ~3e-6 of the time, and the band self-widens on tiny
      fixtures). Vacuously TRUE on an empty source.
    The sampled rows themselves remain reachable via _seeded_sample for
    pipeline use and tests."""
    orders = t(spark, sf_dir, "orders")
    s1 = _seeded_sample(spark, sf_dir)
    s2 = orders.sample(fraction=0.1, seed=42).select("o_orderkey")
    n1 = s1.agg(F.count(F.lit(1)).alias("n1"))
    n2 = s2.agg(F.count(F.lit(1)).alias("n2"))
    ni = s1.join(s2, "o_orderkey").agg(F.count(F.lit(1)).alias("ni"))
    ns = orders.agg(F.count(F.lit(1)).alias("n_source"))
    band = 4.5 * F.sqrt(F.lit(0.09) / F.col("n_source"))
    return (
        ns.crossJoin(n1).crossJoin(n2).crossJoin(ni)
        .select(
            "n_source",
            (
                (F.col("n1") == F.col("n2")) & (F.col("ni") == F.col("n1"))
            ).alias("deterministic"),
            F.when(F.col("n_source") == 0, F.lit(True))
            .otherwise(
                F.abs(F.col("n1") / F.col("n_source") - 0.1) <= band
            )
            .alias("fraction_in_band"),
        )
    )


def _seeded_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sample itself — deterministic within Spark for a fixed seed
    and input layout (reproducible pipelines)."""
    return (
        t(spark, sf_dir, "orders")
        .sample(fraction=0.1, seed=42)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


@query(
    "project_explode_outer",
    oracle="""
    SELECT d.doc_id, u.long_word
    FROM (
      SELECT doc_id,
             list_filter(string_split(text, ' '), x -> length(x) > 12) AS lw
      FROM documents WHERE doc_id < 50
    ) d
    LEFT JOIN LATERAL (SELECT unnest(d.lw) AS long_word) u ON true
    """,
)
def project_explode_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode_outer: rows with an empty array survive with NULL — the
    left-join-lateral semantics explode() would silently drop."""
    docs = (
        t(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 50)
        .select(
            "doc_id",
            F.filter(F.split("text", " "), lambda x: F.length(x) > 12).alias("lw"),
        )
    )
    return docs.select("doc_id", F.explode_outer("lw").alias("long_word"))


@query(
    "project_unpivot_melt",
    oracle="""
    SELECT c_custkey, metric, ROUND(val, 2) AS val
    FROM (
      SELECT c_custkey, c_acctbal AS acctbal,
             CAST(c_nationkey AS DOUBLE) AS nationkey
      FROM customer WHERE c_custkey < 500
    ) UNPIVOT (val FOR metric IN (acctbal, nationkey))
    """,
)
def project_unpivot_melt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT / melt — wide-to-long reshaping (the inverse of
    pivot_segment_by_year): per-customer metric columns become
    (metric, value) rows via the native unpivot operator, a pure
    generator projection (rows × n_metrics, no shuffle at all)."""
    wide = (
        t(spark, sf_dir, "customer")
        .where(F.col("c_custkey") < 500)
        .select(
            "c_custkey",
            F.col("c_acctbal").alias("acctbal"),
            F.col("c_nationkey").cast("double").alias("nationkey"),
        )
    )
    return wide.unpivot(
        ids=["c_custkey"],
        values=["acctbal", "nationkey"],
        variableColumnName="metric",
        valueColumnName="raw_val",
    ).select("c_custkey", "metric", F.round("raw_val", 2).alias("val"))


@query(
    "agg_grouping_id",
    oracle="""
    SELECT COALESCE(r_name, 'ALL') AS region_name,
      CAST(GROUPING(r_name) AS BIGINT) AS is_total,
      CAST(COUNT(*) AS BIGINT) AS n_nations
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name)
    """,
)
def agg_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING() metadata on a rollup: distinguishes 'the r_name
    column is NULL because this is the grand-total row' from a genuine
    NULL value — required for correct rollup consumers (the COALESCE
    label alone is ambiguous when data can contain the label value)."""
    joined = t(spark, sf_dir, "nation").join(
        F.broadcast(t(spark, sf_dir, "region")),
        F.col("n_regionkey") == F.col("r_regionkey"),
    )
    return (
        joined.rollup("r_name")
        .agg(
            F.grouping("r_name").cast("long").alias("is_total"),
            F.count(F.lit(1)).alias("n_nations"),
        )
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("region_name"),
            "is_total",
            "n_nations",
        )
    )


@query(
    "scalar_try_arithmetic",
    oracle="""
    SELECT o_orderkey,
      ROUND(o_totalprice / NULLIF(CAST(o_orderkey % 7 AS DOUBLE), 0), 4)
        AS safe_ratio,
      TRY_CAST(o_orderpriority AS INTEGER) AS bad_cast,
      CAST(COALESCE(TRY_CAST(substr(o_orderpriority, 1, 1) AS INTEGER), -1)
           AS BIGINT) AS priority_digit
    FROM orders WHERE o_orderkey < 2000
    """,
)
def scalar_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-safe arithmetic surface: try_divide (NULL on /0 instead of
    error or Inf), try_cast (NULL on malformed input) and a coalesced
    fallback — the error-tolerant scalar layer a pipeline needs when
    ANSI mode is on (Spark 4 default), mirroring the reference's
    tolerate-and-continue stance (O20) at expression granularity."""
    return (
        t(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") < 2000)
        .select(
            "o_orderkey",
            F.round(
                F.try_divide(
                    F.col("o_totalprice"),
                    (F.col("o_orderkey") % 7).cast("double"),
                ),
                4,
            ).alias("safe_ratio"),
            F.try_to_number(F.col("o_orderpriority"), F.lit("9")).cast("int").alias("bad_cast"),
            F.coalesce(
                F.substring("o_orderpriority", 1, 1).try_cast("int"), F.lit(-1)
            ).cast("long").alias("priority_digit"),
        )
    )


@query(
    "skyline_pareto_frontier",
    oracle="""
    SELECT p.p_brand, p.p_partkey, p.p_size,
           ROUND(p.p_retailprice, 2) AS p_retailprice
    FROM part p
    WHERE NOT EXISTS (
      SELECT 1 FROM part q
      WHERE q.p_brand = p.p_brand
        AND q.p_retailprice <= p.p_retailprice
        AND q.p_size >= p.p_size
        AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size)
    )
    """,
)
def skyline_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline / Pareto frontier per brand: parts not dominated by any
    same-brand part that is both cheaper-or-equal and larger-or-equal
    (strictly better in at least one dimension). Expressed as a theta
    ANTI join — the dominance predicate is pure inequality, so Spark
    plans a blocked nested-loop anti join; the brand equi-key keeps each
    comparison block bounded (the standard skyline blocking trick: at
    100 TB you first prune with a coarse grid/quantile pass so only
    per-cell local frontiers reach the quadratic check)."""
    p = t(spark, sf_dir, "part").select(
        "p_brand", "p_partkey", "p_size", "p_retailprice"
    )
    q = p.select(
        F.col("p_brand").alias("q_brand"),
        F.col("p_size").alias("q_size"),
        F.col("p_retailprice").alias("q_price"),
    )
    dominated = (
        (F.col("q_brand") == F.col("p_brand"))
        & (F.col("q_price") <= F.col("p_retailprice"))
        & (F.col("q_size") >= F.col("p_size"))
        & (
            (F.col("q_price") < F.col("p_retailprice"))
            | (F.col("q_size") > F.col("p_size"))
        )
    )
    return p.join(q, dominated, "left_anti").select(
        "p_brand",
        "p_partkey",
        "p_size",
        F.round("p_retailprice", 2).alias("p_retailprice"),
    )
