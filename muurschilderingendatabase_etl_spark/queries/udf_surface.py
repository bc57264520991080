"""UDF surface (SURVEY.md §2.3 'UDF surface'): scalar Python UDF,
Arrow-vectorized pandas UDF, UDAF via applyInPandas, Python UDTF.

These exist to prove the extension surface, not as the preferred path —
every one of them is expressible as built-ins (and the rest of this repo
does exactly that). Scale stance:

- The row-at-a-time scalar UDF is deliberately run on a key-pruned
  subset: it serializes one row per Python call and is the documented
  slow path (~10-100× slower than codegen built-ins).
- The pandas UDF and applyInPandas cross the JVM↔Python boundary once
  per Arrow batch — the acceptable Python path for logic that genuinely
  needs numpy/pandas.
- applyInPandas shuffles by the grouping key; group size must fit one
  executor's memory (fine for per-lang stats; for huge groups,
  pre-aggregate or use built-in percentile_approx instead).
- The UDTF fans rows out executor-side (no driver involvement).
"""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from muurschilderingendatabase_etl_spark.registry import query
from muurschilderingendatabase_etl_spark.tables import t


@query(
    "udf_scalar_python",
    oracle="""
    SELECT c_custkey,
           CAST(length(c_name) - length(regexp_replace(c_name, '[aeiouAEIOU]', '', 'g'))
                AS INT) AS n_vowels
    FROM customer
    WHERE c_custkey < 500
    """,
)
def udf_scalar_python(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-at-a-time Python UDF (vowel count) on a pruned subset — the
    documented slow path; kept small on purpose."""

    @F.udf("int")
    def n_vowels(s: str) -> int:
        return sum(1 for ch in s if ch in "aeiouAEIOU")

    return (
        t(spark, sf_dir, "customer")
        .where(F.col("c_custkey") < 500)
        .select("c_custkey", n_vowels("c_name").alias("n_vowels"))
    )


@query(
    "udf_pandas_vectorized",
    oracle="""
    SELECT l_returnflag,
           ROUND(AVG(ln(1 + l_extendedprice) * (1 - l_discount)), 4) AS avg_score,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def udf_pandas_vectorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched pandas UDF: numpy log-score per line, aggregated by
    return flag. One Python crossing per Arrow batch, vectorized inside."""
    import numpy as np

    @F.pandas_udf("double")
    def score(price: pd.Series, discount: pd.Series) -> pd.Series:
        return np.log1p(price) * (1.0 - discount)

    return (
        t(spark, sf_dir, "lineitem")
        .select("l_returnflag", score("l_extendedprice", "l_discount").alias("s"))
        .groupBy("l_returnflag")
        .agg(
            F.round(F.avg("s"), 4).alias("avg_score"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@query(
    "udaf_apply_in_pandas",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(median(CAST(length(text) AS DOUBLE)), 2) AS median_len,
           ROUND(stddev_samp(CAST(length(text) AS DOUBLE)), 2) AS sd_len
    FROM documents
    GROUP BY lang
    """,
)
def udaf_apply_in_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom UDAF via groupBy().applyInPandas: per-language median and
    sample stddev of document length (median is the classic
    not-built-in-exactly aggregate; pandas and DuckDB both interpolate
    the middle pair). Shuffles by lang; one pandas frame per group."""

    def stats(pdf: pd.DataFrame) -> pd.DataFrame:
        lens = pdf["text"].str.len().astype("float64")
        return pd.DataFrame(
            {
                "lang": [pdf["lang"].iloc[0]],
                "n_docs": [len(pdf)],
                "median_len": [round(lens.median(), 2)],
                "sd_len": [round(lens.std(ddof=1), 2)],
            }
        )

    return (
        t(spark, sf_dir, "documents")
        .select("lang", "text")
        .groupBy("lang")
        .applyInPandas(
            stats, schema="lang string, n_docs long, median_len double, sd_len double"
        )
    )


@query(
    "udtf_sentence_split",
    oracle="""
    SELECT doc_id, sentence
    FROM (
      SELECT doc_id, trim(unnest(string_split(text, '. '))) AS sentence
      FROM documents
      WHERE doc_id < 50
    )
    WHERE sentence <> ''
    """,
)
def udtf_sentence_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 3.5+/4): one input row fans out to one row per
    sentence, executor-side via a lateral join."""
    from pyspark.sql.functions import lit, udtf

    @udtf(returnType="sentence: string")
    class SentenceSplit:
        def eval(self, text: str):
            for part in text.split(". "):
                part = part.strip()
                if part:
                    yield (part,)

    spark.udtf.register("msdb_sentence_split", SentenceSplit)
    t(spark, sf_dir, "documents").where(F.col("doc_id") < 50).createOrReplaceTempView(
        "msdb_udtf_docs"
    )
    return spark.sql(
        """
        SELECT d.doc_id, s.sentence
        FROM msdb_udtf_docs d,
             LATERAL msdb_sentence_split(d.text) s
        """
    )


@query(
    "udf_cogroup_apply_in_pandas",
    oracle="""
    WITH e AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE)
               AS event_value
      FROM events GROUP BY user_id
    ),
    o AS (
      SELECT o_custkey AS user_id, CAST(COUNT(*) AS BIGINT) AS n_orders
      FROM orders WHERE o_custkey <= 150 GROUP BY o_custkey
    )
    SELECT COALESCE(e.user_id, o.user_id) AS user_id,
           COALESCE(e.n_events, 0) AS n_events,
           COALESCE(e.event_value, 0.0) AS event_value,
           COALESCE(o.n_orders, 0) AS n_orders
    FROM e FULL OUTER JOIN o ON e.user_id = o.user_id
    """,
)
def udf_cogroup_apply_in_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cogroup().applyInPandas: both tables shuffle on the key, each key's
    two pandas frames arrive in one Python call — the arbitrary two-sided
    per-key merge (full-outer semantics included) that a plain join can't
    express when the merge logic is imperative.

    Aggregate before the shuffle: the per-KEY Python call (three pandas
    frames constructed per key) is the real cost, and shipping every raw
    event row through Arrow to merge in Python left AQE coalescing the
    tiny cogroup exchange to ONE partition, so ~1.5k group calls ran
    serially in a single Python worker (4.1–4.5 s warm at sf0.1). So both
    sides are reduced
    JVM-side first (map-side partial aggregation, one row per key crosses
    the boundary) and explicitly hash-repartitioned by the key to the
    core count, which FlatMapCoGroupsInPandas reuses directly (explicit
    numPartitions ⇒ AQE won't coalesce it away), so the group calls run
    on every core. At 100 TB the pre-aggregation is the difference
    between shipping the events table and shipping |users| rows.

    Exact-cents equivalence with the old NumPy merge: np.rint is
    round-half-even on the float64 — exactly F.bround — and the oracle's
    SUM skips NULLs, so the conditional sum (NaN/NULL dropped before
    rounding, as dropna did) reproduces the old values bit-for-bit.
    """
    import pandas as pd

    par = spark.sparkContext.defaultParallelism
    cents = F.when(
        F.col("value").isNotNull() & ~F.isnan("value"),
        F.bround(F.col("value") * 100, 0).cast("long"),
    )
    ev = (
        t(spark, sf_dir, "events")
        .select("user_id", "value")
        .repartition(par, "user_id")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(cents).alias("cents"),
        )
    )
    orders = (
        t(spark, sf_dir, "orders")
        .where(F.col("o_custkey") <= 150)
        .select(F.col("o_custkey").alias("user_id"))
        .repartition(par, "user_id")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )

    def merge(key, left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        # one pre-aggregated row per side at most; cents is NaN when a
        # user's values were all NULL/NaN (SUM over zero rows) — the old
        # dropna path yielded 0.0 there too.
        c = left["cents"].iloc[0] if len(left) else None
        return pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [int(left["n_events"].iloc[0]) if len(left) else 0],
                "event_value": [float(c) / 100.0 if c is not None and pd.notna(c) else 0.0],
                "n_orders": [int(right["n_orders"].iloc[0]) if len(right) else 0],
            }
        )

    return (
        ev.groupBy("user_id")
        .cogroup(orders.groupBy("user_id"))
        .applyInPandas(
            merge,
            schema="user_id long, n_events long, event_value double, n_orders long",
        )
    )


@query(
    "udf_map_in_arrow",
    oracle="""
    SELECT o_orderkey,
           CAST(length(o_orderpriority) AS INT) AS prio_len,
           ROUND(o_totalprice * 2, 2) AS uplifted
    FROM orders
    WHERE o_orderkey < 400
    """,
)
def udf_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow: the lowest-overhead Python exchange — raw pyarrow
    RecordBatches in and out, no pandas conversion at all. Right level
    for columnar-native Python libs (tokenizers, pyarrow.compute)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def uplift(batches):
        for batch in batches:
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("o_orderkey"),
                    pc.cast(
                        pc.utf8_length(batch.column("o_orderpriority")), pa.int32()
                    ),
                    # x2 keeps the value at 2 decimals: a x1.1 uplift would
                    # create third-decimal half-way cases where pyarrow
                    # (half-to-even) and the oracle (half-away) disagree.
                    pc.round(
                        pc.multiply(batch.column("o_totalprice"), 2), ndigits=2
                    ),
                ],
                names=["o_orderkey", "prio_len", "uplifted"],
            )

    return (
        t(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") < 400)
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
        .mapInArrow(
            uplift, schema="o_orderkey long, prio_len int, uplifted double"
        )
    )
