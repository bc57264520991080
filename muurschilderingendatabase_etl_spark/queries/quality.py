"""Training-corpus quality operators: rule-based quality gates
(Gopher-style), repetition detection, length-band filtering,
benchmark-contamination detection, deterministic stratified sampling.

These are the pre-training data-curation filters that sit between raw
crawl and the dedup stage (queries/dedup.py) in an LLM data pipeline.
All per-document metrics are single-pass column expressions — the only
shuffles are the final aggregations and the contamination join.
"""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from muurschilderingendatabase_etl_spark.queries.textutil import gram_rows
from muurschilderingendatabase_etl_spark.registry import query
from muurschilderingendatabase_etl_spark.tables import t

_EN_STOP = ("the", "a", "and", "of", "to")


@query(
    "quality_gopher_gates",
    oracle="""
    WITH m AS (
      SELECT source,
        len(string_split(text, ' ')) AS n_words,
        CAST(length(replace(text, ' ', '')) AS DOUBLE)
          / len(string_split(text, ' ')) AS mean_word_len,
        CAST(len(list_filter(string_split(text, ' '),
                             w -> regexp_full_match(w, '[0-9]+'))) AS DOUBLE)
          / len(string_split(text, ' ')) AS digit_frac,
        len(list_filter(string_split(text, ' '),
                        w -> w IN ('the','a','and','of','to'))) AS n_stop
      FROM documents
    )
    SELECT source,
      CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(SUM(CASE WHEN n_words BETWEEN 50 AND 100000
                     AND mean_word_len BETWEEN 3 AND 10
                     AND digit_frac < 0.3
               THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
      ROUND(AVG(mean_word_len), 4) AS avg_word_len,
      CAST(SUM(CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_stopword_hit
    FROM m GROUP BY source
    """,
)
def quality_gopher_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule quality gates per source: word-count bounds, mean
    word length 3–10, digit-word fraction < 0.3, stopword presence.
    Pure column expressions → whole-stage codegen; one shuffle (the
    groupBy source)."""
    words = F.split("text", " ")
    n_words = F.size(words)
    mean_word_len = (
        F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("double")
        / n_words
    )
    digit_frac = (
        F.size(F.filter(words, lambda w: w.rlike(r"^[0-9]+$"))).cast("double")
        / n_words
    )
    n_stop = F.size(F.filter(words, lambda w: w.isin(list(_EN_STOP))))
    m = t(spark, sf_dir, "documents").select(
        "source",
        n_words.alias("n_words"),
        mean_word_len.alias("mean_word_len"),
        digit_frac.alias("digit_frac"),
        n_stop.alias("n_stop"),
    )
    passes = (
        F.col("n_words").between(50, 100000)
        & F.col("mean_word_len").between(3, 10)
        & (F.col("digit_frac") < 0.3)
    )
    return m.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(passes, 1).otherwise(0)).alias("n_pass"),
        F.round(F.avg("mean_word_len"), 4).alias("avg_word_len"),
        F.sum(F.when(F.col("n_stop") >= 2, 1).otherwise(0)).alias(
            "n_stopword_hit"
        ),
    )


@query(
    "quality_repetition_dupwords",
    oracle="""
    WITH m AS (
      SELECT lang,
        1.0 - CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
            / len(string_split(text, ' ')) AS dup_frac
      FROM documents
    )
    SELECT lang,
      ROUND(AVG(dup_frac), 6) AS avg_dup_frac,
      ROUND(MAX(dup_frac), 6) AS max_dup_frac,
      CAST(SUM(CASE WHEN dup_frac > 0.5 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_high_repetition
    FROM m GROUP BY lang
    """,
)
def quality_repetition_dupwords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition detector: duplicate-word fraction per document
    (1 − distinct/total), aggregated per language. High values flag
    boilerplate / spam — the cheap cousin of dup-n-gram fraction, and
    the same plan shape (array_distinct stays inside the projection; no
    explode, no extra shuffle)."""
    words = F.split("text", " ")
    dup_frac = 1.0 - F.size(F.array_distinct(words)).cast("double") / F.size(words)
    m = t(spark, sf_dir, "documents").select("lang", dup_frac.alias("dup_frac"))
    return m.groupBy("lang").agg(
        F.round(F.avg("dup_frac"), 6).alias("avg_dup_frac"),
        F.round(F.max("dup_frac"), 6).alias("max_dup_frac"),
        F.sum(F.when(F.col("dup_frac") > 0.5, 1).otherwise(0)).alias(
            "n_high_repetition"
        ),
    )


@query(
    "quality_length_band_filter",
    oracle="""
    WITH ranked AS (
      SELECT lang, n_chars,
        percent_rank() OVER (PARTITION BY lang ORDER BY n_chars) AS pr
      FROM documents
    )
    SELECT lang,
      CAST(COUNT(*) AS BIGINT) AS n_kept,
      CAST(MIN(n_chars) AS BIGINT) AS min_chars,
      CAST(MAX(n_chars) AS BIGINT) AS max_chars
    FROM ranked
    WHERE pr BETWEEN 0.05 AND 0.95
    GROUP BY lang
    """,
)
def quality_length_band_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drop per-language length outliers: keep documents whose n_chars
    percent_rank within their language lies in [0.05, 0.95]. One
    shuffle partitioned by lang serves both the window and (via partial
    agg) the summary. percent_rank = (rank-1)/(n-1) in both engines, so
    the band edges agree exactly."""
    w = Window.partitionBy("lang").orderBy("n_chars")
    ranked = (
        t(spark, sf_dir, "documents")
        .select("lang", "n_chars")
        .withColumn("pr", F.percent_rank().over(w))
    )
    return (
        ranked.where(F.col("pr").between(0.05, 0.95))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
    )


@query(
    "contamination_ngram_overlap",
    oracle="""
    WITH docs AS (
      SELECT doc_id, source, string_split(text, ' ') AS w
      FROM documents
      WHERE len(string_split(text, ' ')) >= 5
    ),
    shingles AS (
      SELECT DISTINCT doc_id, source,
        md5(sh) AS sh
      FROM (
        SELECT doc_id, source,
          unnest(list_transform(
            generate_series(1, len(w) - 4),
            i -> array_to_string(w[i:i+4], ' ')
          )) AS sh
        FROM docs
      )
    ),
    bench AS (
      SELECT DISTINCT sh FROM shingles WHERE source = 'src0'
    )
    SELECT source,
      CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_contaminated_docs
    FROM shingles JOIN bench USING (sh)
    WHERE source <> 'src0'
    GROUP BY source
    """,
)
def contamination_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination scan: treat source src0 as the held-out
    benchmark; flag documents from every other source sharing any word
    5-gram with it.

    Scale shape: both sides are DISTINCT (doc, shingle-hash) sets before
    the join, so the exchange carries fixed-width digests, never text;
    the join is equi on the digest and the final count is a partial agg.
    The digest is md5 here because the DuckDB oracle must compute the
    identical value — at 100 TB you'd swap in xxhash64 (8-byte keys,
    same plan)."""
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", "source", F.split("text", " ").alias("w")
    )
    # Gram stream (textutil decision rule 2), digested after the
    # Generate: each gram + digest is built exactly once, and nothing
    # is materialized per-doc. Measured at sf1: 5.9 s vs 10.8 s for the
    # digest-in-array form.
    shingles_raw = gram_rows(docs, "w", 5, "doc_id", "source").select(
        "doc_id", "source", F.md5("gram").alias("sh")
    )
    # Per-branch dedup (one shuffle fewer): the candidate
    # side keeps the (doc, sh) dedup — insurance against repeated-gram
    # join blowup at scale — but the bench side only ever needs the
    # DISTINCT sh set, so running it through the (doc_id, sh) dedup
    # exchange first was a second shuffle the sh-level distinct makes
    # redundant (plan: 3 exchanges → 2 on that branch). The source
    # filters still push below each branch's Generate, so the two
    # branches PARTITION the corpus scan rather than duplicating it.
    shingles = shingles_raw.dropDuplicates(["doc_id", "sh"])
    bench = (
        shingles_raw.where(F.col("source") == "src0").select("sh").distinct()
    )
    return (
        shingles.where(F.col("source") != "src0")
        .join(bench, "sh")
        .groupBy("source")
        .agg(F.countDistinct("doc_id").alias("n_contaminated_docs"))
    )


@query(
    "sample_hash_stratified",
    oracle="""
    SELECT lang,
      CAST(COUNT(*) AS BIGINT) AS n_sampled,
      CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM documents
    WHERE substr(md5(text), 1, 1) IN ('0', '1', '2')
    GROUP BY lang
    """,
)
def sample_hash_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content-hash sampling (~3/16 rate) stratified by
    language: keep documents whose md5 starts with 0/1/2. Unlike
    rand()-based sampling this is reproducible across engines, runs and
    partitionings — the property a training-data pipeline needs so a
    re-run selects the same corpus. Pure filter → no shuffle before the
    groupBy."""
    return (
        t(spark, sf_dir, "documents")
        .where(F.substring(F.md5("text"), 1, 1).isin("0", "1", "2"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum("n_chars").alias("sum_chars"),
        )
    )


_BLOOM_BITS = 1 << 16  # 8 KB bitmap (1024 longs)
_BLOOM_K = 3           # probes per gram
# pow2[i] = 1<<i as a signed long (bit 63 wraps negative); a literal
# lookup array because shiftleft/shiftright Column-shift amounts aren't
# reachable inside HOF lambdas through the Python wrappers.
_POW2 = [1 << i for i in range(63)] + [-(1 << 63)]


@query(
    "contamination_bloom_prefilter",
    oracle="""
    WITH docs AS (
      SELECT doc_id, source, string_split(text, ' ') AS w
      FROM documents
      WHERE len(string_split(text, ' ')) >= 5
    ),
    shingles AS (
      SELECT DISTINCT doc_id, source,
        md5(sh) AS sh
      FROM (
        SELECT doc_id, source,
          unnest(list_transform(
            generate_series(1, len(w) - 4),
            i -> array_to_string(w[i:i+4], ' ')
          )) AS sh
        FROM docs
      )
    ),
    bench AS (
      SELECT DISTINCT sh FROM shingles
      WHERE source = 'src0' AND doc_id < 1000
    )
    SELECT source,
      CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_contaminated_docs
    FROM shingles JOIN bench USING (sh)
    WHERE source <> 'src0'
    GROUP BY source
    """,
)
def contamination_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """contamination_ngram_overlap's scale twin: a BLOOM PREFILTER makes
    'does this doc share any 5-gram with the benchmark?' affordable at
    corpus scale. The benchmark here is a FIXED eval slice (src0 with
    doc_id < 1000) — the realistic contamination setting: eval sets are
    thousands of grams no matter how big the corpus grows, which is
    precisely what keeps a kilobyte filter honest at any scale (the
    first cut of this operator bloomed the whole of src0; at sf1 that
    is 125k grams and a 2^16-bit filter saturates to all-ones —
    screening everything, pruning nothing). The benchmark side is
    summarized ONCE into a k-probe bitmap and every candidate gram is
    screened MAP-SIDE against the kilobyte filter right after the
    Generate — pruned grams are never digested, deduplicated or
    shuffled; only might-contain survivors pay the exact digest join. False negatives are impossible (every benchmark
    gram sets its bits), so prefilter + exact verify computes the exact
    join's answer — the oracle is that plain join.

    The filter is built with pure codegen expressions (explode the k
    xxhash64 probe positions per benchmark gram → bit_or per 64-bit
    word) because Spark's internal bloom_filter_agg isn't exposed to
    SQL; the ≤ 8 KB word array comes back to the driver and is inlined
    as a constant-folded literal — the same ship-the-summary discipline
    as the IVF centroids, and what a runtime bloom join filter
    broadcasts. The screen is applied per GRAM, immediately after the
    Generate (a doc-level F.exists pre-screen was measured slower —
    see the inline note at the screen site). At
    100 TB the benchmark filter is built once and reused per ingest
    batch. FP budget: m=2^16, k=3 at the fixture's ~10³ benchmark grams
    → ~1e-4 per probe; FPs only cost verify work.
    """
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", "source", F.split("text", " ").alias("w")
    )

    def probe_positions(gram, j):
        return F.pmod(F.xxhash64(gram, F.lit(j)), F.lit(_BLOOM_BITS))

    bench_docs = docs.where(
        (F.col("source") == "src0") & (F.col("doc_id") < 1000)
    )
    bench_grams = gram_rows(bench_docs, "w", 5)
    words = (
        bench_grams.select(
            F.explode(
                F.array(*[probe_positions(F.col("gram"), j) for j in range(_BLOOM_K)])
            ).alias("pos")
        )
        .groupBy((F.col("pos") / 64).cast("int").alias("wi"))
        # SQL shiftleft accepts a column shift (the Python wrapper
        # doesn't), hence the expr string.
        .agg(F.bit_or(F.expr("shiftleft(1L, cast(pos % 64 as int))")).alias("bits"))
        .collect()
    )
    bitmap = [0] * (_BLOOM_BITS // 64)
    for r in words:
        bitmap[r.wi] = r.bits
    # ONE array Literal node each (F.lit of an int64 ndarray), NOT
    # F.array(*[F.lit(v).cast("long") ...]): in classic PySpark 4
    # F.lit(list) is sugar for array(*[lit(item)...]), so a plain list
    # still builds the 1024-child CreateArray; dropping the 1024
    # per-element Cast nodes is what counts (~6.5x: 2.6 s -> 0.4 s,
    # measured with the bitmap inlined SIX times, 3 probes x word+bit,
    # as the plan does). The ndarray path calls
    # the JVM lit directly: one Literal node per array AND the element
    # type pinned to bigint (the bare-list form leaves small words to
    # py4j's per-element int-vs-long choice + Catalyst coercion).
    bm = F.lit(np.asarray(bitmap, dtype=np.int64))
    pw2 = F.lit(np.asarray(_POW2, dtype=np.int64))

    def might_contain(gram):
        hit = None
        for j in range(_BLOOM_K):
            p = probe_positions(gram, j)
            word = F.element_at(bm, (p / F.lit(64)).cast("int") + 1)
            bit = F.element_at(pw2, F.pmod(p, F.lit(64)).cast("int") + 1)
            h = word.bitwiseAND(bit) != 0
            hit = h if hit is None else (hit & h)
        return hit

    # Gram-level screen in the stream form (textutil decision rule 2):
    # the bloom predicate sits BETWEEN the Generate and the md5 +
    # dedup + shuffle, so pruned grams never get digested, deduplicated
    # or moved. 3 xxhash64 probes per gram replace an md5 + exchange
    # for the clean majority. A doc-LEVEL pre-screen (F.exists over the
    # gram indices before the Generate) was tried and measured SLOWER
    # (5.7 s vs 4.3 s warm at sf0.1): every gram gets built for the
    # exists scan anyway, surviving docs then rebuild them all after
    # the explode, and the only thing saved — the Generate itself —
    # is cheaper than the rebuild. The screen lives at gram level only.
    surv_shingles = (
        gram_rows(docs.where(F.col("source") != "src0"), "w", 5, "doc_id", "source")
        .where(might_contain(F.col("gram")))
        .select("doc_id", "source", F.md5("gram").alias("sh"))
        .dropDuplicates(["doc_id", "sh"])
    )
    bench = bench_grams.select(F.md5("gram").alias("sh")).distinct()
    return (
        surv_shingles.join(bench, "sh")
        .groupBy("source")
        .agg(F.countDistinct("doc_id").alias("n_contaminated_docs"))
    )
