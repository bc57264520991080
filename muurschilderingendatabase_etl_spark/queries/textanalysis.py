"""Text analysis operators (north-star extension): language-ID
heuristic, quality scoring, token counting, document fingerprinting.

All per-document computations are single-pass column expressions over
the text — no shuffle until the final aggregation, no Python UDFs.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from muurschilderingendatabase_etl_spark.registry import query
from muurschilderingendatabase_etl_spark.tables import t

# Tiny per-language marker-word lists for the n-gram/stopword heuristic.
_LANG_MARKERS = {
    "en": ["the", "a", "and", "of", "to"],
    "de": ["der", "die", "das", "und", "ist"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "los", "las", "una", "es"],
}


def _hit_count(words, markers: list[str]):
    return F.size(F.filter(words, lambda w: w.isin(markers)))


@query(
    "text_lang_id",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang,
        len(list_filter(string_split(text, ' '), w -> w IN ('the','a','and','of','to')))   AS s_en,
        len(list_filter(string_split(text, ' '), w -> w IN ('der','die','das','und','ist'))) AS s_de,
        len(list_filter(string_split(text, ' '), w -> w IN ('le','la','et','les','des')))  AS s_fr,
        len(list_filter(string_split(text, ' '), w -> w IN ('el','los','las','una','es'))) AS s_es
      FROM documents
    )
    SELECT predicted, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM (
      SELECT CASE
        WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'unknown'
        WHEN s_en >= greatest(s_de, s_fr, s_es) THEN 'en'
        WHEN s_de >= greatest(s_fr, s_es) THEN 'de'
        WHEN s_fr >= s_es THEN 'fr'
        ELSE 'es' END AS predicted
      FROM scored
    )
    GROUP BY predicted
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-hit language ID: argmax of marker-word counts with a
    deterministic priority order (en > de > fr > es) on ties."""
    words = F.split("text", " ")
    docs = t(spark, sf_dir, "documents").select(
        "doc_id",
        *[
            _hit_count(words, m).alias(f"s_{lang}")
            for lang, m in _LANG_MARKERS.items()
        ],
    )
    best = F.greatest("s_en", "s_de", "s_fr", "s_es")
    predicted = (
        F.when(best == 0, "unknown")
        .when(F.col("s_en") >= F.greatest("s_de", "s_fr", "s_es"), "en")
        .when(F.col("s_de") >= F.greatest("s_fr", "s_es"), "de")
        .when(F.col("s_fr") >= F.col("s_es"), "fr")
        .otherwise("es")
    )
    return (
        docs.groupBy(predicted.alias("predicted"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@query(
    "text_quality_score",
    oracle="""
    WITH q AS (
      SELECT doc_id, lang,
        len(string_split(text, ' ')) AS n_words,
        length(text) AS n_chars,
        length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS n_punct,
        len(list_filter(string_split(text, ' '),
                        w -> w IN ('the','a','and','of','to'))) AS n_stop
      FROM documents
    )
    SELECT lang,
      CAST(COUNT(*) AS BIGINT) AS n_docs,
      ROUND(AVG(CAST(n_chars AS DOUBLE) / n_words), 4)  AS avg_word_len,
      ROUND(AVG(CAST(n_punct AS DOUBLE) / n_chars), 6)  AS avg_punct_ratio,
      ROUND(AVG(CAST(n_stop AS DOUBLE) / n_words), 6)   AS avg_stopword_ratio,
      CAST(SUM(CASE WHEN n_words BETWEEN 20 AND 1000
                     AND CAST(n_stop AS DOUBLE) / n_words < 0.5
               THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
    FROM q GROUP BY lang
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length / punctuation / stopword-ratio quality gates per language
    — the classic pre-training corpus filter shape."""
    words = F.split("text", " ")
    stop = _hit_count(words, _LANG_MARKERS["en"])
    docs = t(spark, sf_dir, "documents").select(
        "lang",
        F.size(words).alias("n_words"),
        F.length("text").alias("n_chars"),
        (
            F.length("text")
            - F.length(F.regexp_replace("text", r"[.,;:!?]", ""))
        ).alias("n_punct"),
        stop.alias("n_stop"),
    )
    # try_divide: an empty doc has n_chars = 0 — its ratios are NULL
    # (DuckDB's x/0) and drop out of the AVGs, not an ANSI job abort.
    # (n_words is never 0: split('') yields [''], size 1, both engines.)
    word_ratio = F.try_divide(F.col("n_chars").cast("double"), F.col("n_words"))
    punct_ratio = F.try_divide(F.col("n_punct").cast("double"), F.col("n_chars"))
    stop_ratio = F.try_divide(F.col("n_stop").cast("double"), F.col("n_words"))
    passes = (
        F.col("n_words").between(20, 1000) & (stop_ratio < 0.5)
    )
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg(word_ratio), 4).alias("avg_word_len"),
        F.round(F.avg(punct_ratio), 6).alias("avg_punct_ratio"),
        F.round(F.avg(stop_ratio), 6).alias("avg_stopword_ratio"),
        F.sum(F.when(passes, 1).otherwise(0)).alias("n_pass"),
    )


@query(
    "text_token_count",
    oracle=r"""
    SELECT source,
      CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
      CAST(SUM(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))) AS BIGINT)
        AS bpe_ish_tokens,
      CAST(SUM(length(text)) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY source
    """,
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace tokens + a BPE-ish regex token count (letters runs,
    digit runs, single other symbols) — the budget estimator for
    training-data pipelines."""
    return (
        t(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.sum(F.size(F.split("text", " "))).alias("ws_tokens"),
            F.sum(
                F.size(F.regexp_extract_all("text", F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"), F.lit(0)))
            ).alias("bpe_ish_tokens"),
            F.sum(F.length("text")).alias("total_chars"),
        )
    )


@query(
    "text_fingerprint",
    oracle="""
    SELECT doc_id, TRUE AS n_in_range, TRUE AS forms_agree
    FROM documents
    WHERE len(string_split(text, ' ')) >= 6
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowed rolling-hash fingerprints: hash 3-gram shingles, take
    the minimum hash per sliding window of 4 shingles, keep the
    distinct minima. Standard MOSS-style fingerprinting; fingerprints
    overlap ⇒ likely shared passages.

    Value-checked IN-BAND (the pattern of the HLL and ANN queries — xxhash64
    fingerprints are engine-specific, so no external oracle can
    recompute them, but their invariants can be checked inside the
    query): per qualifying document the driver hash-compares two
    booleans the oracle declares TRUE —
    - n_in_range: 1 <= |fingerprints| <= n_words - 5 (a text with W
      words has W-2 shingles and W-5 windows; distinct minima can't
      exceed the window count or be empty).
    - forms_agree: a SECOND, independently-formulated computation —
      posexplode + lead() 3-grams + a min() over a 4-row window frame +
      collect_set, i.e. row-relational, sharing no array-kernel code
      with the zip_with/slice form in textutil — produces the identical
      fingerprint set. Two disjoint implementations agreeing is the
      strongest check available for a hash-defined artifact.
    """
    # slice+zip_with n-gram/window builders — the transform(sequence…)
    # forms pay Catalyst's projection-collapse O(n²) tax even when the
    # array is projected as its own column first (textutil docstring).
    from muurschilderingendatabase_etl_spark.queries.textutil import (
        sliding_min,
        word_ngrams,
    )

    w = F.col("w")
    shingle_hashes = F.transform(word_ngrams(w, 3), lambda s: F.xxhash64(s))
    windows = sliding_min("sh", 4)
    zip_form = (
        t(spark, sf_dir, "documents")
        .select("doc_id", F.split("text", " ").alias("w"))
        .where(F.size(w) >= 6)
        .select("doc_id", F.size(w).alias("n_words"), shingle_hashes.alias("sh"))
        .select(
            "doc_id",
            "n_words",
            F.array_sort(F.array_distinct(windows)).alias("fps"),
        )
    )

    # Independent explode/window formulation of the same definition.
    # Pre-filter to the qualifying docs (>= 6 words) BEFORE exploding:
    # shorter docs would only be discarded later by the pos <= max_pos-3
    # filter / left join, after paying posexplode + two lead() windows +
    # xxhash64 + the 4-row min window for nothing.
    tok = (
        t(spark, sf_dir, "documents")
        .where(F.size(F.split("text", " ")) >= 6)
        .select("doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok"))
    )
    wd = Window.partitionBy("doc_id").orderBy("pos")
    shingle = F.concat_ws(
        " ", "tok", F.lead("tok", 1).over(wd), F.lead("tok", 2).over(wd)
    )
    sh = (
        tok.select(
            "doc_id",
            "pos",
            F.when(
                F.lead("tok", 2).over(wd).isNotNull(), F.xxhash64(shingle)
            ).alias("shash"),
        )
        .where(F.col("shash").isNotNull())
    )
    wmin = (
        sh.select(
            "doc_id",
            "pos",
            F.min("shash").over(wd.rowsBetween(0, 3)).alias("wmin"),
            F.max("pos").over(Window.partitionBy("doc_id")).alias("max_pos"),
        )
        .where(F.col("pos") <= F.col("max_pos") - 3)
    )
    explode_form = wmin.groupBy("doc_id").agg(
        F.array_sort(F.collect_set("wmin")).alias("fps2")
    )

    return (
        zip_form.join(explode_form, "doc_id", "left")
        .select(
            "doc_id",
            (
                (F.size("fps") >= 1)
                & (F.size("fps") <= F.col("n_words") - 5)
            ).alias("n_in_range"),
            (F.col("fps") == F.col("fps2")).alias("forms_agree"),
        )
        .orderBy("doc_id")
    )


_TFIDF_ORACLE = """
    WITH tokens AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term
      FROM documents WHERE doc_id < 200
    ),
    tf AS (
      SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM tokens WHERE term <> '' GROUP BY doc_id, term
    ),
    df AS (
      SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM tf GROUP BY term
    ),
    n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM tf),
    scored AS (
      SELECT tf.doc_id, tf.term,
             ROUND(tf.tf * ln((1.0 + (SELECT n_docs FROM n)) / (1.0 + df.df)) , 6)
               AS tfidf
      FROM tf JOIN df USING (term)
    )
    SELECT doc_id, term, tfidf, CAST(rk AS BIGINT) AS rk
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY doc_id ORDER BY tfidf DESC, term
      ) AS rk FROM scored
    )
    WHERE rk <= 3
"""


@query("text_tfidf_topterms", oracle=_TFIDF_ORACLE)
def text_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (idf = ln((1+N)/(1+df)), the
    smoothed convention).

    Scale shape: term frequencies shuffle on (doc_id, term); document
    frequencies are a second aggregation over the (already small) tf
    table; the idf join broadcasts when the vocabulary fits, else it's a
    plain shuffle join on term. Top-k per doc is a window over the scored
    rows — never a global sort."""
    tokens = (
        t(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 200)
        .select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .where(F.col("term") != "")
    )
    tf = tokens.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = tf.select("doc_id").distinct().count()
    scored = tf.join(df, "term").select(
        "doc_id",
        "term",
        F.round(
            F.col("tf") * F.log((1.0 + n_docs) / (1.0 + F.col("df"))), 6
        ).alias("tfidf"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "term")
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= 3)
        .select("doc_id", "term", "tfidf", "rk")
    )


_PERPLEXITY_ORACLE = """
    WITH tokens AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term
      FROM documents
    ),
    tok AS (SELECT * FROM tokens WHERE term <> ''),
    freq AS (
      SELECT term, CAST(COUNT(*) AS DOUBLE) AS cnt FROM tok GROUP BY term
    ),
    n AS (SELECT SUM(cnt) AS total FROM freq),
    scored AS (
      SELECT t.doc_id, t.lang,
             ln(f.cnt / (SELECT total FROM n)) AS logp
      FROM tok t JOIN freq f USING (term)
    )
    SELECT lang,
      ROUND(AVG(neg_avg_logp), 4) AS avg_surprisal,
      ROUND(MIN(neg_avg_logp), 4) AS min_surprisal,
      ROUND(MAX(neg_avg_logp), 4) AS max_surprisal
    FROM (
      SELECT doc_id, lang, ROUND(-AVG(logp), 6) AS neg_avg_logp
      FROM scored GROUP BY doc_id, lang
    )
    GROUP BY lang
"""


@query("text_unigram_surprisal", oracle=_PERPLEXITY_ORACLE)
def text_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram LM surprisal (log-perplexity) per document, summarized
    per language — the classic cheap perplexity filter: train unigram
    probabilities on the corpus itself, score each document by its
    negative mean token log-probability; outliers are gibberish or
    boilerplate.

    Scale shape: the model IS a DataFrame (term -> prob): one
    explode+agg to build it, then the scoring join is on the term key —
    broadcastable while the vocabulary fits, shuffle-join beyond; the
    per-doc and per-lang rollups are plain partial-agg shuffles. No
    driver-side model object, so vocabulary size is unbounded."""
    tok = (
        t(spark, sf_dir, "documents")
        .select("doc_id", "lang", F.explode(F.split("text", " ")).alias("term"))
        .where(F.col("term") != "")
    )
    freq = tok.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("cnt"))
    total = freq.agg(F.sum("cnt").alias("total"))
    scored = (
        tok.join(freq, "term")
        .join(F.broadcast(total))
        .select("doc_id", "lang", F.log(F.col("cnt") / F.col("total")).alias("logp"))
    )
    # Round the per-doc score BEFORE the min/max rollup on both sides so
    # double-summation-order noise can't flip a min/max pick.
    per_doc = scored.groupBy("doc_id", "lang").agg(
        F.round(-F.avg("logp"), 6).alias("neg_avg_logp")
    )
    return per_doc.groupBy("lang").agg(
        F.round(F.avg("neg_avg_logp"), 4).alias("avg_surprisal"),
        F.round(F.min("neg_avg_logp"), 4).alias("min_surprisal"),
        F.round(F.max("neg_avg_logp"), 4).alias("max_surprisal"),
    )
