"""Deduplication operators (north-star extension, SURVEY.md §2.3
'LLM-data'): exact hash dedup, n-gram Jaccard near-dup, MinHash+LSH,
SimHash.

Scale notes:
- Exact dedup groups on a 256-bit content hash — shuffle carries the
  32-byte hash, never the document text.
- The pairwise Jaccard query is EXACT but not all-pairs: candidates
  come from partition-based pigeonhole signatures (an equi-join on an
  identical-token-subset hash — see _ngram_jaccard_pairs), so cost
  follows near-dup density, not block². The MinHash-LSH query is the
  probabilistic alternative: candidates from an inverted band index,
  O(n·bands + candidate_pairs). With 16 minhashes in 8 bands × 2 rows,
  recall at j≥0.9 is ≈99.9997% per pair and false candidates are
  removed by exact verification — which is why the LSH query can share
  the all-pairs SQL oracle.
- SimHash candidates come from the multi-chunk pigeonhole: hamming ≤ 3
  over 5 chunks guarantees an identical PAIR of chunks, so the join key
  is ~26 bits (one of C(5,2)=10 combos), then exact hamming verify via
  xor+bit_count.

Everything stays in codegen (xxhash64, transform, aggregate, zip_with)
except the embedding-cosine Gram tiles, which are Arrow-batched NumPy
matmuls by design — BLAS beats a 64-step per-pair expression fold by
~100× and the tile size bounds task memory.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from muurschilderingendatabase_etl_spark.queries.textutil import gram_rows, word_ngrams
from muurschilderingendatabase_etl_spark.registry import query
from muurschilderingendatabase_etl_spark.tables import release_checkpoint, t


@query(
    "dedup_exact_hash",
    oracle="""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT sha256(text)) AS BIGINT) AS n_unique,
           CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM (
      SELECT source, text,
             ROW_NUMBER() OVER (PARTITION BY sha256(text) ORDER BY doc_id) AS rn
      FROM documents
    )
    GROUP BY source
    """,
)
def dedup_exact_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: sha2 content hash, keep the lowest doc_id per hash."""
    docs = t(spark, sf_dir, "documents").withColumn("h", F.sha2("text", 256))
    from pyspark.sql import Window

    w = Window.partitionBy("h").orderBy("doc_id")
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("h").alias("n_unique"),
            F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).alias("n_kept"),
        )
    )


_JACCARD_ORACLE = """
    WITH t AS (
      SELECT doc_id, source, list_distinct(string_split(text, ' ')) AS w
      FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           ROUND(CAST(len(list_intersect(a.w, b.w)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.w, b.w))), 6) AS jaccard
    FROM t a JOIN t b ON a.source = b.source AND a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.w, b.w)) AS DOUBLE)
          / len(list_distinct(list_concat(a.w, b.w))) >= 0.95
"""


@query("dedup_ngram_jaccard", oracle=_JACCARD_ORACLE)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-set Jaccard near-dup pairs within a source block (τ=0.95).

    Blocking on `source` keeps the pair space O(block²); the LSH query
    below is the unblocked variant.
    """
    return _ngram_jaccard_pairs(spark, sf_dir).drop("block")


_JACCARD_TAU = 0.95
# J(A,B) >= τ bounds the symmetric difference: with u = |A∪B| and
# |A|+|B| = u·(1+J), |A△B| = u·(1-J) <= (1-τ)/(1+τ) · (|A|+|B|).
_DELTA_COEF = (1.0 - _JACCARD_TAU) / (1.0 + _JACCARD_TAU)


def _ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_ngram_jaccard plus the blocking key (`block` = source) —
    consumers that partition by the mining block (connected components'
    local union-find phase) take this variant.

    Candidate generation is PARTITION-BASED (the pigeonhole scheme of
    partition-based set-similarity joins, cf. PassJoin / Deng et al.
    VLDB'15), not a block-nested (source, size-bucket) pair join: every
    block grows linearly with the corpus, so that join measured 57× the
    time on 10× the data at sf1:

    1. Words are 64-bit-hashed and sorted (jaccard over hashed sets
       equals jaccard over word sets up to 64-bit collisions,
       P ~ |vocab|²/2⁶⁵ — the oracle cross-check would surface one).
    2. Size-bound prune: J >= τ forces |A|/|B| within τ, so matching
       pairs sit in the same or adjacent log₁/τ size buckets; each pair
       is examined under exactly ONE key bucket kb = bucket(A).
    3. Pigeonhole signatures: any pair matched under kb has
       |A△B| <= d(kb) = ⌊Δcoef·(max|A|+max|B|)⌋ by the bound above, so
       splitting each token set into m(kb) = d(kb)+1 classes by
       pmod(token, m) leaves at least one class UNTOUCHED by the
       difference — i.e. an identical token subset on both sides. The
       join key is (source, kb, class_id, bit_xor of the class's token
       hashes): an equi-join whose per-key group size is the count of
       docs sharing one identical chunk — near-dup density, not corpus
       size. No O(block²) term survives; replication is m(kb) ≈
       Δcoef·|doc| signature rows per doc (linear in total tokens).
    4. Exact verify: candidate pairs are distinct'd (a pair can share
       several clean chunks), then re-joined to the token arrays and
       checked with one array_intersect — jaccard derives from
       |A∪B| = |A|+|B|-|A∩B|, no union pass.

    At 100 TB the shape holds: signature rows scale with Δcoef × total
    tokens, the candidate join is an equi-join on a high-cardinality
    key, and verification touches only genuine near-dup candidates.
    """
    import math

    docs = (
        t(spark, sf_dir, "documents")
        .select(
            "doc_id",
            "source",
            # array_sort canonicalizes chunk content so equal subsets
            # hash equal regardless of word order in the text.
            F.array_sort(
                F.array_distinct(
                    F.transform(F.split("text", " "), lambda x: F.xxhash64(x))
                )
            ).alias("w"),
        )
        .withColumn("n", F.size("w"))
    )
    growth = 1.0 / _JACCARD_TAU
    bucket = F.floor(
        F.log(F.col("n").cast("double")) / math.log(growth)
    ).cast("long")
    docs = docs.withColumn("bk", bucket)

    def m_of(kb):
        # Pairs matched under key kb satisfy |A| < growth^(kb+1) (A's own
        # bucket is kb) and |B| <= |A|/τ < growth^(kb+2); d(kb) computed
        # from those maxima upper-bounds |A△B| for every matched pair.
        max_sum = F.pow(F.lit(growth), kb.cast("double") + 1.0) + F.pow(
            F.lit(growth), kb.cast("double") + 2.0
        )
        return (F.floor(F.lit(_DELTA_COEF) * max_sum) + 1).cast("int")

    def signatures(df):
        # df carries a `kb` column (the key bucket this row is examined
        # under); emit one row per token-class with the class-subset hash.
        #
        # Single linear pass: each token is routed to its class once
        # (explode) and the class content hash is the BIT_XOR of member
        # token hashes — commutative, so identical subsets still hash
        # identically (all the pigeonhole guarantee needs); xor
        # collisions between different subsets only add false
        # candidates, which the exact array_intersect verify removes.
        # Sentinel zero rows keep EMPTY classes in play (a clean class
        # may be empty on both sides; xor identity 0 plays the role of
        # the empty-subset hash). Map-side partial aggregation collapses
        # the token rows before the shuffle, so shuffle volume stays
        # ≈ m rows per doc.
        m = m_of(F.col("kb"))
        pairs = F.concat(
            F.transform(
                F.col("w"),
                lambda tok: F.struct(
                    F.pmod(tok, m).cast("int").alias("cid"), tok.alias("th")
                ),
            ),
            F.transform(
                F.sequence(F.lit(0), m - 1),
                lambda c: F.struct(
                    c.cast("int").alias("cid"), F.lit(0).cast("long").alias("th")
                ),
            ),
        )
        return (
            df.select("doc_id", "source", "n", "bk", "kb", F.explode(pairs).alias("p"))
            .select("doc_id", "source", "n", "bk", "kb", "p.cid", "p.th")
            .groupBy("doc_id", "source", "n", "bk", "kb", "cid")
            .agg(F.bit_xor("th").alias("chash"))
        )

    # One signature DEFINITION serves both join sides: the a-side (each
    # pair examined under A's own bucket) is exactly the kb == bk
    # subset of the b-side's {bk-1, bk, bk+1} expansion. Catalyst
    # pushes the filter below the aggregate and the kb explode, so the
    # physical a-side is identical to building it separately (no
    # ReusedExchange, verified) — this form is purely the clearer
    # statement of the relationship.
    sigs = signatures(
        docs.withColumn(
            "kb", F.explode(F.array(F.col("bk") - 1, F.col("bk"), F.col("bk") + 1))
        )
    )
    sig_a = sigs.where(F.col("kb") == F.col("bk")).alias("a")
    sig_b = sigs.alias("b")
    size_band = (
        (F.col("a.n").cast("double") >= F.col("b.n") * _JACCARD_TAU)
        & (F.col("b.n").cast("double") >= F.col("a.n") * _JACCARD_TAU)
    )
    cands = (
        sig_a.join(
            sig_b,
            (F.col("a.source") == F.col("b.source"))
            & (F.col("a.kb") == F.col("b.kb"))
            & (F.col("a.cid") == F.col("b.cid"))
            & (F.col("a.chash") == F.col("b.chash"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & size_band,
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.source").alias("block"),
        )
        .distinct()
    )
    wa = docs.select(
        F.col("doc_id").alias("doc_a"), F.col("w").alias("wa"), F.col("n").alias("na")
    )
    wb = docs.select(
        F.col("doc_id").alias("doc_b"), F.col("w").alias("wb"), F.col("n").alias("nb")
    )
    inter = F.size(F.array_intersect(F.col("wa"), F.col("wb")))
    return (
        cands.join(wa, "doc_a")
        .join(wb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                inter.cast("double")
                / (F.col("na") + F.col("nb") - inter).cast("double")
            ).alias("jaccard_raw"),
            "block",
        )
        .where(F.col("jaccard_raw") >= _JACCARD_TAU)
        .select(
            "doc_a", "doc_b", F.round("jaccard_raw", 6).alias("jaccard"), "block"
        )
    )


_SHINGLE_ORACLE = """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, len(w) - 2),
               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]
             )) AS s
      FROM t WHERE len(w) >= 3
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           ROUND(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
          / len(list_distinct(list_concat(a.s, b.s))) >= 0.9
"""

_N_MINHASH = 16
_BAND_ROWS = 2  # 8 bands x 2 rows


def _shingles(wcol):
    """Distinct 3-gram word shingles from a words-array column, as
    slice + element-wise zip_with concat.

    NOT the textbook transform(sequence(0, n-3), i -> element_at…)
    formulation: Catalyst's projection collapsing re-inlines the
    upstream expression into every element_at inside that lambda, which
    made shingling O(n²) per document — measured 43 s → 3.5 s for the
    minhash shingle phase at sf1 (50k docs). The three shifted slices +
    two zip_with passes touch each word O(1) times regardless of what
    fed the column, and sequence(0, -1)'s count-DOWN surprise (a crash
    on documents shorter than 3 words) disappears because slice length
    is clamped at 0. Output arrays are element-for-element identical
    (equivalence-pinned in tests/test_dedup.py)."""
    return F.array_distinct(word_ngrams(wcol, 3))


@query("dedup_minhash_lsh", oracle=_SHINGLE_ORACLE)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-dup detection over 3-gram shingles (τ=0.9).

    shingle → 16 minhash signatures (xxhash64 with per-function salt) →
    8 bands of 2 → inverted-index self-join on band value → exact
    Jaccard verification of candidates. Shares the exact all-pairs SQL
    oracle because recall at τ=0.9 is ≈1 (miss ≤ (1-0.9²)^8 ≈ 1.7e-6
    per true pair; deterministic for fixed fixtures since the hash seeds
    are constants) and precision is exact after verification. A fixture
    refresh that grows the true-pair count past the union-bound margin
    is caught by tests/test_dedup.py::test_minhash_lsh_fixture_margin.
    """
    # Repartition before shingling: the fixture is one parquet file (one
    # input split) and shingle+minhash is the CPU-heavy part — spread it
    # across all cores. On a real cluster the scan already has many
    # splits, and this becomes a cheap round-robin of small rows.
    # Shingles are 64-bit-hashed ONCE; the 16 minhash functions then mix
    # the 8-byte hash with the function index (multi-arg xxhash64) instead
    # of re-hashing the ~20-char shingle string per function, and exact
    # verification intersects long arrays instead of string arrays.
    # Jaccard over hashed shingles equals jaccard over shingles unless two
    # distinct shingles of one pair's union collide in 64 bits (same
    # negligible-probability argument as _ngram_jaccard_pairs; the oracle
    # cross-check would surface one).
    docs = (
        t(spark, sf_dir, "documents")
        .repartition(spark.sparkContext.defaultParallelism)
        .select("doc_id", F.split("text", " ").alias("w"))
        .select(
            "doc_id",
            F.transform(_shingles("w"), lambda s: F.xxhash64(s)).alias("sh"),
        )
        .where(F.size("sh") > 0)
    )
    def _minhash(i: int):
        # Closure MUST be single-argument: F.transform dispatches on
        # lambda arity, and a two-arg lambda receives (element,
        # array_index) — a `lambda h, i=i:` default is overridden by the
        # index column, collapsing all 16 "functions" into one
        # position-salted hash (≈1/|shingles| miss rate per true pair
        # instead of (1-s²)^bands; caught by a driver-fixture refresh).
        return F.array_min(
            F.transform(F.col("sh"), lambda h: F.xxhash64(h, F.lit(i)))
        )

    # Sixteen flat minhash columns: the nested-lambda form
    # transform(sequence(0,15), i -> array_min(transform(sh, h ->
    # xxhash64(h, i)))) gives identical signatures and ~0.2 s less py4j
    # build, but runs interpreted (NamedLambdaVariable binding per
    # element), 4-5× slower: 1.4 s → 6.5 s at sf0.1.
    mh = docs.select(
        "doc_id",
        F.array(*[_minhash(i) for i in range(_N_MINHASH)]).alias("sig"),
    )
    n_bands = _N_MINHASH // _BAND_ROWS
    # Band rows carry ONLY (doc_id, band_id, band_val): the inverted-index
    # self-join shuffles 8 small rows per doc, never the shingle arrays —
    # those are re-attached to the (few) candidate pairs afterwards. At
    # 100 TB this is the difference between shuffling ~50 B/doc/band and
    # shuffling the whole shingled corpus 8×.
    bands = mh.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        # 8-byte band key (hash of the band's rows) instead
                        # of a concatenated string — smaller shuffle rows;
                        # a band-key collision just adds one false
                        # candidate, removed by exact verification.
                        F.xxhash64(
                            *[
                                F.col("sig").getItem(b * _BAND_ROWS + r)
                                for r in range(_BAND_ROWS)
                            ]
                        ).alias("band_val"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "band.band_id", "band.band_val")

    a = bands.alias("a")
    b = bands.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    sh_a = docs.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    sh_b = docs.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    pairs = candidates.join(sh_a, "doc_a").join(sh_b, "doc_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    jaccard = inter.cast("double") / union
    return (
        pairs.where(jaccard >= 0.9)
        .select("doc_a", "doc_b", F.round(jaccard, 6).alias("jaccard"))
    )


# Multi-chunk pigeonhole layout for the hamming-≤3 SimHash join: 5
# chunks of 13/13/13/13/12 bits and the C(5,2) two-chunk key combos.
# Module-level so tests/test_property_kernels.py can verify the
# completeness guarantee (any pair within hamming 3 shares a key) over
# random inputs against the EXACT layout the query uses.
SIMHASH_CUTS = [(0, 13), (13, 13), (26, 13), (39, 13), (52, 12)]
SIMHASH_COMBOS = [(i, j) for i in range(5) for j in range(i + 1, 5)]
SIMHASH_MAX_HAMMING = 3


# doc_id bound for the in-band brute-force slice check: 1500 docs =
# ~1.1M slice pairs of xor+bit_count — constant work at any corpus size.
_SIMHASH_SLICE_N = 1500


@query(
    "dedup_simhash",
    oracle=f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN doc_id < {_SIMHASH_SLICE_N} THEN 1 ELSE 0 END)
                AS BIGINT) AS slice_docs,
           TRUE AS slice_lossless
    FROM documents
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup mining, value-checked IN-BAND (as the HLL sketch
    and ANN queries are): the simhashes are xxhash64-derived so no external
    engine can recompute the pair set, but the LOSSLESSNESS of the
    C(5,2) pigeonhole miner is checkable inside the query — a
    brute-force all-pairs hamming scan over the doc_id < 1500 slice
    must emit exactly the mined pairs restricted to that slice
    (pairwise predicate ⇒ restriction commutes with mining). The driver
    hash-compares the emitted boolean against the oracle's declared
    TRUE. The hamming-radius bound itself is enforced by construction
    (the miner's final filter), so a max(hamming) column over the
    miner's output would be tautological; the radius IS
    value-checked on the slice regardless, because slice_lossless's
    intersection join keys on (doc_a, doc_b, hamming) — the brute side's
    independently computed hamming must equal the miner's for every
    slice pair. The pair miner itself is _simhash_pairs_from (tested
    wholesale in tests/test_dedup.py); the slice check is constant work
    (~1.1M xor+bit_count) at any corpus size.

    sims is localCheckpoint'd: the 64-fold simhash computation is the
    CPU hot spot and BOTH the miner and the slice check consume it —
    the checkpoint (16 bytes/doc, eager, lineage-free so nothing stays
    pinned) halves the fold work instead of recomputing per consumer."""
    sims = _simhash_sims(spark, sf_dir).localCheckpoint()
    pairs = _simhash_pairs_from(sims)
    sl = sims.where(F.col("doc_id") < _SIMHASH_SLICE_N)
    a, b = sl.alias("a"), sl.alias("b")
    # Explicit broadcast hint on the bounded slice: without it this non-equi
    # self-join is BNLJ only by lineage accident (the localCheckpoint
    # feeds usable stats today); a stats or lineage change could
    # silently resurrect a CartesianProduct that re-partitions constant
    # work. <= _SIMHASH_SLICE_N rows x 16 bytes is trivially broadcast-
    # able at any corpus size. Pinned by tests/test_plans.py::
    # test_simhash_brute_slice_no_cartesian.
    brute = (
        a.join(F.broadcast(b), F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .where(F.col("hamming") <= SIMHASH_MAX_HAMMING)
    )
    mined_slice = pairs.where(
        (F.col("doc_a") < _SIMHASH_SLICE_N) & (F.col("doc_b") < _SIMHASH_SLICE_N)
    ).select("doc_a", "doc_b", "hamming")
    # Set equality via three counts (both sides are key-distinct by
    # construction): |brute| == |mined∩slice| == |inner join|, not
    # exceptAll: its replicate-and-sum rewrite trips an
    # INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND bind bug when both inputs share
    # the self-joined sims lineage (Spark 4.1.2).
    nb = brute.agg(F.count(F.lit(1)).alias("nb"))
    nm = mined_slice.agg(F.count(F.lit(1)).alias("nm"))
    ni = brute.join(mined_slice, ["doc_a", "doc_b", "hamming"]).agg(
        F.count(F.lit(1)).alias("ni")
    )
    counts = t(spark, sf_dir, "documents").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            F.when(F.col("doc_id") < _SIMHASH_SLICE_N, 1).otherwise(0)
        ).alias("slice_docs"),
    )
    # 1-row aggregates compose via broadcast NLJ — the scalar-subquery
    # shape (tests/test_plans.py::test_scalar_subquery_broadcasts).
    return counts.crossJoin(nb).crossJoin(nm).crossJoin(ni).select(
        "n_docs",
        "slice_docs",
        (
            (F.col("nb") == F.col("nm")) & (F.col("ni") == F.col("nb"))
        ).alias("slice_lossless"),
    )


def _simhash_sims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, simhash) for every document — see dedup_simhash."""

    docs = (
        t(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.transform(
                F.array_distinct(F.split("text", " ")), lambda w: F.xxhash64(w)
            ).alias("hashes"),
        )
        .repartition(spark.sparkContext.defaultParallelism)
    )

    # The signature is ONE SQL-text expression, a single fold over the
    # token hashes carrying a 64-wide bit-count array: 64 separately
    # built aggregate() columns cost ~4 s of driver-side build per run
    # (64 HOF lambdas × py4j round-trips) and walk the hashes array 64
    # times per row. Bit i of h is tested via h & (1<<i) (bit 63's mask
    # is the sign bit); +1/-1 integer counts, bit set iff count > 0,
    # OR-folded.
    masks = "transform(sequence(0, 63), i -> shiftleft(1L, i))"
    simhash = F.expr(
        f"""
        aggregate(
          zip_with(
            aggregate(hashes, array_repeat(0, 64),
                      (acc, h) -> zip_with(acc, {masks},
                                           (a, m) -> a + IF((h & m) != 0, 1, -1))),
            {masks},
            (b, m) -> IF(b > 0, m, 0L)),
          0L, (acc, x) -> acc | x)
        """
    )
    return docs.select("doc_id", simhash.alias("simhash"))


def _simhash_pairs_from(sims: DataFrame) -> DataFrame:
    """64-bit SimHash near-dup pairs (hamming ≤ SIMHASH_MAX_HAMMING) over
    the (doc_id, simhash) rows of ``_simhash_sims``.

    Token hashes fold into a 64-dim sign vector with aggregate (no
    explode — one row per doc throughout). Candidates via the
    MULTI-CHUNK pigeonhole (the multi-index scheme of HmSearch-style
    Hamming joins): hamming ≤ 3 over 5 chunks (13/13/13/13/12 bits)
    leaves at least 2 chunks untouched, so some PAIR of chunks — one of
    C(5,2)=10 combos — matches exactly on both sides. The join key is
    (combo_id, chunk_i, chunk_j): ~26 key bits instead of the 16 bits a
    single-chunk scheme gives, which cuts spurious candidates by ~2¹⁰
    for 2.5× the signature replication (4×16-bit single-chunk keys
    collapse when simhashes cluster, as real corpora and the 31-word
    fixture vocab both make them: 71.6 s at sf1). Exact verify with
    xor + bit_count.

    The repartition inside _simhash_sims runs AFTER projecting the hash
    array: 64 aggregate() folds per row is the CPU hot spot (and the
    single-file fixture scan gives only one input split) — and the
    Exchange doubles as a projection-collapse barrier, without which
    Catalyst inlines the split+distinct+hash pipeline into EVERY one of
    the 64 folds (measured 2.1 s → 0.4 s for the fold phase at sf1;
    same pathology as textutil's module docstring). Bit positions are
    unrolled statically because shiftright takes a literal shift.
    """
    cuts = SIMHASH_CUTS

    def chunk(c: int):
        shift, width = cuts[c]
        return F.shiftright("simhash", shift).bitwiseAND(F.lit((1 << width) - 1))

    combos = SIMHASH_COMBOS
    chunks = sims.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("combo_id"),
                        chunk(i).alias("v1"),
                        chunk(j).alias("v2"),
                    )
                    for k, (i, j) in enumerate(combos)
                ]
            )
        ).alias("ch"),
    ).select("doc_id", "simhash", "ch.combo_id", "ch.v1", "ch.v2")

    a = chunks.alias("a")
    b = chunks.alias("b")
    hamming = F.bit_count(
        F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    )
    return (
        a.join(
            b,
            (F.col("a.combo_id") == F.col("b.combo_id"))
            & (F.col("a.v1") == F.col("b.v1"))
            & (F.col("a.v2") == F.col("b.v2"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.alias("hamming"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
        .where(F.col("hamming") <= SIMHASH_MAX_HAMMING)
        .orderBy("doc_a", "doc_b")
    )


# The synthetic embeddings have no true near-dups (max intra-label
# cosine ≈ 0.51), so the threshold is set where the fixture actually has
# matching pairs; the operator semantics are threshold-independent.
_COSINE_TAU = 0.35

# Rows per Gram tile: a tile-pair matrix is _COSINE_TILE_ROWS² doubles
# (~128 MB at 4096). Module-level so tests can shrink it to force the
# multi-tile (ti≠tj) path at small fixture sizes.
_COSINE_TILE_ROWS = 4096

_EMB_COSINE_ORACLE = f"""
    WITH e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND(list_dot_product(a.v, b.v)
                 / (sqrt(list_dot_product(a.v, a.v))
                    * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine
    FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE list_dot_product(a.v, b.v)
          / (sqrt(list_dot_product(a.v, a.v))
             * sqrt(list_dot_product(b.v, b.v))) >= {_COSINE_TAU}
"""


@query("dedup_embedding_cosine", oracle=_EMB_COSINE_ORACLE)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (τ=_COSINE_TAU), blocked on label,
    computed as a TILED GRAM MATRIX — the distributed exact-similarity
    shape that survives growing blocks.

    At τ=0.35 over 64-dim near-orthogonal vectors no lossless geometric
    pruning exists (the threshold sits ~2.8σ into the random-cosine
    distribution, so every same-label pair must genuinely be examined);
    a per-pair zip_with fold measured 62× the time on 10× the data at
    sf1. Exact all-pairs is inherently O(block²) COMPARISONS — the fix
    is to make each comparison a BLAS flop instead of a codegen'd
    64-step fold, and to bound task memory:

    1. Rows hash into T tiles per label (T sized so a tile-pair Gram
       matrix fits one task); each row is replicated to the ≤T tile-PAIRS
       it participates in — linear data movement, no row pairs shuffled.
    2. groupBy(label, ti, tj) → applyInPandas: one float64
       `A @ B.T / outer(norms)` per tile pair (Arrow-batched, NumPy
       BLAS — ~100× the throughput of a per-pair expression fold),
       threshold applied inside, only qualifying pairs leave the task.
    3. Rounding stays Spark-side (F.round after the UDF) so output
       semantics are unchanged from the expression version.

    Sub-quadratic near-dup detection is deliberately NOT this query:
    that's the LSH/IVF ANN queries (similarity.py), which trade recall
    for candidates. This one is the exact oracle-matching path.

    Note: the UDF computes the same float64 dot/(|a|·|b|) as the DuckDB
    oracle; BLAS summation order can differ in the last ulp, which only
    matters for a cosine within ~1e-15 of τ or of a 1e-6 rounding
    midpoint (same documented tolerance class as geo.py).

    T is PER-LABEL (broadcast join of per-label counts,
    T_label = ceil(count/_COSINE_TILE_ROWS)): sizing T from the global
    max block would replicate every small label's rows max-T-fold, so
    replication now scales with each label's own block size — and no
    eager driver job is needed.
    """
    emb = t(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    tau = _COSINE_TAU

    counts = emb.groupBy("label").agg(
        F.greatest(
            F.lit(1), F.ceil(F.count(F.lit(1)) / F.lit(_COSINE_TILE_ROWS))
        )
        .cast("int")
        .alias("nt")
    )
    emb = emb.join(F.broadcast(counts), "label")

    tid = F.pmod(F.xxhash64(F.col("vec_id")), F.col("nt")).cast("int")
    # A row in tile t joins tile-pairs (t, j≥t) as the left side and
    # (i<t, t) as the right side; sequence() is guarded because Spark's
    # sequence(0, -1) would count DOWN, not return empty.
    as_left = F.transform(
        F.sequence(tid, F.col("nt") - 1),
        lambda j: F.struct(tid.alias("ti"), j.cast("int").alias("tj")),
    )
    as_right = F.when(
        tid > 0,
        F.transform(
            F.sequence(F.lit(0), tid - 1),
            lambda i: F.struct(i.cast("int").alias("ti"), tid.alias("tj")),
        ),
    ).otherwise(F.array().cast("array<struct<ti:int,tj:int>>"))
    exploded = emb.select(
        "vec_id",
        "label",
        "embedding",
        tid.alias("tid"),
        F.explode(F.concat(as_left, as_right)).alias("tp"),
    ).select("vec_id", "label", "embedding", "tid", "tp.ti", "tp.tj")

    def gram_tile(key, pdf):
        import numpy as np
        import pandas as pd

        _, ti, tj = key
        ids = pdf["vec_id"].to_numpy()
        mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        nrm = np.linalg.norm(mat, axis=1)
        if ti == tj:
            cos = (mat @ mat.T) / np.outer(nrm, nrm)
            iu, ju = np.triu_indices(len(ids), k=1)
            sel = cos[iu, ju] >= tau
            left, right, vals = ids[iu[sel]], ids[ju[sel]], cos[iu, ju][sel]
        else:
            la = pdf["tid"].to_numpy() == ti
            a_ids, b_ids = ids[la], ids[~la]
            if len(a_ids) == 0 or len(b_ids) == 0:
                return pd.DataFrame({"vec_a": [], "vec_b": [], "cosine": []}).astype(
                    {"vec_a": "int64", "vec_b": "int64", "cosine": "float64"}
                )
            cos = (mat[la] @ mat[~la].T) / np.outer(nrm[la], nrm[~la])
            iu, ju = np.where(cos >= tau)
            left, right, vals = a_ids[iu], b_ids[ju], cos[iu, ju]
        lo = np.minimum(left, right)
        hi = np.maximum(left, right)
        return pd.DataFrame({"vec_a": lo, "vec_b": hi, "cosine": vals}).astype(
            {"vec_a": "int64", "vec_b": "int64", "cosine": "float64"}
        )

    return (
        exploded.groupBy("label", "ti", "tj")
        .applyInPandas(gram_tile, schema="vec_a long, vec_b long, cosine double")
        .select("vec_a", "vec_b", F.round("cosine", 6).alias("cosine"))
    )


_CC_ORACLE = """
    WITH RECURSIVE
    t AS (
      SELECT doc_id, source, list_distinct(string_split(text, ' ')) AS w
      FROM documents
    ),
    pairs AS (
      SELECT a.doc_id AS pa, b.doc_id AS pb
      FROM t a JOIN t b ON a.source = b.source AND a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.w, b.w)) AS DOUBLE)
            / len(list_distinct(list_concat(a.w, b.w))) >= 0.95
    ),
    edges AS (
      SELECT pa AS src, pb AS dst FROM pairs
      UNION ALL
      SELECT pb AS src, pa AS dst FROM pairs
    ),
    reach(node, r) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, reach.r
      FROM edges e JOIN reach ON reach.node = e.dst
    )
    SELECT node AS doc_id, CAST(MIN(r) AS BIGINT) AS component
    FROM reach
    GROUP BY node
"""


@query("dedup_connected_components", oracle=_CC_ORACLE)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster assignment: connected components over the
    near-dup pair graph (τ=0.95 word-set Jaccard), component id = min
    doc_id in the cluster — the canonical 'pick one representative per
    dup cluster' step that follows pair mining in a training-data
    pipeline.

    Two-level CC — the production shape for block-mined dup graphs:

    1. LOCAL phase: edges are partitioned by the pair-mining blocking key
       and each partition runs an in-memory union-find (Arrow-batched
       mapInPandas) — linear work, ONE shuffle, no iteration. Because the
       miner only emits same-block pairs, every component is contained in
       one partition and this phase already finds the exact components.
    2. GLOBAL phase: the generic pointer-jumping min-label loop
       (localCheckpoint lineage cuts, observe()-folded convergence probe
       so the probe costs no extra job) reconciles components that span
       partitions. On block-local graphs it certifies convergence in one
       round; on arbitrary cross-block graphs it does the full
       O(log diameter) work — the 100 TB safety net, not dead code.

    Same shape at 100 TB: the local phase bounds memory by the mining
    block (any block too big for one task would have blown up the
    O(block²) miner first), and the loop's per-round cost scales with the
    contracted graph, not the raw edge count.
    """
    from pyspark.sql import Observation

    # Mined ONCE: both the local phase and the edge list below hang off
    # this checkpoint (without it each derivation re-runs the O(block²)
    # mining join).
    pairs = (
        _ngram_jaccard_pairs(spark, sf_dir)
        .select("doc_a", "doc_b", "block")
        .localCheckpoint()
    )

    def local_uf(batches):
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            root = x
            while parent.setdefault(root, root) != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for pdf in batches:
            for a_, b_ in zip(pdf["doc_a"], pdf["doc_b"]):
                ra, rb = find(int(a_)), find(int(b_))
                if ra != rb:  # min-root union keeps label = min(doc_id)
                    if ra < rb:
                        parent[rb] = ra
                    else:
                        parent[ra] = rb
        import pandas as pd

        nodes = list(parent)
        yield pd.DataFrame(
            {"node": nodes, "label": [find(x) for x in nodes]}
        )

    labels = (
        pairs.repartition("block")
        .mapInPandas(local_uf, schema="node long, label long")
        .localCheckpoint()
    )
    # Each (eager) checkpoint below releases the one it read, so a run
    # leaves only the labels checkpoint behind the returned frame.

    # Convergence certification: one node-cardinality aggregate proves
    # what a full edges⋈labels round would. local_uf emits each node
    # once per PARTITION it appears in, so `labels` is duplicate-free ⟺
    # every node's incident edges live in a single partition (a pair row
    # mentioning node d lands in the partition of its block, so d shows
    # up in exactly the partitions its blocks hash to). If that holds,
    # every CONNECTED COMPONENT is wholly contained in one partition —
    # walk any path: each edge keeps both endpoints in the same
    # partition, and no node bridges two — and the per-partition
    # min-root union-find is therefore the exact global answer: nothing
    # to reconcile. A full pointer-jumping round (edges join + groupBy +
    # two label joins + checkpoint, ~1.1 s at sf0.1) observing zero
    # label changes proves the same fact; this count vs countDistinct
    # certificate costs one small job over the node-cardinality labels.
    # On block = source data the certificate always passes (each doc has
    # ONE source, so all its pairs carry one block value); the generic
    # loop below stays as the 100 TB safety net for any cross-partition
    # graph — and the certificate, not an assumption about the miner, is
    # what gates skipping it.
    # tests/test_dedup.py::test_cc_cross_partition_fallback forces a
    # failing certificate and checks the loop reconciles exactly.
    n_rows, n_nodes = labels.agg(
        F.count("node"), F.count_distinct("node")
    ).first()
    if n_rows == n_nodes:
        release_checkpoint(pairs)
        return labels.select(
            F.col("node").alias("doc_id"), F.col("label").alias("component")
        )

    # Cross-partition components exist: merge the per-partition label
    # rows to ONE row per node (min label — exactly the min-root
    # invariant the local phase maintains) so the loop iterates over
    # node-cardinality state (the hop self-join would multiply
    # duplicated rows). Then build the symmetric edge list (only this
    # branch needs it) and run the generic pointer-jumping min-label
    # loop.
    merged = labels.groupBy("node").agg(F.min("label").alias("label")).localCheckpoint()
    release_checkpoint(labels)
    labels = merged
    edges = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")).union(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    ).localCheckpoint()
    release_checkpoint(pairs)

    for i in range(32):  # ≥ log2(diameter) thanks to pointer jumping
        nbr_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_min"))
        )
        stepped = labels.join(nbr_min, labels.node == nbr_min.src, "left").select(
            "node",
            F.col("label").alias("old_label"),
            F.least(
                F.col("label"), F.coalesce(F.col("nbr_min"), F.col("label"))
            ).alias("label"),
        )
        # Pointer jumping: also adopt the label of my current label, which
        # doubles propagation distance per round — O(log diameter) rounds
        # instead of O(diameter) when dup chains are long.
        hop = stepped.select(
            F.col("node").alias("jnode"), F.col("label").alias("jlabel")
        )
        obs = Observation(f"cc_round_{i}")
        new_labels = (
            stepped.join(hop, stepped.label == hop.jnode, "left")
            .select(
                "node",
                "old_label",
                F.least(
                    F.col("label"), F.coalesce(F.col("jlabel"), F.col("label"))
                ).alias("label"),
            )
            .observe(
                obs,
                F.coalesce(
                    F.sum((F.col("label") != F.col("old_label")).cast("long")),
                    F.lit(0),
                ).alias("changed"),
            )
            .select("node", "label")
            .localCheckpoint()  # eager: runs the round AND fires the observation
        )
        release_checkpoint(labels)
        labels = new_labels
        if obs.get["changed"] == 0:
            break
    release_checkpoint(edges)
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("component"))


@query(
    "pipeline_training_data_prep",
    oracle="""
    WITH deduped AS (
      SELECT * FROM (
        SELECT doc_id, source, lang, text,
               ROW_NUMBER() OVER (PARTITION BY sha256(text) ORDER BY doc_id) AS rn
        FROM documents
      ) WHERE rn = 1
    ),
    gated AS (
      SELECT source, lang,
             len(string_split(text, ' ')) AS n_words,
             len(list_filter(string_split(text, ' '),
                             w -> w IN ('the','a','and','of','to'))) AS n_stop
      FROM deduped
    )
    SELECT source, lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS n_tokens
    FROM gated
    WHERE n_words BETWEEN 20 AND 1000
      AND CAST(n_stop AS DOUBLE) / n_words < 0.5
    GROUP BY source, lang
    """,
)
def pipeline_training_data_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composite training-data pipeline, end to end in ONE lazy plan:
    exact dedup (keep first by content hash) → quality gate (length +
    stopword ratio) → per-(source, lang) document and token budget.
    Catalyst fuses the whole chain: one shuffle for the dedup window,
    one for the final aggregation; the text column never survives past
    the projection that derives its features."""
    from pyspark.sql import Window

    docs = t(spark, sf_dir, "documents")
    w = Window.partitionBy(F.sha2("text", 256)).orderBy("doc_id")
    deduped = (
        docs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
    )
    words = F.split("text", " ")
    stop_hits = F.size(
        F.filter(words, lambda x: x.isin(["the", "a", "and", "of", "to"]))
    )
    gated = deduped.select(
        "source",
        "lang",
        F.size(words).alias("n_words"),
        stop_hits.alias("n_stop"),
    ).where(
        F.col("n_words").between(20, 1000)
        & (F.col("n_stop").cast("double") / F.col("n_words") < 0.5)
    )
    return gated.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_words").cast("long").alias("n_tokens"),
    )


@query(
    "pipeline_incremental_upsert",
    oracle="""
    WITH unioned AS (
      SELECT event_id, ts, user_id, event_type, value FROM events
      WHERE event_id % 3 != 0
      UNION ALL
      SELECT event_id, ts + INTERVAL 1 HOUR AS ts, user_id,
             'corrected' AS event_type, value * 2 AS value
      FROM events WHERE event_id % 5 = 0
    ),
    latest AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY event_id ORDER BY ts DESC, event_type
      ) AS rk FROM unioned
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE)
             AS total_value
    FROM latest WHERE rk = 1
    GROUP BY event_type
    """,
)
def pipeline_incremental_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot + delta upsert without a table format: union the base
    snapshot with a correction delta, keep the latest version per key
    (window row_number over ts DESC — the merge-on-read shape), then
    aggregate the reconciled view. This is how a training-data corpus
    takes corrections/redactions between full rebuilds.

    Scale shape: ONE shuffle on the upsert key serves the window; the
    delta is usually ≪ the snapshot, so at scale you'd partition both
    by key-hash and let AQE coalesce — no global sort anywhere. A real
    lakehouse deployment swaps this for Delta/Iceberg MERGE; the logical
    semantics (latest-wins per key) are identical. total_value rides
    the exact integer-cents money path (queries/money.py). The snapshot
    and delta come from ``scans.upsert_inputs``, shared with the
    copy-on-write ``sink_merge_upsert``."""
    from pyspark.sql import Window

    from muurschilderingendatabase_etl_spark.queries import money
    from muurschilderingendatabase_etl_spark.queries.scans import upsert_inputs

    _, base, delta = upsert_inputs(spark, sf_dir)
    w = Window.partitionBy("event_id").orderBy(F.desc("ts"), "event_type")
    return (
        base.unionByName(delta)
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            money.sum_money(F.col("value")).alias("total_value"),
        )
    )


@query(
    "pack_sequence_bins",
    oracle="""
    WITH sized AS (
      SELECT doc_id,
        len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))
          AS n_tokens
      FROM documents
    ),
    ranked AS (
      SELECT doc_id, n_tokens,
        (ROW_NUMBER() OVER (ORDER BY n_tokens DESC, doc_id) - 1) % 16
          AS bin
      FROM sized
    )
    SELECT CAST(bin AS BIGINT) AS bin,
      CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens
    FROM ranked GROUP BY bin ORDER BY bin
    """,
)
def pack_sequence_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training batches: assign documents to 16
    bins balancing total token count, via sort-by-length-descending +
    round-robin — the parallelizable approximation of first-fit-
    decreasing (within ~1 max-document of optimal balance, vs FFD's
    inherently sequential bin state). Token counts use the BPE-ish
    regex from text_token_count.

    Scale shape: the length-descending global rank is computed with the
    two-phase distributed ranker (distributed.with_global_row_number:
    range-repartition → in-stage local index → broadcast per-partition
    offsets) — exact row_number semantics, byte-identical to the
    oracle's window, with NO single-partition Exchange in the plan
    (asserted by tests/test_plans.py); then pure arithmetic binning —
    no per-bin state, no driver loop."""
    from muurschilderingendatabase_etl_spark.queries.distributed import (
        with_global_row_number,
    )

    sized = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(
            F.regexp_extract_all(
                "text", F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"), F.lit(0)
            )
        ).alias("n_tokens"),
    )
    # Checkpoint the tokenized projection (2 ints/row) BEFORE ranking:
    # the ranker's repartitionByRange boundary-sampling pass reads every
    # input row, so without this the regexp tokenization — the only
    # expensive compute here — runs twice over the full corpus.
    sized = sized.localCheckpoint(eager=False)
    ranked = with_global_row_number(
        sized, [F.desc("n_tokens"), F.col("doc_id")], out_col="rn"
    )
    return (
        ranked.withColumn("bin", ((F.col("rn") - 1) % 16).cast("long"))
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("bin_tokens"),
        )
        .orderBy("bin")
    )


SPAN_N = 4  # words per span; tuned to the fixture vocabulary (~30 words)
# so duplicate spans actually occur — the production value is 10-13
# (C4 removes 3-sentence spans; Gopher/MassiveText uses 13-grams).


@query(
    "dedup_shared_ngram_spans",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, source, string_split(text, ' ') AS w,
             len(string_split(text, ' ')) AS nw
      FROM documents
    ),
    e AS (
      SELECT doc_id, source, w,
        unnest(generate_series(0, nw - {SPAN_N})) AS i
      FROM d WHERE nw >= {SPAN_N}
    ),
    g AS (
      SELECT doc_id,
        array_to_string(list_slice(w, i + 1, i + {SPAN_N}), ' ') AS gram
      FROM e
    ),
    dup AS (
      SELECT gram FROM g GROUP BY gram HAVING COUNT(DISTINCT doc_id) > 1
    ),
    flagged AS (
      SELECT DISTINCT doc_id FROM g WHERE gram IN (SELECT gram FROM dup)
    )
    SELECT source,
      CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(SUM(CASE WHEN f.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        AS n_flagged
    FROM documents LEFT JOIN flagged f USING (doc_id)
    GROUP BY source
    """,
)
def dedup_shared_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level duplicate detection (the C4 / MassiveText shape):
    flag any document that shares an exact word-N-gram with a DIFFERENT
    document. Explode each doc into its spans where the data lives,
    find spans with >1 distinct owner (one partial-aggregating
    groupBy), and semi-join the owners back. At 100 TB the gram column
    is a 64-bit xxhash instead of the literal words (the oracle needs
    the literal string; the hash halves the exchange) and the
    gram->docs index is the same frame a span-REMOVAL pass would use to
    cut the span out of all-but-one owner."""
    docs = t(spark, sf_dir, "documents")
    # The gram stream (textutil decision rule 2) is the fastest span
    # form: measured at sf1 vs building the gram array pre-explode with
    # word_ngrams, 2.0 s vs 7.1 s for the explode phase.
    g = gram_rows(
        docs.select("doc_id", F.split("text", " ").alias("w")), "w", SPAN_N, "doc_id"
    )
    dup = (
        g.groupBy("gram")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .where(F.col("nd") > 1)
        .select("gram")
    )
    flagged = (
        g.join(dup, "gram", "left_semi").select("doc_id").distinct()
        .withColumn("is_flagged", F.lit(1))
    )
    return (
        docs.join(flagged, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.coalesce(F.col("is_flagged"), F.lit(0)).cast("long")
            ).alias("n_flagged"),
        )
    )

