"""Similarity search over the embeddings table (north-star extension).

Brute-force cosine top-k is the correctness baseline (oracle-checked
against DuckDB's list functions); the LSH-bucketed variant is the scale
path — random-hyperplane signatures bucket the vectors so each query
probes one bucket family instead of the full table.

Scale notes:
- Vectors are cast float→double ONCE, norms precomputed, and the dot
  product is a JVM-side aggregate/zip_with fold — no Python UDF, no
  explode (the 64-dim arrays never blow up into rows).
- Brute force is a broadcast nested-loop of |Q| queries × corpus —
  linear in the corpus for a fixed query set, embarrassingly parallel.
  Top-k per query is a window over (query, cosine) — shuffle carries
  only (q_id, vec_id, cosine).
- The LSH variant trades recall for a corpus-partition-local probe:
  at 100 TB you bucket once (write-time), then each query touches
  2^probes buckets. Hyperplanes are seeded literals so results are
  deterministic and testable.
"""

from __future__ import annotations

import math
import random

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from muurschilderingendatabase_etl_spark.registry import query
from muurschilderingendatabase_etl_spark.tables import t

_TOP_K = 5
_N_QUERIES = 10  # vec_id < 10 are the query vectors


def _dlit_arr(vals) -> "F.Column":
    """Constant array<double> literal in ONE py4j call (driver-side
    build cost): ``F.lit(ndarray)`` transfers element-by-element
    through py4j's ListConverter (measured ~0.55 s for the 32 plane
    rows of the LSH build) and ``F.array(*[F.lit(x)...])`` is worse
    (one round-trip per element). A SQL-text array parses JVM-side in
    one call; ``repr(float)`` is the shortest uniquely-round-tripping
    decimal in both Python and Java, so values are bit-identical.
    Each call site references its array once, so the pre-folding
    CreateArray shape has none of the bloom-bitmap inline-6× blowup.

    Finite values only: repr of nan/inf would emit 'nanD'/'infD', which
    the SQL parser rejects, so a non-finite input raises ValueError at
    build time rather than a parse error inside Catalyst."""
    vals = [float(x) for x in vals]
    if not all(math.isfinite(x) for x in vals):
        raise ValueError("non-finite value in _dlit_arr")
    return F.expr("array(" + ",".join(f"{x!r}D" for x in vals) + ")")


def _ilit_arr(vals) -> "F.Column":
    """Constant array<int> literal in one py4j call (see _dlit_arr)."""
    return F.expr("array(" + ",".join(str(int(x)) for x in vals) + ")")


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def _norm(a):
    return F.sqrt(_dot(a, a))


_BRUTE_ORACLE = f"""
    WITH q AS (
      SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id < {_N_QUERIES}
    ),
    c AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings
    ),
    scored AS (
      SELECT q.q_id, c.vec_id,
             list_dot_product(q.qv, c.cv)
               / (sqrt(list_dot_product(q.qv, q.qv))
                  * sqrt(list_dot_product(c.cv, c.cv))) AS cosine
      FROM q CROSS JOIN c
      WHERE q.q_id <> c.vec_id
    )
    SELECT q_id, vec_id, ROUND(cosine, 6) AS cosine,
           CAST(rk AS BIGINT) AS rk
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY q_id ORDER BY cosine DESC, vec_id
      ) AS rk
      FROM scored
    )
    WHERE rk <= {_TOP_K}
"""


@query("similarity_topk_bruteforce", oracle=_BRUTE_ORACLE)
def similarity_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector."""
    emb = t(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double(F.col("embedding")).alias("v")
    )
    corpus = emb.select(
        F.col("vec_id"), F.col("v").alias("cv"), _norm(F.col("v")).alias("cnorm")
    )
    queries_df = (
        emb.where(F.col("vec_id") < _N_QUERIES)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("v").alias("qv"),
            _norm(F.col("v")).alias("qnorm"),
        )
    )
    # try_divide: a zero vector has no direction — cosine NULL (DuckDB's
    # x/0), ranked last by the NULLS LAST desc ordering, not a job abort.
    cosine = F.try_divide(
        _dot(F.col("qv"), F.col("cv")), F.col("qnorm") * F.col("cnorm")
    )
    scored = (
        corpus.crossJoin(F.broadcast(queries_df))
        .where(F.col("q_id") != F.col("vec_id"))
        .select("q_id", "vec_id", cosine.alias("cosine"))
    )
    # Two-stage top-k (a single window measured 12.5x per decade of
    # corpus at sf100): the single global window hash-partitions the
    # FULL score relation on q_id — with |Q|=10 queries that is 10 tasks
    # each sorting |corpus| rows (2M at sf100) while the other cores
    # idle. Stage 1 ranks within (q_id, input partition) — 32x|Q|
    # balanced groups — and keeps k rows per group, so the q_id-only
    # window sees <= k x partitions rows per query instead of the
    # corpus. Both stages rank by the SAME total order (cosine desc,
    # vec_id), so the local top-k is a superset of the global top-k and
    # the result is bit-identical.
    w_local = Window.partitionBy("q_id", "pid").orderBy(
        F.desc("cosine"), "vec_id"
    )
    local = (
        scored.withColumn("pid", F.spark_partition_id())
        .withColumn("lrk", F.row_number().over(w_local))
        .where(F.col("lrk") <= _TOP_K)
        .drop("pid", "lrk")
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), "vec_id")
    return (
        local.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= _TOP_K)
        .select("q_id", "vec_id", F.round("cosine", 6).alias("cosine"), "rk")
    )


_N_PLANES = 8
_LSH_SEEDS = (42, 43, 44, 45)  # independent hash tables, candidates unioned
_N_TABLES = len(_LSH_SEEDS)
_PROBE_RADIUS = 3  # probe all buckets within this hamming distance
_DIM = 64


def _hyperplanes(seed: int) -> list[list[float]]:
    rng = random.Random(seed)
    return [
        [rng.gauss(0.0, 1.0) for _ in range(_DIM)] for _ in range(_N_PLANES)
    ]


_LSH_RECALL_FLOOR = 0.92
_IVF_RECALL_FLOOR = 0.80


def _recall_summary(
    spark: SparkSession,
    sf_dir: str,
    approx: DataFrame,
    floor: float,
) -> DataFrame:
    """In-band value-check for an ANN probe (the same in-query contract
    as the HLL sketch queries): compute the EXACT top-k
    alongside the index probe, measure recall@k, and emit a single row
    whose floor boolean the driver hash-compares — the oracle declares
    TRUE. The neighbor IDs themselves stay out of the hashed output
    because an approximate index's misses are engine-specific by
    construction; the committed floors (0.92 LSH / 0.80 IVF) are the
    same ones tests/test_similarity.py pins.

    Scale shape: this is the standard index-QA job — exact top-k over
    the same query set, one left join on (q_id, vec_id), one global
    aggregate. At 100 TB you run it on a sampled query set next to the
    index build; the serving path probes the index alone
    (_lsh_ann/_ivf_topk)."""
    exact = similarity_topk_bruteforce(spark, sf_dir).select("q_id", "vec_id")
    hits = exact.join(
        approx.select("q_id", "vec_id").withColumn("hit", F.lit(1)),
        ["q_id", "vec_id"],
        "left",
    ).agg(
        F.count(F.lit(1)).alias("n_exact"),
        F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_hit"),
    )
    n_queries = (
        t(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") < _N_QUERIES)
        .agg(F.count(F.lit(1)).alias("n_queries"))
    )
    return n_queries.crossJoin(hits).select(
        "n_queries",
        F.lit(_TOP_K).cast("int").alias("k"),
        F.lit(floor).alias("recall_floor"),
        # vacuous TRUE when the corpus has no exact neighbors to find
        F.when(
            F.col("n_exact") > 0,
            F.col("n_hit") / F.col("n_exact") >= floor,
        )
        .otherwise(F.lit(True))
        .alias("floor_met"),
    )


def _ann_recall_oracle(floor: float) -> str:
    return f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
           CAST({_TOP_K} AS INT) AS k,
           CAST({floor} AS DOUBLE) AS recall_floor,
           TRUE AS floor_met
    FROM embeddings WHERE vec_id < {_N_QUERIES}
    """


@query("similarity_lsh_ann", oracle=_ann_recall_oracle(_LSH_RECALL_FLOOR))
def similarity_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via MULTI-TABLE random-hyperplane LSH with
    hamming-3 multiprobe, value-checked in-band: the query emits a
    recall@5-vs-brute-force floor row (see _recall_summary) instead of
    the engine-specific neighbor lists; the probe itself is _lsh_ann.

    Four independent tables (seeded plane sets) × sign pattern over 8
    planes → 256 buckets each; a query probes its bucket plus all
    hamming-≤3 neighbors (93 probes, ~36% of the bucket space) in EVERY
    table, candidates union across tables, exact cosine re-ranks.
    Measured recall@5: 0.96 at sf0.001, 0.98 at sf0.01 and sf0.1
    (regression floor 0.85, tests/test_similarity.py); the radius sweep
    behind the choice (radius 2 → 0.66-0.88, radius 3 lifts every table
    count ≥0.92) was a one-off script, kept in git history. Deterministic
    (seeded planes, vec_id tiebreak).

    Scale shape: corpus side carries (table, bucket, vec) — a 4× row
    fan-out, not a data copy per probe; the probe join is equi on
    (table, bucket); candidate dedup before re-rank keeps the scoring
    work proportional to UNIQUE candidates."""
    return _recall_summary(
        spark, sf_dir, _lsh_ann(spark, sf_dir), _LSH_RECALL_FLOOR
    )


def _lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    tables = [_hyperplanes(seed) for seed in _LSH_SEEDS]
    emb = t(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double(F.col("embedding")).alias("v")
    )

    def bucket_of(vcol, planes):
        # The signature is ONE expression — a transform over the plane
        # matrix (8 single-Literal ndarray rows), dot-folded and
        # bit-weighted with a zip_with: 8 separately built
        # F.when(_dot(...)) columns per table cost ~2.6 s of driver-side
        # build per run (hundreds of py4j Column round-trips × 4 tables;
        # build 2.6 s vs exec 1.4 s) plus CreateArray literal bloat.
        pmat = F.array(*[_dlit_arr(p) for p in planes])
        weights = _ilit_arr([1 << i for i in range(len(planes))])
        dots = F.transform(pmat, lambda p: _dot(vcol, p))
        return F.aggregate(
            F.zip_with(
                dots,
                weights,
                lambda d, w: F.when(d >= 0, w).otherwise(F.lit(0)),
            ),
            F.lit(0),
            lambda acc, x: acc + x,
        )

    # Buckets materialize ONCE as columns; every probe below is an xor
    # on the column reference. Building probes from the raw bucket
    # EXPRESSION instead would textually inline the 8-dot-product
    # signature into all 37 probe slots × 3 tables of generated code —
    # measured 6× slower from codegen size alone.
    with_buckets = emb.select(
        "vec_id",
        "v",
        _norm(F.col("v")).alias("vnorm"),
        *[
            bucket_of(F.col("v"), planes).alias(f"b{tid}")
            for tid, planes in enumerate(tables)
        ],
    )
    table_buckets = F.array(
        *[
            F.struct(F.lit(tid).alias("tid"), F.col(f"b{tid}").alias("bucket"))
            for tid in range(_N_TABLES)
        ]
    )
    corpus = with_buckets.select(
        "vec_id",
        F.col("v").alias("cv"),
        F.col("vnorm").alias("cnorm"),
        F.explode(table_buckets).alias("tb"),
    ).select(
        "vec_id", "cv", "cnorm",
        F.col("tb.tid").alias("tid"), F.col("tb.bucket").alias("bucket"),
    )

    def probes_of(bucket_col):
        # all masks with popcount <= radius; radius 3 over 8 planes =
        # 1 + 8 + 28 + 56 = 93 of 256, as one transform over a single
        # mask-array Literal (not 93 py4j-built XOR columns per table),
        # in ascending mask order.
        masks = [
            m for m in range(1 << _N_PLANES)
            if bin(m).count("1") <= _PROBE_RADIUS
        ]
        return F.transform(
            _ilit_arr(masks), lambda m: bucket_col.bitwiseXOR(m)
        )

    def _tag(tid: int):
        # NB: a two-arg lambda would be treated by F.transform as the
        # (element, index) form — the index would silently shadow tid.
        return lambda p: F.struct(F.lit(tid).alias("tid"), p.alias("probe"))

    probe_structs = F.flatten(
        F.array(
            *[
                F.transform(probes_of(F.col(f"b{tid}")), _tag(tid))
                for tid in range(_N_TABLES)
            ]
        )
    )
    queries_df = (
        with_buckets.where(F.col("vec_id") < _N_QUERIES)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("v").alias("qv"),
            F.col("vnorm").alias("qnorm"),
            F.explode(probe_structs).alias("tp"),
        )
        .select(
            "q_id", "qv", "qnorm",
            F.col("tp.tid").alias("qtid"), F.col("tp.probe").alias("probe"),
        )
    )
    # try_divide: a zero vector has no direction — cosine NULL (DuckDB's
    # x/0), ranked last by the NULLS LAST desc ordering, not a job abort.
    cosine = F.try_divide(
        _dot(F.col("qv"), F.col("cv")), F.col("qnorm") * F.col("cnorm")
    )
    scored = (
        corpus.join(
            F.broadcast(queries_df),
            (F.col("tid") == F.col("qtid")) & (F.col("bucket") == F.col("probe")),
        )
        .where(F.col("q_id") != F.col("vec_id"))
        .dropDuplicates(["q_id", "vec_id"])
        .select("q_id", "vec_id", cosine.alias("cosine"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), "vec_id")
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= _TOP_K)
        .select("q_id", "vec_id", F.round("cosine", 6).alias("cosine"), "rk")
        .orderBy("q_id", "rk")
    )


_PAIR_ORACLE = """
    WITH e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    )
    SELECT a.label AS label_a, b.label AS label_b,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND(AVG(list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v))
                * sqrt(list_dot_product(b.v, b.v)))), 4) AS avg_cosine
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE a.vec_id < 60 AND b.vec_id < 60
    GROUP BY a.label, b.label
"""


@query("similarity_label_cohesion", oracle=_PAIR_ORACLE)
def similarity_label_cohesion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average pairwise cosine within/between labels on a bounded slice —
    the ground-truth check that labels cluster in embedding space.

    The slice is <= 60 vectors BY CONSTRUCTION, so the self-join's right
    side carries an explicit broadcast hint: without it Catalyst costs
    the filtered scan at the FULL file size (no per-filter selectivity
    estimate on parquet), refuses to broadcast either side of the
    non-equi condition, and falls back to CartesianProduct — 32x32 =
    1024 tasks each re-opening the source (measured 22.8x per decade of
    corpus at sf100 on what is constant work; with the hint the plan is
    a 32-task BroadcastNestedLoopJoin at any corpus size)."""
    emb = (
        t(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") < 60)
        .select("vec_id", "label", _as_double(F.col("embedding")).alias("v"))
    )
    a, b = emb.alias("a"), emb.alias("b")
    cosine = F.try_divide(
        _dot(F.col("a.v"), F.col("b.v")),
        _norm(F.col("a.v")) * _norm(F.col("b.v")),
    )
    return (
        a.join(F.broadcast(b), F.col("a.vec_id") < F.col("b.vec_id"))
        .groupBy(
            F.col("a.label").alias("label_a"), F.col("b.label").alias("label_b")
        )
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.avg(cosine), 4).alias("avg_cosine"),
        )
    )


_IVF_K = 16       # coarse centroids
_IVF_ITERS = 10   # Lloyd's iterations (driver-side NumPy on the sample)
_IVF_NPROBE = 4   # cells probed per query at base scale (≤20k vectors)
_IVF_NPROBE_REF_N = 20_000  # corpus size the base nprobe was tuned at
_IVF_TRAIN_SAMPLE = 4096  # bounded training sample (k*256; ~2 MB at dim 64)


def _ivf_nprobe(n: int) -> int:
    """Corpus-adaptive probe count, tuned against TWO measured recall
    sweeps on isotropic (worst-case, no cluster structure) vectors:

      200k (sf10): nprobe 4/6/8/10 -> 0.62/0.76/0.88/0.96
      50k  (tests/test_ivf_midscale_recall.py):
            nprobe 5/6/7/8  -> 0.70/0.76/0.82/0.86

    Reading the two together: for UNstructured embeddings recall@5 is
    essentially a function of the probed fraction nprobe/k, nearly flat
    in corpus size — an exponent-only curve (4*(n/20k)^0.3) tuned at
    the 200k point undershoots the 0.8 floor in the 20k–130k window
    (nprobe 5 at 50k measures 0.70). So above the
    clustered-fixture regime (the sf* testdata has 10-cluster structure;
    nprobe 4 measures 0.88–0.92 there) the curve floors at 7 — the
    smallest probe count that held >= 0.8 at every measured scale — and
    caps at 10 (0.96 at 200k; flat-in-n means more cells buy little but
    cost linearly). The honest 100 TB posture is different knobs
    entirely: grow k ~ sqrt(n) with a larger training sample and keep
    nprobe/k small — with k fixed at 16 for fixture comparability, a
    large probed fraction IS the correct compensation.
    """
    if n <= _IVF_NPROBE_REF_N:
        return _IVF_NPROBE
    scaled = round(_IVF_NPROBE * (n / _IVF_NPROBE_REF_N) ** 0.3)
    return int(min(_IVF_K, min(10, max(7, scaled))))


@query("similarity_ivf_ann", oracle=_ann_recall_oracle(_IVF_RECALL_FLOOR))
def similarity_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate nearest neighbors, value-checked in-band: emits
    the recall@5-vs-brute-force floor row (see _recall_summary); the
    index probe itself is _ivf_topk."""
    return _recall_summary(
        spark, sf_dir, _ivf_topk(spark, sf_dir), _IVF_RECALL_FLOOR
    )


def _ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate nearest neighbors: k-means coarse quantizer
    trained on a bounded sample, inverted cell assignment, nprobe-cell
    search with exact cosine re-rank.

    Scale shape (the FAISS-standard IVF posture): the coarse quantizer
    is trained on a BOUNDED deterministic sample — one distributed
    top-N by hash order (TakeOrdered: per-partition top-N + driver
    merge, never a global sort) collects ≤ k*256 vectors (~2 MB), and
    Lloyd's iterations run driver-side in NumPy in microseconds. The
    full corpus is then assigned in ONE map-side pass: k distance folds
    over a centroid LITERAL matrix + an array_min argmin — no shuffle
    ever touches the vectors. A full-corpus distributed Lloyd would run
    one assignment job + one k×dim-combining update shuffle PER
    iteration, whose fixed job latency dominates at bench SF (6.6 s),
    and quantizer quality needs a sample, not the corpus. The
    literal matrix form also keeps the generated code size independent
    of k (a transform loop over an array-of-arrays literal, not k
    unrolled folds). Search probes only nprobe cells per query with an
    exact cosine re-rank. At 100 TB the assignment table is the
    persisted index; training and search are separate jobs sharing it.

    Quality: recall@5 vs brute force ≥ the 0.8 floor at
    sf0.001/0.01/0.1 (nprobe=4) AND at sf10 / 200k vectors (adaptive
    nprobe=8, recall 0.88 measured — see _ivf_nprobe for the sf10
    decay curve that motivated corpus-adaptive probing). The
    search stage carries an `observe` metric
    (`ivf_search.n_candidates`) so production runs can monitor how
    much of the corpus each query actually scanned.
    """
    import numpy as np

    # cache(): the sample job, the assignment pass and the query lookup
    # all re-use the cast vectors. Invalid vectors (NULL, or carrying a
    # NULL component) are excluded up front: they cannot be trained on,
    # assigned to a cell, or ranked — the standard ANN-index ingest
    # contract — and a None reaching the driver-side NumPy training
    # would otherwise abort the job.
    emb = (
        t(spark, sf_dir, "embeddings")
        .where(
            F.col("embedding").isNotNull()
            & F.forall("embedding", lambda x: x.isNotNull())
        )
        .select("vec_id", _as_double(F.col("embedding")).alias("v"))
        .cache()
    )
    # Deterministic bounded sample: top-N by xxhash64(vec_id) order —
    # a distributed TakeOrdered, O(corpus) scan with per-partition
    # top-N, driver receives ≤ _IVF_TRAIN_SAMPLE rows regardless of
    # corpus size. The corpus count for the adaptive nprobe rides THIS
    # scan as an observe() metric instead of a separate count job over
    # the cache: TakeOrderedAndProject evaluates every partition, so the
    # observation is complete once the collect returns.
    from pyspark.sql import Observation

    obs = Observation("ivf_corpus_n")
    sample = (
        emb.observe(obs, F.count(F.lit(1)).alias("n"))
        .orderBy(F.xxhash64(F.col("vec_id")), F.col("vec_id"))
        .limit(_IVF_TRAIN_SAMPLE)
        .collect()
    )
    # Corpus-adaptive nprobe (count observed on the sample scan above).
    nprobe = _ivf_nprobe(int(obs.get["n"]))
    if not sample:
        # Empty corpus: no vectors to train on, no neighbors to return —
        # emit the empty result with the output schema (a routine case at
        # scale: an ingest slice with no embeddings yet).
        empty = emb.select(
            F.col("vec_id").alias("q_id"),
            "vec_id",
            F.lit(0.0).alias("cosine"),
            F.lit(0).cast("long").alias("rk"),
        ).where(F.lit(False))
        emb.unpersist()
        return empty
    # Seed determinism: the k sample vectors with the smallest vec_id.
    sample.sort(key=lambda r: int(r.vec_id))
    X = np.array([[float(x) for x in r.v] for r in sample])
    # A corpus smaller than _IVF_K trains fewer cells (k_eff = |sample|);
    # every downstream loop runs over the trained cells only.
    k_eff = min(_IVF_K, len(X))
    C = X[:k_eff].copy()
    for _ in range(_IVF_ITERS):
        # assign: argmin squared distance (ties -> lowest cid, argmin's
        # first-match rule)
        d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        a = d2.argmin(axis=1)
        newC = C.copy()  # empty cell keeps its old centroid
        for j in range(k_eff):
            m = a == j
            if m.any():
                newC[j] = X[m].mean(axis=0)
        if np.array_equal(newC, C):
            break
        C = newC
    cent: list[tuple[int, list[float]]] = [
        (j, [float(x) for x in C[j]]) for j in range(k_eff)
    ]

    def assign_expr(cents: list[tuple[int, list[float]]]):
        """nearest-centroid cid as one map-side expression: a transform
        loop over the centroid literal matrix (generated-code size is
        O(1) in k) + array_min over (d2, cid) structs (lexicographic
        struct order = the (d2, cid) tie-break)."""
        # One-py4j-call array literals (see _dlit_arr): nested
        # F.array(*[F.lit(x)...]) costs k×dim+k ≈ 1040 py4j round-trips
        # on every build. SQL int literals keep the cid element type int.
        cid_arr = _ilit_arr([c for c, _ in cents])
        cmat = F.array(*[_dlit_arr(cv) for _, cv in cents])
        d2s = F.transform(
            cmat,
            lambda c: F.aggregate(
                F.zip_with(F.col("v"), c, lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, z: acc + z,
            ),
        )
        structs = F.zip_with(
            d2s, cid_arr, lambda d, c: F.struct(d.alias("d2"), c.alias("cid"))
        )
        return F.array_min(structs)["cid"]

    index = emb.withColumn("cid", assign_expr(cent)).select("vec_id", "v", "cid")
    centroids = spark.createDataFrame(
        [(cid, cv) for cid, cv in cent], "cid int, cv array<double>"
    )

    queries_df = (
        emb.where(F.col("vec_id") < _N_QUERIES)
        .select(F.col("vec_id").alias("q_id"), F.col("v").alias("qv"))
    )
    # nprobe nearest cells per query
    qd2 = F.aggregate(
        F.zip_with(F.col("qv"), F.col("cv"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, z: acc + z,
    )
    wq = Window.partitionBy("q_id").orderBy("qd2", "cid")
    probes = (
        queries_df.crossJoin(F.broadcast(centroids))
        .select("q_id", "qv", "cid", qd2.alias("qd2"))
        .withColumn("rk", F.row_number().over(wq))
        .where(F.col("rk") <= nprobe)
        .select("q_id", "qv", "cid")
    )
    # search only the probed cells; observe() rides the existing pass —
    # no extra job — and exposes scanned-candidate volume per run
    cand = (
        probes.join(index, "cid")
        .where(F.col("q_id") != F.col("vec_id"))
        .observe("ivf_search", F.count(F.lit(1)).alias("n_candidates"))
    )
    cosine = F.try_divide(
        _dot(F.col("qv"), F.col("v")),
        _norm(F.col("qv")) * _norm(F.col("v")),
    )
    wk = Window.partitionBy("q_id").orderBy(F.desc("cosine"), "vec_id")
    out = (
        cand.select("q_id", "vec_id", cosine.alias("cosine"))
        .withColumn("rk", F.row_number().over(wk).cast("long"))
        .where(F.col("rk") <= _TOP_K)
        .select("q_id", "vec_id", F.round("cosine", 6).alias("cosine"), "rk")
    )
    # Release the pinned vectors before returning: the cache otherwise
    # outlives the query in a long-lived session. The
    # small top-k result (≤ n_queries·k rows) is checkpointed eagerly
    # first so the returned frame no longer depends on the cache.
    out = out.localCheckpoint()
    emb.unpersist()
    return out
