"""Dedup-specific guards beyond the generic oracle-parity suite."""

from __future__ import annotations

from muurschilderingendatabase_etl_spark.queries.dedup import _SHINGLE_ORACLE
from tests.conftest import SF_DIR


def test_minhash_lsh_fixture_margin(ddb):
    """LSH recall at τ=0.9 is probabilistic: with 8 bands × 2 rows the
    per-true-pair miss probability is (1-s²)^8 ≤ (0.19)^8 ≈ 1.7e-6. The
    parity gate (LSH output == exact all-pairs oracle) is deterministic
    for FIXED fixtures (xxhash64 seeds are constants), but a fixture
    refresh could add near-dup pairs; this guard keeps the union bound
    negligible — 500 pairs × 1.7e-6 < 1e-3 — so a refresh that breaks
    the assumption fails loudly HERE, not as a mystery hash-mismatch.
    """
    n_pairs = ddb.sql(
        f"SELECT COUNT(*) AS n FROM ({_SHINGLE_ORACLE})"
    ).fetchone()[0]
    assert n_pairs <= 500, (
        f"fixture has {n_pairs} true near-dup pairs; union-bound miss "
        "probability no longer negligible — add a guaranteed-candidate "
        "pass to dedup_minhash_lsh or re-shrink the fixture"
    )


def test_simhash_multi_chunk_pigeonhole_lossless(spark):
    """The C(5,2) two-chunk candidate filter must emit exactly the pairs
    a brute-force all-pairs hamming scan finds (pigeonhole: hamming ≤ 3
    leaves ≥ 2 of 5 chunks clean, so one combo matches on both sides) —
    guards the cut offsets/widths against drift.
    """
    from functools import reduce

    import pyspark.sql.functions as F

    from muurschilderingendatabase_etl_spark.queries.dedup import (
        _simhash_pairs_from,
        _simhash_sims,
    )
    from muurschilderingendatabase_etl_spark.tables import t

    sf = "/root/testdata/sf0.001"
    docs = t(spark, sf, "documents").select(
        "doc_id",
        F.transform(
            F.array_distinct(F.split("text", " ")), lambda w: F.xxhash64(w)
        ).alias("hashes"),
    )

    def bit_vote(i: int):
        return F.aggregate(
            "hashes",
            F.lit(0),
            lambda acc, h: acc
            + F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1),
        )

    simhash = reduce(
        lambda a, b: a.bitwiseOR(b),
        [
            F.when(bit_vote(i) > 0, F.shiftleft(F.lit(1).cast("long"), i))
            .otherwise(F.lit(0).cast("long"))
            for i in range(64)
        ],
    )
    sims = docs.select("doc_id", simhash.alias("sh"))
    a, b = sims.alias("a"), sims.alias("b")
    brute = (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh"))).alias("hamming"),
        )
        .where(F.col("hamming") <= 3)
    )
    expected = {(r.doc_a, r.doc_b, r.hamming) for r in brute.collect()}
    got = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in _simhash_pairs_from(_simhash_sims(spark, sf)).collect()
    }
    assert got == expected


def test_simhash_miner_filters_on_the_declared_radius(spark, monkeypatch):
    """The miner and the in-query slice check both filter on
    SIMHASH_MAX_HAMMING, the radius the pigeonhole layout is checked
    against: lowering it must drop every mined pair beyond it."""
    from muurschilderingendatabase_etl_spark.queries import dedup

    sims = dedup._simhash_sims(spark, SF_DIR).localCheckpoint()

    def hammings() -> list[int]:
        return [r.hamming for r in dedup._simhash_pairs_from(sims).collect()]

    radius = 1
    assert any(h > radius for h in hammings()), "fixture has no pair beyond 1"
    monkeypatch.setattr(dedup, "SIMHASH_MAX_HAMMING", radius)
    assert all(h <= radius for h in hammings())
    row = dedup.dedup_simhash(spark, SF_DIR).first()
    assert row.slice_lossless


def test_jaccard_partition_signatures_match_naive_block_join(spark):
    """Partition-based candidate generation must be lossless: compare to
    a naive same-source pair join at the test SF."""
    import pyspark.sql.functions as F

    from muurschilderingendatabase_etl_spark.queries.dedup import (
        dedup_ngram_jaccard,
    )
    from muurschilderingendatabase_etl_spark.tables import t

    sf = "/root/testdata/sf0.001"
    docs = t(spark, sf, "documents").select(
        "doc_id",
        "source",
        F.array_distinct(
            F.transform(F.split("text", " "), lambda x: F.xxhash64(x))
        ).alias("w"),
    ).withColumn("n", F.size("w"))
    a, b = docs.alias("a"), docs.alias("b")
    inter = F.size(F.array_intersect(F.col("a.w"), F.col("b.w")))
    jac = inter.cast("double") / (F.col("a.n") + F.col("b.n") - inter).cast(
        "double"
    )
    naive = (
        a.join(
            b,
            (F.col("a.source") == F.col("b.source"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            jac.alias("jr"),
        )
        .where(F.col("jr") >= 0.95)
        .select("doc_a", "doc_b", F.round("jr", 6).alias("jaccard"))
    )
    expected = {(r.doc_a, r.doc_b, r.jaccard) for r in naive.collect()}
    got = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in dedup_ngram_jaccard(spark, sf).collect()
    }
    assert got == expected
    assert len(got) > 0, "fixture lost its near-dup pairs"


def test_cosine_gram_tiles_invariant_to_tile_count(spark, monkeypatch):
    """Forcing multi-tile blocks (tile_rows=16 → T>1 even at sf0.001)
    must not change the result: exercises the ti≠tj cross-tile path and
    the min/max pair ordering, which T=1 fixtures never reach."""
    import muurschilderingendatabase_etl_spark.queries.dedup as dd

    sf = "/root/testdata/sf0.001"
    base = {
        (r.vec_a, r.vec_b, r.cosine)
        for r in dd.dedup_embedding_cosine(spark, sf).collect()
    }
    monkeypatch.setattr(dd, "_COSINE_TILE_ROWS", 16)
    tiled = {
        (r.vec_a, r.vec_b, r.cosine)
        for r in dd.dedup_embedding_cosine(spark, sf).collect()
    }
    assert tiled == base
    assert len(base) > 0, "fixture lost its qualifying cosine pairs"


def test_cc_cross_partition_fallback(spark, monkeypatch):
    """Force the connected-components certificate to FAIL (a node with
    pairs in two blocks that hash to different partitions) and check the
    generic pointer-jumping loop reconciles to the exact components with
    one row per node. The certified fast path (r13) skips the loop ONLY
    when labels are duplicate-free; this pins the fallback's exactness —
    the safety net must be a working algorithm, not dead code."""
    import pyspark.sql.functions as F

    import muurschilderingendatabase_etl_spark.queries.dedup as dd

    # AQE coalesces a tiny keyed repartition to ONE partition, which
    # would make every certificate pass trivially; pin the exchange
    # open so two blocks can actually land apart.
    coalesce_key = "spark.sql.adaptive.coalescePartitions.enabled"
    shuffle_key = "spark.sql.shuffle.partitions"
    old_coalesce = spark.conf.get(coalesce_key)
    old_shuffle = spark.conf.get(shuffle_key)
    spark.conf.set(coalesce_key, "false")
    spark.conf.set(shuffle_key, "8")

    # Pick two block values that provably land in different partitions
    # under the session's current repartition("block") hashing.
    cand = spark.createDataFrame(
        [(f"b{i}",) for i in range(32)], "block string"
    )
    pids = {
        r["block"]: r["pid"]
        for r in cand.repartition("block")
        .select("block", F.spark_partition_id().alias("pid"))
        .collect()
    }
    b1 = "b0"
    b2 = next(b for b in pids if pids[b] != pids[b1])

    # Chain 1-2-3 spans the two partitions through node 2; {10, 11} is a
    # second, partition-local component under b1.
    pairs = spark.createDataFrame(
        [(1, 2, b1), (2, 3, b2), (10, 11, b1)],
        "doc_a long, doc_b long, block string",
    )
    monkeypatch.setattr(dd, "_ngram_jaccard_pairs", lambda s, d: pairs)

    try:
        before = _persistent_rdds(spark)
        out = dd.dedup_connected_components(spark, "/ignored")
        added = len(_persistent_rdds(spark) - before)
        rows = [(r.doc_id, r.component) for r in out.collect()]
    finally:
        spark.conf.set(coalesce_key, old_coalesce)
        spark.conf.set(shuffle_key, old_shuffle)
    assert sorted(rows) == [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)]
    assert len(rows) == len(set(r[0] for r in rows)), "duplicate doc_id rows"
    # the loop releases pairs, edges and every superseded labels checkpoint
    assert added == 1


def _persistent_rdds(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_cc_keeps_only_labels_checkpoint(spark):
    """The certified branch releases the pairs checkpoint once labels is
    materialized: one run leaves exactly one more persisted RDD, the
    labels checkpoint, which backs the returned frame."""
    from muurschilderingendatabase_etl_spark.queries.dedup import (
        dedup_connected_components,
    )
    from tests.conftest import SF_DIR

    before = _persistent_rdds(spark)
    df = dedup_connected_components(spark, SF_DIR)
    assert len(_persistent_rdds(spark) - before) == 1
    assert df.count() > 0
