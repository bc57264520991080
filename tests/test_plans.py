"""Physical-plan regression tests (the 100-TB-scale contract).

Correctness tests prove operators compute the right answer at small SF;
these prove the PLAN is the one that survives a 1000× scale-up: filters
reach the parquet scan, projections prune the read schema, small dims
broadcast instead of shuffling, aggregates combine map-side, and the hot
path stays inside whole-stage codegen."""

from __future__ import annotations

import contextlib
import io
import os
import re

from muurschilderingendatabase_etl_spark import registry
from tests.conftest import SF_DIR


def _plan(spark, name: str, mode: str = "formatted") -> str:
    df = registry.all_queries()[name](spark, SF_DIR)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_flagship_broadcasts_and_pushdown(spark):
    p = _plan(spark, "flagship_revenue_by_nation")
    # All three dim joins broadcast — no shuffle join anywhere.
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    # The order-date predicate reaches the parquet scan.
    assert "GreaterThanOrEqual(o_orderdate" in p


def test_scan_pushdown_and_column_pruning(spark):
    p = _plan(spark, "scan_parquet_pushdown")
    assert "GreaterThan(l_discount,0.05)" in p
    # Projection pruning: the 16-column lineitem scan reads only the
    # columns the query touches.
    read_schema = next(l for l in p.splitlines() if "ReadSchema" in l)
    assert "l_extendedprice" not in read_schema
    assert read_schema.count(":") <= 5


def test_partial_aggregation(spark):
    # Map-side combine: partial + final HashAggregate pairs.
    p = _plan(spark, "agg_pricing_summary")
    assert p.count("HashAggregate") >= 2
    assert "partial_" in p


def test_semi_join_stays_semi(spark):
    p = _plan(spark, "join_left_semi")
    assert "LeftSemi" in p


def test_hot_path_in_codegen(spark):
    # Under AQE the codegen markers only exist in the FINAL adaptive plan,
    # so execute first, then read the simple-mode plan ('*(n)' = a
    # whole-stage-codegen stage).
    df = registry.all_queries()["flagship_revenue_by_nation"](spark, SF_DIR)
    df.collect()
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain()
    p = buf.getvalue()
    assert "isFinalPlan=true" in p
    assert re.search(r"\*\(\d+\)", p)


def test_minhash_band_join_sheds_shingles(spark):
    # The LSH band self-join must not carry shingle arrays through the
    # exchange: no 'sh' column in any Exchange below the band join.
    # Any exchange keyed on band columns (hash shuffle at scale; the tiny
    # test SF may broadcast instead, which moves even less) must not carry
    # the shingle arrays.
    p = _plan(spark, "dedup_minhash_lsh")
    band_exchanges = [
        l
        for l in p.splitlines()
        if ("hashpartitioning" in l or "BroadcastMode" in l) and "band_val" in l
    ]
    assert all("sh#" not in l for l in band_exchanges)
    # Minhashing itself stays JVM-side (no Python UDF node anywhere).
    assert "xxhash64" in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_partitioned_write_prunes_partitions(spark):
    # The year predicate must become a PartitionFilter on the re-read of
    # the partitioned layout (other years' directories never opened) —
    # not a post-scan data filter.
    p = _plan(spark, "sink_partitioned_pruning")
    pf = [l for l in p.splitlines() if "PartitionFilters" in l]
    assert pf and any("order_year" in l for l in pf)


def test_observe_metrics(spark):
    # df.observe(): named metrics ride along the job without a second
    # pass over the data — the engine's cheap row-count/invariant probe
    # (the reference logged len(graph) between every stage; this is the
    # Spark-native equivalent, SURVEY O16).
    import pyspark.sql.functions as F
    from pyspark.sql import Observation

    from muurschilderingendatabase_etl_spark.tables import t

    obs = Observation("lineitem_probe")
    df = (
        t(spark, SF_DIR, "lineitem")
        .observe(
            obs,
            F.count(F.lit(1)).alias("n_rows"),
            F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("x")).alias("revenue"),
        )
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    per_flag = {r["l_returnflag"]: r["n"] for r in df.collect()}
    metrics = obs.get
    assert metrics["n_rows"] == sum(per_flag.values())
    assert metrics["revenue"] > 0


def test_scalar_subquery_broadcasts(spark):
    # The decorrelated 1-row aggregate joins as a broadcast — the scalar
    # never forces a shuffle of the fact side (subqueries.py stance).
    p = _plan(spark, "subq_scalar_uncorrelated")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_exists_decorrelates_to_semi(spark):
    # Correlated EXISTS (Q4 shape) must be a single LeftSemi join with the
    # range correlate evaluated join-side — no row explosion, no second agg.
    p = _plan(spark, "subq_exists_correlated")
    assert "LeftSemi" in p
    # The date window on orders reaches the parquet scan.
    assert "GreaterThanOrEqual(o_orderdate" in p


def test_not_exists_decorrelates_to_anti(spark):
    p = _plan(spark, "subq_not_exists_anti")
    assert "LeftAnti" in p


def test_contamination_join_carries_digests_only(spark):
    # The contamination equi-join exchanges must carry the md5 digest and
    # ids, never the text or the words array (dedup.py discipline applied
    # to the contamination scan).
    p = _plan(spark, "contamination_ngram_overlap")
    exchanges = [l for l in p.splitlines() if "Exchange" in l]
    assert exchanges
    assert all("text#" not in l and "w#" not in l for l in exchanges)
    # Shingling stays JVM-side.
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_hll_sketch_estimate_accuracy(spark):
    # Since the round-6 value-check upgrade the query itself carries the
    # accuracy contract: it emits the EXACT distinct count per segment
    # plus a within_5pct boolean comparing the sketch estimate (merged
    # via hll_union_agg for the ALL row) against it. Assert every band
    # check holds and the exact values match an independent computation.
    import pyspark.sql.functions as F

    from muurschilderingendatabase_etl_spark.tables import t

    rows = {
        r["segment"]: r
        for r in registry.all_queries()["agg_hll_sketch_mergeable"](
            spark, SF_DIR
        ).collect()
    }
    assert all(r["within_5pct"] for r in rows.values())
    cust = t(spark, SF_DIR, "customer")
    assert rows["ALL"]["exact_customers"] == cust.select("c_custkey").distinct().count()
    exact_seg = {
        r["c_mktsegment"]: r["n"]
        for r in cust.groupBy("c_mktsegment")
        .agg(F.countDistinct("c_custkey").alias("n"))
        .collect()
    }
    for seg, r in rows.items():
        if seg != "ALL":
            assert r["exact_customers"] == exact_seg[seg]


def test_rest_datasource_matches_serial_scan(spark):
    # The partition-per-page Python DataSource and the serial driver-side
    # loop must yield the identical triple set (same stub corpus, same
    # parse kernel), and the DataSource read must parallelize: one input
    # partition per probed page.
    qs = registry.all_queries()
    ds = qs["rdf_rest_datasource_scan"](spark, SF_DIR).collect()
    serial = qs["rdf_rest_source_scan"](spark, SF_DIR).collect()
    assert ds == serial

    from muurschilderingendatabase_etl_spark.rdf.datasource import (
        OmekaRestDataSource,
    )

    spark.dataSource.register(OmekaRestDataSource)
    pages = (
        spark.read.format("omeka_rest")
        .option("mode", "stub")
        .option("pages", 3)
        .option("max_pages", 6)
        .load()
    )
    assert pages.rdd.getNumPartitions() == 6
    assert pages.count() == 3


def test_aqe_splits_skewed_join(spark):
    # The engine's skew story: AQE's skew-join handling must kick in on a
    # genuinely skewed shuffle join. Build a synthetic skew (one hot key
    # holding ~90% of rows), join with per-key thresholds lowered so the
    # tiny test data triggers the optimization, and assert the final
    # adaptive plan marked the sort-merge join as skew-handled.
    import contextlib
    import io

    import pyspark.sql.functions as F

    confs = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force shuffle join
        # Without this AQE skips skew-splitting when a downstream stage
        # (e.g. an aggregation) wants the join's hash partitioning.
        "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        hot = spark.range(60000).select(
            F.lit(7).alias("k"), F.col("id").alias("payload")
        )
        tail = spark.range(6000).select(
            (F.col("id") % 97 + 100).alias("k"), F.col("id").alias("payload")
        )
        left = hot.unionAll(tail)
        right = spark.range(200).select(
            F.col("id").alias("k"), F.lit("dim").alias("name")
        )
        joined = left.join(right, "k")
        joined.write.format("noop").mode("overwrite").save()
        joined.collect()
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            joined.explain()
        p = buf.getvalue()
        assert "isFinalPlan=true" in p
        assert "skew=true" in p, "AQE did not mark the join skew-handled"
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_runtime_bloom_filter_injection(spark):
    # Runtime row-level filtering: a selective dim-side predicate should
    # inject a bloom filter on the fact side's scan (InjectRuntimeFilter),
    # cutting shuffle input before the join — a key lever when the fact
    # side is 100 TB and the dim filter keeps 1%. Thresholds lowered so
    # sf-scale data qualifies.
    import pyspark.sql.functions as F

    from muurschilderingendatabase_etl_spark.tables import t

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # broadcast would bypass
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        orders = t(spark, SF_DIR, "orders").where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        li = t(spark, SF_DIR, "lineitem").select("l_orderkey", "l_quantity")
        joined = li.join(orders, li.l_orderkey == orders.o_orderkey).groupBy(
            "o_orderstatus"
        ).agg(F.sum("l_quantity").alias("qty"))
        plan = joined._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter" in plan or "BloomFilter" in plan, plan[:2000]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_hll_rolling_uniques_tracks_exact(spark):
    # The sketch-merge rolling distinct must track the exact trailing
    # 3-day distinct count within HLL error (lgK=14 -> ~1%; assert 5%).
    import pyspark.sql.functions as F

    from muurschilderingendatabase_etl_spark.tables import t

    # Since the round-6 value-check upgrade the query emits the exact
    # trailing distinct plus a within_5pct band boolean itself; assert
    # the band holds everywhere and the exact side matches an
    # independent raw-scan computation per day.
    rows = {
        r["day"]: r
        for r in registry.all_queries()["agg_hll_rolling_uniques"](
            spark, SF_DIR
        ).collect()
    }
    assert rows and all(r["within_5pct"] for r in rows.values())
    ev = t(spark, SF_DIR, "events").select(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
        "user_id",
    )
    # CALENDAR trailing window (day - 2 calendar days), not "previous 2
    # present day-rows": the r7 fix switched the query to rangeBetween
    # over an epoch-day ordinal so it matches the oracle's INTERVAL
    # semantics even when a calendar day has no events (r6 ADVICE).
    import datetime as dt

    for day in sorted(rows):
        lo = (
            dt.date.fromisoformat(day) - dt.timedelta(days=2)
        ).isoformat()
        exact = (
            ev.where((F.col("day") >= lo) & (F.col("day") <= day))
            .select("user_id")
            .distinct()
            .count()
        )
        assert rows[day]["exact_rolling_uniques"] == exact, (day, exact)


def test_hll_rolling_uniques_day_gap(spark, tmp_path):
    """The divergence scenario from the r6 ADVICE: a corpus with a
    MISSING calendar day. Rows semantics (previous 2 present day-rows)
    would count day 1 into day 4's window; calendar semantics must not.
    """
    import pyspark.sql.functions as F

    # days 1, 2, 4 (day 3 absent); distinct users: d1={1,2}, d2={3},
    # d4={4}. Calendar trailing-3-day windows: d1 -> {1,2}=2,
    # d2 -> {1,2,3}=3, d4 -> {3,4}=2 (day 1 aged out; rows semantics
    # would include it and say 4).
    data = [
        ("2024-01-01 10:00:00", 1), ("2024-01-01 11:00:00", 2),
        ("2024-01-02 10:00:00", 3),
        ("2024-01-04 10:00:00", 4),
    ]
    df = spark.createDataFrame(data, "ts string, user_id bigint").select(
        F.col("ts").cast("timestamp").alias("ts"), "user_id"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    got = {
        r["day"]: r["exact_rolling_uniques"]
        for r in registry.all_queries()["agg_hll_rolling_uniques"](
            spark, str(tmp_path)
        ).collect()
    }
    assert got == {"2024-01-01": 2, "2024-01-02": 3, "2024-01-04": 2}


def test_salted_agg_is_two_stage(spark):
    """agg_two_stage_salted must actually aggregate twice: a partial
    stage keyed on (flag, salt) and a final stage keyed on flag — four
    HashAggregates total (partial+final per stage), with the salt
    expression feeding the first exchange."""
    p = _plan(spark, "agg_two_stage_salted")
    assert len(re.findall(r"HashAggregate", p)) >= 4
    assert "pmod" in p


def test_histogram_minmax_broadcasts(spark):
    """The 1-row min/max frame joins back via broadcast, never a
    shuffled cross join."""
    p = _plan(spark, "stats_histogram_bins")
    assert "BroadcastNestedLoopJoin" in p
    assert "CartesianProduct" not in p


def test_span_dedup_semi_join(spark):
    """Shared-span flagging uses a semi join back from the >1-owner
    gram set (never materializes gram x doc pairs twice)."""
    p = _plan(spark, "dedup_shared_ngram_spans")
    assert "LeftSemi" in p


def _executed_pagerank(spark, sf_dir=SF_DIR):
    """Run PageRank and return (frame, executed plan of its final
    localCheckpoint). The returned frame is a checkpoint, so the plan
    over the edge cache is read from the SQL status store; that store
    is filled by an asynchronous listener, hence the drain."""
    from muurschilderingendatabase_etl_spark.queries import graph

    df = graph.graph_pagerank_fixed(spark, sf_dir)
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    executions = spark._jsparkSession.sharedState().statusStore().executionsList()
    return df, executions.last().physicalPlanDescription()


def _sibling_sf(name: str) -> str:
    """The fixture directory ``name`` next to SF_DIR."""
    return os.path.join(os.path.dirname(SF_DIR.rstrip("/")), name)


# The per-iteration contribution aggregation's shuffle, had the edge
# cache not been partitioned on dst: the planner-inserted exchange (1
# match in plans/r13/graph_pagerank_fixed_before.txt, 0 after). A
# single-partition cache satisfies any clustering, so the check can
# only fail where the edge cache's own repartition (_CACHE_EXCHANGE) has
# at least 2 partitions: sf0.1 (3 on 4 cores), not sf0.01 or below.
_DST_AGG_EXCHANGE = re.compile(
    r"hashpartitioning\(dst#\d+L, \d+\), ENSURE_REQUIREMENTS"
)
_CACHE_EXCHANGE = re.compile(
    r"hashpartitioning\(\w+#\d+L, (\d+)\), REPARTITION_BY_NUM"
)


def _assert_no_dst_agg_exchange(plan: str) -> None:
    assert min(int(n) for n in _CACHE_EXCHANGE.findall(plan)) >= 2
    assert not _DST_AGG_EXCHANGE.search(plan)


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _persistent_rdds(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _disk_only_rdds(spark) -> set[int]:
    """Ids of the persisted RDDs held only on disk. The rank checkpoints
    are memory-and-disk; other queries' DISK_ONLY checkpoints may still
    be held by the shared session, so compare before and after."""
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    return {i for i, rdd in rdds.items() if not rdd.getStorageLevel().useMemory()}


def test_pagerank_broadcasts_ranks(spark):
    """Each PageRank iteration must broadcast the node-cardinality rank
    table — the cached edge table is never re-shuffled for the join —
    and the dst-partitioned cache feeds groupBy(dst), so no shuffle may
    sit between the cache scan and the final aggregate. Run at sf0.1,
    where the cache has more than one partition."""
    _, p = _executed_pagerank(spark, _sibling_sf("sf0.1"))
    assert "BroadcastHashJoin" in p
    assert "InMemoryTableScan" in p
    _assert_no_dst_agg_exchange(p)


def test_pagerank_keeps_only_last_checkpoint(spark):
    """Each iteration's rank checkpoint is released once the next one
    is materialized: one run leaves exactly one more persisted RDD, the
    last checkpoint, which backs the returned frame."""
    from muurschilderingendatabase_etl_spark.queries import graph

    before = _persistent_rdds(spark)
    df = graph.graph_pagerank_fixed(spark, SF_DIR)
    assert len(_persistent_rdds(spark) - before) == 1
    assert df.count() > 0


def test_pagerank_nonbroadcast_path_same_ranks(spark, monkeypatch):
    """When the node set outgrows the broadcast threshold, the loop
    switches to the pre-hash-partitioned shuffle join (edges
    repartitioned on src once and persisted; only the rank side moves
    per iteration). Forcing that path (threshold → 0, auto-broadcast
    off so tiny-SF AQE can't re-broadcast) must reproduce the broadcast
    path's ranks exactly and keep the edge cache's HashPartitioning in
    the plan (InMemoryTableScan feeding the join, no hint)."""
    from muurschilderingendatabase_etl_spark.queries import graph

    spark.catalog.clearCache()
    base = {
        (r.node, r.pr)
        for r in graph.graph_pagerank_fixed(spark, SF_DIR).collect()
    }
    monkeypatch.setattr(graph, "BROADCAST_MAX_NODES", 0)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df, p = _executed_pagerank(spark)
        assert "InMemoryTableScan" in p
        assert "BroadcastHashJoin" not in p
        got = {(r.node, r.pr) for r in df.collect()}
        # the returned frame is checkpointed, so it no longer depends on
        # the (now released) edge cache
        assert "ExistingRDD" in df._jdf.queryExecution().simpleString()
        assert _cache_empty(spark)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert got == base


def test_pagerank_disk_cache_same_ranks(spark, monkeypatch):
    """Above DISK_CACHE_MIN_BYTES both caches are sorted and kept
    DISK_ONLY. Forcing that regime at sf0.1 must give the in-memory
    regime's ranks, keep the zero-exchange contribution aggregation,
    and release the disk caches before returning."""
    from muurschilderingendatabase_etl_spark.queries import graph

    sf_dir = _sibling_sf("sf0.1")
    spark.catalog.clearCache()
    base = {
        (r.node, r.pr)
        for r in graph.graph_pagerank_fixed(spark, sf_dir).collect()
    }
    monkeypatch.setattr(graph, "DISK_CACHE_MIN_BYTES", 0)
    disk_before = _disk_only_rdds(spark)
    df, p = _executed_pagerank(spark, sf_dir)
    assert "StorageLevel(disk, 1 replicas)" in p
    assert "StorageLevel(disk, memory" not in p
    _assert_no_dst_agg_exchange(p)
    assert "ExistingRDD" in df._jdf.queryExecution().simpleString()
    assert _cache_empty(spark)
    assert not _disk_only_rdds(spark) - disk_before
    assert {(r.node, r.pr) for r in df.collect()} == base


def test_geo_grid_join_no_cartesian(spark):
    """The 500 km distance join must run as an equi-join on grid cells
    (broadcast or shuffled hash), never a cartesian/BNLJ over the full
    supplier x customer space."""
    p = _plan(spark, "geo_distance_join_grid")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_simhash_brute_slice_no_cartesian(spark):
    """The bounded brute-force hamming slice inside dedup_simhash is a
    non-equi self-join — without the explicit broadcast hint it is BNLJ
    only by lineage accident (r11 VERDICT item 3); a CartesianProduct
    here re-partitions constant work into hundreds of tasks."""
    p = _plan(spark, "dedup_simhash")
    assert "CartesianProduct" not in p


def test_label_cohesion_no_cartesian(spark):
    """similarity_label_cohesion's bounded (<=60 vec) non-equi self-join
    must stay a broadcast NLJ — Catalyst costed the filtered parquet
    slice at full file size and fell back to CartesianProduct before the
    r11 hint (22.8x/decade at sf100 -> 2.7x post-fix)."""
    p = _plan(spark, "similarity_label_cohesion")
    assert "CartesianProduct" not in p


def test_heavy_hitters_candidates_broadcast(spark):
    """Pass 2 must semi-join the word stream against BROADCAST
    candidates (bounded by K per partition) — a shuffled join here
    would defeat the bounded-memory design."""
    p = _plan(spark, "heavy_hitters_two_pass")
    assert "BroadcastHashJoin" in p and "LeftSemi" in p


def test_zorder_reread_pushes_both_filters(spark):
    """The z-order re-read must push BOTH filter dimensions to the
    parquet scan (customer range and date range)."""
    p = _plan(spark, "sink_zorder_2d_skipping")
    assert "GreaterThanOrEqual(o_custkey,100)" in p
    assert "GreaterThanOrEqual(o_orderdate" in p


def test_dynamic_partition_pruning_injected(spark):
    """The year-dim join over the partitioned fact layout must inject a
    runtime partition filter (DPP) — without it every partition is
    scanned even though the dim filters to 2 of 7 years."""
    p = _plan(spark, "join_dynamic_partition_pruning")
    assert "dynamicpruning" in p.lower()


def test_global_rank_queries_have_no_single_partition_exchange(spark):
    """pack_sequence_bins and window_ntile_buckets were rebuilt on the
    two-phase distributed ranker (distributed.with_global_row_number):
    an unpartitioned Window.orderBy would show up as Exchange
    SinglePartition — every row funneled through ONE task, the plan
    shape that dies at 100 TB. Guard that neither plan regresses to it.
    (The final 16/10-row `.orderBy(bin)` output sort is range-
    partitioned over post-aggregation rows, not SinglePartition.)"""
    for name in ("pack_sequence_bins", "window_ntile_buckets"):
        p = _plan(spark, name)
        assert "SinglePartition" not in p, f"{name} plan funnels to one task"
        # the ranker's offset join must stay broadcast (P tiny rows)
        assert "BroadcastHashJoin" in p


def test_merge_upsert_antijoin_no_cartesian(spark):
    """The MERGE's untouched-rows branch must be a hash anti-join on the
    key (broadcast or shuffled) — a BNLJ/cartesian here would scan
    base x changelog at 100 TB. The operator materializes eagerly, so
    assert on the exposed merge-frame builder's plan."""
    import pyspark.sql.functions as F

    from muurschilderingendatabase_etl_spark.queries.scans import _merge_frames
    from muurschilderingendatabase_etl_spark.tables import t

    ev = t(spark, SF_DIR, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    chg = ev.limit(10).withColumn("op", F.lit("upsert"))
    df = _merge_frames(ev, chg)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    p = buf.getvalue()
    assert "LeftAnti" in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_exact_percentiles_have_no_value_buffer_aggregate(spark):
    """The exact-percentile queries must stay on the rank-based form:
    Spark's builtin percentile() aggregates through a per-task
    value->count hashmap (planned as ObjectHashAggregate over
    TypedAggregateWithHashMapAsBuffer) whose serialized partial state
    OOMed the r7 sf10 probe. The rank form plans as spillable Sort +
    broadcast rank-pick; neither ObjectHashAggregate nor a percentile
    aggregate may appear."""
    for name in (
        "agg_percentiles",
        "stats_percentiles_exact",
        "agg_approx_percentile",
    ):
        df = registry.all_queries()[name](spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        # The exact `percentile(` aggregate (the value-buffer one) must
        # not appear anywhere. `percentile_approx(` is allowed — its
        # ObjectHashAggregate state is a bounded QuantileSummaries
        # sketch, not a value map — and is agg_approx_percentile's
        # entire point.
        assert not re.search(r"\bpercentile\(", plan), name
        if name != "agg_approx_percentile":
            assert "ObjectHashAggregate" not in plan, name
