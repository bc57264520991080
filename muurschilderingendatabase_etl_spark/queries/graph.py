"""Graph analytics on a derived supplier–part graph: fixed-iteration
PageRank, the canonical iterative DataFrame algorithm.

Graph: undirected bipartite edges from the distinct (l_suppkey,
l_partkey) pairs in lineitem (part node ids offset so the two key
spaces don't collide). Undirected means every node has out-degree >= 1,
so there is no dangling-mass correction to carry.

Spark shape (the one that scales): the source is scanned and
deduplicated exactly ONCE (a column-less metadata count sizes the
partitioning and storage level up front; degrees and the node count
derive from the materialized edge cache, never from a second source
pass — r10). The edge cache carries BARE (src, dst) pairs and degrees
live in a separate node-cardinality table that pre-scales the rank
vector each iteration, so the 8-iteration-reused big table holds no
derivable payload. Each of the 8 iterations is then one
node-cardinality join (rank x deg), one join (edge src -> scaled rank)
+ one partial-aggregating groupBy(dst). Lineage is cut with a
localCheckpoint mid-loop so the plan doesn't grow superlinearly — the
same discipline as dedup_connected_components (dedup.py). At 100 TB
the edge table is hash-partitioned on src once and every iteration
reuses that partitioning for the join side.

Oracle: because the iteration count is FIXED, PageRank is expressible
as chained CTEs — the oracle SQL is generated mechanically, one CTE
per iteration, and DuckDB executes it exactly. That upgrades an
operator that is usually "rows-only, trust me" into a value-checked
one. Damping 0.85, 8 iterations, ranks rounded to 6dp on both sides.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

from muurschilderingendatabase_etl_spark.registry import query
from muurschilderingendatabase_etl_spark.tables import t

PART_OFFSET = 10_000_000
DAMPING = 0.85
N_ITER = 8
# Above this node count the per-iteration rank table is too big to
# broadcast (16 B/row -> ~1 GB hash relation at the ceiling — the same
# order as Spark's 8 GB/512M-row broadcast hard limits, with headroom
# for the relation's ~3x build overhead); the loop then switches to the
# pre-hash-partitioned shuffle join: edges are repartitioned on src
# ONCE and persisted (persist, not localCheckpoint — a cached
# repartition keeps HashPartitioning(src) visible to Catalyst, so only
# the node-cardinality rank side shuffles each iteration). The r10
# sf100 phase profile moved this from 2M to 64M: at 21M nodes the
# shuffle loop's contribution aggregation re-shuffled ~1.18B joined
# rows per iteration (partial agg combines nothing when per-partition
# dst multiplicity < 1), 8 x ~19 GB of pure shuffle I/O, while the
# broadcast loop over a dst-partitioned cache does the same iteration
# with a 336 MB broadcast and ZERO aggregation exchange.
# tests/test_plans.py::test_pagerank_nonbroadcast_path forces this path
# via monkeypatch and diffs it against the broadcast path's output.
BROADCAST_MAX_NODES = 64_000_000
# Production default: the fallback path checkpoints the final ranks and
# releases the edge cache before returning (r5 ADVICE — the persist
# otherwise outlives the query in a long-lived session). Tests flip this
# off to introspect the lazy fallback plan (InMemoryTableScan assertion).
_RELEASE_FALLBACK_CACHE = True


def _pagerank_oracle() -> str:
    head = f"""
    WITH pairs AS (
      SELECT DISTINCT l_suppkey AS s, l_partkey + {PART_OFFSET} AS p
      FROM lineitem
    ),
    edges AS (
      SELECT s AS src, p AS dst FROM pairs
      UNION ALL
      SELECT p AS src, s AS dst FROM pairs
    ),
    deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
    nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM deg),
    r0 AS (SELECT src AS node, 1.0 / (SELECT n FROM nn) AS pr FROM deg)
    """
    steps = []
    for i in range(1, N_ITER + 1):
        steps.append(
            f""",
    r{i} AS (
      SELECT e.dst AS node,
             {1 - DAMPING} / (SELECT n FROM nn)
               + {DAMPING} * SUM(r{i - 1}.pr / d.deg) AS pr
      FROM edges e
      JOIN r{i - 1} ON e.src = r{i - 1}.node
      JOIN deg d ON e.src = d.src
      GROUP BY e.dst
    )"""
        )
    tail = f"""
    SELECT node, ROUND(pr, 6) AS pr FROM r{N_ITER}
    """
    return head + "".join(steps) + tail


@query("graph_pagerank_fixed", oracle=_pagerank_oracle())
def graph_pagerank_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8-iteration PageRank over the supplier-part co-occurrence graph;
    see module docstring for the scale shape and the generated
    chained-CTE oracle."""
    src_li = t(spark, sf_dir, "lineitem")
    # ONE source scan + ONE distinct shuffle, ever (r9 ADVICE + the
    # sf100 14.3x residual, SCALE.md round 10): the pre-r10 shape re-ran
    # the full lineitem scan + distinct pipeline up to three times at
    # build (counts action, edge cache build, degree cache build) — at
    # sf100 that was 2 x 600M-row scans + 2 x 590M-row distinct shuffles
    # of pure duplicated work. Build order now: (1) a COLUMN-LESS parquet
    # count (metadata-class job — row-group row counts, no column IO)
    # upper-bounds the edge bytes for partition sizing and the storage
    # level, (2) the edge cache is built from the source in one pass,
    # (3) degrees + the node count come from the cache.
    n_li = src_li.count()
    if n_li == 0:
        # Empty graph (no lineitem rows): the rank seed 1/n is undefined
        # and every iteration would be a no-op — return the empty result
        # with the output schema instead of dividing by zero.
        return src_li.select(
            F.col("l_suppkey").alias("node"), F.lit(0.0).alias("pr")
        ).where(F.lit(False))
    pairs = src_li.select(
        F.col("l_suppkey").alias("s"),
        (F.col("l_partkey") + PART_OFFSET).alias("p"),
    ).distinct()
    edges = pairs.selectExpr("s AS src", "p AS dst").union(
        pairs.selectExpr("p AS src", "s AS dst")
    )
    par = spark.sparkContext.defaultParallelism
    # Partition count: sized by BYTES (~128 MB of 16 B/row pairs per
    # partition), floored at the core count — "one partition per core"
    # stops being a partitioning strategy when a partition is 37M rows:
    # each iteration pipelines two sort-merge joins and a partial
    # aggregation through the SAME task, and at sf100 the per-task
    # sort+hash footprint of 32 fat partitions OOMed a 48 GB heap.
    # ~128 MB partitions are what a real cluster would use for this
    # table anyway. |edges| <= 2|lineitem| upper-bounds the size;
    # overestimating the dedup factor just yields smaller partitions.
    est_edge_bytes = 2 * n_li * 16
    e_par = max(par, est_edge_bytes // (128 << 20) + 1)
    # Storage level by size: DISK_ONLY for big graphs — the cache exists
    # for plan-fork reuse across 8 iterations, and a multi-GB edge cache
    # squeezes the unified pool the per-iteration aggregation hash maps
    # spill out of (the r7 agg_approx_percentile OOM failure mode); the
    # OS page cache serves the serialized re-reads without touching JVM
    # heap (sf100 A/B in SCALE.md round 9). Small graphs keep the
    # columnar cache on-heap — forcing THEM through disk cost ~2.5 s at
    # sf0.1 (round-10 A/B).
    big = est_edge_bytes > (1 << 30)
    if big:
        # Big graph → partition the edge cache on DST: the broadcast
        # loop (the common big regime now that the ceiling is 64M nodes)
        # probes the cache with a broadcast rank relation and then
        # aggregates contributions BY DST — with the cache
        # HashPartitioning(dst) the groupBy needs no exchange at all,
        # which is where the r9 shuffle loop burned ~19 GB of shuffle
        # I/O per iteration at sf100 (r10 phase profile). persist — not
        # localCheckpoint — keeps the partitioning visible to Catalyst;
        # DISK_ONLY: the cache exists for plan-fork reuse across 8
        # iterations, and a multi-GB edge cache squeezes the unified
        # pool the aggregation hash maps spill out of (the r7
        # agg_approx_percentile OOM failure mode); the OS page cache
        # serves the serialized re-reads without touching JVM heap
        # (sf100 A/B, SCALE.md r9). The sort makes InMemoryTableScan
        # expose outputOrdering too, for free merge locality in the
        # final agg.
        e = (
            edges.repartition(e_par, "dst")
            .sortWithinPartitions("dst")
            .persist(StorageLevel.DISK_ONLY)
        )
        e.count()  # materialize before anything derives from it
        # Degrees from the materialized edge cache (the pre-r10 shape
        # re-ran the whole source pipeline to build the same table).
        # Grouping by DST, not src: the undirected union is symmetric —
        # every (a,b) pair appears once in each direction, so a node's
        # dst-count equals its src-count — and dst matches the cache's
        # partitioning, making this a ZERO-exchange agg (grouping by src
        # here re-shuffled all 1.18B edge rows: 86 s of the sf100 build,
        # r10 phase profile). Aliased to src for the per-iteration
        # rank x deg join; sorted so that join streams the degree side.
        degN = (
            e.groupBy("dst")
            .agg(F.count(F.lit(1)).alias("deg"))
            .select(F.col("dst").alias("src"), "deg")
            .sortWithinPartitions("src")
            .persist(StorageLevel.DISK_ONLY)
        )
        caches = [e, degN]
    else:
        # Small graph → same dst-partitioned-cache structure as the big
        # branch, at the byte-sized partition count (~8 MB/partition,
        # capped at the core count — r12, guide §2.2 fewer-larger
        # partitions) and in MEMORY instead of DISK_ONLY. r12 pinned
        # the edges with a shuffle-free coalesce+localCheckpoint, but a
        # checkpoint is an ExistingRDD with UnknownPartitioning, so all
        # 8 iteration groupBy(dst) aggregations paid a shuffle exchange
        # plus its AQE re-planning round-trip. persist keeps
        # HashPartitioning(dst) visible to Catalyst — the per-iteration
        # contribution agg runs with ZERO exchange, exactly like the
        # big branch — and the one up-front edge shuffle costs less
        # than the 8 exchanges it removes (interleaved A/B at sf0.1:
        # 4.0–4.6 s → 3.3–4.0 s full-query, 6/6 reps; the round-10
        # "coalesce wins" A/B compared against repartition+sort+
        # DISK_ONLY, whose sort and disk round-trip are what cost the
        # 2.5 s — neither is paid here). Degrees derive from the cache
        # grouped BY DST (its partitioning key: zero-exchange too;
        # dst-count == src-count in the symmetric union), aliased to
        # src for the per-iteration rank×deg join — the source
        # scan+distinct still runs exactly once.
        e_small_par = max(1, min(par, int(est_edge_bytes // (8 << 20)) + 1))
        e = edges.repartition(e_small_par, "dst").persist(
            StorageLevel.MEMORY_AND_DISK
        )
        e.count()  # materialize before anything derives from it
        degN = (
            e.groupBy("dst")
            .agg(F.count(F.lit(1)).alias("deg"))
            .select(F.col("dst").alias("src"), "deg")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        caches = [e, degN]
    # One row per node (undirected graph: every node has out-degree >= 1),
    # so the node count — which picks the loop strategy — is a cheap
    # count over the just-built node-cardinality cache.
    n_nodes = float(degN.count())
    use_broadcast = n_nodes <= BROADCAST_MAX_NODES
    if not use_broadcast:
        # Very-large regime (> BROADCAST_MAX_NODES — or forced in tests
        # via BROADCAST_MAX_NODES=0): the shuffle loop wants
        # src-partitioned, sorted, persisted inputs so that only the
        # node-cardinality rank side moves each iteration. Rebuild them
        # FROM THE EXISTING CACHE (one cache-to-cache shuffle, never a
        # second source scan); the dst-partitioned original is released
        # once its replacement is materialized.
        lvl = StorageLevel.DISK_ONLY if big else StorageLevel.MEMORY_AND_DISK
        e_src = (
            e.repartition(e_par, "src")
            .sortWithinPartitions("src")
            .persist(lvl)
        )
        e_src.count()
        deg_src = (
            e_src.groupBy("src")
            .agg(F.count(F.lit(1)).alias("deg"))
            .sortWithinPartitions("src")
            .persist(lvl)
        )
        for c in caches:
            c.unpersist()
        e, degN = e_src, deg_src
        caches = [e, degN]
    ranks = degN.select(
        F.col("src").alias("node"), F.lit(1.0 / n_nodes).alias("pr")
    )
    for i in range(1, N_ITER + 1):
        # Pre-scale ranks by 1/deg (node-cardinality join — deg rows ==
        # rank rows, orders of magnitude below edge-cardinality), then
        # join the bare (src, dst) edges. Broadcast path: the scaled
        # rank table broadcasts, the join is map-side over the cached
        # edge partitions, and — when the cache is HashPartitioning(dst)
        # (big regime) — the contribution groupBy(dst) runs WITHOUT any
        # exchange: the edge-cardinality relation never crosses the wire
        # at all, in any stage of the iteration. Shuffle path (> 64M
        # nodes): same plan minus the hint; the rank side hash-shuffles
        # to the src-partitioned edge cache and the aggregation pays its
        # exchange — the unavoidable cost once the rank table outgrows a
        # broadcast.
        scaled = ranks.join(degN, ranks.node == degN.src).select(
            "node", (F.col("pr") / F.col("deg")).alias("prd")
        )
        r = F.broadcast(scaled) if use_broadcast else scaled
        contrib = (
            e.join(r, e.src == r.node)
            .groupBy("dst")
            .agg(F.sum(F.col("prd")).alias("c"))
        )
        ranks = contrib.select(
            F.col("dst").alias("node"),
            (
                F.lit((1 - DAMPING) / n_nodes)
                + F.lit(DAMPING) * F.col("c")
            ).alias("pr"),
        )
        # Materialize each iteration (eager localCheckpoint on the tiny
        # node-cardinality frame): without this, building iteration i's
        # broadcast re-executes iterations 1..i-1 — O(iters^2) total
        # work. With it, every iteration runs once over the cached
        # edges (measured 16 s -> ~4 s warm at sf0.1). The LAST
        # iteration stays lazy so the returned frame exposes a real
        # plan (broadcast join visible to plan tests) and costs one
        # iteration to materialize.
        if i < N_ITER:
            ranks = ranks.localCheckpoint()
    out = ranks.select("node", F.round("pr", 6).alias("pr"))
    if caches and _RELEASE_FALLBACK_CACHE:
        # Both branches persist the edge and degree tables; release
        # that executor storage before returning (it otherwise leaks
        # across subsequent queries in a long-lived session). The final
        # iteration is checkpointed first so the returned frame no
        # longer depends on the caches being populated.
        out = out.localCheckpoint()
        for c in caches:
            c.unpersist()
    return out
