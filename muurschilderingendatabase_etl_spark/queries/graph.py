"""Graph analytics on a derived supplier–part graph: fixed-iteration
PageRank, the canonical iterative DataFrame algorithm.

Graph: undirected bipartite edges from the distinct (l_suppkey,
l_partkey) pairs in lineitem (part node ids offset so the two key
spaces don't collide). Undirected means every node has out-degree >= 1,
so there is no dangling-mass correction to carry.

Spark shape: the source is scanned and deduplicated exactly once. The
bare (src, dst) edges are cached hash-partitioned on dst, and degrees
live in a separate node-cardinality cache derived from it. Each of the
8 iterations is one node-cardinality join (rank x deg), a join of the
edge cache with the broadcast scaled ranks, and a groupBy(dst) that
needs no exchange because the cache is already partitioned on dst.
Only above BROADCAST_MAX_NODES, where the rank table is too big to
broadcast, are both caches rebuilt partitioned on src, so that only the
rank side shuffles each iteration. History: SCALE.md rounds 9-10 and
OPTIMIZATION_r13.md.

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
from muurschilderingendatabase_etl_spark.tables import release_checkpoint, t

PART_OFFSET = 10_000_000
DAMPING = 0.85
N_ITER = 8
# Largest node count whose per-iteration rank table is broadcast: 16 B a
# row is a ~1 GB hash relation at the ceiling, inside Spark's 8 GB
# broadcast limit with room for the relation's ~3x build overhead.
# Above it the loop shuffles the rank side to a src-partitioned cache.
BROADCAST_MAX_NODES = 64_000_000
# Estimated edge bytes above which both caches live on disk, sorted
# within partitions so that their scans report an ordering to the joins
# and aggregation that follow. A multi-GB cache on heap squeezes the
# unified memory pool that the per-iteration aggregation spills out of,
# while the OS page cache serves the serialized re-reads; below it the
# in-memory columnar cache is faster and the sort is not worth its cost.
DISK_CACHE_MIN_BYTES = 1 << 30


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
    # A column-less count reads only parquet metadata: it sizes the
    # caches before the one pass over the source builds them.
    n_li = src_li.count()
    if n_li == 0:
        # Empty graph: the rank seed 1/n is undefined.
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
    # |edges| <= 2|lineitem| rows of 16 B bounds the cache size. Aim for
    # ~8 MB partitions, at most one per core unless that makes them
    # larger than ~128 MB: each iteration runs its join and aggregation
    # in the same task, and fatter partitions outgrow the heap.
    est_bytes = 2 * n_li * 16
    par = spark.sparkContext.defaultParallelism
    n_par = max(
        min(par, est_bytes // (8 << 20) + 1), est_bytes // (128 << 20) + 1
    )
    on_disk = est_bytes > DISK_CACHE_MIN_BYTES
    level = StorageLevel.DISK_ONLY if on_disk else StorageLevel.MEMORY_AND_DISK

    def cache_by(edges: DataFrame, key: str) -> tuple[DataFrame, DataFrame]:
        """The edge cache hash-partitioned on ``key`` and the degree
        cache grouped by the same key, so building the degrees needs no
        exchange. persist, not localCheckpoint: a cached repartition
        keeps its HashPartitioning visible to Catalyst. The undirected
        union is symmetric, so a node's count under either key is its
        degree."""
        e = edges.repartition(n_par, key)
        if on_disk:
            e = e.sortWithinPartitions(key)
        e = e.persist(level)
        e.count()  # materialize before anything derives from it
        deg = (
            e.groupBy(key)
            .agg(F.count(F.lit(1)).alias("deg"))
            .select(F.col(key).alias("src"), "deg")
        )
        if on_disk:
            deg = deg.sortWithinPartitions("src")
        return e, deg.persist(level)

    # dst partitioning lets the broadcast loop's groupBy(dst) run with no
    # exchange: the edge-cardinality relation never crosses the wire.
    e, deg = cache_by(edges, "dst")
    n_nodes = float(deg.count())  # one degree row per node
    use_broadcast = n_nodes <= BROADCAST_MAX_NODES
    if not use_broadcast:
        # Rebuilt from the dst cache, never from the source.
        dst_caches = (e, deg)
        e, deg = cache_by(e, "src")
        for c in dst_caches:
            c.unpersist()
    ranks = deg.select(
        F.col("src").alias("node"), F.lit(1.0 / n_nodes).alias("pr")
    )
    for i in range(N_ITER):
        # Pre-scale ranks by 1/deg at node cardinality, then join the
        # bare edges.
        scaled = ranks.join(deg, ranks.node == deg.src).select(
            "node", (F.col("pr") / F.col("deg")).alias("prd")
        )
        r = F.broadcast(scaled) if use_broadcast else scaled
        contrib = (
            e.join(r, e.src == r.node)
            .groupBy("dst")
            .agg(F.sum(F.col("prd")).alias("c"))
        )
        # Checkpointed so that iteration i does not re-execute 1..i-1,
        # and so that the result outlives the caches released below.
        prev, ranks = ranks, contrib.select(
            F.col("dst").alias("node"),
            (
                F.lit((1 - DAMPING) / n_nodes)
                + F.lit(DAMPING) * F.col("c")
            ).alias("pr"),
        ).localCheckpoint()
        if i:
            # The eager checkpoint cut the lineage, so the previous one
            # is never read again.
            release_checkpoint(prev)
    # Release the executor storage: in a long-lived session the caches
    # would otherwise outlive the query.
    e.unpersist()
    deg.unpersist()
    return ranks.select("node", F.round("pr", 6).alias("pr"))
