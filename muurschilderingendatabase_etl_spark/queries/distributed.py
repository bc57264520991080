"""Distributed exact global ranking — the scale-safe replacement for an
unpartitioned ``Window.orderBy`` (which Spark executes as an Exchange
SinglePartition + one-task sort: every row moves to one partition, the
one plan shape that cannot survive a 100× scale-up).

Two-phase ranking (the DataFrame analog of the classic RDD
``sortByKey`` + ``zipWithIndex`` bookkeeping), fully lazy — one job,
no driver-side counts pass:

1. ``repartitionByRange`` on the sort keys gives each partition one
   contiguous key range, with partition id increasing in key order
   (RangePartitioner invariant). The ranged frame is then
   ``localCheckpoint``-ed (lazily) BEFORE the plan forks: both the
   counts branch and the main branch read the same materialized
   partitions, so identical partition assignment is guaranteed by
   construction — it does NOT depend on ``spark.sql.exchange.reuse``
   or on RangePartitioner's boundary sampling being deterministic
   across two executions (with reuse disabled and a nondeterministic
   upstream, two independent exchanges could sample different
   boundaries and silently mis-number rows). The partition
   count is passed explicitly so AQE never re-plans it.
2. Main branch: ``sortWithinPartitions`` + ``monotonically_increasing_
   id`` assign each row ``pid * 2^33 + local_index`` in sort order —
   fully parallel, same stage, no extra shuffle and no global sort.
3. Counts branch: per-partition row counts (≤ num_partitions rows —
   bounded by cluster fan-out, NOT by data size) are coalesced to one
   task and prefix-summed with a window — O(number of partitions)
   bookkeeping, the same bounded single-task segment every distributed
   sort performs, and coalesce(1) satisfies the window's distribution
   requirement so no Exchange SinglePartition is ever planned. The
   offsets come back as a broadcast join.
   global row_number = offset + local_index + 1.

The result is byte-identical to ``row_number() OVER (ORDER BY …)``
provided the sort keys form a TOTAL order (callers append a unique
tiebreaker column), so exact small-SF oracles keep matching while the
plan stays shuffle-parallel end to end (asserted in tests/test_plans
.py::test_global_rank_queries_have_no_single_partition_exchange).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from muurschilderingendatabase_etl_spark.tables import byte_partitions

# monotonically_increasing_id() = partition_id * 2^33 + row_index
_MID_PARTITION_SHIFT = 33


def with_global_row_number(
    df: DataFrame,
    order_by: list[Column],
    out_col: str = "rn",
    total_col: Optional[str] = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Add 1-based exact global ``row_number`` over ``order_by``.

    ``order_by`` must be a total order (append a unique tiebreaker).
    When ``total_col`` is given, the total row count is attached as a
    constant column (broadcast single-row join) — consumers like exact
    NTILE need (rank, total) and this keeps the whole plan lazy.
    """
    from pyspark.storagelevel import StorageLevel

    if num_partitions is None:
        # Byte-sized range partitions from Catalyst's column-pruning-aware
        # size estimate, floored at 8 (the measured-optimal count at
        # bench SF: 32→8 saved ~0.25 s/run on the 600k-row sort, 8→2
        # regressed). At sf100 the estimate (~3.3 GB projected) reaches
        # the core cap, so big sorts keep full fan-out with bounded
        # per-task sort volume.
        try:
            est = int(
                df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
            )
        except Exception:
            est = 0
        n_parts = byte_partitions(df.sparkSession, est, 8)
    else:
        n_parts = num_partitions
    # Lazy localCheckpoint: the range shuffle's output is materialized
    # once (on first action) and BOTH branches below read those stored
    # partitions — partition assignment is provably identical across the
    # fork regardless of exchange-reuse or boundary-sampling behavior.
    # DISK_ONLY, deliberately: the checkpoint exists for plan-fork
    # stability, not reuse speed, and the default MEMORY_AND_DESER level
    # pins the whole ranged dataset in unified STORAGE memory — an sf10
    # probe of agg_approx_percentile (this ranker + percentile_approx's
    # ObjectHashAggregate sharing one job wave) died with
    # UNABLE_TO_ACQUIRE_MEMORY because the pinned blocks squeezed the
    # execution pool below what 32 concurrent aggregate tasks could
    # spill their way out of. Disk blocks cost one linear write+read and
    # leave execution memory whole at any corpus size.
    base = df.repartitionByRange(n_parts, *order_by).localCheckpoint(
        eager=False, storageLevel=StorageLevel.DISK_ONLY
    )

    counts = (
        base.select(F.spark_partition_id().alias("_pid"))
        .groupBy("_pid")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    # Prefix-sum the ≤ n_parts count rows in ONE coalesced task — the
    # single-task segment is O(number of partitions), never O(data), the
    # same bounded bookkeeping every distributed sort does. coalesce(1)
    # already satisfies the window's all-tuples requirement, so no
    # Exchange is inserted for it.
    from pyspark.sql import Window

    w_prefix = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    w_all = Window.orderBy("_pid").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    offsets = counts.coalesce(1).select(
        "_pid",
        F.coalesce(F.sum("_c").over(w_prefix), F.lit(0)).alias("_offset"),
        F.sum("_c").over(w_all).alias("_total"),
    )

    local_index = F.col("_mid").bitwiseAND(
        F.lit((1 << _MID_PARTITION_SHIFT) - 1)
    )
    out = (
        base.sortWithinPartitions(*order_by)
        .withColumn("_mid", F.monotonically_increasing_id())
        .withColumn("_pid", F.shiftright("_mid", _MID_PARTITION_SHIFT).cast("int"))
        .join(F.broadcast(offsets), "_pid")
        .withColumn(out_col, F.col("_offset") + local_index + 1)
    )
    if total_col is not None:
        out = out.withColumnRenamed("_total", total_col)
        return out.drop("_pid", "_offset", "_mid")
    return out.drop("_pid", "_offset", "_mid", "_total")


def exact_group_percentiles(
    df: DataFrame, group_col: str, value_col: str, ps: list[float]
) -> DataFrame:
    """Exact PERCENTILE_CONT per group WITHOUT per-task value buffering.

    Spark's builtin ``percentile()`` aggregates through a per-task
    value->count hashmap (TypedAggregateWithHashMapAsBuffer) whose
    serialized partial state is O(distinct values per partition) — an
    sf10 probe OOMed a 8 GiB heap on exactly that buffer with 32
    concurrent tasks over ~60M prices. This is the scale-safe form:

    1. one distributed range-shuffle sort ranks every row globally by
       (group, value) via ``with_global_row_number`` (spillable sort,
       no value hashmap anywhere);
    2. per-group counts + start offsets are a tiny aggregation
       (|groups| rows) prefix-summed in one bounded task — group-local
       rank = global rank - group start;
    3. for each probe p the two bracketing ranks floor/ceil(p*(n-1))
       become a broadcast target table (2*|groups|*|ps| rows); a
       map-side broadcast hash join on the rank column picks exactly
       those rows out of the ranked stream — no second shuffle of the
       data — and the ANSI linear interpolation
       ``v_lo + (v_hi - v_lo) * frac`` runs on the picked pairs.

    Returns one row per group: ``(group_col, qs array<double>)`` with
    ``qs[i]`` = the ``ps[i]`` percentile. Callers needing cross-engine
    bit-exactness should feed integer-valued ``value_col`` (e.g. cents)
    and dyadic probes, as with the builtin (every term of the
    interpolation is then exact in IEEE double).
    """
    from pyspark.sql import Window

    base = df.select(
        F.col(group_col).alias("_g"), F.col(value_col).cast("double").alias("_v")
    )
    ranked = with_global_row_number(base, [F.col("_g"), F.col("_v")], out_col="_grn")

    counts = base.groupBy("_g").agg(F.count(F.lit(1)).alias("_n"))
    w_prev = Window.orderBy("_g").rowsBetween(Window.unboundedPreceding, -1)
    stats = counts.coalesce(1).select(
        "_g",
        "_n",
        F.coalesce(F.sum("_n").over(w_prev), F.lit(0)).alias("_start"),
    )

    p_arr = F.array(*[F.lit(float(p)) for p in ps])
    targets = (
        stats.select(
            F.col("_g").alias("_tg"),
            "_n",
            "_start",
            F.posexplode(p_arr).alias("_pi", "_p"),
        )
        .withColumn("_pos", F.col("_p") * (F.col("_n") - 1))
        .withColumn("_frac", F.col("_pos") - F.floor("_pos"))
        .select(
            "_tg",
            "_pi",
            "_frac",
            F.explode(
                F.array(
                    F.struct(
                        (F.col("_start") + F.floor("_pos") + 1)
                        .cast("long")
                        .alias("_trn"),
                        F.lit("lo").alias("_side"),
                    ),
                    F.struct(
                        (F.col("_start") + F.ceil("_pos") + 1)
                        .cast("long")
                        .alias("_trn"),
                        F.lit("hi").alias("_side"),
                    ),
                )
            ).alias("_t"),
        )
        .select("_tg", "_pi", "_frac", "_t._trn", "_t._side")
    )

    picked = (
        ranked.join(F.broadcast(targets), F.col("_grn") == F.col("_trn"))
        .groupBy("_tg", "_pi", "_frac")
        .agg(
            F.max(F.when(F.col("_side") == "lo", F.col("_v"))).alias("_vlo"),
            F.max(F.when(F.col("_side") == "hi", F.col("_v"))).alias("_vhi"),
        )
        .withColumn(
            "_q", F.col("_vlo") + (F.col("_vhi") - F.col("_vlo")) * F.col("_frac")
        )
    )
    return picked.groupBy("_tg").agg(
        F.array(
            *[
                F.max(F.when(F.col("_pi") == i, F.col("_q")))
                for i in range(len(ps))
            ]
        ).alias("qs")
    ).withColumnRenamed("_tg", group_col)
