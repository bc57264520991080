"""SparkSession factory.

The master defaults to local[*] (all cores, or SPARK_GRAFT_CPUS) and the
driver heap to 8g (SPARK_GRAFT_DRIVER_MEM), but the knobs are the ones
that matter on a real cluster too: AQE for runtime re-planning (coalesce
post-shuffle partitions, skew-join splitting), Arrow for any Python<->JVM
exchange, UTC session time zone for deterministic timestamp semantics
against the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "muurschilderingendatabase-etl-spark",
    master: str | None = None,
    shuffle_partitions: int = 32,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Adaptive execution: runtime shuffle-partition coalescing, skew-join
        # splitting, dynamic broadcast selection. Non-negotiable at 100 TB.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE can only coalesce DOWN from the initial reducer count, so
        # spark.sql.shuffle.partitions=32 silently CAPS every shuffle at
        # 32 reducers no matter the data volume — at sf100 the Q5-shape
        # 6-way join paid 14.8x/decade with 32 fat spilling reducers and
        # 1.9x of it came straight back with a wider start (105.6 ->
        # 57.0 s, SCALE.md). Start every AQE-managed shuffle
        # wide and let runtime coalescing pick the real count from
        # observed bytes: the sf0.1 cost is nil because AQE coalesces
        # tiny shuffles back to a handful of partitions. Stateful
        # streaming is untouched (no AQE there; stream_state_partitions
        # owns that knob via spark.sql.shuffle.partitions).
        .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", "512")
        # Arrow batches for pandas UDFs / toPandas — the only acceptable
        # Python exchange path.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Deterministic timestamp behavior vs the oracle.
        .config("spark.sql.session.timeZone", "UTC")
        # Pin ANSI mode explicitly (Spark 4 default, but the bounded-group
        # LONG-cents money path — queries/money.py sum_money_bounded and the
        # per-salt partials in agg_two_stage_salted — relies on overflow
        # failing LOUD, not wrapping. An env/extra_conf override disabling
        # ANSI would silently corrupt money sums; pinning makes the
        # guarantee ours rather than inherited from a default.
        .config("spark.sql.ansi.enabled", "true")
        # Parquet TIMESTAMP(NANOS) (the events table) is otherwise an
        # illegal type for Spark's vectorized reader; read as int64 nanos
        # and convert in the loader (tables.t).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # Managed-table warehouse (bucketed tables for co-located joins)
        # kept out of the repo tree.
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/msdb_spark_warehouse"),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
