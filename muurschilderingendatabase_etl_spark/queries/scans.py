"""Source scans (SURVEY.md §2.3 'Sources/sinks').

Parquet scan with pushdown, CSV and JSON round-trips with explicit
schemas (schema inference is demonstrated but not relied on for parity —
explicit StructType is the production path).

Scale notes: the parquet scan query is written so both the filter and the
3-column projection reach the scan node (`PushedFilters`, `ReadSchema` in
explain). Every query that writes scratch output writes it to a fresh
``rm_at_exit(tempfile.mkdtemp(...))`` dir with Spark's distributed writer
(at 100 TB these are partitioned directories, not single files): a frame
returned by one call keeps reading its own files after the next call.
"""

from __future__ import annotations

import os
import tempfile

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from muurschilderingendatabase_etl_spark.registry import query
from muurschilderingendatabase_etl_spark.queries import money
from muurschilderingendatabase_etl_spark.tables import (
    byte_partitions,
    disk_bytes,
    rm_at_exit,
    t,
)


@query(
    "scan_parquet_pushdown",
    oracle="""
    SELECT l_orderkey, l_linenumber, strftime(l_shipdate, '%Y-%m-%d') AS ship_date
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '2000-01-01'
      AND l_discount > 0.05
    """,
)
def scan_parquet_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Filter + projection push into the parquet scan; no shuffle at all.
    return (
        t(spark, sf_dir, "lineitem")
        .where(
            (F.col("l_shipdate") >= F.lit("2000-01-01").cast("timestamp"))
            & (F.col("l_discount") > 0.05)
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            F.date_format("l_shipdate", "yyyy-MM-dd").alias("ship_date"),
        )
    )


@query(
    "scan_csv_roundtrip",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def scan_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Distributed CSV write + schema-explicit read back (header mode).
    path = rm_at_exit(tempfile.mkdtemp(prefix="msdb_csv_"))
    t(spark, sf_dir, "nation").write.mode("overwrite").option("header", True).csv(path)
    return spark.read.schema(
        "n_nationkey int, n_name string, n_regionkey int"
    ).option("header", True).csv(path)


@query(
    "scan_json_roundtrip",
    oracle="SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer",
)
def scan_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    # JSON-lines write + explicit-schema read (inference would also work but
    # is a full extra pass at scale).
    path = rm_at_exit(tempfile.mkdtemp(prefix="msdb_json_"))
    t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_mktsegment"
    ).write.mode("overwrite").json(path)
    return spark.read.schema(
        "c_custkey long, c_name string, c_acctbal double, c_mktsegment string"
    ).json(path)


@query(
    "sink_parquet_roundtrip",
    oracle="""
    SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
             AS total
    FROM orders GROUP BY o_orderstatus
    """,
)
def sink_parquet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Write an aggregate to parquet and read it back — sink + source parity.
    path = rm_at_exit(tempfile.mkdtemp(prefix="msdb_parquet_sink_"))
    agg = (
        t(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            money.sum_money(F.col("o_totalprice")).alias("total"),
        )
    )
    agg.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


@query(
    "scan_json_corrupt_records",
    oracle="""
    SELECT * FROM (VALUES
      (CAST(1 AS BIGINT), 'ok-one', false),
      (CAST(2 AS BIGINT), 'ok-two', false),
      (CAST(4 AS BIGINT), 'ok-three', false),
      (CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR), true),
      (CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR), true)
    ) AS t(id, name, quarantined)
    """,
)
def scan_json_corrupt_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE-mode JSON scan with a _corrupt_record quarantine column
    — the engine-wide malformed-input policy (SURVEY O20: the reference
    catches BadSyntax at pipeline level; we quarantine per row instead of
    failing the job). Two of the five synthetic lines are broken; they
    surface as rows with NULL fields + populated _corrupt_record.

    Value-checked: the fixture is written by the query
    itself, so the expected parse outcome is a constant — the oracle is
    the literal 5-row table, putting the PERMISSIVE parse + quarantine
    flagging under the DuckDB hash gate."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    tmp = rm_at_exit(tempfile.mkdtemp(prefix="msdb_corrupt_json_"))
    path = os.path.join(tmp, "part-0.json")
    with open(path, "w", encoding="utf-8") as f:
        f.write(
            '{"id": 1, "name": "ok-one"}\n'
            '{"id": 2, "name": "ok-two"}\n'
            '{"id": 3, "name": broken\n'
            '{"id": 4, "name": "ok-three"}\n'
            "not json at all\n"
        )
    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("name", StringType()),
            StructField("_corrupt_record", StringType()),
        ]
    )
    df = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(tmp)
    )
    return df.select(
        "id",
        "name",
        F.col("_corrupt_record").isNotNull().alias("quarantined"),
    ).orderBy("id", "quarantined")


@query(
    "scan_orc_roundtrip",
    oracle="""
    SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
             AS total
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def scan_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC write + read round-trip (Spark's second columnar format);
    aggregation over the re-read copy must match the original."""
    tmp = rm_at_exit(tempfile.mkdtemp(prefix="msdb_orc_"))
    t(spark, sf_dir, "orders").write.mode("overwrite").orc(tmp)
    return (
        spark.read.orc(tmp)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            money.sum_money(F.col("o_totalprice")).alias("total"),
        )
    )


@query(
    "sink_partitioned_pruning",
    oracle="""
    SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS order_year,
           o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM orders
    WHERE EXTRACT(year FROM o_orderdate) = 1997
    GROUP BY order_year, o_orderstatus
    """,
)
def sink_partitioned_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned write (partitionBy=order_year) + re-read
    with a partition predicate: the year filter becomes a PartitionFilter
    — directories for other years are never opened. THE layout lever at
    100 TB: time-partitioned facts make every time-bounded query touch
    only its slice."""
    tmp = rm_at_exit(tempfile.mkdtemp(prefix="msdb_part_"))
    staged = t(spark, sf_dir, "orders").withColumn(
        "order_year", F.year("o_orderdate")
    )
    staged.write.mode("overwrite").partitionBy("order_year").parquet(tmp)
    return (
        # Explicit read schema: the layout is known to the writer, so the
        # read-back never depends on file-footer inference — and an empty
        # source (zero partition dirs) stays a well-typed empty scan
        # instead of UNABLE_TO_INFER_SCHEMA.
        spark.read.schema(staged.schema).parquet(tmp)
        .where(F.col("order_year") == 1997)
        .groupBy(F.col("order_year").cast("int").alias("order_year"), "o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "sink_managed_table_roundtrip",
    oracle="""
    SELECT n_regionkey, CAST(COUNT(*) AS BIGINT) AS n_nations,
           CAST(SUM(CASE WHEN is_extra THEN 1 ELSE 0 END) AS BIGINT) AS n_extra
    FROM (
      SELECT n_regionkey, FALSE AS is_extra FROM nation
      UNION ALL
      SELECT r_regionkey AS n_regionkey, TRUE AS is_extra FROM region
    )
    GROUP BY n_regionkey
    """,
)
def sink_managed_table_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog surface: saveAsTable into the managed warehouse, extend it
    with SQL INSERT INTO, read back through the catalog — the DDL/DML
    path alongside the file-path reads used elsewhere."""
    import uuid

    # A fresh table per call, like the scratch dirs: the frame an earlier
    # call returned keeps reading its own table files, and sessions that
    # share the warehouse never collide. The table dir would otherwise
    # accumulate in the shared warehouse; reclaim it when this
    # interpreter exits (the catalog entry dies with the session).
    table = f"msdb_nations_rt_{uuid.uuid4().hex}"
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    rm_at_exit(f"{warehouse}/{table}")
    (
        t(spark, sf_dir, "nation")
        .select("n_nationkey", "n_regionkey", F.lit(False).alias("is_extra"))
        .write.mode("overwrite")
        .format("parquet")
        .saveAsTable(table)
    )
    t(spark, sf_dir, "region").createOrReplaceTempView("msdb_region_src")
    spark.sql(
        f"""
        INSERT INTO {table}
        SELECT r_regionkey + 1000 AS n_nationkey,
               r_regionkey AS n_regionkey,
               TRUE AS is_extra
        FROM msdb_region_src
        """
    )
    return spark.sql(
        f"""
        SELECT n_regionkey, COUNT(*) AS n_nations,
               SUM(CASE WHEN is_extra THEN 1 ELSE 0 END) AS n_extra
        FROM {table}
        GROUP BY n_regionkey
        """
    )


@query(
    "scan_xml_roundtrip",
    oracle="""
    SELECT n_regionkey, CAST(COUNT(*) AS BIGINT) AS n,
           string_agg(n_name, ',' ORDER BY n_name) AS names
    FROM nation
    GROUP BY n_regionkey
    """,
)
def scan_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML write + read round-trip (Spark 4 native XML source) with an
    explicit schema on the read-back — the config/feed interchange format
    the reference world (Omeka/RDF tooling) still speaks."""
    tmp = rm_at_exit(tempfile.mkdtemp(prefix="msdb_xml_"))
    (
        t(spark, sf_dir, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
        .write.mode("overwrite")
        .option("rootTag", "nations")
        .option("rowTag", "nation")
        .xml(tmp)
    )
    back = (
        spark.read.schema("n_nationkey long, n_name string, n_regionkey int")
        .option("rowTag", "nation")
        .xml(tmp)
    )
    return back.groupBy("n_regionkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.concat_ws(",", F.array_sort(F.collect_list("n_name"))).alias("names"),
    )


@query(
    "sink_sorted_data_skipping",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))), 2)
                AS DOUBLE) AS sum_price,
           CAST(MIN(l_orderkey) AS BIGINT) AS min_key
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-06-01'
      AND l_shipdate <  TIMESTAMP '1997-08-01'
    """,
)
def sink_sorted_data_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sort-clustered layout for row-group skipping: repartitionByRange +
    sortWithinPartitions on l_shipdate before the write gives every
    parquet row group a tight min/max shipdate envelope, so the re-read's
    date predicate prunes row groups via footer stats alone — the
    cheap sibling of Hive partitioning (no directory explosion, works
    for high-cardinality sort keys; the same layout lever as Z-ordering
    on a single dimension). At 100 TB: range-partition by date, sort
    within, and time-bounded scans touch only their row groups."""
    tmp = rm_at_exit(tempfile.mkdtemp(prefix="msdb_sorted_"))
    # Partition count is BYTE-sized and capped at cluster fan-out, never
    # a constant: one range partition per 64 MB of source parquet keeps
    # output files in the size band readers want, uses every core once
    # the table is ≥ 64 MB × cores, and never writes 32 few-hundred-KB
    # shards of a 60 MB fixture. A FIXED 8-way write sorted n/8 rows per
    # task at sf10 (18.8×, 8 of 32 cores busy); this count reaches full
    # fan-out there (sf10 lineitem ≈ several GB → capped at
    # defaultParallelism). File SIZE within a task is the knob a 100 TB
    # deployment adds via maxRecordsPerFile.
    n_parts = byte_partitions(spark, disk_bytes(f"{sf_dir}/lineitem.parquet"), 1)
    (
        t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_shipdate", "l_extendedprice")
        .repartitionByRange(n_parts, "l_shipdate")
        .sortWithinPartitions("l_shipdate")
        .write.mode("overwrite")
        .parquet(tmp)
    )
    return (
        spark.read.parquet(tmp)
        .where(
            (F.col("l_shipdate") >= F.lit("1997-06-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-08-01").cast("timestamp"))
        )
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            money.sum_money(F.col("l_extendedprice")).alias("sum_price"),
            F.min("l_orderkey").alias("min_key"),
        )
    )


@query(
    "sink_zorder_2d_skipping",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2)
                AS DOUBLE) AS sum_price,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_custs
    FROM orders
    WHERE o_custkey BETWEEN 100 AND 600
      AND o_orderdate >= TIMESTAMP '1995-01-01'
      AND o_orderdate <  TIMESTAMP '1996-01-01'
    """,
)
def sink_zorder_2d_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-curve) clustering: interleave the bits of
    (o_custkey, days-since-epoch) into one sort key, range-partition and
    sort the write on it, and row groups acquire tight min/max envelopes
    in BOTH dimensions at once — a filter on customer OR date (or both,
    as here) prunes via footer stats, where a plain sort only serves its
    leading column. This is the layout trick behind Delta/Iceberg
    Z-ordering, built from nothing but shifts, masks, and a sorted
    write; the re-read is oracle-checked, proving layout never changes
    results. At 100 TB: pick the 2-4 most-filtered columns, normalize
    each to ~16 bits (rank or epoch-day), interleave, sort-write."""
    tmp = rm_at_exit(tempfile.mkdtemp(prefix="msdb_zorder_"))
    ck = F.col("o_custkey").cast("long")
    dy = F.datediff(
        "o_orderdate", F.lit("1992-01-01").cast("date")
    ).cast("long")
    # The 16-step bit interleave is ONE SQL-text expression (a single
    # py4j call instead of 64 separately constructed shift columns) with
    # its 32 terms spelled FLAT — no lambda, so it stays whole-stage
    # compiled. An aggregate() lambda fold runs INTERPRETED per row
    # (NamedLambdaVariable binding per element, as in dedup_minhash_lsh):
    # 0.75 s vs 0.17 s per pass over sf0.1 orders, and zv is evaluated
    # twice (range-boundary sampling + the write). Values are
    # bit-identical (disjoint bit contributions sum identically in any
    # order).
    z = F.expr(
        " + ".join(
            f"shiftleft((ck >> {i}) & 1, {2 * i})"
            f" + shiftleft((dy >> {i}) & 1, {2 * i + 1})"
            for i in range(16)
        )
    )
    # byte-sized fan-out, same rationale as the sorted sink
    n_parts = byte_partitions(spark, disk_bytes(f"{sf_dir}/orders.parquet"), 1)
    (
        t(spark, sf_dir, "orders")
        .select("o_custkey", "o_orderdate", "o_totalprice",
                ck.alias("ck"), dy.alias("dy"))
        .select("o_custkey", "o_orderdate", "o_totalprice", z.alias("zv"))
        .repartitionByRange(n_parts, "zv")
        .sortWithinPartitions("zv")
        .drop("zv")
        .write.mode("overwrite")
        .parquet(tmp)
    )
    return (
        spark.read.parquet(tmp)
        .where(
            F.col("o_custkey").between(100, 600)
            & (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            money.sum_money(F.col("o_totalprice")).alias("sum_price"),
            F.countDistinct("o_custkey").alias("n_custs"),
        )
    )


@query(
    "sink_compact_small_files",
    oracle="""
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY source
    """,
)
def sink_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction — the table-maintenance operator every
    long-lived lake needs: a fragmented write (64 files, the steady
    state of frequent micro-batch appends) is rewritten into a few
    right-sized files via a narrow coalesce (no shuffle, files merge
    in place), and the compacted copy must return byte-identical
    results — the oracle is the plain aggregate over the original
    table. At 100 TB this runs per-partition with a target of
    128 MB-1 GB per file (`maxRecordsPerFile` / AQE advisory size);
    the file-count collapse is asserted in tests/test_invariants.py."""
    frag = rm_at_exit(tempfile.mkdtemp(prefix="msdb_frag_"))
    compact = rm_at_exit(tempfile.mkdtemp(prefix="msdb_compact_"))
    docs = t(spark, sf_dir, "documents")
    docs.repartition(64).write.mode("overwrite").parquet(frag)
    (
        spark.read.parquet(frag)
        .coalesce(4)
        .write.mode("overwrite")
        .parquet(compact)
    )
    return (
        spark.read.parquet(compact)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


@query(
    "join_dynamic_partition_pruning",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INT) AS o_year,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
             AS revenue
    FROM orders
    WHERE year(o_orderdate) IN (1996, 1998)
    GROUP BY 1
    """,
)
def join_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning (DPP): the fact table is laid out
    Hive-partitioned by year, and the filter arrives through a JOIN to
    a small year dimension rather than as a literal predicate — the
    case static pruning can't see. Spark injects a runtime subquery
    (`dynamicpruningexpression` in the scan's PartitionFilters,
    asserted in tests/test_plans.py) that executes the dim side first
    and prunes fact partitions (2 of 7 years here) before the scan. At 100 TB this is THE
    mechanism that keeps star-schema joins from reading every
    partition when the filter lives on the dimension."""
    tmp = rm_at_exit(tempfile.mkdtemp(prefix="msdb_dpp_"))
    staged = t(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate")
    )
    staged.write.partitionBy("o_year").mode("overwrite").parquet(tmp)
    # Explicit schema (see sink_partitioned_pruning): an empty fact side
    # must read back as a typed empty scan, not fail schema inference.
    fact = spark.read.schema(staged.schema).parquet(tmp)
    dim = (
        spark.range(1992, 2005)
        .select(F.col("id").cast("int").alias("d_year"))
        .where(F.col("d_year").isin(1996, 1998))
    )
    return (
        fact.join(F.broadcast(dim), fact.o_year == dim.d_year)
        .groupBy(F.col("o_year").cast("int").alias("o_year"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            money.sum_money(F.col("o_totalprice")).alias("revenue"),
        )
    )


def upsert_inputs(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The inputs of both upsert queries (this module's copy-on-write
    MERGE and dedup's merge-on-read upsert): ``(events, base,
    corrections)``. ``events`` is the 5-column events projection; the
    base snapshot is its rows with ``event_id % 3 != 0``; the correction
    delta rewrites every ``event_id % 5 == 0`` row one hour later as
    event type 'corrected' at twice the value, so it both updates base
    keys and inserts keys the base lacks."""
    ev = t(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    corrections = ev.where(F.col("event_id") % 5 == 0).select(
        "event_id",
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("ts"),
        "user_id",
        F.lit("corrected").alias("event_type"),
        (F.col("value") * 2).alias("value"),
    )
    return ev, ev.where(F.col("event_id") % 3 != 0), corrections


def _merge_frames(base: DataFrame, chg: DataFrame) -> DataFrame:
    """MERGE semantics on DataFrames (matched delete / matched update /
    unmatched insert): untouched base rows via one left_anti join on the
    key, plus the changelog's upsert rows wholesale (already
    latest-wins). Exposed separately so tests can assert the merge
    PLAN (hash anti-join, no cartesian) — the operator itself
    materializes the result eagerly, hiding this subtree behind the
    parquet re-read."""
    untouched = base.join(chg.select("event_id"), "event_id", "left_anti")
    applied = chg.where(F.col("op") == "upsert").drop("op")
    return untouched.unionByName(applied)


@query(
    "sink_merge_upsert",
    oracle="""
    WITH base AS (
      SELECT event_id, ts, user_id, event_type, value FROM events
      WHERE event_id % 3 != 0
    ),
    chg AS (
      SELECT event_id, ts + INTERVAL 1 HOUR AS ts, user_id,
             'corrected' AS event_type, value * 2 AS value, 'upsert' AS op
      FROM events WHERE event_id % 5 = 0
      UNION ALL
      SELECT event_id, ts, user_id, event_type, value, 'delete' AS op
      FROM events WHERE event_id % 7 = 0 AND event_id % 5 != 0
    ),
    merged AS (
      SELECT b.* FROM base b LEFT JOIN chg c USING (event_id)
      WHERE c.event_id IS NULL
      UNION ALL
      SELECT event_id, ts, user_id, event_type, value
      FROM chg WHERE op = 'upsert'
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE)
             AS total_value
    FROM merged GROUP BY event_type
    """,
)
def sink_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write MERGE materialization — the missing half of
    `pipeline_incremental_upsert` (which is the merge-on-READ shape):
    a base snapshot is written as table version v0, a changelog of
    upserts and deletes is merged with real MERGE semantics
    (WHEN MATCHED AND op='delete' THEN DELETE / WHEN MATCHED THEN
    UPDATE / WHEN NOT MATCHED AND op!='delete' THEN INSERT), and the
    reconciled table is written as version v1 next to a JSON manifest
    recording the version lineage — the mechanics a Delta/Iceberg
    MERGE performs under its transaction log (neither package ships in
    this container, so the log is a single-writer manifest; the
    DATAFLOW is the real thing). The returned aggregate re-reads v1
    from disk, so parity proves the merged FILES, not just the plan.
    The snapshot and corrections come from ``upsert_inputs``.

    Merge plan shape: untouched rows = one left_anti join on the key;
    upserted/inserted rows come straight from the changelog (already
    latest-wins) — no window, no global sort; both sides shuffle once
    on event_id. At 100 TB the anti-join prunes with a changelog-key
    bloom filter and the rewrite touches only affected partitions."""
    import json as _json

    root = rm_at_exit(tempfile.mkdtemp(prefix="msdb_merge_"))
    v0, v1 = os.path.join(root, "v0"), os.path.join(root, "v1")

    ev, base, corrections = upsert_inputs(spark, sf_dir)
    base.write.mode("overwrite").parquet(v0)
    chg = corrections.withColumn("op", F.lit("upsert")).unionByName(
        ev.where((F.col("event_id") % 7 == 0) & (F.col("event_id") % 5 != 0))
        .withColumn("op", F.lit("delete"))
    )
    base = spark.read.parquet(v0)
    _merge_frames(base, chg).write.mode("overwrite").parquet(v1)
    with open(os.path.join(root, "manifest.json"), "w") as fh:
        _json.dump(
            {"current_version": 1, "versions": {"0": "v0", "1": "v1"},
             "parent": {"1": 0}, "merge_key": "event_id"}, fh,
        )

    return (
        spark.read.parquet(v1)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            money.sum_money(F.col("value")).alias("total_value"),
        )
    )
