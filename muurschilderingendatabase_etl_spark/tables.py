"""Loaders for the driver fixture tables (TESTDATA.md / FIXTURES.md §A).

All loads go through ``spark.read.parquet`` so Catalyst gets predicate
pushdown / column pruning for free. The dimension tables (region, nation,
supplier at low SF) are tiny — query code broadcast-hints them explicitly
where it matters. The module also holds the helpers the query and
streaming modules share: ``disk_bytes`` sizes a fixture or a staged
copy, ``byte_partitions`` turns such a size into a partition count,
``rm_at_exit`` reclaims a scratch dir, and ``release_checkpoint`` frees
a superseded ``localCheckpoint``.
"""

from __future__ import annotations

import atexit
import os
import shutil
from typing import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Lazy-DataFrame memo, keyed by (applicationId, id(spark), sf_dir, table).
# This is CATALOG caching, not result caching: the cached object is an
# unexecuted logical plan — every action over it re-reads the parquet
# files — exactly what a registered catalog table gives a real
# deployment. It exists because `spark.read.parquet` pays file listing +
# footer schema inference + relation analysis on EVERY call (0.23-0.49 s
# per call warm at sf0.1, ~280 calls per bench suite). Fixture dirs are
# immutable within a session by contract (tests that synthesize fixtures
# use fresh tmp paths).
#
# Key invariant: a cached DataFrame holds a reference to its session, so
# while an entry lives its session cannot be collected and id(spark)
# cannot be reused by another session object. id(spark) therefore tells
# apart sessions that share an applicationId (newSession() siblings, each
# with its own conf — nanosAsLong, shuffle overrides), and a hit never
# hands out a DataFrame bound to a sibling session. Entries are never
# evicted, so each session stays pinned for the life of the process.
_DF_CACHE: dict[tuple[str, int, str, str], DataFrame] = {}


def read_events(spark: SparkSession, load: Callable[[], DataFrame]) -> DataFrame:
    """The events table as ``load()`` reads it (a batch or a stream read
    of events parquet), with ``ts`` normalized to a TIMESTAMP for every
    fixture era.

    events.parquet stores ts as INT64 TIMESTAMP(NANOS), which a vanilla
    SparkSession rejects (PARQUET_TYPE_ILLEGAL). The legacy conf is
    runtime-settable, so it is set here before ``load`` rather than relying
    on the session having been built by session.get_spark() — any caller's
    session (e.g. a bare ``SparkSession.builder`` one) must be able to
    load every fixture table. Spark then reads ts as int64 nanos, converted to
    a µs timestamp (sub-µs never carries meaning in this engine's
    operators). A timestamp[us] (no tz) fixture reads as TIMESTAMP_NTZ,
    which watermarks and unix_micros reject; session TZ is UTC
    (session.get_spark), so the cast to TIMESTAMP is value-preserving and
    matches DuckDB's naive-timestamp oracle.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = load()
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table as a DataFrame (events via ``read_events``)."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    key = (spark.sparkContext.applicationId, id(spark), sf_dir, name)
    cached = _DF_CACHE.get(key)
    if cached is not None:
        return cached
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        df = read_events(spark, lambda: spark.read.parquet(path))
    else:
        df = spark.read.parquet(path)
    _DF_CACHE[key] = df
    return df


def disk_bytes(path: str) -> int:
    """Bytes on disk under ``path``: a file's size, or the sum over a
    directory tree (a directory-style parquet dataset; getsize on the
    directory itself returns only its ~4 KB inode). Unreadable entries
    count 0."""
    if not os.path.isdir(path):
        try:
            return os.path.getsize(path)
        except OSError:
            return 0
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def byte_partitions(spark: SparkSession, nbytes: int, floor: int) -> int:
    """Partition count for ``nbytes`` of data: one partition per 64 MB,
    at least ``floor``, at most the core count (``defaultParallelism``).
    The cap wins over the floor: with fewer cores than the floor, extra
    partitions would only time-slice. Tiny inputs still fan out to the
    floor, and big ones reach every core with bounded bytes per task."""
    cores = spark.sparkContext.defaultParallelism
    return min(cores, max(floor, nbytes // (64 << 20)))


def rm_at_exit(path: str) -> str:
    """Delete a scratch dir when the interpreter exits; returns ``path``.

    Deferred (not eager) because the callers return LAZY reads over the
    path they just wrote — the caller collects after they return.
    By interpreter exit all Spark jobs are done, so the delete is safe,
    and tmp no longer accumulates one directory per session.
    """
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


def release_checkpoint(df: DataFrame) -> None:
    """Free the blocks of an eager ``localCheckpoint`` that nothing reads
    any more (a later checkpoint cut the lineage to it). They belong to
    the RDD under its LogicalRDD, which ``DataFrame.unpersist()`` (the
    cache manager only) does not reach."""
    df._jdf.queryExecution().analyzed().rdd().unpersist(False)
