"""Replay the events parquet through Structured Streaming.

``readStream`` needs an explicit schema; we reuse the batch reader's
(including the TIMESTAMP(NANOS) → bigint → timestamp conversion of
``tables.read_events``). ``trigger(availableNow=True)`` processes the
backlog and terminates — the deterministic replay mode that makes
batch-stream equivalence testable (SURVEY §5.2 item 4).

At scale the same topology runs unmodified against a live source (Kafka
/ file drop): swap ``readStream.parquet`` for the real source; watermarks
and state management are already in place.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import tempfile
from typing import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from muurschilderingendatabase_etl_spark import tables


# Every staged stream source, keyed (applicationId, sf_dir, form): the
# staged root and its bytes, recorded once when the root is built. The
# bytes size the state-store partitions of each stream over that root
# (stream_state_partitions), matched by PATH against the stream's plan,
# so interleaved stagings never size one stream by another's source.
_STAGED: dict[tuple[str, str, str], tuple[str, int]] = {}


def _staged(
    spark: SparkSession, sf_dir: str, form: str, build: Callable[[str], None]
) -> str:
    """Root of the ``form`` staging of ``sf_dir`` for this session, built
    once by ``build(root)`` into a fresh temp dir. The root is reused for
    the session and deleted at interpreter exit — the returned streams
    read it lazily, so it must outlive every query over it."""
    key = (spark.sparkContext.applicationId, sf_dir, form)
    if key not in _STAGED:
        root = tables.rm_at_exit(tempfile.mkdtemp(prefix=f"msdb_{form}_stage_"))
        build(root)
        _STAGED[key] = (root, tables.disk_bytes(root))
    return _STAGED[key][0]


@contextlib.contextmanager
def stream_state_partitions(stream_df: DataFrame):
    """Temporarily size `spark.sql.shuffle.partitions` for starting the
    streaming query over ``stream_df``.

    The stateful-operator partition count is LOCKED INTO THE CHECKPOINT
    when a streaming query first starts, so it must be sized to the
    query's state cardinality, not inherited from the batch default: each
    state partition is a state-store instance with per-micro-batch
    open/commit/snapshot overhead, which dominates when per-key state is
    small (stream-stream joins at sf0.1: 32 -> 8 partitions cut wall time
    from 8.0 s to 3.5 s; 8 -> 4 saves ~0.3-0.6 s per stream across the
    tumbling, join and session shapes, while 4 -> 2 is flat — so 4 is the
    floor). At scale the count goes UP with keyspace: ~one state
    partition per 64 MB of the stream's staged source, so at sf100
    (1.9 GB events) there is one state store per core rather than a few
    fat single-threaded ones (``tables.byte_partitions``, floor 4; the
    core-count cap dominates the floor).

    The source is the staged root(s) whose path appears in the stream's
    ANALYZED plan; with none (e.g. a rate source) it falls back to the
    largest staged source — more state partitions, never fewer than the
    floor.
    """
    spark = stream_df.sparkSession
    try:
        plan = stream_df._jdf.queryExecution().analyzed().toString()
    except Exception:
        plan = ""
    staged = _STAGED.values()
    source_bytes = sum(b for root, b in staged if root in plan) or max(
        (b for _root, b in staged), default=0
    )
    n = tables.byte_partitions(spark, source_bytes, 4)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream the events table: Spark's file stream source requires a
    directory, so stage the events parquet into a session-scoped temp
    dir once per sf_dir, then readStream from it.

    Staging is a SYMLINK of the raw fixture file: a file appearing in the
    watched directory is the file-drop contract itself, the source
    follows the link and reads the same bytes, and the ts conversion is
    a per-row expression applied ON the stream (exactly what tables.t
    applies to the batch frame), so nothing is rewritten. Falls back to
    a staged Spark write of the normalized table when symlinks are
    unavailable or the fixture is already a directory dataset."""

    def build(root: str) -> None:
        src = os.path.abspath(os.path.join(sf_dir, "events.parquet"))
        try:
            if os.path.isdir(src):
                raise OSError("directory dataset — stage a real copy")
            os.symlink(src, os.path.join(root, "events.parquet"))
        except OSError:
            tables.t(spark, sf_dir, "events").write.mode("overwrite").parquet(root)

    root = _staged(spark, sf_dir, "events", build)
    # Same ts normalization as the batch frame, so stream and batch
    # frames agree bit-for-bit.
    return tables.read_events(
        spark,
        lambda: spark.readStream.schema(spark.read.parquet(root).schema).parquet(
            root
        ),
    )


def batch_sink(outdir: str):
    """foreachBatch sink: each micro-batch lands in its own ``batch-<id>``
    subdirectory of ``outdir`` with mode=overwrite. Redelivering a batch
    (foreachBatch is at-least-once) rewrites that batch's directory with
    the same rows instead of appending duplicates — idempotent by
    construction. Module-level (not a closure inside run_to_sink) so
    tests can exercise the redelivery path directly."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        # zero-padded so lexicographic subdir order == batch order
        batch_df.write.mode("overwrite").parquet(
            os.path.join(outdir, f"batch-{batch_id:09d}")
        )

    return _sink


def read_sink(
    spark: SparkSession, outdir: str, output_mode: str, schema
) -> DataFrame:
    """Read back what ``batch_sink`` wrote, reproducing the memory sink's
    contents: complete mode re-emits the full state each batch (memory
    sink REPLACES) -> last batch only; append/update emit deltas (memory
    sink ACCUMULATES) -> union of all batches."""
    batch_dirs = sorted(d for d in os.listdir(outdir) if d.startswith("batch-"))
    if not batch_dirs:
        # No batch ever emitted (empty source / everything late): parquet
        # can't infer a schema from an empty dir — empty frame with the
        # stream's schema instead.
        return spark.createDataFrame([], schema)
    if output_mode == "complete":
        batch_dirs = batch_dirs[-1:]
    return spark.read.parquet(*(os.path.join(outdir, d) for d in batch_dirs))


def run_to_sink(result: DataFrame, output_mode: str, outdir: str, ckpt: str) -> None:
    """Run the streaming DataFrame ``result`` to the end of its source
    (``trigger(availableNow=True)``) into ``batch_sink(outdir)`` with
    checkpoint ``ckpt``, under ``stream_state_partitions``. This is the
    one place a stream is started. A second call on the same ``ckpt``
    resumes: it processes only the files added since, with the state and
    watermark the first call left, and its batch ids continue the
    first call's, so ``read_sink`` reads both calls' output."""
    with stream_state_partitions(result):
        (
            result.writeStream.foreachBatch(batch_sink(outdir))
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )


def run_to_memory(result: DataFrame, output_mode: str = "complete") -> DataFrame:
    """Execute a streaming DataFrame to completion and return the
    materialized result as a batch DataFrame.

    Sink: foreachBatch -> parquet, NOT format("memory"). The memory sink
    buffers every emitted row as JVM objects in the driver-side
    ArrayBuffer (plus a full clone at commit) — at sf100 the
    session-window replay's ~30M-row result OOMs a 48 GB heap inside
    MemoryDataWriter.commit. foreachBatch keeps the write DISTRIBUTED and
    disk-backed at any scale while reproducing the memory sink's
    contents exactly under availableNow replay:

    - complete mode re-emits the FULL state every micro-batch and the
      memory sink replaces its contents -> only the LAST batch is read
      back (the final state);
    - append/update emit deltas and the memory sink accumulates -> the
      union of all batches is read back.

    Each micro-batch writes to its own ``batch-<id>`` subdirectory with
    mode=overwrite, which makes the sink IDEMPOTENT under foreachBatch's
    at-least-once contract: a batch redelivered after a partial write
    rewrites ITS OWN directory instead of appending duplicate rows — the
    memory sink's once-per-batch semantics (latestBatchId dedup)
    preserved by construction.
    """
    spark = result.sparkSession
    ckpt = tempfile.mkdtemp(prefix="msdb_ckpt_")
    # The returned DataFrame reads from this dir lazily, so it must
    # outlive the call — session-scoped like the staging dirs (removed at
    # interpreter exit), NOT per-run like the checkpoint.
    outdir = tables.rm_at_exit(tempfile.mkdtemp(prefix="msdb_sink_"))
    try:
        run_to_sink(result, output_mode, outdir, ckpt)
    finally:
        # The checkpoint exists only for THIS availableNow run — the
        # parquet sink holds the materialized rows once the query
        # terminates, so the state-store snapshots are dead weight, and
        # a long-lived session would otherwise keep one checkpoint dir
        # per execution (318 MB each at sf10). A RESUMABLE production
        # stream keeps its checkpoint; this helper is by contract a
        # run-to-completion replay.
        shutil.rmtree(ckpt, ignore_errors=True)
    return read_sink(spark, outdir, output_mode, result.schema)


def stage_events_two_phase(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Stage events as a bulk file (in the stream source dir) plus a
    stragglers file (parked OUTSIDE it, to be dropped in between two
    availableNow runs):

    - bulk: events with ts <= max(ts) - 2 days, except a deterministic
      sample (event_id % 50 == 0) withheld;
    - stragglers: the withheld OLD rows (genuinely late once the first
      run's watermark is persisted) plus the final 2 days.

    Returns (source_dir, parked_stragglers_path), both under one staged
    root that holds exactly these two files.
    """

    def build(root: str) -> None:
        ev = tables.t(spark, sf_dir, "events")
        split = ev.selectExpr(
            "max(ts) - INTERVAL 2 DAYS AS tsplit"
        ).collect()[0]["tsplit"]
        # ONE pass splits both phases: a partitioned write of the phase
        # flag emits both files from a single coalesce(1) task (no
        # shuffle; partitionBy drops the flag column, so file schemas
        # are unchanged). Row order within a file is irrelevant
        # downstream: the consumer aggregates windowed counts and the
        # per-run watermark is a batch-level max.
        is_straggler = (F.col("ts") > F.lit(split)) | (
            F.col("event_id") % 50 == 0
        )
        stage = os.path.join(root, "stage")
        (
            ev.withColumn(
                "phase", F.when(is_straggler, "b").otherwise("a")
            )
            .coalesce(1)
            .write.mode("overwrite")
            .partitionBy("phase")
            .parquet(stage)
        )

        def _one_part(phase: str) -> str:
            d = f"{stage}/phase={phase}"
            if not os.path.isdir(d):
                # a phase with zero rows (empty fixture) writes no dir;
                # materialize an empty file with the events schema so
                # both paths always exist
                ev.limit(0).coalesce(1).write.mode("overwrite").parquet(d)
            return os.path.join(
                d, next(p for p in os.listdir(d) if p.endswith(".parquet"))
            )

        os.makedirs(os.path.join(root, "source"))
        os.rename(_one_part("a"), os.path.join(root, "source", "a_bulk.parquet"))
        os.rename(_one_part("b"), os.path.join(root, "b_stragglers.parquet"))
        shutil.rmtree(stage)

    root = _staged(spark, sf_dir, "two_phase", build)
    return os.path.join(root, "source"), os.path.join(root, "b_stragglers.parquet")
