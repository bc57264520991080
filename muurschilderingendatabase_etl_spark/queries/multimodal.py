"""Multimodal column convention (north-star extension).

Media payloads are opaque ``binary`` columns with a typed metadata
struct (mime, size, content hash). The Spark-side plumbing — schema,
partitioning, Arrow-batched UDF signatures — is real and tested, and so
is the image decode path: payloads are genuine binary P6 PPM images
(netpbm, the classic uncompressed RGB container) synthesized
deterministically per doc, and ``_decode_ppm`` below is a real
pure-Python/numpy decoder — it tokenizes the whitespace/comment header
grammar and reads the interleaved RGB raster — so
``multimodal_feature_extract`` and ``multimodal_resize_plan`` are
oracle-checked end to end (the oracle recomputes the known pixel
function in SQL; the Spark side only ever sees the bytes). Formats that
need codec libraries (JPEG/PNG/audio) would slot into the same
``mapInPandas`` contract via PIL/librosa — absent from this container,
which is why the fixture format is PPM.

Scale notes: binary payloads ride in parquet as-is; metadata extraction
is a projection (no shuffle); decode + feature extraction is
`mapInPandas` so each Arrow batch crosses the Python boundary once,
and the raster math inside is numpy-vectorized per image.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from muurschilderingendatabase_etl_spark.registry import query
from muurschilderingendatabase_etl_spark.tables import rm_at_exit, t


def _media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize a media table: document text encoded as the binary
    payload (deterministic), with a typed metadata struct — the column
    convention a real ingest would produce."""
    docs = t(spark, sf_dir, "documents")
    payload = F.encode("text", "UTF-8")
    return docs.select(
        "doc_id",
        payload.alias("content"),
        F.struct(
            F.lit("application/octet-stream").alias("mime"),
            F.octet_length(payload).alias("size_bytes"),
            F.sha2(payload, 256).alias("content_hash"),
            F.col("source").alias("origin"),
        ).alias("meta"),
    )


@query(
    "multimodal_metadata",
    oracle="""
    SELECT
      doc_id,
      'application/octet-stream'        AS mime,
      CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS size_bytes,
      sha256(text)                      AS content_hash
    FROM documents
    WHERE doc_id < 200
    """,
)
def multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed-metadata extraction from the binary column — oracle-checked
    (hashes and sizes are engine-independent)."""
    media = _media_table(spark, sf_dir)
    return media.where(F.col("doc_id") < 200).select(
        "doc_id",
        F.col("meta.mime").alias("mime"),
        F.col("meta.size_bytes").cast("long").alias("size_bytes"),
        F.col("meta.content_hash").alias("content_hash"),
    )


# --- Real PPM (netpbm P6) codec ------------------------------------------
#
# Deterministic fixture images: doc_id d gets a (d%13+1) x (d%7+1) RGB
# raster whose flat byte i equals (d + i) % 256. The generator writes
# honest P6 bytes (magic, ASCII dims, maxval, raster — plus a comment
# line, to exercise the header grammar); the decoder knows nothing of
# the scheme and parses the bytes like any PPM reader would.

def _make_ppm(doc_id: int) -> bytes:
    w, h = doc_id % 13 + 1, doc_id % 7 + 1
    raster = ((doc_id + np.arange(w * h * 3)) % 256).astype(np.uint8)
    header = b"P6\n# synthetic fixture\n%d %d\n255\n" % (w, h)
    return header + raster.tobytes()


def _decode_ppm(buf: bytes) -> tuple[int, int, int, int, int]:
    """Parse a binary P6 PPM: header tokens (whitespace-separated, with
    `#` comments) then the RGB raster. Returns (width, height, sum_r,
    sum_g, sum_b) with integer-exact channel sums."""
    if buf[:2] != b"P6":
        raise ValueError(f"not a P6 PPM: magic={buf[:2]!r}")
    i, vals = 2, []
    while len(vals) < 3:
        while i < len(buf) and buf[i : i + 1].isspace():
            i += 1
        if buf[i : i + 1] == b"#":
            while i < len(buf) and buf[i : i + 1] != b"\n":
                i += 1
            continue
        j = i
        while j < len(buf) and not buf[j : j + 1].isspace():
            j += 1
        vals.append(int(buf[i:j]))
        i = j
    i += 1  # exactly one whitespace byte separates maxval from raster
    w, h, maxval = vals
    if maxval != 255:
        raise ValueError(f"only 8-bit PPM supported, maxval={maxval}")
    px = np.frombuffer(buf, dtype=np.uint8, offset=i, count=w * h * 3)
    rgb = px.reshape(-1, 3).astype(np.int64)
    return w, h, int(rgb[:, 0].sum()), int(rgb[:, 1].sum()), int(rgb[:, 2].sum())


_PPM_CACHE: dict[str, str] = {}  # sf_dir -> parquet path of the synthesized media table


def _ppm_media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents keyed to real P6 PPM payloads, materialized ONCE per
    process as a parquet side table — binary payloads ride in parquet
    as-is (the multimodal storage convention), so every decode query
    scans the same binary column a real image-ingest would land instead
    of re-synthesizing per query (and the decode stage is the only
    Python crossing in its plan)."""
    import pandas as pd

    if sf_dir not in _PPM_CACHE:
        import tempfile

        path = rm_at_exit(tempfile.mkdtemp(prefix="msdb_ppm_"))
        docs = t(spark, sf_dir, "documents").select("doc_id")

        def synth(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
            for pdf in batches:
                yield pd.DataFrame(
                    {
                        "doc_id": pdf["doc_id"],
                        "content": [_make_ppm(int(d)) for d in pdf["doc_id"]],
                    }
                )

        # 8 synth tasks: the fixture images are bytes-sized, so per-task
        # overhead dominates above this; decode-side parallelism at real
        # scale comes from parquet splits of the landed table, not from
        # this one-time fixture write.
        (
            docs.repartition(8)
            .mapInPandas(synth, schema="doc_id long, content binary")
            .write.mode("overwrite")
            .parquet(path)
        )
        _PPM_CACHE[sf_dir] = path
    return spark.read.parquet(_PPM_CACHE[sf_dir])


@query(
    "multimodal_feature_extract",
    oracle="""
    WITH dims AS (
      SELECT doc_id, (doc_id % 13) + 1 AS w, (doc_id % 7) + 1 AS h
      FROM documents
    ),
    px AS (
      SELECT doc_id, w, h, unnest(generate_series(0, w * h - 1)) AS p
      FROM dims
    )
    SELECT doc_id,
           CAST(w AS INT) AS width,
           CAST(h AS INT) AS height,
           CAST(SUM((doc_id + 3 * p) % 256) AS BIGINT)     AS sum_r,
           CAST(SUM((doc_id + 3 * p + 1) % 256) AS BIGINT) AS sum_g,
           CAST(SUM((doc_id + 3 * p + 2) % 256) AS BIGINT) AS sum_b
    FROM px GROUP BY doc_id, w, h
    """,
)
def multimodal_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched image decode + feature extraction over the binary
    column: a REAL pure-Python/numpy P6 PPM decoder parses each payload
    (header grammar + RGB raster) and emits per-channel pixel sums —
    integer-exact, so the oracle (which recomputes the fixture's known
    pixel function in SQL, never touching the bytes) hash-matches with
    no float tolerance. Swapping `_decode_ppm` for PIL.Image.open is the
    only change a JPEG/PNG deployment would need."""
    import pandas as pd

    media = _ppm_media_table(spark, sf_dir)

    def extract(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            decoded = [_decode_ppm(bytes(b)) for b in pdf["content"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": [d[0] for d in decoded],
                    "height": [d[1] for d in decoded],
                    "sum_r": [d[2] for d in decoded],
                    "sum_g": [d[3] for d in decoded],
                    "sum_b": [d[4] for d in decoded],
                }
            )

    return media.mapInPandas(
        extract,
        schema="doc_id long, width int, height int, "
        "sum_r long, sum_g long, sum_b long",
    )


@query(
    "multimodal_frame_sample",
    oracle="""
    SELECT doc_id, CAST(f AS INT) AS frame_idx, CAST(f * 64 AS INT) AS byte_offset
    FROM (
      SELECT doc_id,
             unnest(generate_series(
               0,
               CAST(FLOOR(LEAST(octet_length(CAST(text AS BLOB)) / 64.0, 8)) AS INT)
             )) AS f
      FROM documents WHERE doc_id < 100
    )
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plumbing for video-like payloads: one row per
    sampled frame offset (explode), deterministic offsets from payload
    size — offset arithmetic is engine-independent, hence oracle-checked
    (only the decode itself is stubbed in this container)."""
    media = _media_table(spark, sf_dir)
    n_frames = F.least(F.col("meta.size_bytes") / 64, F.lit(8)).cast("int")
    return (
        media.where(F.col("doc_id") < 100)
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), n_frames)).alias("frame_idx"),
        )
        .select(
            "doc_id",
            "frame_idx",
            (F.col("frame_idx") * 64).alias("byte_offset"),
        )
        .orderBy("doc_id", "frame_idx")
    )


@query(
    "multimodal_resize_plan",
    oracle="""
    WITH dims AS (
      SELECT doc_id,
             (doc_id % 13) + 1 AS in_w,
             (doc_id % 7) + 1 AS in_h
      FROM documents WHERE doc_id < 200
    )
    SELECT doc_id, CAST(in_w AS INT) AS in_w, CAST(in_h AS INT) AS in_h,
           CAST(FLOOR(32.0 * in_w / greatest(in_w, in_h)) AS INT) AS out_w,
           CAST(FLOOR(32.0 * in_h / greatest(in_w, in_h)) AS INT) AS out_h
    FROM dims
    """,
)
def multimodal_resize_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize plumbing: aspect-preserving fit into a 32x32 box. Source
    dimensions come from REALLY parsing each payload's PPM header
    (`_decode_ppm` — the oracle instead recomputes the fixture's known
    dimension function and never sees the bytes); the resize arithmetic
    runs in the same Arrow batch."""
    import math

    import pandas as pd

    media = _ppm_media_table(spark, sf_dir).where(F.col("doc_id") < 200)

    def resize(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            dims = [_decode_ppm(bytes(b))[:2] for b in pdf["content"]]
            in_w = pd.Series([d[0] for d in dims], dtype="int32")
            in_h = pd.Series([d[1] for d in dims], dtype="int32")
            maxwh = pd.concat([in_w, in_h], axis=1).max(axis=1)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].reset_index(drop=True),
                    "in_w": in_w,
                    "in_h": in_h,
                    # floor of (32*w)/m with the SAME operation order as
                    # the oracle SQL: both engines then divide identical
                    # doubles and floor identical results (round() would
                    # differ on exact halves, w*(32/m) by 1 ulp).
                    "out_w": ((32.0 * in_w) / maxwh).apply(math.floor).astype("int32"),
                    "out_h": ((32.0 * in_h) / maxwh).apply(math.floor).astype("int32"),
                }
            )

    return media.mapInPandas(
        resize, schema="doc_id long, in_w int, in_h int, out_w int, out_h int"
    )
