"""End-to-end ETL pipelines (SURVEY.md O18, O19).

The reference's two entry points — export (export_from_omeka_s.py) and
transform (transform_datamodel.py main, T:140-165) — each become a lazy
DataFrame plan instead of six eager full-graph passes. The writer runs
several Spark actions over it (``auto_prefixes``, the sort's range
sampling, the write). The invariant is that each Python kernel and
external fetch runs once per run: the Turtle parse and the enrichment
fetch return lazy local checkpoints, and the writer reads one
materialization of its input. The 3-job CI DAG (O19) maps to
staged runs sharing a Turtle or parquet artifact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from muurschilderingendatabase_etl_spark.rdf import cleanup, transform
from muurschilderingendatabase_etl_spark.rdf.source import (
    PageFetcher,
    scan_paginated,
)
from muurschilderingendatabase_etl_spark.rdf.transform import Fetcher
from muurschilderingendatabase_etl_spark.rdf.turtle import (
    read_turtle,
    serialize_turtle,
    triples_only,
)


def run_export(
    spark: SparkSession, fetcher: PageFetcher
) -> DataFrame:
    """Entry point 1 (SURVEY §3.1): paginated scan → parse → cleanup.

    Returns the cleaned triples DataFrame; serialization is the caller's
    action (write_turtle / parquet checkpoint).
    """
    parsed = scan_paginated(spark, fetcher)
    return cleanup.clean(triples_only(parsed))


def run_transform(
    triples: DataFrame,
    mapping: dict[str, str],
    filterlist: list[str],
    fetcher: Fetcher | None = None,
) -> DataFrame:
    """Entry point 2 (SURVEY §3.2, transform:140-165): enrich → rename →
    filter (read → union → dedup → withColumn → filter). The result is
    lazy; the only materialized step inside it is the enrichment fetch,
    which runs once per distinct monument key however many actions the
    caller runs on the result."""
    if fetcher is not None:
        triples = transform.enrich_with_rijksmonument_data(triples, fetcher)
    else:
        triples = transform.add_same_as(triples)
    triples = transform.apply_mapping(triples, mapping)
    return transform.apply_filter(triples, filterlist)


def run_file_pipeline(
    spark: SparkSession,
    input_path: str,
    mapping: dict[str, str],
    filterlist: list[str],
    prefixes: dict[str, str] | None = None,
    fetcher: Fetcher | None = None,
) -> str:
    """Turtle file in → transformed Turtle text out (golden-test path)."""
    triples = triples_only(read_turtle(spark, input_path))
    result = run_transform(triples, mapping, filterlist, fetcher)
    return serialize_turtle(result, prefixes or {})
