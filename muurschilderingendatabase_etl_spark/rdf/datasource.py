"""Spark 4 Python DataSource for the paginated Omeka S REST scan
(SURVEY.md O1 — export_from_omeka_s.py:37-47).

``rdf/source.py`` keeps the reference's serial driver-side page loop
(page N's emptiness gates page N+1). This module is the *distributed*
redesign of the same source: one input partition per page, each
executor fetches its own page and emits nothing when the page is empty.

The early-stop trade, made explicit: the reference stops fetching at
the first empty page to save serial round-trips; a partition-per-page
source instead fetches the fixed page range concurrently and pays at
most (MAX_PAGES - n_used) cheap empty GETs — idempotent reads, bounded
overshoot, and wall-clock ~MAX_PAGES× better than the serial loop. At
real scale the page count comes from a HEAD/metadata probe and the
overshoot disappears.

Usage::

    spark.dataSource.register(OmekaRestDataSource)
    df = (spark.read.format("omeka_rest")
          .option("mode", "stub").option("pages", 3).load())
    triples = parse_bodies(df.rdd.map(lambda r: r.value))
"""

from __future__ import annotations

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from muurschilderingendatabase_etl_spark.rdf.source import (
    EMPTY_PAGE_THRESHOLD,
    MAX_PAGES,
    PER_PAGE,
    http_page_fetcher,
    stub_page,
)


class OmekaRestReader(DataSourceReader):
    def __init__(self, options: dict) -> None:
        self.mode = options.get("mode", "stub")
        self.base_url = options.get("base_url", "")
        self.pages = int(options.get("pages", 3))
        self.max_pages = int(options.get("max_pages", MAX_PAGES))
        if self.mode == "live" and not self.base_url:
            raise ValueError("mode=live requires option base_url")

    def partitions(self):
        # One partition per page: fetch parallelism == page count, and a
        # failed page retries alone (Spark task retry) instead of
        # restarting the whole scan.
        return [InputPartition(p) for p in range(1, self.max_pages + 1)]

    def read(self, partition):
        page = partition.value
        if self.mode == "stub":
            body = stub_page(page, self.pages, PER_PAGE)
        else:
            try:
                body = http_page_fetcher(self.base_url)(page)
            except OSError:
                # O8 tolerant policy (export:29,86-89): a failed page
                # yields no rows rather than failing the scan.
                body = ""
        if len(body) > EMPTY_PAGE_THRESHOLD:
            yield (page, body)


class OmekaRestDataSource(DataSource):
    """format("omeka_rest"): schema `page int, value string` — raw page
    bodies; hand the ``value`` strings to rdf.turtle.parse_bodies for the
    triples view."""

    @classmethod
    def name(cls) -> str:
        return "omeka_rest"

    def schema(self) -> str:
        return "page int, value string"

    def reader(self, schema) -> OmekaRestReader:
        return OmekaRestReader(dict(self.options))
