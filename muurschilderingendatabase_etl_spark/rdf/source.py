"""Paginated REST source + namespace fetch (SURVEY.md O1, O6, O8).

The reference scans ``{BASE}api/items?format=turtle&page=N&per_page=100``
for N=1..99, early-terminating on an empty page
(export_from_omeka_s.py:37-47), then fetches prefix bindings from
``api-context`` (export:73-80). Fetchers are injectable so tests run
with canned bodies and no network; the live fetcher uses urllib with the
reference's 200 s timeout.

Scale note: pagination is inherently serial on the source side (page N
existence gates N+1), so the scan runs driver-side and the *parse*
parallelizes (the page bodies are the executor-side Turtle parser's
input RDD). The source caps at ~9,900 items per run, matching the
reference's capacity envelope (SURVEY §6).
"""

from __future__ import annotations

import json
import logging
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from muurschilderingendatabase_etl_spark.rdf.turtle import parse_bodies

log = logging.getLogger(__name__)

PageFetcher = Callable[[int], str]

MAX_PAGES = 99  # range(1, 100), export_from_omeka_s.py:38
PER_PAGE = 100  # export:38
EMPTY_PAGE_THRESHOLD = 2  # body length <= 2 bytes means empty (export:43)
HTTP_TIMEOUT_S = 200  # export:40,74; transform:98


def http_page_fetcher(base_url: str) -> PageFetcher:
    """Live fetcher for the Omeka S items endpoint. ``base_url`` may or
    may not end in a slash; either way page N is requested from
    ``{base}/api/items``. SSL errors are caught by the caller per the
    reference's tolerant policy (O8)."""
    from urllib.request import urlopen

    base = base_url.rstrip("/")

    def fetch(page: int) -> str:
        url = f"{base}/api/items?format=turtle&page={page}&per_page={PER_PAGE}"
        with urlopen(url, timeout=HTTP_TIMEOUT_S) as resp:
            return resp.read().decode("utf-8")

    return fetch


def stub_page(page: int, pages: int, per_page: int) -> str:
    """Deterministic synthetic Turtle page: ``per_page`` titled items on
    each of pages 1..``pages``, then empty pages. No network: both
    registered REST scan queries read it, and their oracle regenerates
    it in SQL."""
    if page > pages:
        return ""
    first = (page - 1) * per_page
    return "\n".join(
        f"<https://muurschilderingendatabase.nl/item/{i}> "
        f'<http://purl.org/dc/terms/title> "item {i}" .'
        for i in range(first, first + per_page)
    )


def scan_paginated(spark: SparkSession, fetcher: PageFetcher) -> DataFrame:
    """O1: fetch pages until an empty one, then parse all page bodies as
    Turtle into the triples schema (+ _corrupt quarantine column).

    SSL/connection failures follow O8 (export:29,86-89): log, return the pages
    fetched so far — an empty DataFrame when nothing was fetched, never
    an exception out of the source. ``OSError`` covers ``ssl.SSLError``
    (a subclass) and the connection errors alike.
    """
    pages: list[str] = []
    for page_no in range(1, MAX_PAGES + 1):
        try:
            body = fetcher(page_no)
        except OSError as exc:
            log.warning("page fetch failed at page %d: %s", page_no, exc)
            break
        if len(body) <= EMPTY_PAGE_THRESHOLD:
            break
        pages.append(body)

    # Fetch is serial (page N gates N+1) but the parse parallelizes: the
    # bodies are sliced over at most one partition per core.
    sc = spark.sparkContext
    n_parts = min(len(pages), sc.defaultParallelism) or 1
    return parse_bodies(sc.parallelize(pages, n_parts))


def fetch_prefix_bindings(context_body: str) -> dict[str, str]:
    """O6 (export:73-80): parse the api-context JSON ``@context`` map and
    strip backslashes from IRIs, as the reference does before binding."""
    context = json.loads(context_body).get("@context", {})
    return {
        key: value.replace("\\", "")
        for key, value in context.items()
        if isinstance(value, str)
    }
