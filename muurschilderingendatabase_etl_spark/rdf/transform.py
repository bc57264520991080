"""Transform/enrich operators (SURVEY.md O12-O15): predicate rename,
predicate filter, graph union with set semantics, and the
rijksmonument enrichment join.

The reference runs six eager full-graph passes
(transform_datamodel.py:140-165). Every function here is a lazy
DataFrame transformation; ``fetch_enrichments`` parses its responses
through ``turtle.parse_bodies``, whose lazy checkpoint makes the
external fetch run once per distinct key per run however many actions
read it.
"""

from __future__ import annotations

import logging
from collections.abc import Callable, Iterable, Iterator
from functools import partial

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Row

from muurschilderingendatabase_etl_spark.rdf.schema import (
    CEO_RIJKSMONUMENT,
    CEO_RIJKSMONUMENTNUMMER,
    IRI,
    LITERAL,
    RDF_TYPE,
    SDO_SAME_AS,
    TRIPLE_COLS,
)
from muurschilderingendatabase_etl_spark.rdf.turtle import parse_bodies, triples_only

Fetcher = Callable[[str], str]

log = logging.getLogger(__name__)


def apply_mapping(triples: DataFrame, mapping: dict[str, str]) -> DataFrame:
    """O14 (transform:112-119): bulk predicate rename.

    The reference snapshots the graph and remove/re-adds each triple;
    here it is a pure projection rewrite — map-literal lookup with
    identity fallback. No shuffle, stays in codegen.
    """
    if not mapping:
        return triples
    remap = F.create_map(
        *[F.lit(x) for kv in sorted(mapping.items()) for x in kv]
    )
    return triples.withColumn("p", F.coalesce(remap[F.col("p")], F.col("p")))


def apply_filter(triples: DataFrame, filterlist: list[str]) -> DataFrame:
    """O15 (transform:121-127): bulk predicate delete.

    The reference logs the pre/post cardinality delta (transform:123,
    127) — compute it with ``count_filtered`` when needed rather than
    forcing two actions here.
    """
    if not filterlist:
        return triples
    return triples.where(~F.col("p").isin(filterlist))


def count_filtered(triples: DataFrame, filterlist: list[str]) -> int:
    """The reference's logged delta (len before - len after) in ONE pass:
    conditional aggregation instead of two counts."""
    if not filterlist:
        return 0
    row = triples.agg(
        F.sum(F.when(F.col("p").isin(filterlist), 1).otherwise(0)).alias("n")
    ).collect()[0]
    return int(row.n or 0)


def graph_union(*graphs: DataFrame) -> DataFrame:
    """rdflib set-semantics union (SURVEY §1.1): union + dropDuplicates
    on the (s, p, o) identity — term kinds/lang/datatype ride along."""
    out = graphs[0].select(*TRIPLE_COLS)
    for g in graphs[1:]:
        out = out.unionByName(g.select(*TRIPLE_COLS))
    return out.dropDuplicates(["s", "p", "o", "o_lang", "o_datatype"])


def monument_keys(triples: DataFrame) -> DataFrame:
    """O12 key extraction: distinct normalized rijksmonument numbers.

    ``regexp_replace('^RM', '')`` is the declarative form of the
    reference's string slicing (transform:93-96). ``distinct()`` fixes
    the reference's duplicate-key re-fetch (SURVEY §4.1). Note the
    reference's inverted isinstance guard (transform:92) means *every*
    matching object is processed regardless of term kind — we implement
    the working behavior (all kinds), as the guard was a no-op.
    """
    return (
        triples.where(F.col("p") == F.lit(CEO_RIJKSMONUMENTNUMMER))
        .select(F.regexp_replace(F.col("o"), "^RM", "").alias("key"))
        .distinct()
    )


def fetch_bodies(rows: Iterable[Row], fetcher: Fetcher) -> Iterator[str]:
    """The per-key loop of ``fetch_enrichments``: one ``fetcher(key)``
    body per row. A fetch that raises yields nothing for its key
    (transform:100-101 semantics: a failed key contributes nothing) and
    logs one WARNING naming the key and the exception type. Module-level
    (not a closure inside fetch_enrichments) so tests can drive it
    directly."""
    for row in rows:
        try:
            body = fetcher(row.key)
        except Exception as exc:
            log.warning(
                "enrichment fetch failed for key %r: %s", row.key, type(exc).__name__
            )
            continue
        yield body


def fetch_enrichments(keys: DataFrame, fetcher: Fetcher) -> DataFrame:
    """O12 fetch: per-key lookup against an external service, executed
    with ``mapPartitions`` over ``fetch_bodies`` so each task holds one
    connection/session and failures are isolated per key. A fetch that
    raises yields no body; a malformed body is quarantined by
    ``parse_bodies`` and dropped by ``triples_only``.

    At 100 TB the key set is still small (distinct monument numbers), so
    this stage is narrow; the expensive side never moves.

    The bodies go straight into ``parse_bodies``, so fetch and parse run
    in one Python pass, and its lazy local checkpoint makes each distinct
    key fetched once per run however many actions (the union's broadcast
    and shuffle stages, ``auto_prefixes``, the writer's sort sampling)
    read the enrichments.
    """
    bodies = keys.rdd.mapPartitions(partial(fetch_bodies, fetcher=fetcher))
    return triples_only(parse_bodies(bodies))


def add_same_as(triples: DataFrame) -> DataFrame:
    """O13 derived-triple insert (transform:104-107): for every
    rijksmonumentnummer triple whose subject is typed ceo:Rijksmonument,
    add (subj, sdo:sameAs, obj).

    The membership test is a left-semi join against the typed-subject
    set — broadcast, since monument subjects are a small slice.
    """
    monuments = (
        triples.where(
            (F.col("p") == F.lit(RDF_TYPE)) & (F.col("o") == F.lit(CEO_RIJKSMONUMENT))
        )
        .select(F.col("s").alias("m_s"))
        .distinct()
    )
    derived = (
        triples.where(F.col("p") == F.lit(CEO_RIJKSMONUMENTNUMMER))
        .join(F.broadcast(monuments), F.col("s") == F.col("m_s"), "left_semi")
        .select(
            "s",
            "s_kind",
            F.lit(SDO_SAME_AS).alias("p"),
            "o",
            "o_kind",
            "o_lang",
            "o_datatype",
        )
    )
    return graph_union(triples, derived)


def enrich_with_rijksmonument_data(
    triples: DataFrame, fetcher: Fetcher
) -> DataFrame:
    """O12+O13 (transform:88-109): fetch per-key enrichments, set-union
    them into the graph, then insert the derived sameAs triples."""
    enrichments = fetch_enrichments(monument_keys(triples), fetcher)
    return add_same_as(graph_union(triples, enrichments))
