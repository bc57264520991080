"""RDF-surface queries for the driver contract (SURVEY.md §2.1).

``rdf_graph_pipeline`` is oracle-checked: a triples graph derived
deterministically from the nation table is pushed through the REAL
engine operators (graph_union set semantics, add_same_as semi-join +
derived insert, apply_mapping rename, apply_filter delete) and compared
against the equivalent relational SQL. This puts the reference's core
transform semantics (O13/O14/O15, transform_datamodel.py:102-127) under
the DuckDB differential gate even though triples aren't a fixture table.

``rdf_turtle_roundtrip`` is value-checked too: demo Turtle text + the
nation graph -> parse -> clean -> serialize -> reparse, diffed against a
relational reconstruction of the same triple set — the writer/parser
pair sits under the DuckDB gate. Every query here has a value oracle;
none is rows-only.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from muurschilderingendatabase_etl_spark.registry import query
from muurschilderingendatabase_etl_spark.rdf import cleanup, transform
from muurschilderingendatabase_etl_spark.rdf.schema import (
    CEO_RIJKSMONUMENT,
    CEO_RIJKSMONUMENTNUMMER,
    IRI,
    LITERAL,
    OMEKA,
    RDF_TYPE,
    SDO_SAME_AS,
    TRIPLES_SCHEMA,
    WELL_KNOWN_NAMESPACES,
)
from muurschilderingendatabase_etl_spark.rdf.turtle import (
    parse_turtle_text,
    serialize_turtle,
    triples_only,
)
from muurschilderingendatabase_etl_spark.tables import t

_SDO_NAME = WELL_KNOWN_NAMESPACES["SDO"] + "name"
_URN_NAME = "urn:p:name"
_IS_PUBLIC = OMEKA + "is_public"


def _nation_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic triples graph derived from the nation table:
    name literals, Rijksmonument type rows for region 0, RM-numbers,
    plus housekeeping rows destined for the predicate filter — and a
    duplicated slice to exercise set-semantics dedup."""
    nation = t(spark, sf_dir, "nation")
    subj = F.concat(F.lit("urn:n:"), F.col("n_nationkey").cast("string"))

    def rows(p, o, o_kind):
        return nation.select(
            subj.alias("s"),
            F.lit(IRI).alias("s_kind"),
            F.lit(p).alias("p") if isinstance(p, str) else p.alias("p"),
            o.alias("o"),
            F.lit(o_kind).alias("o_kind"),
            F.lit(None).cast("string").alias("o_lang"),
            F.lit(None).cast("string").alias("o_datatype"),
        )

    names = rows(_URN_NAME, F.col("n_name"), LITERAL)
    typed = (
        nation.where(F.col("n_regionkey") == 0)
        .select(
            subj.alias("s"), F.lit(IRI).alias("s_kind"),
            F.lit(RDF_TYPE).alias("p"),
            F.lit(CEO_RIJKSMONUMENT).alias("o"), F.lit(IRI).alias("o_kind"),
            F.lit(None).cast("string").alias("o_lang"),
            F.lit(None).cast("string").alias("o_datatype"),
        )
    )
    numbers = rows(
        CEO_RIJKSMONUMENTNUMMER,
        F.concat(F.lit("RM"), F.col("n_nationkey").cast("string")),
        LITERAL,
    )
    housekeeping = rows(_IS_PUBLIC, F.lit("true"), LITERAL)
    # duplicate slice: set semantics must collapse it (rdflib Graph.add)
    return transform.graph_union(names, typed, numbers, housekeeping, names)


@query(
    "rdf_graph_pipeline",
    oracle=f"""
    WITH names AS (
      SELECT 'urn:n:' || n_nationkey AS s, '{_SDO_NAME}' AS p, n_name AS o
      FROM nation
    ),
    typed AS (
      SELECT 'urn:n:' || n_nationkey AS s, '{RDF_TYPE}' AS p,
             '{CEO_RIJKSMONUMENT}' AS o
      FROM nation WHERE n_regionkey = 0
    ),
    nums AS (
      SELECT 'urn:n:' || n_nationkey AS s, '{CEO_RIJKSMONUMENTNUMMER}' AS p,
             'RM' || n_nationkey AS o
      FROM nation
    ),
    sameas AS (
      SELECT s, '{SDO_SAME_AS}' AS p, o FROM nums
      WHERE s IN (SELECT s FROM typed)
    )
    SELECT DISTINCT s, p, o FROM (
      SELECT * FROM names UNION ALL SELECT * FROM typed
      UNION ALL SELECT * FROM nums UNION ALL SELECT * FROM sameas
    )
    ORDER BY s, p, o
    """,
)
def rdf_graph_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    graph = _nation_graph(spark, sf_dir)
    enriched = transform.add_same_as(graph)  # O13 semi-join + insert
    renamed = transform.apply_mapping(enriched, {_URN_NAME: _SDO_NAME})  # O14
    filtered = transform.apply_filter(renamed, [_IS_PUBLIC])  # O15
    return filtered.select("s", "p", "o").orderBy("s", "p", "o")


_DEMO_TTL = """\
@prefix dcterms: <http://purl.org/dc/terms/> .
@prefix ceo: <https://linkeddata.cultureelerfgoed.nl/def/ceo#> .
<https://muurschilderingendatabase.nl/item/1> dcterms:title "Sint Joris"@nl ;
    a ceo:Rijksmonument ;
    ceo:rijksmonumentnummer "RM12345" .
<https://muurschilderingendatabase.nl/item/2> dcterms:title "Zonder type" .
"""


@query(
    "rdf_turtle_roundtrip",
    # A full value oracle: the roundtripped graph is the union of (a) the
    # fixed demo document — its cleaned triples are a known constant,
    # enumerated as VALUES — and (b) the deterministic nation-derived
    # graph, reconstructed here relationally. Any serializer or parser
    # defect (lost lang tag, broken escaping, prefix mis-expansion,
    # dropped triple) breaks the driver's value hash.
    oracle=f"""
    WITH demo(s, p, o, o_kind, o_lang) AS (VALUES
      ('https://muurschilderingendatabase.nl/item/1',
       'http://purl.org/dc/terms/title', 'Sint Joris', 'literal', 'nl'),
      ('https://muurschilderingendatabase.nl/item/1',
       '{RDF_TYPE}', '{CEO_RIJKSMONUMENT}', 'iri', ''),
      ('https://muurschilderingendatabase.nl/item/1',
       '{CEO_RIJKSMONUMENTNUMMER}', 'RM12345', 'literal', ''),
      ('https://muurschilderingendatabase.nl/item/2',
       'http://purl.org/dc/terms/title', 'Zonder type', 'literal', '')
    ),
    graph AS (
      SELECT 'urn:n:' || n_nationkey AS s, '{_URN_NAME}' AS p,
             n_name AS o, 'literal' AS o_kind, '' AS o_lang FROM nation
      UNION ALL
      SELECT 'urn:n:' || n_nationkey, '{RDF_TYPE}',
             '{CEO_RIJKSMONUMENT}', 'iri', '' FROM nation WHERE n_regionkey = 0
      UNION ALL
      SELECT 'urn:n:' || n_nationkey, '{CEO_RIJKSMONUMENTNUMMER}',
             'RM' || n_nationkey, 'literal', '' FROM nation
      UNION ALL
      SELECT 'urn:n:' || n_nationkey, '{_IS_PUBLIC}',
             'true', 'literal', '' FROM nation
    )
    SELECT DISTINCT s, p, o, o_kind, o_lang FROM (
      SELECT * FROM demo UNION ALL SELECT * FROM graph
    )
    """,
)
def rdf_turtle_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turtle writer+parser roundtrip under the value gate: demo text ->
    parse -> clean -> union with the nation-derived graph -> serialize
    (prefix compaction) -> reparse -> canonical (s, p, o, o_kind,
    o_lang) projection. o_lang is coalesced to '' on both sides (the
    driver canonicalizer sorts on every column)."""
    demo = cleanup.clean(
        spark.createDataFrame(parse_turtle_text(_DEMO_TTL), TRIPLES_SCHEMA)
    )
    graph = transform.graph_union(demo, _nation_graph(spark, sf_dir))
    text = serialize_turtle(
        graph,
        {
            "dcterms": "http://purl.org/dc/terms/",
            "ceo": "https://linkeddata.cultureelerfgoed.nl/def/ceo#",
        },
    )
    return (
        spark.createDataFrame(parse_turtle_text(text), TRIPLES_SCHEMA)
        .select(
            "s", "p", "o", "o_kind",
            F.coalesce(F.col("o_lang"), F.lit("")).alias("o_lang"),
        )
        .orderBy("s", "p", "o")
    )


_REST_SCAN_ORACLE = """
    SELECT 'https://muurschilderingendatabase.nl/item/' || CAST(i AS VARCHAR) AS s,
           'http://purl.org/dc/terms/title' AS p,
           'item ' || CAST(i AS VARCHAR) AS o
    FROM range(0, 300) AS t(i)
    ORDER BY s, p, o
"""


@query("rdf_rest_source_scan", oracle=_REST_SCAN_ORACLE)
def rdf_rest_source_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paginated REST source scan (O1, export_from_omeka_s.py:37-47)
    driven by a deterministic stub fetcher: 3 synthetic Turtle pages of
    100 items each, then an empty page triggering the early stop. The
    scan machinery (page loop, stop condition, SSL tolerance, quarantine
    column) is the real engine code from rdf/source.py.

    Value-checked: the stub corpus is deterministic, so the oracle
    regenerates the expected 300 triples relationally — the page loop,
    early stop, and Turtle parse all sit under the DuckDB hash gate."""
    from muurschilderingendatabase_etl_spark.rdf.source import (
        PER_PAGE,
        scan_paginated,
        stub_page,
    )

    # Page 4 is empty -> early stop (export:43-47).
    parsed = scan_paginated(spark, lambda page: stub_page(page, 3, PER_PAGE))
    return triples_only(parsed).select("s", "p", "o").orderBy("s", "p", "o")


@query("rdf_rest_datasource_scan", oracle=_REST_SCAN_ORACLE)
def rdf_rest_datasource_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1 as a Spark 4 Python DataSource (rdf/datasource.py): the same
    3-page synthetic corpus as rdf_rest_source_scan, but fetched
    partition-per-page ON THE EXECUTORS — the distributed redesign of
    the reference's serial page loop. Parse goes through the shared
    parse_bodies kernel, so both scan paths yield identical triples.

    Value-checked against the same relational regeneration as the
    serial path — the executor-side fetch and the partition-per-page
    planner sit under the DuckDB hash gate."""
    from muurschilderingendatabase_etl_spark.rdf.datasource import (
        OmekaRestDataSource,
    )
    from muurschilderingendatabase_etl_spark.rdf.turtle import parse_bodies

    spark.dataSource.register(OmekaRestDataSource)
    pages = (
        spark.read.format("omeka_rest")
        .option("mode", "stub")
        .option("pages", 3)
        .option("max_pages", 6)
        .load()
    )
    parsed = parse_bodies(pages.rdd.map(lambda r: r.value))
    return triples_only(parsed).select("s", "p", "o").orderBy("s", "p", "o")


@query(
    "rdf_enrichment_join",
    oracle=f"""
    WITH names AS (
      SELECT 'urn:n:' || n_nationkey AS s, '{_URN_NAME}' AS p, n_name AS o
      FROM nation
    ),
    typed AS (
      SELECT 'urn:n:' || n_nationkey AS s, '{RDF_TYPE}' AS p,
             '{CEO_RIJKSMONUMENT}' AS o
      FROM nation WHERE n_regionkey = 0
    ),
    nums AS (
      SELECT 'urn:n:' || n_nationkey AS s, '{CEO_RIJKSMONUMENTNUMMER}' AS p,
             'RM' || n_nationkey AS o
      FROM nation
    ),
    hk AS (
      SELECT 'urn:n:' || n_nationkey AS s, '{_IS_PUBLIC}' AS p, 'true' AS o
      FROM nation
    ),
    -- stub fetcher response per distinct RM-stripped key (O12)
    enrich AS (
      SELECT 'urn:monument:' || n_nationkey AS s, 'urn:p:identifier' AS p,
             CAST(n_nationkey AS VARCHAR) AS o
      FROM nation
    ),
    -- derived sameAs: number triples whose subject is typed Rijksmonument
    sameas AS (
      SELECT 'urn:n:' || n_nationkey AS s, '{SDO_SAME_AS}' AS p,
             'RM' || n_nationkey AS o
      FROM nation WHERE n_regionkey = 0
    )
    SELECT s, p, o FROM names UNION ALL
    SELECT s, p, o FROM typed UNION ALL
    SELECT s, p, o FROM nums  UNION ALL
    SELECT s, p, o FROM hk    UNION ALL
    SELECT s, p, o FROM enrich UNION ALL
    SELECT s, p, o FROM sameas
    ORDER BY s, p, o
    """,
)
def rdf_enrichment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O12 end-to-end (transform_datamodel.py:88-109) on the nation
    graph: distinct-key extraction with RM-strip, per-key lookup through
    an injectable fetcher (deterministic stub here — the live fetcher is
    the same code path), Turtle-parse of the responses, set-semantics
    union, and the type-gated sameAs semi-join.

    Value-checked: every stage is deterministic given the stub, so the
    oracle rebuilds the full expected graph — base nation graph + one
    enrichment triple per distinct key + the sameAs inserts for
    regionkey-0 subjects — relationally from the nation table. Key
    extraction, per-key fetch/parse, set-union dedup, and the semi-join
    all sit under the DuckDB hash gate."""
    graph = _nation_graph(spark, sf_dir)

    def stub_fetcher(key: str) -> str:
        return f'<urn:monument:{key}> <urn:p:identifier> "{key}" .'

    enriched = transform.enrich_with_rijksmonument_data(graph, stub_fetcher)
    return enriched.select("s", "p", "o").orderBy("s", "p", "o")
