"""Triples data model (SURVEY.md §1.2) and well-known vocabularies.

The reference's rdflib ``Graph`` — a *set* of (s, p, o) triples with
typed terms — becomes a DataFrame with explicit term-kind columns.
``o_kind`` replaces ``isinstance(obj, URIRef)`` checks
(ref: export_from_omeka_s.py:66, transform_datamodel.py:92).
"""

from __future__ import annotations

from pyspark.sql import types as T

IRI = "iri"
LITERAL = "literal"
BNODE = "bnode"

TRIPLES_SCHEMA = T.StructType(
    [
        T.StructField("s", T.StringType(), False),
        T.StructField("s_kind", T.StringType(), False),
        T.StructField("p", T.StringType(), False),
        T.StructField("o", T.StringType(), False),
        T.StructField("o_kind", T.StringType(), False),
        T.StructField("o_lang", T.StringType(), True),
        T.StructField("o_datatype", T.StringType(), True),
    ]
)

# Column order of every triples frame and of the parser's triple tuples.
TRIPLE_COLS = TRIPLES_SCHEMA.fieldNames()

# Well-known vocabulary IRIs. The reference resolves namespaces
# dynamically via getattr(rdflib.namespace, name) validated by the _NS
# marker (transform_datamodel.py:41-49, SURVEY O10); here the same
# surface is a static registry — lookup raises on unknown name.
WELL_KNOWN_NAMESPACES: dict[str, str] = {
    "RDF": "http://www.w3.org/1999/02/22-rdf-syntax-ns#",
    "RDFS": "http://www.w3.org/2000/01/rdf-schema#",
    "SDO": "https://schema.org/",
    "DCTERMS": "http://purl.org/dc/terms/",
    "DC": "http://purl.org/dc/elements/1.1/",
    "FOAF": "http://xmlns.com/foaf/0.1/",
    "OWL": "http://www.w3.org/2002/07/owl#",
    "SKOS": "http://www.w3.org/2004/02/skos/core#",
    "XSD": "http://www.w3.org/2001/XMLSchema#",
}

RDF_TYPE = WELL_KNOWN_NAMESPACES["RDF"] + "type"
SDO_SAME_AS = WELL_KNOWN_NAMESPACES["SDO"] + "sameAs"

# RCE cultural-heritage ontology terms used by the enrichment step
# (transform_datamodel.py:91,105).
CEO = "https://linkeddata.cultureelerfgoed.nl/def/ceo#"
CEO_RIJKSMONUMENTNUMMER = CEO + "rijksmonumentnummer"
CEO_RIJKSMONUMENT = CEO + "Rijksmonument"

# Omeka S housekeeping vocabulary dropped by the CI predicate filter
# (workflow lines 58-60, SURVEY O15).
OMEKA = "http://omeka.org/s/vocabs/o#"

# Pragmatic RFC 3986 shape check, the declarative replacement for
# uritools.is_valid_uri (export_from_omeka_s.py:54,66 — SURVEY §4.3.5):
# scheme ':' + non-space remainder.
VALID_URI_REGEX = r"^[A-Za-z][A-Za-z0-9+.-]*:[^\s<>\"{}|\\^`]*$"


def import_namespace_by_name(name: str) -> str:
    """Static analogue of the reference's dynamic namespace resolution
    (transform_datamodel.py:41-49): ValueError on unknown names."""
    try:
        return WELL_KNOWN_NAMESPACES[name]
    except KeyError:
        raise ValueError(f"{name} is not a known RDF namespace") from None
